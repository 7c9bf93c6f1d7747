package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ExplainMode

/** Dev measurement harness for the optimization rounds (guide §1):
  * for each named registry query, runs it twice through the SAME
  * noop-sink methodology as [[Bench]] and reports
  *   - wall seconds per run (run1 = cold fixtures, run2 = warm JVM),
  *   - `fn()` build seconds vs sink seconds (lifecycle queries do their
  *     commits inside `fn`; the split shows which half to optimize),
  *   - Spark job / task counts and summed task time (driver overhead =
  *     wall − task time / cores),
  * and writes the final frame's `.explain("formatted")` to
  * `plans/r17/<query>_<stage>.txt` (the judge's plan-claim evidence).
  *
  * Usage: `sbt "runMain graft.PlanDump before q1 q2 ..."` with
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. Dev-only: the
  * grading driver never invokes this.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <stage> <query...>")
    val stage = args.head
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()

    val traceJobs = sys.env.get("SPARK_GRAFT_PLANDUMP_JOBS").contains("true")
    object L extends SparkListener {
      @volatile var jobs = 0
      @volatile var tasks = 0
      @volatile var taskMs = 0L
      private val starts =
        new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (traceJobs) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), desc))
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (traceJobs) Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
          println(f"[job] #${e.jobId}%4d ${(System.nanoTime() - t0) / 1e3 / 1e3}%8.1fms  $desc")
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        taskMs += t.taskInfo.duration
      }
      def snap(): (Int, Int, Long) = (jobs, tasks, taskMs)
    }
    spark.sparkContext.addSparkListener(L)
    val planDir = sys.env.getOrElse("SPARK_GRAFT_PLANDUMP_DIR", "r18")
    Files.createDirectories(Paths.get("plans", planDir))

    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
      var plan: String = ""
      (1 to 2).foreach { run =>
        ScopedCache.clear() // mirror Bench's cache-cold timed invocations
        val (j0, k0, m0) = L.snap()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        df.write.format("noop").mode("overwrite").save()
        val tAll = (System.nanoTime() - t0) / 1e9
        Thread.sleep(50) // let listener events drain
        val (j1, k1, m1) = L.snap()
        println(f"[plandump] $n%-28s run$run total=$tAll%7.2fs " +
          f"build=$tBuild%6.2fs sink=${tAll - tBuild}%6.2fs " +
          f"jobs=${j1 - j0}%4d tasks=${k1 - k0}%5d taskSec=${(m1 - m0) / 1e3}%8.2f")
        if (run == 2)
          plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      }
      Files.write(Paths.get("plans", planDir, s"${n}_$stage.txt"),
        plan.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
