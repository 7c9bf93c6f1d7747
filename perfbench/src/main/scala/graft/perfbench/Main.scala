package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** One operation's outcome in a timed pass. `build` and `sink` split its
  * latency into the query-definition call and the result sink (for an
  * ingest step: the `Snapshots` call and the read-back of its result).
  * `cpu` is the process's CPU seconds while the operation ran.
  */
final case class Op(name: String, kind: String, seconds: Double,
    build: Double, sink: Double, ok: Boolean, cpu: Double = 0.0)

/** What one timed pass measured. */
final case class Pass(ops: Seq[Op], wallSeconds: Double,
    gcSeconds: Double, rssPeakMb: Double, fs: FsStats, startNs: Long, endNs: Long)

/** A workload: set-up work counted in `setup_s`, one timed pass, and an
  * output check that runs after the pass, outside every timed interval.
  */
trait Workload {
  /** Per-session preparation, timed as part of set-up. */
  def prepare(spark: SparkSession, attempt: Int): Unit
  /** Untimed work after set-up that runs the pass's code once, so the
    * timed pass measures the engine rather than the JIT compiling it: on
    * 4 cores, compilation in a first-in-JVM pass takes most of the CPU and
    * made its wall time spread by a quarter between runs.
    */
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession, trace: Option[Tracer]): Seq[Op]
  /** Ops whose output is wrong, by index into the pass. */
  def check(spark: SparkSession, pass: Pass): Set[Int]
  /** A per-operation figure (latency for `wall_s`, CPU for `cpu_s`)
    * totalled over the pass, in a way that a stall hitting a few
    * operations does not move.
    */
  def total(ops: Seq[Op], of: Op => Double): Double
  /** Workload-specific metrics of the traced pass, taken after the check;
    * `spans` are the pass's spans with parents resolved.
    */
  def layerMetrics(spark: SparkSession, pass: Pass, spans: Seq[Span]): Seq[(String, Double, String)]
}

/** Entry point: `Main --workload registry|ingest --seed N --seconds S
  * --trace 0|1 --fixtures DIR --work DIR --traces DIR --queries queries.json
  * --expected expected.json` (perfbench/run.py supplies all of them).
  * Prints one JSON line: `{"correct", "attempted", "failed", "metrics"}`.
  * `Main --record DIR --fixtures DIR --queries queries.json` instead runs
  * every member query once and writes its outputs and hashes to DIR (see
  * record.py).
  */
object Main {
  /** Cores of the `local[n]` session. */
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5
  /** Percentile of the per-layer tail latencies. */
  val TailPct = 90.0

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$key" => v }

  def main(args: Array[String]): Unit = {
    val status = try { run(args); 0 } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        1
    }
    sys.exit(status)
  }

  private def run(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(throw new IllegalArgumentException(s"--$k is required"))
    val fixtures = need("fixtures")
    val families = Membership.check(Json.read(need("queries")))

    arg(args, "record") match {
      case Some(out) =>
        val spark = GraftSession.local(Cores, "perfbench")
        try Registry.record(spark, fixtures, families.values.flatten.toSeq.sorted, out)
        finally spark.stop()
        return
      case None =>
    }

    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = need("work")
    require(seconds > 0, "--seconds must be positive")

    val wl: Workload = workload match {
      case "ingest" => new Ingest(seed, seconds, work)
      case "registry" =>
        new Registry(families, seed, seconds, fixtures, Registry.loadExpected(need("expected")))
      case w => throw new IllegalArgumentException(s"unknown workload $w; known: ingest, registry")
    }

    // Set-up is repeated and its median reported: the first includes JVM
    // and Spark start, the later ones a fresh SparkContext in a warm JVM.
    // The first one's time from JVM start is kept as `setup.cold_s`.
    var spark: SparkSession = null
    var coldSeconds = 0.0
    val setupSeconds = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(Cores, "perfbench")
      Tables.registerAll(spark, fixtures)
      spark.range(1000000).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, fixtures).limit(1).collect()
      wl.prepare(spark, i)
      val s = (System.nanoTime() - t0) / 1e9
      if (i == 1) coldSeconds =
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      log(f"set-up $i: $s%.2f s")
      s
    }

    try {
      val w0 = System.nanoTime()
      wl.warmUp(spark)
      log(f"warm-up: ${(System.nanoTime() - w0) / 1e9}%.2f s")
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(_.attach())
      val pass = measure(wl.run(spark, tracer))
      pass.ops.foreach(o => log(f"  ${o.name}%-32s ${o.seconds}%8.3f s (build ${o.build}%.3f, cpu ${o.cpu}%.2f)"))
      log(f"timed pass: ${pass.ops.size} ops in ${pass.wallSeconds}%.2f s")
      tracer.foreach(_.detach())
      val bad = wl.check(spark, pass)
      log("output check done")
      val ops = pass.ops.zipWithIndex
      val failed = ops.count { case (o, i) => !o.ok || bad(i) }
      ops.foreach { case (o, i) =>
        if (!o.ok || bad(i)) System.err.println(s"[perfbench] FAILED ${o.kind} ${o.name}")
      }

      val metrics: Seq[(String, Double, String)] = tracer match {
        case None => Seq(
          ("setup_s", Stats.median(setupSeconds), "s"),
          ("wall_s", wl.total(pass.ops, _.seconds), "s"),
          ("cpu_s", wl.total(pass.ops, _.cpu), "s"))
        case Some(t) =>
          val spans = t.allSpans
          t.write(Paths.get(need("traces"), s"$workload-seed$seed.jsonl"), spans)
          ("setup.cold_s", coldSeconds, "s") +: perLayer(spark, wl, pass, t, spans)
      }
      val body = metrics.map { case (k, v, unit) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(unit)}}"
      }.mkString("{", ",", "}")
      println(s"""{"correct":${failed == 0},"attempted":${pass.ops.size},""" +
        s""""failed":$failed,"metrics":$body}""")
    } finally spark.stop()
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads. */
  def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this process, MiB. */
  def rssPeakMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)

  private def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum / 1e3

  private def measure(body: => Seq[Op]): Pass = {
    val gc0 = gcSeconds
    val fs0 = FsStats.now
    val t0 = System.nanoTime()
    val ops = body
    val t1 = System.nanoTime()
    Pass(ops, (t1 - t0) / 1e9,
      gcSeconds - gc0, rssPeakMb, FsStats.now - fs0, t0, t1)
  }

  private def perLayer(spark: SparkSession, wl: Workload, p: Pass, t: Tracer,
      spans: Seq[Span]): Seq[(String, Double, String)] = {
    val lat = p.ops.filter(_.kind != "maintenance").map(_.seconds)
    val self = t.selfSeconds(spans)
    def selfOf(layer: String) = self.getOrElse(layer, 0.0)
    val taskS = t.taskSeconds
    val batches = t.batchMillis
    Seq(
      ("ops.latency_p50_s", Stats.median(lat), "s"),
      ("ops.latency_tail_s", Stats.percentile(lat, TailPct), "s"),
      ("queries.build_s", p.ops.map(_.build).sum, "s"),
      ("queries.sink_s", p.ops.map(_.sink).sum, "s"),
      ("self.op_s", selfOf("op"), "s"),
      ("self.build_s", selfOf("build"), "s"),
      ("self.sink_s", selfOf("sink"), "s"),
      ("self.job_s", selfOf("job"), "s"),
      ("self.stage_s", selfOf("stage"), "s"),
      ("spark.jobs", t.jobCount.toDouble, "count"),
      ("spark.stages", t.stageCount.toDouble, "count"),
      ("spark.tasks", t.tasks.toDouble, "count"),
      ("spark.driver_only_s", t.driverOnlySeconds(p.startNs, p.endNs), "s"),
      ("spark.core_util", taskS / (p.wallSeconds * Cores), "ratio"),
      ("spark.task_s", taskS, "s"),
      ("spark.task_cpu_s", t.taskCpuSeconds, "s"),
      ("spark.gc_s", p.gcSeconds, "s"),
      ("spark.shuffle_read_bytes", t.shuffleReadBytes.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", t.shuffleWriteBytes.toDouble, "bytes"),
      ("spark.input_bytes", t.inputBytes.toDouble, "bytes"),
      ("spark.output_bytes", t.outputBytes.toDouble, "bytes"),
      ("spark.spill_bytes", t.spillBytes.toDouble, "bytes"),
      ("plans.analysis_ms", t.analysisMs.toDouble, "ms"),
      ("plans.optimizer_ms", t.optimizerMs.toDouble, "ms"),
      ("plans.planning_ms", t.planningMs.toDouble, "ms"),
      ("cache.stored_bytes_peak", t.cachePeakBytes.toDouble, "bytes"),
      ("streaming.batches", batches.size.toDouble, "count"),
      ("streaming.batch_p50_ms", Stats.percentile(batches.map(_.toDouble), 50), "ms"),
      ("jvm.rss_peak_mb", p.rssPeakMb, "MiB"),
      ("trace.overhead_ratio", t.overheadSeconds / p.wallSeconds, "ratio")) ++
      p.fs.metrics ++ wl.layerMetrics(spark, p, spans)
  }
}

object Stats {
  /** Nearest-rank percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], pct: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(pct / 100 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** The registry's non-`qc_*` queries, pinned by family in queries.json.
  * The `qc_*` queries are accuracy gates, which Bench skips too. A registry
  * that no longer matches the pinned lists stops the benchmark before
  * anything is timed, so adding or removing a query cannot silently shift
  * `wall_s`.
  */
object Membership {
  def check(pinned: JsonNode): Map[String, Seq[String]] = {
    val families = Json.fields(pinned).map { case (f, ns) => f -> Json.strings(ns) }.toMap
    require(families.keySet == Registry.Families.toSet,
      s"queries.json must pin exactly the families ${Registry.Families.mkString(", ")}")
    val listed = families.values.flatten.toSeq
    val names = SparkEntry.registry.map(_.name).filterNot(_.startsWith("qc_"))
    val problems = (listed.diff(listed.distinct) ++ names.diff(names.distinct))
      .distinct.map(n => s"$n is listed twice") ++
      names.diff(listed).map(n => s"$n is in the registry but not pinned") ++
      listed.diff(names).map(n => s"$n is pinned but not in the registry")
    require(problems.isEmpty,
      "the query registry no longer matches queries.json:\n  " + problems.sorted.mkString("\n  "))
    families
  }
}

/** Counters of Hadoop's local (`file` scheme) filesystem, which the
  * warehouse layer's FastLocalFileSystem reports to.
  */
final case class FsStats(bytesWritten: Long, bytesRead: Long) {
  def -(o: FsStats): FsStats = FsStats(bytesWritten - o.bytesWritten, bytesRead - o.bytesRead)
  def metrics: Seq[(String, Double, String)] = Seq(
    ("fs.bytes_written", bytesWritten.toDouble, "bytes"),
    ("fs.bytes_read", bytesRead.toDouble, "bytes"))
}

object FsStats {
  // the local filesystem keeps byte counts only; its read/write op
  // counters stay at zero, so they are not reported
  def now: FsStats = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsStats(st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }
}
