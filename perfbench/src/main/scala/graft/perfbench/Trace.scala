package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for a root). Times are nanoseconds on the
  * benchmark's clock. A stage span carries its tasks' summed run time.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long, taskSeconds: Double = 0.0)

/** Records spans around the benchmark's calls into the engine, and reads
  * the scheduler, Catalyst, block-manager and streaming layers through
  * Spark's public listener APIs. Nothing inside the engine is changed:
  * every number here is measured from outside the layer it describes.
  *
  * Spark jobs and stages become spans too: a job's parent is the
  * innermost benchmark span open when it started (the benchmark issues
  * operations from one thread, so its spans nest), a stage's parent is
  * its job.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  // wall-clock ms (Spark events) → benchmark nanos
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNanos(ms: Long): Long = ms * 1000000L - nanoOffset

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1
  /** Nanoseconds spent in the benchmark thread's own span bookkeeping. */
  private var selfNs = 0L

  /** Times `body` as a span of `layer`, nested under the open span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val b0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = System.nanoTime()
    selfNs += t0 - b0
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      spans += Span(id, parent, layer, name, t0, t1)
      selfNs += System.nanoTime() - t1
    }
  }

  private final case class Job(id: Int, start: Long, var end: Long,
      stages: Seq[Int], marker: Boolean)
  private final case class Stage(id: Int, start: Long, end: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  private val markersDone = ConcurrentHashMap.newKeySet[Int]()

  private object Counters {
    var tasks = 0L
    var taskNs = 0L
    var taskCpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var input = 0L
    var output = 0L
    var spill = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskNs = mutable.HashMap.empty[Int, Long]
    val blockBytes = mutable.HashMap.empty[String, Long]
    var blockBytesNow = 0L
    var blockBytesPeak = 0L
    var analysisMs = 0L
    var optimizerMs = 0L
    var planningMs = 0L
    var listenerNs = 0L
    val batchMs = mutable.ArrayBuffer.empty[Long]
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    Counters.synchronized(Counters.listenerNs += System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val marker = Option(e.properties)
        .exists(p => p.getProperty(Tracer.MarkerKey) != null)
      if (marker) e.stageIds.foreach(markerStages.add)
      jobs.put(e.jobId, Job(e.jobId, msToNanos(e.time), 0L, e.stageIds, marker))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = msToNanos(e.time)
        if (j.marker) markersDone.add(e.jobId)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      if (!markerStages.contains(i.stageId))
        for (s <- i.submissionTime; c <- i.completionTime)
          stages.put(i.stageId, Stage(i.stageId, msToNanos(s), msToNanos(c)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      if (!markerStages.contains(e.stageId)) Counters.synchronized {
        val info = e.taskInfo
        Counters.tasks += 1
        Counters.taskNs += info.duration * 1000000L
        Counters.taskIntervals += ((msToNanos(info.launchTime), msToNanos(info.finishTime)))
        Counters.stageTaskNs(e.stageId) =
          Counters.stageTaskNs.getOrElse(e.stageId, 0L) + info.duration * 1000000L
        Option(e.taskMetrics).foreach { m =>
          Counters.taskCpuNs += m.executorCpuTime
          Counters.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          Counters.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          Counters.input += m.inputMetrics.bytesRead
          Counters.output += m.outputMetrics.bytesWritten
          Counters.spill += m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val u = e.blockUpdatedInfo
      if (u.blockId.isRDD) Counters.synchronized {
        val key = u.blockId.name
        val now = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
        Counters.blockBytesNow += now - Counters.blockBytes.getOrElse(key, 0L)
        Counters.blockBytes(key) = now
        Counters.blockBytesPeak = math.max(Counters.blockBytesPeak, Counters.blockBytesNow)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(record(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(record(qe))
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      Counters.synchronized {
        Counters.analysisMs += ms("analysis")
        Counters.optimizerMs += ms("optimization")
        Counters.planningMs += ms("planning")
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val d = e.progress.durationMs.asScala.get("triggerExecution").map(_.longValue)
      Counters.synchronized(Counters.batchMs += d.getOrElse(0L))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listeners have seen every event posted so far, then
    * detaches them. A marker job is posted last on the shared listener
    * queue, so its end event arrives after everything queued before it.
    */
  def detach(): Unit = {
    sc.setLocalProperty(Tracer.MarkerKey, "1")
    val before = markersDone.size
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markersDone.size == before && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200) // the streaming listener has its own queue
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Benchmark spans plus job and stage spans, parents resolved. */
  def allSpans: Seq[Span] = {
    val own = spans.toSeq
    val realJobs = jobs.values.asScala.toSeq.filterNot(_.marker).sortBy(_.id)
    // innermost (latest-starting) benchmark span containing the start
    def parentAt(t: Long): Int = own.filter(s => s.start <= t && t <= s.end)
      .sortBy(-_.start).headOption.map(_.id).getOrElse(0)
    var id = nextId
    val jobSpans = realJobs.map { j =>
      id += 1
      j.id -> Span(id, parentAt(j.start), "job", s"job ${j.id}", j.start,
        math.max(j.start, j.end))
    }.toMap
    val stageTaskNs = Counters.synchronized(Counters.stageTaskNs.toMap)
    val stageSpans = for {
      j <- realJobs
      sid <- j.stages
      s <- Option(stages.get(sid))
    } yield {
      id += 1
      Span(id, jobSpans(j.id).id, "stage", s"stage $sid", s.start, s.end,
        stageTaskNs.getOrElse(sid, 0L) / 1e9)
    }
    own ++ jobSpans.values.toSeq.sortBy(_.id) ++ stageSpans
  }

  /** Per layer: summed span duration minus the part its children cover. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.unionLength(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def jobCount: Int = jobs.values.asScala.count(!_.marker)
  def stageCount: Int = stages.size
  def tasks: Long = Counters.synchronized(Counters.tasks)
  def taskSeconds: Double = Counters.synchronized(Counters.taskNs / 1e9)
  def taskCpuSeconds: Double = Counters.synchronized(Counters.taskCpuNs / 1e9)
  def shuffleReadBytes: Long = Counters.synchronized(Counters.shuffleRead)
  def shuffleWriteBytes: Long = Counters.synchronized(Counters.shuffleWrite)
  def inputBytes: Long = Counters.synchronized(Counters.input)
  def outputBytes: Long = Counters.synchronized(Counters.output)
  def spillBytes: Long = Counters.synchronized(Counters.spill)
  def cachePeakBytes: Long = Counters.synchronized(Counters.blockBytesPeak)
  def analysisMs: Long = Counters.synchronized(Counters.analysisMs)
  def optimizerMs: Long = Counters.synchronized(Counters.optimizerMs)
  def planningMs: Long = Counters.synchronized(Counters.planningMs)
  def batchMillis: Seq[Long] = Counters.synchronized(Counters.batchMs.toSeq)
  /** Time the tracer itself spent: span bookkeeping plus listener callbacks. */
  def overheadSeconds: Double = (selfNs + Counters.synchronized(Counters.listenerNs)) / 1e9

  /** Seconds of [from, to] during which no task was running. */
  def driverOnlySeconds(from: Long, to: Long): Double = {
    val busy = Tracer.unionLength(Counters.synchronized(Counters.taskIntervals.toSeq)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a })
    (to - from - busy) / 1e9
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${Json.escape(s.name)}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""task_s":${Json.num(s.taskSeconds)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val MarkerKey = "perfbench.marker"

  /** The spans of `layer`, grouped by the id of the operation (`op`
    * span) they descend from.
    */
  def byOp(all: Seq[Span], layer: String): Map[Int, Seq[Span]] = {
    val byId = all.map(s => s.id -> s).toMap
    @scala.annotation.tailrec
    def op(id: Int): Option[Int] = byId.get(id) match {
      case Some(s) if s.layer == "op" => Some(s.id)
      case Some(s) => op(s.parent)
      case None => None
    }
    all.filter(_.layer == layer).flatMap(s => op(s.parent).map(_ -> s)).groupMap(_._1)(_._2)
  }

  /** Length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
