package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.warehouse.Snapshots

/** The `ingest` workload: one long-lived synthetic taxi-trip table driven
  * only through public `Snapshots` calls, the way the reference's hourly
  * loads drive its fact table. One closed-loop client runs a seeded step
  * sequence: hourly appends, MERGE dedup loads that re-deliver a share of
  * existing trip ids (some with corrected fares), keyed deletes, and point
  * or range reads, with a compaction + vacuum cycle every few steps. An
  * in-memory model of the live rows checks every read exactly, and the
  * whole table after the run. The table carries no stats or Bloom
  * sidecars: with them every merge or delete runs about three times the
  * Spark jobs, and the run would not fit its time budget; the reads go
  * through the pruning entry points, which then read the version's files.
  */
final class Ingest(seed: Long, seconds: Int, work: String) extends Workload {
  import Ingest._

  private val rng = new scala.util.Random(seed)
  private var table: String = _
  private val model = mutable.LinkedHashMap.empty[Long, Trip]
  private var nextId = 0L
  private var hour = 0L
  private var accepted = 0L
  // reads whose result differed from the model, by op index
  private val badReads = mutable.Set.empty[Int]
  private val resolveMs = mutable.ArrayBuffer.empty[Double]
  private var lastWrite = -1

  private def newTrips(n: Int): Seq[(Long, Trip)] = (0 until n).map { _ =>
    val id = nextId
    nextId += 1
    id -> Trip(
      hour * 3600 + rng.nextInt(3600),
      1 + rng.nextInt(263), 1 + rng.nextInt(263), 1 + rng.nextInt(6),
      math.round(rng.nextDouble() * 3000) / 100.0,
      math.round((3 + rng.nextDouble() * 120) * 100) / 100.0)
  }

  private def frame(spark: SparkSession, rows: Seq[(Long, Trip)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, t) => t.row(id) }.asJava, schema)

  private def sampleLive(n: Int): Seq[Long] = {
    val keys = model.keysIterator.toIndexedSeq
    if (keys.size <= n) keys else rng.shuffle(keys.indices.toVector).take(n).map(keys)
  }

  def prepare(spark: SparkSession, attempt: Int): Unit = {
    table = s"$work/ingest/t$attempt"
    model.clear()
    nextId = 0L
    hour = 0L
    val base = newTrips(BaseRows)
    Snapshots.commitAppend(spark, frame(spark, base), table)
    model ++= base
    hour += 1
  }

  /** `seconds / SecondsPerCycle` cycles (at least one), each the
    * cycle's steps in seeded order followed by maintenance. The
    * seed moves steps within a cycle but never changes how many of each
    * kind run, or how far the table has grown when they run, so the
    * latencies compare like with like across seeds.
    */
  def run(spark: SparkSession, trace: Option[Tracer]): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    for (_ <- 1 to math.max(1, seconds / SecondsPerCycle)) cycleOnce(spark, trace, ops)
    ops.toSeq
  }

  /** `WarmUpCycles` untimed cycles; their reads and the model must agree
    * as in the pass.
    */
  def warmUp(spark: SparkSession): Unit = {
    val ops = mutable.ArrayBuffer.empty[Op]
    for (_ <- 1 to WarmUpCycles) cycleOnce(spark, None, ops)
    require(ops.forall(_.ok) && badReads.isEmpty, "the warm-up cycles' output differs from the model")
    accepted = 0L
  }

  private def cycleOnce(spark: SparkSession, trace: Option[Tracer], ops: mutable.ArrayBuffer[Op]): Unit = {
    def withCpu(body: => Op): Op = {
      val c0 = Main.cpuSeconds
      val op = body
      op.copy(cpu = Main.cpuSeconds - c0)
    }
    for (kind <- rng.shuffle(Cycle)) {
      val op = withCpu(Spans.op(trace, kind)(try step(spark, trace, kind, ops.size) catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ingest $kind threw: ${e.getMessage}")
          Op(kind, kind, 0, 0, 0, ok = false)
      }))
      ops += op
      if (kind != "read") lastWrite = ops.size - 1
      if (trace.isDefined && kind != "read") {
        val t0 = System.nanoTime()
        Snapshots.filesAt(spark, table, Snapshots.currentVersion(spark, table))
        resolveMs += (System.nanoTime() - t0) / 1e6
      }
    }
    ops += withCpu(Spans.op(trace, "maintenance")(maintain(spark, trace)))
  }

  /** Per step kind (maintenance included), the steps run × their median
    * figure, summed. Steps of a kind do the same work on a slowly growing
    * table, so a stall that hits a few steps (a busy neighbour on the
    * machine, a full GC) does not move the result.
    */
  def total(ops: Seq[Op], of: Op => Double): Double =
    ops.groupBy(_.kind).values.map(os => os.size * Stats.median(os.map(of))).sum

  /** One step; its latency is the `Snapshots` call plus, for reads, the
    * collect of the rows it returns. The comparison with the model runs
    * after the clock stops.
    */
  private def step(spark: SparkSession, trace: Option[Tracer], kind: String, index: Int): Op = {
    def call[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = Spans.in(trace, "build", name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    kind match {
      case "append" =>
        val batch = newTrips(BatchRows)
        hour += 1
        val df = frame(spark, batch)
        val (_, s) = call("commitAppend")(Snapshots.commitAppend(spark, df, table))
        model ++= batch
        accepted += batch.size
        Op(kind, kind, s, s, 0, ok = true)
      case "merge" =>
        val again = sampleLive((BatchRows * RedeliverShare).toInt).map { id =>
          val t = model(id)
          // a quarter of the re-delivered trips carry a corrected fare
          id -> (if (rng.nextInt(4) == 0) t.copy(amount = t.amount + 1.0) else t)
        }
        val batch = again ++ newTrips(BatchRows - again.size)
        hour += 1
        val df = frame(spark, batch)
        val (_, s) = call("commitMerge")(Snapshots.commitMerge(spark, df, table, Seq("trip_id")))
        model ++= batch
        accepted += batch.size
        Op(kind, kind, s, s, 0, ok = true)
      case "delete" =>
        val doomed = sampleLive(DeleteKeys)
        val absent = Seq(nextId + 1000000L) // a key no row has
        val ((_, n), s) = call("commitDelete")(
          Snapshots.commitDelete(spark, table, doomed ++ absent, "trip_id"))
        doomed.foreach(model.remove)
        if (n != doomed.size) badReads += index
        Op(kind, kind, s, s, 0, ok = true)
      case "read" =>
        val point = rng.nextBoolean()
        val (df, s1, want) = if (point) {
          val keys = sampleLive(ReadKeys) ++ Seq(nextId + 1000000L)
          val (df, s) = call("readPrunedByKeys")(
            Snapshots.readPrunedByKeys(spark, table, "trip_id", keys)
              .filter(col("trip_id").isin(keys: _*)))
          (df, s, keys.flatMap(k => model.get(k).map(k -> _)).toMap)
        } else {
          val lo = (rng.nextDouble() * nextId).toLong
          val hi = lo + BatchRows / 2
          val (df, s) = call("readPruned")(
            Snapshots.readPruned(spark, table, Seq(("trip_id", lo, hi)))
              .filter(col("trip_id").between(lo, hi)))
          (df, s, model.iterator.filter { case (k, _) => k >= lo && k <= hi }.toMap)
        }
        val t0 = System.nanoTime()
        val got = Spans.in(trace, "sink", "collect")(df.collect())
        val s2 = (System.nanoTime() - t0) / 1e9
        if (!sameRows(got, want)) badReads += index
        Op(if (point) "read_keys" else "read_range", kind, s1 + s2, s1, s2, ok = true)
    }
  }

  private def maintain(spark: SparkSession, trace: Option[Tracer]): Op = {
    val t0 = System.nanoTime()
    val ok = try {
      Spans.in(trace, "build", "compactSmallFiles")(Snapshots.compactSmallFiles(spark, table))
      Spans.in(trace, "build", "vacuum")(Snapshots.vacuum(spark, table))
      true
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ingest maintenance threw: ${e.getMessage}")
        false
    }
    val s = (System.nanoTime() - t0) / 1e9
    Op("maintenance", "maintenance", s, s, 0, ok)
  }

  /** A last maintenance cycle, then the whole table against the model. */
  def check(spark: SparkSession, pass: Pass): Set[Int] = {
    maintain(spark, None)
    val all = Snapshots.read(spark, table).collect()
    val ok = sameRows(all, model.toMap)
    if (!ok) System.err.println(s"[perfbench] ingest: table (${all.length} rows) != model (${model.size} rows)")
    // the state after the last write is wrong; charge that write
    badReads.toSet ++ (if (ok) Set.empty[Int] else Set(lastWrite))
  }

  def rows: Long = accepted

  /** Timings by step kind, plus the table's footprint after the final
    * maintenance cycle against its live rows written once, compactly.
    * A commit's Spark jobs are the job spans under its operation's span,
    * attributed by start time after the pass.
    */
  def layerMetrics(spark: SparkSession, pass: Pass, spans: Seq[Span]): Seq[(String, Double, String)] = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compact = s"$work/ingest/compact"
    Snapshots.read(spark, table).coalesce(1).write.mode("overwrite").parquet(compact)
    val compactBytes = fs.getContentSummary(new Path(compact)).getLength.toDouble
    val bytesPerRow = compactBytes / math.max(1, model.size)
    def of(kind: String) = pass.ops.filter(_.kind == kind).map(_.seconds)
    val commits = spans.filter(s => s.layer == "op" && Commits(s.name))
    val jobs = Tracer.byOp(spans, "job")
    Seq(
      ("warehouse.append_p50_s", Stats.median(of("append")), "s"),
      ("warehouse.append_tail_s", Stats.percentile(of("append"), Main.TailPct), "s"),
      ("warehouse.merge_p50_s", Stats.median(of("merge")), "s"),
      ("warehouse.merge_tail_s", Stats.percentile(of("merge"), Main.TailPct), "s"),
      ("warehouse.delete_p50_s", Stats.median(of("delete")), "s"),
      ("warehouse.read_p50_s", Stats.median(of("read")), "s"),
      ("warehouse.resolve_ms", Stats.median(resolveMs.toSeq), "ms"),
      ("warehouse.maintenance_s", of("maintenance").sum, "s"),
      ("warehouse.jobs_per_commit",
        commits.map(c => jobs.getOrElse(c.id, Nil).size).sum.toDouble / math.max(1, commits.size), "count"),
      ("warehouse.files_live",
        Snapshots.filesAt(spark, table, Snapshots.currentVersion(spark, table)).size.toDouble, "count"),
      ("warehouse.write_amp", pass.fs.bytesWritten / (accepted * bytesPerRow), "ratio"),
      ("warehouse.space_amp", fs.getContentSummary(new Path(table)).getLength / compactBytes, "ratio"),
      ("warehouse.rows_per_s", accepted / total(pass.ops, _.seconds), "1/s")) ++
      Registry.absentMetrics
  }
}

object Ingest {
  /** One cycle's steps; the seed only shuffles them. */
  val Cycle: Seq[String] = Seq.fill(4)("append") ++ Seq.fill(2)("merge") ++ Seq("delete", "read")
  val Commits = Set("append", "merge", "delete")
  /** Seconds of run length per timed cycle. */
  val SecondsPerCycle = 3
  val WarmUpCycles = 2
  /** Trips in the initial table, and in each append or merge batch. */
  val BaseRows = 20000
  val BatchRows = 1000
  /** Share of a merge batch that re-delivers live trip ids. */
  val RedeliverShare = 0.3
  /** Live keys per delete, and per point read. */
  val DeleteKeys = 50
  val ReadKeys = 20

  final case class Trip(pickupSec: Long, pickupZone: Int, dropoffZone: Int,
      passengers: Int, distance: Double, amount: Double) {
    def row(id: Long): Row = Row(id, new Timestamp(pickupSec * 1000L),
      pickupZone, dropoffZone, passengers, distance, amount)
  }

  val schema: StructType = StructType(Seq(
    StructField("trip_id", LongType, nullable = false),
    StructField("pickup_ts", TimestampType),
    StructField("pickup_zone", IntegerType),
    StructField("dropoff_zone", IntegerType),
    StructField("passengers", IntegerType),
    StructField("distance", DoubleType),
    StructField("amount", DoubleType)))

  private def tripOf(r: Row): (Long, Trip) =
    r.getAs[Long]("trip_id") -> Trip(r.getAs[Timestamp]("pickup_ts").getTime / 1000L,
      r.getAs[Int]("pickup_zone"), r.getAs[Int]("dropoff_zone"),
      r.getAs[Int]("passengers"), r.getAs[Double]("distance"), r.getAs[Double]("amount"))

  /** Exactly the expected rows: same keys, no duplicates, equal values. */
  def sameRows(got: Array[Row], want: Map[Long, Trip]): Boolean = {
    val trips = got.map(tripOf)
    trips.length == want.size && trips.forall { case (k, t) => want.get(k).contains(t) } &&
      trips.map(_._1).distinct.length == trips.length
  }

  /** The warehouse metrics of a workload that makes no `Snapshots` calls
    * of its own: reported, as zero, so every run prints the same names.
    */
  val absentMetrics: Seq[(String, Double, String)] = Seq(
    "warehouse.append_p50_s" -> "s", "warehouse.append_tail_s" -> "s",
    "warehouse.merge_p50_s" -> "s", "warehouse.merge_tail_s" -> "s",
    "warehouse.delete_p50_s" -> "s", "warehouse.read_p50_s" -> "s",
    "warehouse.resolve_ms" -> "ms", "warehouse.maintenance_s" -> "s",
    "warehouse.jobs_per_commit" -> "count", "warehouse.files_live" -> "count",
    "warehouse.write_amp" -> "ratio", "warehouse.space_amp" -> "ratio",
    "warehouse.rows_per_s" -> "1/s")
    .map { case (n, u) => (n, 0.0, u) }
}
