package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ScopedCache, SparkEntry}
import graft.queries.QueryDef

/** The `registry` workload: one closed-loop client running the timed
  * queries one after another, each cache-cold and sunk through the noop
  * format, in passes over the list, each in an order drawn from the seed.
  * The number of passes is `seconds / PassSeconds`, at least two, so a run
  * does the same work however fast the code is. As in `graft.Bench`, a
  * query's time is its minimum over the passes: the first pass is the one
  * where the JIT compiles the code, and a busy neighbour on the machine
  * rarely slows the same query in every pass.
  */
final class Registry(families: Map[String, Seq[String]], seed: Long, seconds: Int,
    fixtures: String, expected: Map[String, (Long, String)]) extends Workload {
  import Registry._

  private val byName: Map[String, QueryDef] = SparkEntry.registry.map(q => q.name -> q).toMap
  private val familyOf: Map[String, String] =
    families.toSeq.flatMap { case (f, ns) => ns.map(_ -> f) }.toMap
  private val timed: Seq[QueryDef] = {
    val names = timedNames(families)
    val missing = names.filterNot(expected.contains)
    require(missing.isEmpty, s"no expected output for ${missing.mkString(", ")}; run perfbench/record.py")
    names.map(byName)
  }
  private val passes = math.max(2, seconds / PassSeconds)
  private val order: Seq[QueryDef] = {
    val rng = new scala.util.Random(seed)
    (1 to passes).flatMap(_ => rng.shuffle(timed))
  }

  // the last pass's frames, checked after the pass
  private var frames = Map.empty[Int, (String, DataFrame)]

  def prepare(spark: SparkSession, attempt: Int): Unit = ()

  def warmUp(spark: SparkSession): Unit = ()

  /** The sum over the timed queries of each one's least figure over the
    * passes.
    */
  def total(ops: Seq[Op], of: Op => Double): Double =
    ops.groupBy(_.name).values.map(_.map(of).min).sum

  def run(spark: SparkSession, trace: Option[Tracer]): Seq[Op] = {
    val lastPass = order.size - timed.size
    order.zipWithIndex.map { case (q, i) =>
      // every timed invocation starts cache-cold: intermediates an earlier
      // query left in ScopedCache would otherwise serve this one
      ScopedCache.clear()
      Spans.op(trace, q.name) {
        val t0 = System.nanoTime()
        val c0 = Main.cpuSeconds
        (try {
          val df = Spans.in(trace, "build", q.name)(q.fn(spark, fixtures))
          val t1 = System.nanoTime()
          Spans.in(trace, "sink", q.name)(df.write.format("noop").mode("overwrite").save())
          val t2 = System.nanoTime()
          if (i >= lastPass) frames += i -> (q.name, df)
          Op(q.name, "query", (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok = true)
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] ${q.name} threw: ${e.getMessage}")
            Op(q.name, "query", (System.nanoTime() - t0) / 1e9, 0, 0, ok = false)
        }).copy(cpu = Main.cpuSeconds - c0)
      }
    }
  }

  /** Digests the outputs four at a time: the check is untimed, but it
    * is part of every run's cost.
    */
  def check(spark: SparkSession, pass: Pass): Set[Int] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val digests = frames.toSeq.map { case (i, (n, df)) =>
        Future(i -> (n, try Some(Registry.digest(df)) catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] $n: output check threw ${e.getMessage}")
            None
        }))
      }
      Await.result(Future.sequence(digests), Duration.Inf).flatMap { case (i, (n, got)) =>
        if (got.contains(expected(n))) None
        else {
          System.err.println(s"[perfbench] $n: output ${got.getOrElse("-")} != expected ${expected(n)}")
          Some(i)
        }
      }.toSet
    } finally pool.shutdown()
  }

  /** Per family, the share of its queries' time spent inside `fn`, and
    * its core utilisation: task seconds of the stages its queries ran,
    * over their latency times the cores.
    */
  def layerMetrics(spark: SparkSession, pass: Pass, spans: Seq[Span]): Seq[(String, Double, String)] = {
    val ops = spans.filter(_.layer == "op")
    val builds = Tracer.byOp(spans, "build")
    val stages = Tracer.byOp(spans, "stage")
    def seconds(ss: Seq[Span]) = ss.map(s => (s.end - s.start) / 1e9).sum
    Families.flatMap { f =>
      val mine = ops.filter(o => familyOf.get(o.name).contains(f))
      val wall = math.max(seconds(mine), 1e-9)
      Seq(
        (s"$f.build_share", mine.map(o => seconds(builds.getOrElse(o.id, Nil))).sum / wall, "ratio"),
        (s"$f.core_util",
          mine.flatMap(o => stages.getOrElse(o.id, Nil)).map(_.taskSeconds).sum / (wall * Main.Cores), "ratio"))
    } ++ Ingest.absentMetrics
  }
}

object Registry {
  /** Run length per pass: `--seconds 12` runs two passes. */
  val PassSeconds = 6
  /** The query families, as the registry's name prefixes group them. */
  val Families = Seq("marts", "corpus", "lifecycle")
  /** Queries sampled into the timed list. */
  val Sampled = 14
  /** The sample holds no query that runs a Structured Streaming query; this
    * one, the fastest that does, is timed too so the streaming layer has
    * traffic.
    */
  val StreamingQuery = "t6_stream_static_join"

  /** The family metrics of a workload that runs no registry query:
    * reported, as zero, so every run prints the same names.
    */
  val absentMetrics: Seq[(String, Double, String)] =
    Families.flatMap(f => Seq((s"$f.build_share", 0.0, "ratio"), (s"$f.core_util", 0.0, "ratio")))

  /** The timed list: `Sampled` members split among the families in
    * proportion to their sizes (largest remainder), each family's share a
    * systematic sample of its members in name order (the members at
    * positions ⌊(i + ½)·n / k⌋), plus `StreamingQuery`.
    */
  def timedNames(families: Map[String, Seq[String]]): Seq[String] = {
    val total = families.values.map(_.size).sum
    val quota = Families.map(f => f -> Sampled.toDouble * families(f).size / total)
    val extra = quota.sortBy { case (_, q) => -(q - q.floor) }
      .take(Sampled - quota.map(_._2.floor.toInt).sum).map(_._1).toSet
    val sample = quota.flatMap { case (f, q) =>
      val k = q.floor.toInt + (if (extra(f)) 1 else 0)
      val ns = families(f).sorted
      (0 until k).map(i => ns(((i + 0.5) * ns.size / k).toInt))
    }
    sample :+ StreamingQuery
  }

  /** Row count and an order-insensitive content hash of `df`: the sum of
    * one 64-bit hash per row, taken over the row's JSON form with doubles
    * rounded to 4 places (the oracle-parity convention in QueryDef), so a
    * last-bit difference in floating-point summation order cannot flip it.
    */
  def digest(df: DataFrame): (Long, String) = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 4)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 4))
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType).as(f.name))
    val h = xxhash64(to_json(struct(cols: _*))).cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def loadExpected(path: String): Map[String, (Long, String)] =
    Json.fields(Json.read(path)).map { case (n, v) =>
      n -> (v.get("rows").asLong, v.get("hash").asText)
    }.toMap

  /** Runs every member once, writing each output as parquet under `out`
    * (for record.py's DuckDB comparison) and its digest to `out/digests.json`.
    */
  def record(spark: SparkSession, fixtures: String, members: Seq[String], out: String): Unit = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val oracles = SparkEntry.oracleSql
    val lines = members.map { n =>
      ScopedCache.clear()
      val df = byName(n).fn(spark, fixtures)
      df.write.mode("overwrite").parquet(s"$out/$n")
      val (rows, hash) = digest(df)
      val oracle = oracles.get(n).map(Json.str).getOrElse("null")
      s"${Json.str(n)}:{\"rows\":$rows,\"hash\":${Json.str(hash)},\"oracle\":$oracle}"
    }
    Files.write(Paths.get(out, "digests.json"),
      Seq(lines.mkString("{\n", ",\n", "\n}")).asJava)
  }
}

/** Span helpers that cost nothing when tracing is off. */
object Spans {
  def op[T](trace: Option[Tracer], name: String)(body: => T): T =
    in(trace, "op", name)(body)

  def in[T](trace: Option[Tracer], layer: String, name: String)(body: => T): T =
    trace match {
      case Some(t) => t.span(layer, name)(body)
      case None => body
    }
}
