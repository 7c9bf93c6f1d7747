package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTest {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")
  val sf: String = "/root/testdata/sf0.001"
}

/** One pass over the query registry per test JVM, shared by every spec
  * that checks all registered queries: the snap_* queries commit
  * eagerly inside `fn`, so a pass per spec repeats that work. Records
  * per query what `fn` returned — its columns, optimized plan and row
  * count (or what counting threw) — or what `fn` threw.
  */
object RegistryPass {
  final case class Ran(columns: Seq[String], optimizedPlan: String,
      rows: scala.util.Try[Long])

  lazy val results: Seq[(queries.QueryDef, scala.util.Try[Ran])] =
    SparkEntry.registry.map { q =>
      q -> scala.util.Try {
        val df = q.fn(SparkTest.spark, SparkTest.sf)
        Ran(df.columns.toSeq, df.queryExecution.optimizedPlan.toString,
          scala.util.Try(df.count()))
      }
    }
}

class RelationalSpec extends AnyFunSuite {
  import SparkTest._

  test("every registered query runs and yields a non-degenerate result at sf0.001") {
    RegistryPass.results.foreach { case (q, ran) =>
      val df = ran.get // rethrows what the query threw
      val n = df.rows.get
      assert(n >= 0, s"${q.name} failed to execute")
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      // every oracle'd query must alias all columns identically in SQL
      q.oracle.foreach { sql =>
        df.columns.foreach { c =>
          assert(sql.toLowerCase.contains(c.toLowerCase),
            s"${q.name}: column $c not present in oracle SQL (alias drift)")
        }
      }
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a4_daily_agg: per-day counts sum to total events") {
    import org.apache.spark.sql.functions._
    val total = Tables.events(spark, sf).count()
    val agg = queries.Relational.a4DailyAgg.fn(spark, sf)
      .agg(sum("n_events")).head.getLong(0)
    assert(agg == total)
  }

  test("j5_merge_insert_only is idempotent: merged count equals distinct fact∪batch keys") {
    import org.apache.spark.sql.functions._
    val merged = queries.Relational.j5MergeInsertOnly.fn(spark, sf)
      .agg(sum("n")).head.getLong(0)
    val expect = Tables.orders(spark, sf)
      .select("o_orderkey").distinct().count()
    assert(merged == expect)
  }

  test("a8_mode picks the most frequent line number with smallest-value tiebreak") {
    val rows = queries.Relational.a8Mode.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("mode_line") >= 1))
  }
}

class FnsSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions._
  import graft.functions.Fns

  test("datediffMinutes counts minute-boundary crossings (Snowflake semantics)") {
    import spark.implicits._
    val df = Seq(
      ("2024-01-01 00:00:59", "2024-01-01 00:01:01"), // 2s elapsed, 1 boundary
      ("2024-01-01 00:00:00", "2024-01-01 00:00:59"), // 59s elapsed, 0 boundaries
      ("2024-01-01 00:00:30", "2024-01-01 01:00:29")  // 59m59s elapsed, 60 boundaries
    ).toDF("a", "b")
      .select(Fns.datediffMinutes(col("a").cast("timestamp"), col("b").cast("timestamp")).as("m"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 0L, 60L))
  }

  test("dayOfWeekSnowflake: 0=Sunday … 6=Saturday") {
    import spark.implicits._
    // 2024-01-07 is a Sunday
    val df = Seq("2024-01-07", "2024-01-08", "2024-01-13").toDF("d")
      .select(Fns.dayOfWeekSnowflake(col("d").cast("date")).as("dow"),
        Fns.dayNameAbbrev(col("d").cast("date")).as("nm"))
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((0, "Sun"), (1, "Mon"), (6, "Sat")))
  }

  test("surrogateKey matches dbt_utils convention (md5 of '-'-joined coalesced strings)") {
    import spark.implicits._
    val got = Seq(("New York", "2024-01-01")).toDF("city", "ts")
      .select(Fns.surrogateKey(col("city"), col("ts"))).head.getString(0)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("New York-2024-01-01".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got == expected)
  }

  test("guardedRate: zero duration yields 0, not NaN/Infinity") {
    import spark.implicits._
    val got = Seq((10.0, 0.0), (10.0, 30.0)).toDF("dist", "dur")
      .select(Fns.guardedRate(col("dist"), col("dur"))).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(0.0, 20.0))
  }
}
