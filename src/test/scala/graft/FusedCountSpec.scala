package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.Snapshots

/** DELETE and UPDATE report the rows they changed from the positions
  * their probe killed, not from a separate count; MERGE's anti-join
  * is a key-set filter when the key list is on the driver. These cases
  * pin the reported counts and the surviving rows where the two forms
  * could part: NULL predicates, already-vectored rows, a slice read
  * twice, a retried attempt, NULL merge keys and a widened key type.
  */
class FusedCountSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  /** One file of (id, x) for ids 1..20: x is NULL for ids divisible by 4. */
  private def table(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft_fused").toString + "/t"
    Snapshots.commitAppend(spark,
      (1L to 20L).map(i => (i, if (i % 4 == 0) None else Some(i * 1.0)))
        .toDF("id", "x").coalesce(1), t)
    t
  }

  private def state(df: DataFrame): Map[Long, Option[Double]] =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap

  test("rows whose predicate is NULL are kept and not counted") {
    val t = table()
    // x > 10 is NULL for ids 4, 8, ..., 20 and TRUE for 11..19 minus 12, 16
    val (_, n) = Snapshots.commitDeleteWhere(spark, t, col("x") > 10.0)
    assert(n == 7L)
    val s = state(Snapshots.read(spark, t))
    assert(s.keySet == (1L to 10L).toSet ++ Set(12L, 16L, 20L))
    val (_, u) = Snapshots.commitUpdateWhere(spark, t, col("x") > 5.0,
      Seq("x" -> lit(0.0)))
    assert(u == 4L) // 6, 7, 9, 10
    val s2 = state(Snapshots.read(spark, t))
    assert(s2(6L).contains(0.0) && s2(5L).contains(5.0) && s2(12L).isEmpty)
  }

  test("already-vectored rows in an affected file neither count nor re-land") {
    val t = table()
    Snapshots.commitDelete(spark, t, Seq(2L, 3L), "id")
    val files = Snapshots.filesAt(spark, t, 2L)
    val (v, n) = Snapshots.commitDeleteWhere(spark, t, col("id") <= 5L)
    assert(n == 3L) // 1, 4, 5: 2 and 3 were already gone
    // nothing re-lands: the file carries, and its vector gains exactly
    // the three rows the delete killed on top of the earlier two
    def dead(version: Long) = Snapshots.deadRowsAt(spark, t, version)
    assert(Snapshots.filesAt(spark, t, v) == files &&
      dead(2L).values.map(_.getCardinality).sum == 2 &&
      dead(v).values.map(_.getCardinality).sum == 5 &&
      dead(2L).forall { case (e, b) =>
        org.roaringbitmap.RoaringBitmap.andNot(b, dead(v)(e)).isEmpty },
      "the delete must not re-land or re-kill already-dead rows")
    Snapshots.commitDelete(spark, t, Seq(7L), "id")
    val (u3, u) = Snapshots.commitUpdateWhere(spark, t, col("id") <= 8L,
      Seq("x" -> lit(-1.0)))
    assert(u == 2L) // 6 and 8
    // the update stages only its two rows, never the deleted 7
    val staged = Snapshots.filesAt(spark, t, u3).filterNot(files.contains)
    assert(state(spark.read.parquet(staged.map(f => s"$t/data/$f"): _*))
      .keySet == Set(6L, 8L))
    val s = state(Snapshots.read(spark, t))
    assert(s(6L).contains(-1.0) && s(8L).contains(-1.0) && !s.contains(7L))
  }

  test("UPDATE on a CHECK-constrained table counts once though its slice is read twice") {
    val t = table()
    Snapshots.addCheckConstraint(spark, t, "x_small", "x < 100")
    val (_, u) = Snapshots.commitUpdateWhere(spark, t, col("id") > 15L,
      Seq("x" -> (col("x") + 1.0)))
    assert(u == 5L)
    val s = state(Snapshots.read(spark, t))
    assert(s(17L).contains(18.0) && s(16L).isEmpty && s(15L).contains(15.0))
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitUpdateWhere(spark, t, col("id") === 1L,
        Seq("x" -> lit(500.0)))
    }
    assert(e.getMessage.contains("x_small"))
    // a second counted UPDATE after the refusal observes afresh
    val (_, u2) = Snapshots.commitUpdateWhere(spark, t, col("id") <= 3L,
      Seq("x" -> lit(50.0)))
    assert(u2 == 3L)
  }

  test("a lost claim's retry reports its own attempt's count") {
    val t = table()
    try {
      // after the first DELETE attempt staged its rewrite, an append of
      // two more matching rows lands; the retry sees and counts them
      Snapshots.raceHookForTests = () => {
        Snapshots.raceHookForTests = () => ()
        Snapshots.commitAppend(spark,
          Seq((101L, Some(1.0)), (102L, Some(2.0))).toDF("id", "x"), t)
      }
      val (v, n) = Snapshots.commitDeleteWhere(spark, t, col("x") < 3.0)
      assert(v == 3L, "the delete commits over the raced append")
      assert(n == 4L, s"the retry saw 1, 2, 101, 102; reported $n")
      assert(!state(Snapshots.read(spark, t)).keySet
        .exists(Set(1L, 2L, 101L, 102L)))
      Snapshots.raceHookForTests = () => {
        Snapshots.raceHookForTests = () => ()
        Snapshots.commitAppend(spark, Seq((103L, Some(5.0))).toDF("id", "x"), t)
      }
      val (_, u) = Snapshots.commitUpdateWhere(spark, t,
        col("x").between(5.0, 6.0), Seq("x" -> lit(0.5)))
      assert(u == 3L, s"the retry saw 5, 6, 103; reported $u")
    } finally Snapshots.raceHookForTests = () => ()
  }

  test("MERGE with NULL keys on both sides keeps every NULL-key row") {
    val t = java.nio.file.Files.createTempDirectory("graft_fused").toString + "/t"
    val rows = Seq[(Option[Long], String)](
      (Some(1L), "a"), (None, "target-null"), (Some(2L), "b"))
    Snapshots.commitAppend(spark, rows.toDF("id", "v").coalesce(1), t)
    Snapshots.commitMerge(spark,
      Seq[(Option[Long], String)]((Some(1L), "A"), (None, "batch-null"),
        (Some(3L), "c")).toDF("id", "v"), t, Seq("id"))
    val got = Snapshots.read(spark, t).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1)))
      .sortBy(_.toString).toSeq
    assert(got == Seq[(Option[Long], String)]((None, "batch-null"),
      (None, "target-null"), (Some(1L), "A"), (Some(2L), "b"),
      (Some(3L), "c")).sortBy(_.toString))
  }

  test("a MERGE widening its key column (int to bigint) still matches the stored keys") {
    val t = java.nio.file.Files.createTempDirectory("graft_fused").toString + "/t"
    Snapshots.commitAppend(spark, Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .coalesce(1), t)
    Snapshots.commitMerge(spark, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), t,
      Seq("id"))
    val got = Snapshots.read(spark, t)
    assert(got.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
  }
}
