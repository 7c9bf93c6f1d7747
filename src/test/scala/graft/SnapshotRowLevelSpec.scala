package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

/** Stock Spark row-level SQL through the catalog's
  * SupportsRowLevelOperations seat (sources/SnapshotRowLevel.scala):
  * UPDATE / MERGE INTO (rich clause forms) / untranslatable DELETE
  * plan as copy-on-write ReplaceData and commit through
  * Snapshots.commitReplaceEntries — group-granular, conflict-refusing,
  * constraint-enforcing.
  */
class SnapshotRowLevelSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def freshCat(root: String): String = {
    val u = java.util.UUID.randomUUID.toString.replace("-", "").take(10)
    val cat = s"grl_$u"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  test("stock UPDATE: copy-on-write through the catalog, group-granular via the runtime group filter") {
    val root = Files.createTempDirectory("graft_rl_upd").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 800).map(i => (i.toLong, i * 1.0, s"tag${i % 3}"))
        .toDF("k", "v", "tag")
        .repartitionByRange(8, $"k"), t)
    Snapshots.extendStats(spark, t, Seq("k"))
    val cat = freshCat(root)
    val before = Snapshots.filesAt(spark, t, 1L)
    assert(before.size == 8)

    // the cut at k=150 slices THROUGH a 100-row range file: its rows
    // 151..200 are carried — the regression where a pushed condition
    // reaching the parquet reader record-filters them out of the
    // rewrite (silent row loss)
    spark.sql(s"UPDATE $cat.t SET v = v + 1000 WHERE k <= 150")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    val after = Snapshots.filesAt(spark, t, 2L)
    // group-granular: the runtime group filter re-prunes through the
    // stats sidecar, so untouched range files CARRY BY NAME
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.nonEmpty,
      s"no file carried — UPDATE rewrote the whole table:\n$before\n$after")
    val r = Snapshots.read(spark, t)
    assert(r.where("k <= 150 AND v = k + 1000").count() == 150L)
    assert(r.where("k > 150 AND v = CAST(k AS DOUBLE)").count() == 650L)
    assert(r.count() == 800L)

    // unfiltered UPDATE rewrites everything, still correct
    spark.sql(s"UPDATE $cat.t SET tag = upper(tag)")
    val r3 = Snapshots.read(spark, t)
    assert(r3.where("tag LIKE 'TAG%'").count() == 800L)
  }

  test("stock DELETE with an untranslatable predicate goes copy-on-write; translatable stays metadata-only") {
    val root = Files.createTempDirectory("graft_rl_del").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 300).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(4), t)
    val cat = freshCat(root)
    // modulo is not a source filter: pre-row-level this REFUSED; now it
    // plans as ReplaceData and rewrites the surviving rows
    spark.sql(s"DELETE FROM $cat.t WHERE k % 10 = 3")
    val r = Snapshots.read(spark, t)
    assert(r.count() == 270L && r.where("k % 10 = 3").count() == 0L)
    // a translatable DELETE still collapses to the metadata-only path
    // (SupportsDelete) — one version, no staged rewrite of every file
    val vBefore = Snapshots.currentVersion(spark, t)
    spark.sql(s"DELETE FROM $cat.t WHERE k <= 5")
    assert(Snapshots.currentVersion(spark, t) == vBefore + 1)
    assert(Snapshots.read(spark, t).count() == 266L) // k=3 already gone
  }

  test("stock MERGE with rich clauses: conditional DELETE + column UPDATE + typed INSERT") {
    val root = Files.createTempDirectory("graft_rl_mrg").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), t)
    val cat = freshCat(root)
    Seq((5L, -1.0, true), (6L, 600.0, false), (200L, 2000.0, false))
      .toDF("k", "v", "del").createOrReplaceTempView("grl_src")
    // this clause shape (conditional DELETE, column-wise SET, explicit
    // INSERT list) was never parseable by the engine's upsert verb —
    // it only works through Spark's own MERGE resolution
    spark.sql(
      s"""MERGE INTO $cat.t t USING grl_src s ON t.k = s.k
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val r = Snapshots.read(spark, t)
    assert(r.count() == 100L) // 100 - 1 deleted + 1 inserted
    assert(r.where("k = 5").count() == 0L)
    assert(r.where("k = 6 AND v = 600.0").count() == 1L)
    assert(r.where("k = 200 AND v = 2000.0").count() == 1L)
    assert(r.where("k = 7 AND v = 7.0").count() == 1L)
  }

  test("row-level writes enforce CHECK constraints and leave the head untouched on refusal") {
    val root = Files.createTempDirectory("graft_rl_chk").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), t)
    Snapshots.addCheckConstraint(spark, t, "v_pos", "v > 0")
    val cat = freshCat(root)
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.t SET v = -5.0 WHERE k % 7 = 0")
    }
    assert(Snapshots.currentVersion(spark, t) == 2L) // append + addCheck
    assert(Snapshots.read(spark, t).where("v <= 0").count() == 0L)
    // ...and a passing update still lands
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k % 7 = 0")
    assert(Snapshots.read(spark, t).where("v = k + 1").count() == 7L)
  }

  test("commitReplaceEntries refuses conflicts: vanished groups and racing vectored deletes") {
    val root = Files.createTempDirectory("graft_rl_cme").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1), t)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.commitReplaceEntries(spark, t,
        Seq("no-such-file.parquet"), Nil, Map.empty)
    }
    // a keyed DELETE lands after the operation scanned v1: the scanned
    // file gained a vector, so re-writing it would bring the row back
    val scanned = Snapshots.filesAt(spark, t, 1L)
    Snapshots.commitDelete(spark, t, Seq(3L), "k")
    val e = intercept[java.util.ConcurrentModificationException] {
      Snapshots.commitReplaceEntries(spark, t, scanned, Nil, Map.empty,
        scannedAt = Some(1L))
    }
    assert(e.getMessage.contains("deletion"))
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(Snapshots.read(spark, t).count() == 19L)
    // empty replace is a no-op at the current head
    assert(Snapshots.commitReplaceEntries(spark, t, Nil, Nil, Map.empty)
      == Snapshots.currentVersion(spark, t))
  }

  test("row-level UPDATE routes partition dirs and serves renamed columns") {
    val root = Files.createTempDirectory("graft_rl_prt").toString
    val t = root + "/t"
    Snapshots.commitCreate(spark, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.StringType))),
      Seq(("g", "identity")))
    Snapshots.commitAppend(spark,
      (1 to 200).map(i => (i.toLong, s"g${i % 4}")).toDF("k", "g"), t)
    Snapshots.commitRenameColumn(spark, t, "k", "key")
    val cat = freshCat(root)
    spark.sql(s"UPDATE $cat.t SET key = key + 1000 WHERE g = 'g1'")
    val files = Snapshots.filesAt(spark, t,
      Snapshots.currentVersion(spark, t))
    assert(files.forall(_.startsWith("__gp=")),
      s"rewritten rows must land under their partition dirs: $files")
    val r = Snapshots.read(spark, t)
    assert(r.columns.toSeq == Seq("key", "g"))
    assert(r.where("g = 'g1' AND key > 1000").count() == 50L)
    assert(r.where("g <> 'g1' AND key > 1000").count() == 0L)
    // the g='g1' dir was the only replaced group
    assert(Snapshots.read(spark, t).count() == 200L)
  }
}
