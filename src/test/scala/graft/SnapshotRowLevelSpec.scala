package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

/** Stock Spark row-level SQL through the catalog's delta-based
  * SupportsRowLevelOperations seat (sources/SnapshotRowLevel.scala):
  * UPDATE / MERGE INTO (rich clause forms) / DELETE plan as WriteDelta
  * and commit through Snapshots.commitRowDelta — the changed rows die by
  * deletion vector, only new row versions are staged, conflicting
  * commits refuse and CHECK constraints bind.
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

  test("stock UPDATE by deletion vectors: matched rows die, untouched files carry by name") {
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
    // 151..200 stay live in it
    spark.sql(s"UPDATE $cat.t SET v = v + 1000 WHERE k <= 150")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    val after = Snapshots.filesAt(spark, t, 2L)
    // the pushed condition prunes through the stats sidecar, and the
    // files holding no updated row CARRY BY NAME
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.nonEmpty,
      s"no file carried — UPDATE rewrote the whole table:\n$before\n$after")
    val r = Snapshots.read(spark, t)
    assert(r.where("k <= 150 AND v = k + 1000").count() == 150L)
    assert(r.where("k > 150 AND v = CAST(k AS DOUBLE)").count() == 650L)
    assert(r.count() == 800L)

    // an unfiltered UPDATE kills every row: every file leaves, the new
    // versions are staged, still correct
    spark.sql(s"UPDATE $cat.t SET tag = upper(tag)")
    val r3 = Snapshots.read(spark, t)
    assert(r3.where("tag LIKE 'TAG%'").count() == 800L)
  }

  test("stock DELETE, translatable or not, kills rows by deletion vector and stages no data file") {
    val root = Files.createTempDirectory("graft_rl_del").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 300).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(4), t)
    val cat = freshCat(root)
    val files = Snapshots.filesAt(spark, t, 1L)
    // modulo is not a source filter: the delete finds its rows in the
    // scan, and each file loses a tenth of its rows by vector
    spark.sql(s"DELETE FROM $cat.t WHERE k % 10 = 3")
    val r = Snapshots.read(spark, t)
    assert(r.count() == 270L && r.where("k % 10 = 3").count() == 0L)
    assert(Snapshots.filesAt(spark, t, 2L) == files)
    assert(Snapshots.deadRowsAt(spark, t, 2L).keySet == files.toSet)
    // a translatable DELETE takes the same path: one version, the same
    // files, no staged data
    val vBefore = Snapshots.currentVersion(spark, t)
    spark.sql(s"DELETE FROM $cat.t WHERE k <= 5")
    assert(Snapshots.currentVersion(spark, t) == vBefore + 1)
    assert(Snapshots.filesAt(spark, t, vBefore + 1) == files)
    assert(Snapshots.read(spark, t).count() == 266L) // k=3 already gone
    assert(Snapshots.history(spark, t).select("op").collect()
      .map(_.getString(0)).toSeq.take(2) == Seq("delete", "delete"))
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

  test("the vector commit refuses conflicts: a changed file that left the head, a racing vectored delete") {
    val root = Files.createTempDirectory("graft_rl_cme").toString
    val t = root + "/t"
    val rows = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1)
    Snapshots.commitAppend(spark, rows, t)
    val schema = Snapshots.read(spark, t).schema
    /** Commit the death of row 0 of version `v`'s one file, as a
      * statement that scanned `v` would.
      */
    def killFirstRow(v: Long): Long = {
      val uri = graft.warehouse.FileSkipping.canonical(spark,
        new org.apache.hadoop.fs.Path(t, "data"),
        Snapshots.filesAt(spark, t, v))._1.head
      Snapshots.commitRowDelta(spark, t, "update",
        Map(uri -> org.roaringbitmap.RoaringBitmap.bitmapOf(0)), Nil,
        schema, Map.empty, None, scannedAt = v)
    }
    // an overwrite replaces the file the statement scanned at v1
    Snapshots.commitOverwrite(spark, rows, t)
    intercept[java.util.ConcurrentModificationException](killFirstRow(1L))
    // a keyed DELETE lands after the statement scanned v2: the file
    // gained a vector, so the scanned positions no longer describe it
    Snapshots.commitDelete(spark, t, Seq(3L), "k")
    val e = intercept[java.util.ConcurrentModificationException] {
      killFirstRow(2L)
    }
    assert(e.getMessage.contains("deletion"))
    assert(Snapshots.currentVersion(spark, t) == 3L)
    assert(Snapshots.read(spark, t).count() == 19L)
    // a statement that matched nothing is a no-op at the current head
    assert(Snapshots.commitRowDelta(spark, t, "update", Map.empty, Nil,
      schema, Map.empty, None, scannedAt = 3L) ==
      Snapshots.currentVersion(spark, t))
  }

  test("a MERGE whose source matches one target row twice refuses, head and vectors unchanged") {
    val root = Files.createTempDirectory("graft_rl_card").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(2), t)
    val cat = freshCat(root)
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1")
    val head = Snapshots.currentVersion(spark, t)
    val dead = Snapshots.deadRowsAt(spark, t, head)
    Seq((5L, 50.0), (5L, 500.0), (7L, 70.0)).toDF("k", "v")
      .createOrReplaceTempView("grl_dup_src")
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING grl_dup_src s ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET v = s.v
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("MERGE_CARDINALITY_VIOLATION")),
      s"expected a cardinality violation, got $e")
    assert(Snapshots.currentVersion(spark, t) == head)
    assert(Snapshots.deadRowsAt(spark, t, head) == dead)
    val r = Snapshots.read(spark, t)
    assert(r.count() == 39L && r.where("k = 5 AND v = 5.0").count() == 1L)
  }

  test("catalog UPDATE and DELETE on a shallow clone vector its foreign entries; the source reads unchanged") {
    val root = Files.createTempDirectory("graft_rl_clone").toString
    val src = root + "/src"
    Snapshots.commitAppend(spark,
      (1 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(3), src)
    Snapshots.cloneTable(spark, src, root + "/fork")
    val t = root + "/fork"
    val foreign = Snapshots.filesAt(spark, t, 1L)
    assert(foreign.size == 3 && foreign.forall(_.contains("/")))
    val cat = freshCat(root)
    spark.sql(s"UPDATE $cat.fork SET v = upper(v) WHERE k % 6 = 1")
    // modulo and lower() are not source filters
    spark.sql(s"DELETE FROM $cat.fork WHERE lower(v) LIKE '%5'")
    val v = Snapshots.currentVersion(spark, t)
    val files = Snapshots.filesAt(spark, t, v)
    // every foreign entry carries by name with a vector; only the
    // updated rows' new versions are the clone's own (the DELETE kills
    // two of them, k = 25 and 55, in the clone's own file)
    assert(foreign.forall(files.contains), s"$foreign vs $files")
    val own = files.filterNot(foreign.contains)
    assert(own.nonEmpty && own.forall(!_.contains("/")))
    assert(foreign.toSet.subsetOf(Snapshots.deadRowsAt(spark, t, v).keySet))
    val r = Snapshots.read(spark, t)
    assert(r.count() == 54L && r.where("v LIKE '%5'").count() == 0L)
    assert(r.where("k % 6 = 1 AND v = concat('V', k)").count() == 8L)
    val s0 = Snapshots.read(spark, src)
    assert(Snapshots.currentVersion(spark, src) == 1L &&
      s0.count() == 60L && s0.where("v = concat('v', k)").count() == 60L)
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
