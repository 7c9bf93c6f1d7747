package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.{Maintenance, Snapshots}

/** Deletion vectors on every read path. The fixture is an in-place
  * converted table — two FOREIGN entries (qualified URIs of the
  * directory's own parquet files, ids 0..19) — plus two files of its own
  * (ids 20..39), ten rows each, `v` = 10 × id. A keyed DELETE of one id
  * per file kills four rows by vector: no file is re-written, all four
  * entries gain a vector. Each path below must serve exactly the live
  * rows, on own and foreign entries alike:
  *
  *   - `read`, `readPruned`, `readPrunedByKeys`;
  *   - the catalog scan, plain, with a runtime filter, and with
  *     aggregate pushdown (footer and stats answers);
  *   - `incrementalRead` / `appendOnly`, and `rowDiff` (the CDF);
  *   - shallow clone, deep clone (CTAS through the catalog), RESTORE;
  *   - the streaming source and `syncReplica`;
  *   - VACUUM, which reclaims unreferenced `_deletes/` files only.
  *
  * The cases after the fixture's are the merge-on-read contract on small
  * one-file tables: OPTIMIZE as the physical-erasure point (by hand and
  * by the maintenance policy), the change feed and replica sync across a
  * keyed-delete window, string and NULL keys, and re-appending a deleted
  * key.
  */
class DeletionVectorSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private val Doomed = Set(3L, 13L, 23L, 33L)
  private val Live = (0L until 40L).toSet -- Doomed

  /** (root, table, version before the delete, version after it). */
  private def fixture(): (String, String, Long, Long) = {
    val root = Files.createTempDirectory("graft_dv").toString
    val t = root + "/t"
    def rows(lo: Long) = (lo until lo + 20L).map(i => (i, 10L * i))
      .toDF("id", "v").repartitionByRange(2, col("id"))
    rows(0L).write.parquet(t)
    Snapshots.convertToSnapshot(spark, t)
    val before = Snapshots.commitAppend(spark, rows(20L), t)
    val (after, n) = Snapshots.commitDelete(spark, t, Doomed.toSeq, "id")
    assert(n == 4L)
    (root, t, before, after)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  /** A one-file table of `rows`: a delete of under half of them vectors
    * the file instead of re-writing it.
    */
  private def oneFile(rows: Seq[(Long, String)]): String = {
    val t = Files.createTempDirectory("graft_dv_mor").toString + "/t"
    Snapshots.commitAppend(spark, rows.toDF("id", "v").coalesce(1), t)
    t
  }

  /** The ids held by every parquet data file under `t`'s `data/` dir,
    * read raw (no manifest, no vector): what is physically on disk.
    */
  private def rawIds(t: String): Set[Long] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      .filterNot(_.split("/").exists(c => c.startsWith("_") || c.startsWith(".")))
    if (files.isEmpty) Set.empty else ids(spark.read.parquet(files.toSeq: _*))
  }

  test("Spark's parquet v2 reader fills the row-index column by name") {
    val dir = Files.createTempDirectory("graft_dv_rowidx").toString + "/p"
    spark.range(0, 25).toDF("id").coalesce(1).write.parquet(dir)
    val idx = org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
    val prior = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val df = spark.read.schema(StructType(Seq(StructField("id", LongType),
        StructField(idx, LongType)))).parquet(dir)
      assert(df.queryExecution.executedPlan.toString.contains("BatchScan"),
        "the read must take the v2 parquet scan")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == (0L until 25L).map(i => (i, i)))
    } finally spark.conf.set("spark.sql.sources.useV1SourceList", prior)
  }

  test("a keyed DELETE vectors own and foreign entries; read, readPruned and readPrunedByKeys drop the dead rows") {
    val (_, t, before, after) = fixture()
    val files = Snapshots.filesAt(spark, t, after)
    assert(files == Snapshots.filesAt(spark, t, before), "no file re-written")
    val dead = Snapshots.deadRowsAt(spark, t, after)
    assert(dead.keySet == files.toSet && dead.values.forall(_.getCardinality == 1))
    assert(files.count(_.contains(":/")) == 2, s"two foreign entries: $files")
    assert(ids(Snapshots.read(spark, t)) == Live)
    assert(ids(Snapshots.read(spark, t, Some(before))) == Live ++ Doomed)
    assert(ids(Snapshots.readPruned(spark, t, Seq(("id", 0L, 39L)))
      .filter(col("id").between(0L, 39L))) == Live)
    Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 100L)
    Snapshots.extendStats(spark, t, Seq("id", "v"))
    val keys = Seq(3L, 4L, 23L, 24L)
    assert(ids(Snapshots.readPrunedByKeys(spark, t, "id", keys)
      .filter(col("id").isin(keys: _*))) == Set(4L, 24L))
    assert(ids(Snapshots.readPruned(spark, t, Seq(("id", 10L, 15L)))
      .filter(col("id").between(10L, 15L))) == Set(10L, 11L, 12L, 14L, 15L))
  }

  test("the catalog scan serves vectored versions: plain, runtime-filtered, aggregate-pushed") {
    val (root, t, before, after) = fixture()
    spark.conf.set("spark.sql.catalog.dvcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvcat.root", root)
    def q(sql: String) = spark.sql(sql)
    assert(ids(q("SELECT id FROM dvcat.t")) == Live)
    assert(ids(q(s"SELECT id FROM dvcat.t VERSION AS OF $before")) ==
      Live ++ Doomed)
    // the snapshot_at TVF reads through Snapshots.read
    assert(q(s"SELECT count(*) FROM snapshot_at('$t', $after)")
      .head.getLong(0) == 36L)
    assert(q("SELECT id, v FROM dvcat.t WHERE id < 20").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Live.filter(_ < 20).map(i => (i, 10 * i)))
    // no sidecar: the parquet footer aggregate would count dead rows
    val agg = q("SELECT count(*), min(id), max(id) FROM dvcat.t").head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == ((36L, 0L, 39L)))
    // stats sidecar: COUNT(*) answers from metadata, minus the dead rows
    Snapshots.extendStats(spark, t, Seq("id"))
    assert(q("SELECT count(*) FROM dvcat.t").head.getLong(0) == 36L)
    assert(Snapshots.lastAggAnswered.contains(1))
    // a runtime filter re-builds a vectored scan over fewer files
    spark.range(0, 40).toDF("k").withColumn("tag",
        org.apache.spark.sql.functions.when(col("k").isin(3L, 13L, 14L), "x")
          .otherwise("y"))
      .createOrReplaceTempView("dv_dim")
    Snapshots.lastRuntimePruned = None
    val joined = q("SELECT f.id FROM dvcat.t f JOIN dv_dim d " +
      "ON f.id = d.k WHERE d.tag = 'x'")
    assert(ids(joined) == Set(14L))
    assert(Snapshots.lastRuntimePruned.isDefined, "no runtime filter arrived")
  }

  test("incrementalRead refuses a vectored step, rowDiff reports it; appendOnly tells them apart") {
    val (_, t, before, after) = fixture()
    assert(!Snapshots.appendOnly(spark, t, before, after))
    val ex = intercept[IllegalArgumentException] {
      Snapshots.incrementalRead(spark, t, before, after)
    }
    assert(ex.getMessage.contains("rowDiff"))
    val deletes = Snapshots.rowDiff(spark, t, before, after, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(deletes == Doomed.map(i => (i, 10 * i, "delete")))
    // a vectored MERGE: the dead old row pairs with the staged new one
    val merged = Snapshots.commitMerge(spark,
      Seq((5L, -5L), (25L, -25L), (100L, 1000L)).toDF("id", "v"), t, Seq("id"))
    assert(Snapshots.filesAt(spark, t, merged).toSet
      .intersect(Snapshots.filesAt(spark, t, after).toSet).size == 4)
    val feed = Snapshots.rowDiff(spark, t, after, merged, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((5L, 50L, "update_preimage"), (5L, -5L, "update_postimage"),
      (25L, 250L, "update_preimage"), (25L, -25L, "update_postimage"),
      (100L, 1000L, "insert")))
    // an append after the vectors is append-only again
    val appended = Snapshots.commitAppend(spark, Seq((200L, 1L)).toDF("id", "v"), t)
    assert(Snapshots.appendOnly(spark, t, merged, appended))
    assert(ids(Snapshots.incrementalRead(spark, t, merged, appended)) == Set(200L))
  }

  test("shallow clone, deep clone and RESTORE keep dead rows dead") {
    val (root, t, before, after) = fixture()
    val c = root + "/c"
    Snapshots.cloneTable(spark, t, c)
    assert(ids(Snapshots.read(spark, c)) == Live)
    assert(Snapshots.deadRowsAt(spark, c, 1L).size == 4)
    // the clone's DML vectors its (all foreign) entries, never the source
    Snapshots.commitDelete(spark, c, Seq(4L, 24L), "id")
    assert(ids(Snapshots.read(spark, c)) == Live -- Set(4L, 24L))
    assert(ids(Snapshots.read(spark, t)) == Live)
    // deep clone: CTAS through the catalog copies only live rows
    spark.conf.set("spark.sql.catalog.dvdeep",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvdeep.root", root)
    spark.sql("CREATE TABLE dvdeep.d AS SELECT * FROM dvdeep.t")
    assert(ids(Snapshots.read(spark, root + "/d")) == Live)
    assert(Snapshots.deadRowsAt(spark, root + "/d",
      Snapshots.currentVersion(spark, root + "/d")).isEmpty)
    // RESTORE takes the target's vectors
    val undone = Snapshots.commitRestore(spark, t, before)
    assert(ids(Snapshots.read(spark, t)) == Live ++ Doomed)
    assert(Snapshots.deadRowsAt(spark, t, undone).isEmpty)
    // a window that brings dead rows back reports them as inserts
    assert(Snapshots.rowDiff(spark, t, after, undone, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet ==
      Doomed.map(_ -> "insert"))
    Snapshots.commitRestore(spark, t, after)
    assert(ids(Snapshots.read(spark, t)) == Live)
  }

  test("the streaming source and syncReplica carry vectored deletes and merges") {
    val (root, t, _, _) = fixture()
    val replica = root + "/r"
    assert(Snapshots.syncReplica(spark, t, replica, Seq("id"))._3 == "append")
    assert(ids(Snapshots.read(spark, replica)) == Live)
    val batches = mutable.ArrayBuffer.empty[Set[(Long, Long, String)]]
    val q = spark.readStream.format("graft-snapshot").option("path", t)
      .option("keys", "id").option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", root + "/ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("id", "v", "_change_type").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        if (rows.nonEmpty) batches.synchronized { batches += rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(batches.head.map(_._1) == Live, "the initial snapshot")
      Snapshots.commitDelete(spark, t, Seq(5L, 25L), "id")
      q.processAllAvailable()
      assert(batches.last == Set((5L, 50L, "delete"), (25L, 250L, "delete")))
      Snapshots.commitMerge(spark, Seq((6L, -6L)).toDF("id", "v"), t, Seq("id"))
      q.processAllAvailable()
      assert(batches.last == Set((6L, 60L, "update_preimage"),
        (6L, -6L, "update_postimage")))
    } finally q.stop()
    val (_, _, mode) = Snapshots.syncReplica(spark, t, replica, Seq("id"))
    assert(mode == "feed")
    val want = Snapshots.read(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet
    assert(Snapshots.read(spark, replica).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == want)
    // the replica applied the feed by vector too
    assert(Snapshots.deadRowsAt(spark, replica,
      Snapshots.currentVersion(spark, replica)).nonEmpty)
  }

  test("VACUUM reclaims unreferenced vector files and keeps referenced ones") {
    val (_, t, _, _) = fixture()
    val vd = new org.apache.hadoop.fs.Path(t, "_deletes")
    val fs = vd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vectorFiles = fs.listStatus(vd).map(_.getPath.getName).toSet
    def head = Snapshots.currentVersion(spark, t)
    // the second delete re-vectors one entry; the head references both
    // files, so both stay
    Snapshots.commitDelete(spark, t, Seq(4L), "id")
    val first = vectorFiles
    Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(first.size == 2 && vectorFiles == first)
    // the third re-vectors the other three: the first file is unreferenced
    Snapshots.commitDelete(spark, t, Seq(14L, 24L, 34L), "id")
    val dead = Snapshots.deadRowsAt(spark, t, head)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(vectorFiles.size == 2 && vectorFiles.intersect(first).size == 1)
    val gone = Set(4L, 14L, 24L, 34L)
    assert(ids(Snapshots.read(spark, t)) == Live -- gone)
    assert(Snapshots.deadRowsAt(spark, t, head) == dead)
    // OPTIMIZE folds every vector away; the next vacuum reclaims the file
    Snapshots.compactData(spark, t, targetFiles = 1)
    assert(Snapshots.deadRowsAt(spark, t, head).isEmpty)
    assert(ids(Snapshots.read(spark, t)) == Live -- gone)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(vectorFiles.isEmpty)
    assert(ids(Snapshots.read(spark, t)) == Live -- gone)
  }

  test("a file past the dead-fraction bound is re-written, not vectored") {
    val t = Files.createTempDirectory("graft_dv_rw").toString + "/t"
    Snapshots.commitAppend(spark,
      (0L until 10L).map(i => (i, i)).toDF("id", "v").coalesce(1), t)
    Snapshots.commitAppend(spark,
      (10L until 20L).map(i => (i, i)).toDF("id", "v").coalesce(1), t)
    val v1 = Snapshots.filesAt(spark, t, 2L)
    // 6 of 10 rows of the first file, 2 of the second
    val (v, n) = Snapshots.commitDeleteWhere(spark, t,
      col("id") < 6L || col("id").isin(10L, 11L))
    assert(n == 8L)
    val files = Snapshots.filesAt(spark, t, v)
    assert(!files.contains(v1.head) && files.contains(v1(1)) && files.size == 2)
    assert(Snapshots.deadRowsAt(spark, t, v).keySet == Set(v1(1)))
    assert(ids(Snapshots.read(spark, t)) == (6L until 20L).toSet -- Set(10L, 11L))
    // a file with no live row left just leaves
    val (v2, n2) = Snapshots.commitDeleteWhere(spark, t, col("id") >= 10L)
    assert(n2 == 8L && Snapshots.filesAt(spark, t, v2).size == 1)
    assert(ids(Snapshots.read(spark, t)) == (6L until 10L).toSet)
    assert(Snapshots.commitUpdateWhere(spark, t, col("id") === 7L,
      Seq("v" -> lit(-1L)))._2 == 1L)
    assert(Snapshots.read(spark, t).filter(col("id") === 7L)
      .select("v").as[Long].collect().toSeq == Seq(-1L))
  }

  test("a row-level SQL rewrite refuses when a scanned file gained a vector since its scan") {
    val (root, t, _, after) = fixture()
    val scanned = Snapshots.filesAt(spark, t, after).take(1)
    // a concurrent keyed DELETE kills another row of the scanned file
    Snapshots.commitDelete(spark, t, Seq(4L), "id")
    // a statement that scanned `after` killing the file's first row
    val uri = graft.warehouse.FileSkipping.canonical(spark,
      new org.apache.hadoop.fs.Path(t, "data"), scanned)._1.head
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.commitRowDelta(spark, t, "update",
        Map(uri -> org.roaringbitmap.RoaringBitmap.bitmapOf(0)), Nil,
        Snapshots.read(spark, t).schema, Map.empty, None, scannedAt = after)
    }
    assert(ids(Snapshots.read(spark, t)) == Live - 4L)
    // through SQL: an UPDATE runs against the head and sees only live rows
    spark.conf.set("spark.sql.catalog.dvrow",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvrow.root", root)
    spark.sql("UPDATE dvrow.t SET v = -1 WHERE id < 6")
    assert(Snapshots.read(spark, t).filter(col("id") < 6L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set(0L, 1L, 2L, 5L).map(_ -> -1L))
  }

  test("OPTIMIZE re-writes vectored files: vectors cleared, rows physically gone, vector file vacuumed") {
    val t = oneFile((1L to 10L).map(i => (i, s"v$i")))
    Snapshots.commitDelete(spark, t, Seq(2L, 4L), "id")
    assert(Snapshots.vectorFilesAt(spark, t, 2L).nonEmpty)
    assert(rawIds(t) == (1L to 10L).toSet, "a vectored row stays on disk")
    // vectors compact even under the minFiles floor
    val v = Snapshots.compactData(spark, t, targetFiles = 2, minFiles = 16)
    assert(v.contains(3L))
    assert(Snapshots.vectorFilesAt(spark, t, 3L).isEmpty)
    // physically gone: the RAW head files no longer hold the rows
    val raw = spark.read.parquet(Snapshots.filesAt(spark, t, 3L)
      .map(n => s"$t/data/$n"): _*)
    assert(ids(raw) == (1L to 10L).toSet -- Set(2L, 4L))
    // vacuum reclaims the pre-OPTIMIZE file and the unreferenced vector
    val deleted = Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(deleted.nonEmpty)
    val vd = new java.io.File(s"$t/_deletes")
    assert(!vd.exists() || vd.listFiles().isEmpty)
    assert(rawIds(t) == (1L to 10L).toSet -- Set(2L, 4L))
    assert(ids(Snapshots.read(spark, t)) == (1L to 10L).toSet -- Set(2L, 4L))
  }

  test("maintenance policy: deletion vectors trigger the scheduled OPTIMIZE, so vacuum erases the rows") {
    val t = oneFile((1L to 6L).map(i => (i, s"v$i")))
    Snapshots.commitDelete(spark, t, Seq(6L), "id")
    val action = Maintenance.maintainIfNeeded(spark,
      Maintenance.MaintenanceTarget(t, Maintenance.TableKind.Snapshot,
        maxDataFiles = 1000, vacuumMinAgeMs = 0L))
    assert(action.exists(_.contains("optimized")),
      s"policy must re-write the vectored file, got $action")
    assert(Snapshots.vectorFilesAt(spark, t,
      Snapshots.currentVersion(spark, t)).isEmpty)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    // every data file left on disk, read raw, holds no deleted key
    assert(rawIds(t) == (1L to 5L).toSet)
    assert(ids(Snapshots.read(spark, t)) == (1L to 5L).toSet)
  }

  test("change feed: a keyed-delete window emits delete pre-images; the OPTIMIZE re-write nets empty") {
    val t = oneFile((1L to 6L).map(i => (i, s"v$i")))
    Snapshots.commitDelete(spark, t, Seq(5L), "id") // v2
    // append-only transport must refuse the vectored window
    intercept[IllegalArgumentException] {
      Snapshots.incrementalRead(spark, t, 1L, 2L)
    }
    val feed12 = Snapshots.rowDiff(spark, t, 1L, 2L, Seq("id")).collect()
    assert(feed12.map(r => (r.getAs[Long]("id"),
      r.getAs[String]("change_type"))).toSet == Set((5L, "delete")))
    Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 16) // v3
    assert(Snapshots.rowDiff(spark, t, 2L, 3L, Seq("id")).count() == 0,
      "re-writing already-reported deletes must not re-report them")
    // and the full window reports the delete exactly once
    assert(Snapshots.rowDiff(spark, t, 1L, 3L, Seq("id")).count() == 1)
  }

  test("a keyed delete over a stats-manifested table vectors exactly the 2 holding files") {
    // 32 single-file key slabs (the layout a maintained, clustered table
    // has) + a stats manifest on the key column
    val t = Files.createTempDirectory("graft_dv_mor").toString + "/t"
    (0 until 32).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 10).map(j => (i * 10L + j, s"v$i-$j")).toDF("id", "v")
          .coalesce(1), t)
    }
    Snapshots.extendStats(spark, t, Seq("id"))
    // delete keys living in exactly 2 slabs — zero files re-written
    val (v, _) = Snapshots.commitDelete(spark, t, Seq(55L, 171L), "id")
    assert(Snapshots.filesAt(spark, t, v) == Snapshots.filesAt(spark, t, v - 1))
    // the manifests: exactly the 2 holders gained vectors, one row each
    assert(Snapshots.deadRowsAt(spark, t, v - 1).isEmpty)
    val dead = Snapshots.deadRowsAt(spark, t, v)
    assert(dead.size == 2 && dead.values.forall(_.getCardinality == 1),
      s"vectored ${dead.size} of 32 files; want 2")
    val feed = Snapshots.rowDiff(spark, t, v - 1, v, Seq("id")).collect()
    assert(feed.map(r => (r.getAs[Long]("id"),
      r.getAs[String]("change_type"))).toSet ==
      Set((55L, "delete"), (171L, "delete")))
  }

  test("a deleted key re-appends and is served; a merge updates it") {
    val t = oneFile((1L to 5L).map(i => (i, s"v$i")))
    Snapshots.commitDelete(spark, t, Seq(2L), "id")
    Snapshots.commitAppend(spark, Seq((2L, "again")).toDF("id", "v"), t)
    assert(Snapshots.read(spark, t).filter(col("id") === 2L)
      .select("v").as[String].collect().toSeq == Seq("again"))
    Snapshots.commitAppend(spark, Seq((9L, "v9")).toDF("id", "v"), t)
    assert(ids(Snapshots.read(spark, t)) == Set(1L, 2L, 3L, 4L, 5L, 9L))
    Snapshots.commitMerge(spark, Seq((2L, "reborn")).toDF("id", "v"), t,
      Seq("id"))
    assert(Snapshots.read(spark, t).filter(col("id") === 2L)
      .select("v").as[String].collect().toSeq == Seq("reborn"))
  }

  test("replica sync crosses a keyed-delete window via the feed transport") {
    val root = Files.createTempDirectory("graft_dv_rep").toString
    val (src, dst) = (root + "/src", root + "/dst")
    Snapshots.commitAppend(spark, (1L to 8L).map(i => (i, s"v$i"))
      .toDF("id", "v").coalesce(1), src)
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "append")
    Snapshots.commitDelete(spark, src, Seq(3L, 6L), "id")
    val (_, _, mode) = Snapshots.syncReplica(spark, src, dst, Seq("id"))
    assert(mode == "feed",
      "a vector-changing window must not ship as append-only")
    assert(ids(Snapshots.read(spark, dst)) ==
      ids(Snapshots.read(spark, src)))
  }

  test("string-keyed deletes: predicate and key list both vector, OPTIMIZE clears them") {
    val t = Files.createTempDirectory("graft_dv_mor").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((1L, "alice"), (2L, "bob"), (3L, "carol"), (4L, "bob"),
        (5L, "dave"), (6L, "erin"), (7L, "frank"), (8L, "gina"))
        .toDF("id", "user").coalesce(1), t)
    // the erasure-job shape: a predicate, no driver-side key list
    val (v, n) = Snapshots.commitDeleteWhere(spark, t,
      col("user").isin("bob", "dave"))
    assert(v == 2L && n == 3L, s"got ($v, $n)") // 3 ROWS of 2 keys
    val (v3, n3) = Snapshots.commitDelete(spark, t, Seq("carol"), "user")
    assert(v3 == 3L && n3 == 1L, s"got ($v3, $n3)")
    // zero data files churned; reads drop the vectored rows
    assert(Snapshots.filesAt(spark, t, 1L) == Snapshots.filesAt(spark, t, 3L))
    assert(ids(Snapshots.read(spark, t)) == Set(1L, 6L, 7L, 8L))
    assert(Snapshots.vectorFilesAt(spark, t, 3L).nonEmpty)
    // the re-write clears them like any other vector
    Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 0)
    assert(Snapshots.vectorFilesAt(spark, t, 4L).isEmpty)
    assert(ids(Snapshots.read(spark, t)) == Set(1L, 6L, 7L, 8L))
  }

  test("NULL-key rows always survive a keyed delete") {
    val t = Files.createTempDirectory("graft_dv_null").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((Some(1L), "a"), (None, "nullkey"), (Some(2L), "b"))
        .toDF("id", "v").coalesce(1), t)
    Snapshots.commitDelete(spark, t, Seq(1L), "id")
    val rows = Snapshots.read(spark, t).select("v").collect()
      .map(_.getString(0)).toSet
    assert(rows == Set("nullkey", "b"))
  }
}
