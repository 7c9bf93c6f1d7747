package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.warehouse.Snapshots

/** SHALLOW CLONE (Snapshots.cloneTable) + COPY INTO
  * (Snapshots.commitCopyInto) — the zero-copy table fork and the
  * idempotent bulk-load verb, plus the foreign-file-reference machinery
  * both lean on (manifest entries that are qualified URIs instead of
  * bare names under the table's own data dir).
  */
class CloneCopySpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_clonecopy").toString

  private def dataFiles(table: String): Seq[String] = {
    val d = new java.io.File(table, "data")
    if (!d.exists()) Nil
    else d.listFiles().filter(_.isFile).map(_.getName).toSeq
  }

  test("shallow clone is zero-copy, reads equal, and time-travels the source") {
    val root = freshRoot()
    val src = root + "/src"
    Snapshots.commitAppend(spark,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), src)
    Snapshots.commitAppend(spark,
      (101L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), src)
    val dst = root + "/head_clone"
    assert(Snapshots.cloneTable(spark, src, dst) == 1L)
    // ZERO data files of its own — only references
    assert(dataFiles(dst).isEmpty, "clone copied data files")
    assert(Snapshots.filesAt(spark, dst, 1L).forall(_.contains("/")),
      "clone manifest entries must be foreign (qualified URIs)")
    assert(Snapshots.read(spark, dst).count() == 200L)
    // versioned clone pins the older state
    val old = root + "/v1_clone"
    Snapshots.cloneTable(spark, src, old, Some(1L))
    assert(Snapshots.read(spark, old).count() == 100L)
    assert(Snapshots.read(spark, old).agg(max("id")).head.getLong(0) == 100L)
  }

  test("clone diverges copy-on-write: churned files localize, source never moves") {
    val root = freshRoot()
    val src = root + "/src"
    // 8 files so file granularity is observable
    Snapshots.commitAppend(spark,
      (1L to 80L).map(i => (i, i * 10L)).toDF("id", "x")
        .repartition(8, col("id")), src)
    val dst = root + "/fork"
    Snapshots.cloneTable(spark, src, dst)
    val foreignBefore = Snapshots.filesAt(spark, dst, 1L)
    assert(foreignBefore.size == 8)
    // a 1-key merge must give exactly the ONE foreign file holding it a
    // deletion vector (in the clone's manifest, never the source's)
    Snapshots.commitMerge(spark, Seq((7L, 777L)).toDF("id", "x"),
      dst, Seq("id"))
    val after = Snapshots.filesAt(spark, dst, 2L)
    val (foreign, local) = after.partition(_.contains("/"))
    assert(foreign == foreignBefore, s"expected 8 carried foreign refs, got $after")
    val holder = foreignBefore.filter(f =>
      spark.read.parquet(f).filter(col("id") === 7L).count() > 0)
    assert(holder.size == 1 &&
      Snapshots.deadRowsAt(spark, dst, 2L).keySet == holder.toSet)
    assert(local.size >= 1 && local.forall(dataFiles(dst).contains),
      "the staged batch must live in the clone's own data dir")
    // the source is untouched: same head, same files, same rows
    assert(Snapshots.currentVersion(spark, src) == 1L)
    assert(Snapshots.read(spark, src)
      .filter(col("id") === 7L).head.getLong(1) == 70L)
    assert(Snapshots.read(spark, dst)
      .filter(col("id") === 7L).head.getLong(1) == 777L)
  }

  test("clone vacuum cannot reach source bytes; OPTIMIZE localizes everything") {
    val root = freshRoot()
    val src = root + "/src"
    Snapshots.commitAppend(spark,
      (1L to 50L).map(i => (i, i)).toDF("id", "x").repartition(5), src)
    val dst = root + "/fork"
    Snapshots.cloneTable(spark, src, dst)
    Snapshots.commitAppend(spark, Seq((51L, 51L)).toDF("id", "x"), dst)
    // vacuum the clone aggressively: only ITS data dir is reconciled, so
    // the still-referenced local file survives and no source file is
    // even a candidate
    val srcFilesBefore = dataFiles(src).toSet
    Snapshots.vacuum(spark, dst, keepVersions = 1)
    assert(dataFiles(src).toSet == srcFilesBefore,
      "clone vacuum deleted source files")
    assert(Snapshots.read(spark, dst).count() == 51L)
    // full OPTIMIZE rewrites the applied state into the clone's own dir:
    // no foreign reference survives — the fork's dependence on the
    // source's retention ends here
    Snapshots.compactData(spark, dst, targetFiles = 2, minFiles = 1)
    val head = Snapshots.currentVersion(spark, dst)
    assert(Snapshots.filesAt(spark, dst, head).forall(!_.contains("/")),
      "OPTIMIZE left foreign references")
    assert(Snapshots.read(spark, dst).count() == 51L)
  }

  test("clone carries checks, deletion vectors (own vector files), and stream marks") {
    val root = freshRoot()
    val src = root + "/src"
    Snapshots.commitStreamAppend(spark,
      (1L to 20L).map(i => (i, i)).toDF("id", "x").coalesce(1), src, "s1",
      5L)
    Snapshots.addCheckConstraint(spark, src, "pos", "x > 0")
    Snapshots.commitDelete(spark, src, Seq(3L, 4L), "id")
    val dst = root + "/fork"
    Snapshots.cloneTable(spark, src, dst)
    // the source's deletion vectors filter the clone's reads
    assert(Snapshots.read(spark, dst).count() == 18L)
    // ...from the clone's OWN vector file: the source's OPTIMIZE +
    // vacuum may drop its vector files at any time
    val srcVectors = new java.io.File(src, "_deletes").list().toSet
    val dstVectors = Snapshots.vectorFilesAt(spark, dst, 1L)
    assert(dstVectors.nonEmpty && dstVectors.forall(n =>
      new java.io.File(new java.io.File(dst, "_deletes"), n).isFile &&
        !srcVectors(n)), s"clone vectors $dstVectors, source's $srcVectors")
    new java.io.File(src, "_deletes").listFiles().foreach(_.delete())
    Snapshots.invalidateTable(dst)
    assert(Snapshots.read(spark, dst).count() == 18L,
      "clone read depends on the source's vector files")
    // CHECK constraints carried: a violating append refuses
    intercept[Exception] {
      Snapshots.commitAppend(spark, Seq((99L, -1L)).toDF("id", "x"), dst)
    }
    // stream marks carried: the already-committed batch id no-ops
    val (_, committed) = Snapshots.commitStreamAppend(spark,
      Seq((98L, 1L)).toDF("id", "x"), dst, "s1", 5L)
    assert(!committed, "clone re-landed a stream batch the source committed")
  }

  test("clone of a clone carries grandparent references verbatim") {
    val root = freshRoot()
    val a = root + "/a"
    Snapshots.commitAppend(spark,
      (1L to 30L).map(i => (i, i)).toDF("id", "x"), a)
    val b = root + "/b"
    Snapshots.cloneTable(spark, a, b)
    val c = root + "/c"
    Snapshots.cloneTable(spark, b, c)
    assert(dataFiles(c).isEmpty && dataFiles(b).isEmpty)
    assert(Snapshots.filesAt(spark, c, 1L).toSet ==
      Snapshots.filesAt(spark, b, 1L).toSet,
      "grandparent refs must carry verbatim, not re-prefix")
    assert(Snapshots.read(spark, c).count() == 30L)
  }

  test("clone refusals: occupied target, vacuumed version, self-clone") {
    val root = freshRoot()
    val src = root + "/src"
    Snapshots.commitAppend(spark, Seq((1L, 1L)).toDF("id", "x"), src)
    val dst = root + "/dst"
    Snapshots.cloneTable(spark, src, dst)
    intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, dst) // occupied
    }
    intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, root + "/x", Some(9L)) // missing v
    }
    intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, src) // self
    }
  }

  test("SQL face: identifier CLONE through the catalog, catalog reads the fork") {
    val root = freshRoot()
    val cat = "clonecat" + java.util.UUID.randomUUID.toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Snapshots.commitAppend(spark,
      (1L to 40L).map(i => (i, i)).toDF("id", "x"), root + "/base")
    val r = spark.sql(s"CREATE TABLE $cat.fork SHALLOW CLONE $cat.base").head
    assert(r.getLong(0) == 1L && r.getInt(1) > 0)
    assert(dataFiles(root + "/fork").isEmpty)
    // the DSv2 catalog scan resolves foreign refs (two-arg Path join)
    assert(spark.sql(s"SELECT count(*) FROM $cat.fork").head.getLong(0) == 40L)
    assert(spark.sql(s"SELECT sum(x) FROM $cat.fork VERSION AS OF 1")
      .head.getLong(0) == (1L to 40L).sum)
  }

  test("COPY INTO loads once, replays as a no-op, extends incrementally, FORCE reloads") {
    val root = freshRoot()
    val t = root + "/t"
    Snapshots.commitAppend(spark, Seq((0L, "seed")).toDF("id", "v"), t)
    val land = root + "/landing"
    (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v")
      .coalesce(2).write.parquet(land)
    val (v1, f1, r1) = Snapshots.commitCopyInto(spark, t, land)
    assert(v1 == 2L && f1 == 2 && r1 == 10L, s"first load: ($v1,$f1,$r1)")
    // replay: metadata-only no-op — no new version, nothing staged
    val staged = dataFiles(t).size
    val (v2, f2, r2) = Snapshots.commitCopyInto(spark, t, land)
    assert(v2 == 2L && f2 == 0 && r2 == 0L, s"replay loaded: ($v2,$f2,$r2)")
    assert(dataFiles(t).size == staged, "replay staged orphan files")
    // drop one MORE file into the landing dir: only it loads
    (11L to 13L).map(i => (i, s"b$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(land)
    val (v3, f3, r3) = Snapshots.commitCopyInto(spark, t, land)
    assert(v3 == 3L && f3 == 1 && r3 == 3L, s"incremental: ($v3,$f3,$r3)")
    assert(Snapshots.read(spark, t).count() == 14L)
    // FORCE reloads everything listed (the explicit double-load)
    val (_, f4, r4) = Snapshots.commitCopyInto(spark, t, land, force = true)
    assert(f4 == 3 && r4 == 13L, s"force: ($f4,$r4)")
    assert(Snapshots.read(spark, t).count() == 27L)
  }

  test("COPY INTO csv, constraint refusal reclaims staging, marks survive restore") {
    val root = freshRoot()
    val t = root + "/t"
    Snapshots.commitAppend(spark, Seq((1L, 10L)).toDF("id", "x"), t)
    Snapshots.addCheckConstraint(spark, t, "pos", "x > 0")
    val land = root + "/csvland"
    Seq((2L, 20L), (3L, 30L)).toDF("id", "x")
      .coalesce(1).write.option("header", "true").csv(land)
    val r = spark.sql(
      s"COPY INTO '$t' FROM '$land' FILEFORMAT = CSV").head
    assert(r.getInt(1) == 1 && r.getLong(2) == 2L)
    assert(Snapshots.read(spark, t).count() == 3L)
    // a violating landing file refuses BEFORE any manifest claim, and
    // the staged bytes are reclaimed (no orphan accretion)
    val bad = root + "/badland"
    Seq((4L, -1L)).toDF("id", "x").coalesce(1).write.parquet(bad)
    val before = dataFiles(t).size
    intercept[Exception] { Snapshots.commitCopyInto(spark, t, bad) }
    assert(dataFiles(t).size == before, "refused COPY INTO leaked staging")
    // RESTORE carries head marks (like stream marks): the undo never
    // re-opens the door to a double-load
    val head = Snapshots.currentVersion(spark, t)
    Snapshots.commitRestore(spark, t, head - 1)
    val (_, f2, _) = Snapshots.commitCopyInto(spark, t, land, format = "csv")
    assert(f2 == 0, "restore rewound COPY INTO load marks")
  }

  test("streaming source tails a clone: foreign refs serve the initial snapshot and live appends") {
    val root = freshRoot()
    val src = root + "/src"
    Snapshots.commitAppend(spark,
      (1L to 25L).map(i => (i, s"v$i")).toDF("id", "v"), src)
    val dst = root + "/fork"
    Snapshots.cloneTable(spark, src, dst)
    val got = scala.collection.mutable.Set.empty[Long]
    val q = spark.readStream.format("graft-snapshot")
      .option("path", dst).load()
      .writeStream
      .option("checkpointLocation", root + "/ckpt")
      .queryName("clonestream_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val ids = b.collect().map(_.getLong(0))
          got.synchronized { got ++= ids }
          ()
      }.start()
    try {
      q.processAllAvailable() // batch 0: the initial snapshot via refs
      assert(got.synchronized(got.toSet) == (1L to 25L).toSet)
      // a live append to the CLONE flows; the source stays silent
      Snapshots.commitAppend(spark,
        Seq((26L, "w")).toDF("id", "v"), dst)
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) == (1L to 26L).toSet)
    } finally q.stop()
  }

  test("stats pruning on a clone: foreign refs stat in, box reads skip files") {
    val root = freshRoot()
    val src = root + "/src"
    // range-partitioned so per-file id ranges are tight (prunable)
    Snapshots.commitAppend(spark,
      (1L to 400L).map(i => (i, i * 3L)).toDF("id", "x")
        .repartitionByRange(8, col("id")), src)
    val dst = root + "/fork"
    Snapshots.cloneTable(spark, src, dst)
    val statted = Snapshots.extendStats(spark, dst, Seq("id"))
    assert(statted == 8, s"expected 8 foreign files statted, got $statted")
    val pruned = Snapshots.readPruned(spark, dst, Seq(("id", 10L, 60L)))
    assert(pruned.filter(col("id").between(10L, 60L)).count() == 51L)
    val (chosen, total) = graft.operators.Layout.lastStatsPruned.get
    assert(total == 8 && chosen < total,
      s"box read opened $chosen of $total — no pruning through foreign refs")
    // a local append extends incrementally; the foreign entries survive
    Snapshots.commitAppend(spark, Seq((401L, 9L)).toDF("id", "x"), dst)
    assert(Snapshots.extendStats(spark, dst, Seq("id")) == 1)
    assert(Snapshots.readPruned(spark, dst, Seq(("id", 399L, 401L)))
      .filter(col("id").between(399L, 401L)).count() == 3L)
  }

  test("CONVERT TO SNAPSHOT: in-place zero-copy import, full protocol applies after") {
    val root = freshRoot()
    val estate = root + "/estate"
    (1L to 60L).map(i => (i, i * 2L)).toDF("id", "x")
      .repartition(3).write.parquet(estate)
    val originals = new java.io.File(estate).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
    val r = spark.sql(s"CONVERT TO SNAPSHOT '$estate'").head
    assert(r.getLong(0) == 1L && r.getInt(1) == 3)
    assert(dataFiles(estate).isEmpty, "CONVERT copied data files")
    assert(Snapshots.filesAt(spark, estate, 1L).forall(_.contains("/")))
    assert(Snapshots.read(spark, estate).count() == 60L)
    // appends, DML, time travel all work from the next commit on
    Snapshots.commitAppend(spark, Seq((61L, 122L)).toDF("id", "x"), estate)
    Snapshots.commitMerge(spark, Seq((1L, 999L)).toDF("id", "x"),
      estate, Seq("id"))
    assert(Snapshots.read(spark, estate).count() == 61L)
    assert(Snapshots.read(spark, estate)
      .filter(col("id") === 1L).head.getLong(1) == 999L)
    assert(Snapshots.read(spark, estate, Some(1L)).count() == 60L)
    // the imported originals stay the caller's: still on disk, and the
    // table's vacuum never reaches them
    Snapshots.vacuum(spark, estate, keepVersions = 1)
    val after = new java.io.File(estate).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
    assert(after.toSet == originals.toSet,
      "vacuum touched the imported originals")
  }

  test("CONVERT refuses a re-run, an empty dir, and a missing dir") {
    val root = freshRoot()
    val estate = root + "/estate"
    Seq((1L, 1L)).toDF("id", "x").write.parquet(estate)
    Snapshots.convertToSnapshot(spark, estate)
    intercept[IllegalArgumentException] {
      Snapshots.convertToSnapshot(spark, estate) // already a table
    }
    val empty = root + "/empty"
    new java.io.File(empty).mkdirs()
    intercept[IllegalArgumentException] {
      Snapshots.convertToSnapshot(spark, empty)
    }
    intercept[IllegalArgumentException] {
      spark.sql(s"CONVERT TO SNAPSHOT '$root/missing'").collect()
    }
  }

  test("COPY INTO refuses a typo'd table and a missing landing dir") {
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      spark.sql(s"COPY INTO '$root/nope' FROM '$root/alsonope'").collect()
    }
    val t = root + "/t"
    Snapshots.commitAppend(spark, Seq((1L, 1L)).toDF("id", "x"), t)
    intercept[IllegalArgumentException] {
      Snapshots.commitCopyInto(spark, t, root + "/missing")
    }
  }

  test("clone of a PARTITIONED table: foreign __gp= refs read, prune, and expire") {
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    val root = java.nio.file.Files
      .createTempDirectory("graft_clone_part").toString
    val src = root + "/src"
    val rows = spark.range(0, 800).toDF("id")
      .withColumn("d", date_add(to_date(lit("2024-08-01")),
        (col("id") % 8).cast("int")))
    Snapshots.commitAppend(spark, rows.limit(1), src)
    Snapshots.commitSetPartition(spark, src, "d", "date")
    Snapshots.commitAppend(spark, rows, src)
    val dst = root + "/fork"
    Snapshots.cloneTable(spark, src, dst)
    // foreign refs carry the __gp= component inside qualified URIs
    assert(Snapshots.filesAt(spark, dst, 1L)
      .exists(e => e.contains(":/") && e.contains("__gp=")),
      "clone must reference the source's partitioned files by URI")
    assert(Snapshots.read(spark, dst).count() == 801)
    // catalog-SQL pruning works on the FORK exactly like the source
    spark.conf.set("spark.sql.catalog.gclp",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gclp.root", root)
    assert(spark.sql(
      "SELECT count(*) FROM gclp.fork WHERE d = DATE '2024-08-05'")
      .head.getLong(0) == 100L)
    assert(Snapshots.lastCatalogPruned.exists(p => p._1 < p._2),
      "partition dirs must prune through foreign refs")
    // whole-partition expiry on the clone is metadata-only and LOCAL:
    // the source head never moves, its files never vacuum away
    val (v2, n) = Snapshots.commitExpirePartitions(spark, dst,
      "2024-08-07")
    assert(v2 == 2L && n > 0)
    assert(Snapshots.read(spark, dst).filter(col("d") < "2024-08-07")
      .count() == 1, "only the un-prefixed seed row survives below cutoff")
    assert(Snapshots.currentVersion(spark, src) == 3L &&
      Snapshots.read(spark, src).count() == 801,
      "clone expiry must not leak into the source")
    assert(Snapshots.vacuum(spark, dst, keepVersions = 1).isEmpty,
      "the clone's vacuum must never reach foreign bytes")
    assert(Snapshots.read(spark, src).count() == 801)
  }
}
