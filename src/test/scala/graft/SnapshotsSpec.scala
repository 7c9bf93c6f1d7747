package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

class SnapshotsSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"

  test("append commits version, readers time-travel, latest sees everything") {
    val t = freshTable()
    val v1 = Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val v2 = Snapshots.commitAppend(spark, Seq((2L, "b")).toDF("id", "v"), t)
    assert(v1 == 1 && v2 == 2)
    assert(Snapshots.read(spark, t).count() == 2)
    assert(Snapshots.read(spark, t, Some(1L)).count() == 1)
    assert(Snapshots.read(spark, t, Some(1L)).head.getLong(0) == 1L)
  }

  test("racing writers: every commit lands, none lost, versions distinct") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    val writers = (1 to 4).map { i =>
      Future(Snapshots.commitAppend(spark,
        Seq((i.toLong, s"writer$i")).toDF("id", "v"), t))
    }
    val versions = Await.result(Future.sequence(writers), 120.seconds)
    assert(versions.toSet.size == 4, s"duplicate versions: $versions")
    assert(versions.toSet == Set(1L, 2L, 3L, 4L))
    val rows = Snapshots.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L, 3L, 4L), "a racing commit lost rows")
  }

  test("snapshot isolation: a resolved reader is pinned across later commits") {
    val t = freshTable()
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val pinnedVersion = Snapshots.currentVersion(spark, t)
    val pinned = Snapshots.read(spark, t, Some(pinnedVersion))
    Snapshots.commitOverwrite(spark, Seq((99L, "z")).toDF("id", "v"), t)
    // the pinned plan still reads v1's files — unchanged by the overwrite
    assert(pinned.count() == 1)
    assert(pinned.head.getLong(0) == 1L)
    assert(Snapshots.read(spark, t).head.getLong(0) == 99L)
  }

  test("commitMerge: interleaved update/insert batches produce the expected state") {
    val t = freshTable()
    Snapshots.commitMerge(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Seq("id"))       // v1: inserts
    Snapshots.commitMerge(spark,
      Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), t, Seq("id"))      // v2: update + insert
    Snapshots.commitAppend(spark, Seq((4L, "d")).toDF("id", "v"), t) // v3: plain append
    Snapshots.commitMerge(spark,
      Seq((1L, "A3"), (4L, "D3"), (5L, "e")).toDF("id", "v"), t, Seq("id")) // v4
    val state = Snapshots.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == Map(1L -> "A3", 2L -> "B2", 3L -> "c", 4L -> "D3", 5L -> "e"))
    // time travel still sees the pre-merge states
    val v2 = Snapshots.read(spark, t, Some(2L)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2 == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    assert(Snapshots.currentVersion(spark, t) == 4L)
  }

  test("racing merge writers on disjoint keys: both land, neither is lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    Snapshots.commitMerge(spark,
      Seq((1L, "base1"), (2L, "base2")).toDF("id", "v"), t, Seq("id"))
    // two writers merge DISJOINT key sets concurrently: a lost-update bug
    // (merge computed against a stale head published anyway) would drop
    // one writer's keys from the final state
    val writers = Seq(
      Future(Snapshots.commitMerge(spark,
        Seq((1L, "w1"), (10L, "w1new")).toDF("id", "v"), t, Seq("id"))),
      Future(Snapshots.commitMerge(spark,
        Seq((2L, "w2"), (20L, "w2new")).toDF("id", "v"), t, Seq("id"))))
    val versions = Await.result(Future.sequence(writers), 120.seconds)
    assert(versions.toSet == Set(2L, 3L), s"versions: $versions")
    val state = Snapshots.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == Map(1L -> "w1", 2L -> "w2", 10L -> "w1new", 20L -> "w2new"),
      s"serialized merge state wrong: $state")
  }

  test("commitDelete rewrites only hit files; time travel keeps, vacuum erases") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // two separate appends → two commits, disjoint file sets
    Snapshots.commitAppend(spark,
      (0L until 50L).map(i => (i, s"a$i")).toDF("id", "v"), t)
    Snapshots.commitAppend(spark,
      (100L until 150L).map(i => (i, s"b$i")).toDF("id", "v"), t)
    val filesBefore = Snapshots.filesAt(spark, t, 2L)
    // keys only in the SECOND append's files
    val (v3, n) = Snapshots.commitDelete(spark, t, Seq(110L, 120L), "id")
    assert(v3 == 3L && n == 2L)
    val filesAfter = Snapshots.filesAt(spark, t, 3L)
    val firstAppend = Snapshots.filesAt(spark, t, 1L).toSet
    assert(firstAppend.subsetOf(filesAfter.toSet),
      "untouched files must carry into the new manifest by name")
    assert(Snapshots.read(spark, t).count() == 98)
    assert(Snapshots.read(spark, t)
      .filter(col("id").isin(110L, 120L)).isEmpty)
    // the delete is LOGICAL at commit: time travel still sees the rows
    assert(Snapshots.read(spark, t, Some(2L)).count() == 100)
    // deleting absent keys is a no-op: same head, no new version
    assert(Snapshots.commitDelete(spark, t, Seq(9999L), "id") == ((3L, 0L)))
    assert(Snapshots.currentVersion(spark, t) == 3L)
    // physical erasure = vacuum past the retention of the old versions
    val dropped = Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(filesBefore.toSet.diff(filesAfter.toSet).subsetOf(dropped.toSet),
      "the rewritten originals must be physically removed")
    assert(Snapshots.read(spark, t).count() == 98)
  }

  test("compactData: OPTIMIZE commits a new version, data identical, no-op when healthy") {
    val t = freshTable()
    (1 to 20).foreach(i => Snapshots.commitAppend(spark,
      Seq((i.toLong, s"r$i")).toDF("id", "v"), t))
    val before = Snapshots.read(spark, t).collect().map(_.toString).sorted
    val nFilesBefore = Snapshots.filesAt(spark, t, 20L).size
    assert(nFilesBefore >= 20, "accretion: at least one file per append")
    assert(Snapshots.compactData(spark, t, targetFiles = 2, minFiles = 16)
      .contains(21L))
    assert(Snapshots.filesAt(spark, t, 21L).size <= 2)
    assert(Snapshots.read(spark, t).collect().map(_.toString).sorted
      .sameElements(before), "OPTIMIZE must not change data")
    // pinned readers: the pre-compaction version still reads in full
    assert(Snapshots.read(spark, t, Some(20L)).count() == 20)
    // a healthy table is left alone (write amplification guard)
    assert(Snapshots.compactData(spark, t, targetFiles = 2, minFiles = 16).isEmpty)
    assert(Snapshots.currentVersion(spark, t) == 21L)
  }

  test("incrementalRead: append steps read only added files, rewrite steps refused") {
    val t = freshTable()
    Snapshots.commitAppend(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"), t)
    Snapshots.commitAppend(spark, (10L until 20L).map(i => (i, s"b$i")).toDF("id", "v"), t)
    val feed = Snapshots.incrementalRead(spark, t, 1L, 2L)
    assert(feed.collect().map(_.getLong(0)).toSet == (10L until 20L).toSet)
    // IO ∝ delta: the feed's scan lists exactly the step's added files,
    // never v1's — the O(delta)-per-poll contract, checked at plan level
    val addedNames = Snapshots.addedFiles(spark, t, 1L, 2L).toSet
    val scanned = feed.inputFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(scanned == addedNames, s"scanned $scanned vs added $addedNames")
    // the full first version is itself an append step from v0
    assert(Snapshots.incrementalRead(spark, t, 0L, 1L).count() == 10)
    // an empty step yields an empty, correctly-typed feed
    assert(Snapshots.incrementalRead(spark, t, 2L, 2L).isEmpty)
    // a rewrite inside the window breaks the append-only premise loudly
    Snapshots.commitDelete(spark, t, Seq(15L), "id")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.incrementalRead(spark, t, 2L, 3L)
    }
    assert(ex.getMessage.contains("rowDiff"))
  }

  test("rowDiff: insert/delete/update classified, carried rows cancel, OPTIMIZE feeds empty") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t)     // v1
    Snapshots.commitMerge(spark,
      Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), t, Seq("id"))    // v2: update+insert
    val d12 = Snapshots.rowDiff(spark, t, 1L, 2L, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // 1 and 3 moved files in the merge rewrite but are payload-identical
    // → carried, cancelled out of the feed; the update emits BOTH images
    assert(d12 == Set((2L, "b", "update_preimage"),
      (2L, "B2", "update_postimage"), (4L, "d", "insert")), s"got $d12")
    val (v3, _) = Snapshots.commitDelete(spark, t, Seq(1L), "id")   // v3
    val d23 = Snapshots.rowDiff(spark, t, 2L, v3, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d23 == Set((1L, "a", "delete")), s"got $d23")
    // delete emits the PRE-image payload — graveyard semantics
    // OPTIMIZE: full-file rewrite, zero logical change → empty feed
    (5L to 9L).foreach(i => Snapshots.commitAppend(spark,
      Seq((i, s"r$i")).toDF("id", "v"), t))
    val head = Snapshots.currentVersion(spark, t)
    val opt = Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 2).get
    assert(Snapshots.rowDiff(spark, t, head, opt, Seq("id")).isEmpty,
      "a compaction must produce an empty change feed")
    // identity step: no files changed, empty feed with the right schema
    val same = Snapshots.rowDiff(spark, t, opt, opt, Seq("id"))
    assert(same.isEmpty && same.columns.toSeq == Seq("id", "v", "change_type"))
    // the cross-version diff composes: v1 -> opt nets out to the final edits
    val dAll = Snapshots.rowDiff(spark, t, 1L, opt, Seq("id"))
    assert(dAll.filter(col("change_type") === "delete").collect()
      .map(_.getLong(0)).toSet == Set(1L))
  }

  test("commitStreamAppend: replays and racing twins commit exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    val b0 = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    assert(Snapshots.commitStreamAppend(spark, b0, t, "s1", 0L) == ((1L, true)))
    // restart replay: same (stream, batch) → no-op, no duplicate rows
    assert(Snapshots.commitStreamAppend(spark, b0, t, "s1", 0L) == ((1L, false)))
    assert(Snapshots.read(spark, t).count() == 2)
    // an unrelated batch writer interleaves without disturbing the stream
    Snapshots.commitAppend(spark, Seq((50L, "w")).toDF("id", "v"), t)
    assert(Snapshots.commitStreamAppend(spark,
      Seq((3L, "z")).toDF("id", "v"), t, "s1", 1L) == ((3L, true)))
    // a LATE replay of batch 0 after batch 1 landed is still refused
    assert(Snapshots.commitStreamAppend(spark, b0, t, "s1", 0L)._2 == false)
    assert(Snapshots.lastCommittedBatch(spark, t, "s1").contains(1L))
    // a second stream has its own watermark
    assert(Snapshots.lastCommittedBatch(spark, t, "s2").isEmpty)
    assert(Snapshots.commitStreamAppend(spark,
      Seq((60L, "s2")).toDF("id", "v"), t, "s2", 0L)._2 == true)
    // zombie-twin race: two executors of the SAME stream finish the same
    // batch concurrently — exactly one commits, the loser's staged files
    // are reclaimed (no unreferenced garbage beyond prior versions)
    val twin = Seq((4L, "t"), (5L, "t")).toDF("id", "v")
    val twins = (1 to 2).map(_ =>
      Future(Snapshots.commitStreamAppend(spark, twin, t, "s1", 2L)))
    val results = Await.result(Future.sequence(twins), 120.seconds)
    assert(results.count(_._2) == 1, s"exactly one twin must commit: $results")
    assert(Snapshots.read(spark, t)
      .filter($"id".isin(4L, 5L)).count() == 2, "twin rows landed once")
    // every physical file is referenced by some retained manifest
    val head = Snapshots.currentVersion(spark, t)
    val referenced = (1L to head)
      .flatMap(v => Snapshots.filesAt(spark, t, v)).toSet
    val fsPath = new org.apache.hadoop.fs.Path(t, "data")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val physical = fs.listStatus(fsPath).map(_.getPath.getName).toSet
    assert(physical.subsetOf(referenced),
      s"orphaned files: ${physical.diff(referenced)}")
  }

  test("readPruned: stats file-skipping composes with versions, accretion, and time travel") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Layout
    val t = freshTable()
    def slab(lo: Long, hi: Long) = (lo until hi).map(i => (i, i * 2))
      .toDF("id", "x").repartitionByRange(2, col("id"))
    Snapshots.commitAppend(spark, slab(0L, 100L), t)    // v1: 2 tight files
    Snapshots.commitAppend(spark, slab(100L, 200L), t)  // v2: 2 more
    val covered = Snapshots.extendStats(spark, t, Seq("id"))
    assert(covered == 4, s"first build covers all files, got $covered")
    Snapshots.commitAppend(spark, slab(200L, 300L), t)  // v3: NOT in stats yet
    // a box inside v1's first file: pruned read must skip most files but
    // always include the uncovered v3 files (correctness over pruning)
    val box = Seq(("id", 0.0, 40.0))
    val pruned = Snapshots.readPruned(spark, t, box).filter(col("id") <= 40)
    val full = Snapshots.read(spark, t).filter(col("id") <= 40)
    assert(pruned.collect().map(_.getLong(0)).sorted
      .sameElements(full.collect().map(_.getLong(0)).sorted))
    val (read1, total1) = Layout.lastStatsPruned.get
    assert(total1 == 6 && read1 < total1,
      s"expected a strict file skip, read $read1/$total1")
    // incremental coverage: only v3's files are scanned and added
    assert(Snapshots.extendStats(spark, t, Seq("id")) == 2)
    Snapshots.readPruned(spark, t, box).collect()
    val (read2, _) = Layout.lastStatsPruned.get
    assert(read2 == 1, s"fully covered box should read 1 file, got $read2")
    // a pinned OLD version prunes too — and a box outside it reads nothing
    assert(Snapshots.readPruned(spark, t,
      Seq(("id", 250.0, 260.0)), Some(2L)).isEmpty)
    // a vectored delete: the file holding key 10 gains a deletion vector
    // and keeps its stats row (a superset of its live rows), every file
    // carries, so the extend has nothing new to cover; the pruned read
    // stays exact throughout
    val v3 = Snapshots.currentVersion(spark, t)
    val (v4, _) = Snapshots.commitDelete(spark, t, Seq(10L), "id")
    assert(Snapshots.filesAt(spark, t, v4) == Snapshots.filesAt(spark, t, v3))
    val holder = Snapshots.filesAt(spark, t, v3).filter(f =>
      spark.read.parquet(s"$t/data/$f").filter(col("id") === 10L).count() > 0)
    assert(holder.size == 1 &&
      Snapshots.deadRowsAt(spark, t, v4).keySet == holder.toSet)
    val afterDel = Snapshots.readPruned(spark, t, box).filter(col("id") <= 40)
    assert(afterDel.collect().map(_.getLong(0)).sorted.sameElements(
      Snapshots.read(spark, t).filter(col("id") <= 40)
        .collect().map(_.getLong(0)).sorted))
    assert(Snapshots.extendStats(spark, t, Seq("id")) == 0)
    // the manifest now skips the box again on the rewritten layout
    Snapshots.readPruned(spark, t, box).collect()
    val (read3, total3) = Layout.lastStatsPruned.get
    assert(read3 < total3)
  }

  test("schema evolution: appends union-evolve, declared schema serves old files as NULL") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1L, "a"), (10L, "aa")).toDF("id", "v"), t)                  // v1
    Snapshots.commitAppend(spark,
      Seq((2L, "b", 7.5)).toDF("id", "v", "score"), t)                 // v2: +score
    val head = Snapshots.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "v", "score"))
    val byId = head.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2), "pre-evolution rows serve the new column as NULL")
    assert(byId(2L).getDouble(2) == 7.5)
    // time travel reads each version under ITS OWN declared schema
    assert(Snapshots.read(spark, t, Some(1L)).columns.toSeq == Seq("id", "v"))
    // an append MISSING the evolved column never narrows the table
    Snapshots.commitAppend(spark, Seq((3L, "c")).toDF("id", "v"), t)   // v3
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("id", "v", "score"))
    // type drift on a shared column is refused BEFORE any data stages
    val dataFiles = { // physical census to prove no orphan landed
      val dd = new org.apache.hadoop.fs.Path(t, "data")
      val f = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      () => f.listStatus(dd).count(_.isFile)
    }
    val nBefore = dataFiles()
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark, Seq((4, "d")).toDF("id", "v"), t)  // Int id
    }
    assert(dataFiles() == nBefore, "refused commit must not strand staged files")
    // a delete that rewrites a PRE-evolution file re-lands it under the
    // declared schema instead of narrowing the table to its oldest file
    val (v4, nDel) = Snapshots.commitDelete(spark, t, Seq(10L), "id")
    assert(v4 == 4L && nDel == 1L)
    val afterDel = Snapshots.read(spark, t)
    assert(afterDel.columns.toSeq == Seq("id", "v", "score"))
    assert(afterDel.count() == 3)
    // merge across the boundary: both sides conform (replace-upsert
    // semantics — the batch row, null-padded, replaces the target row)
    Snapshots.commitMerge(spark, Seq((1L, 9.9)).toDF("id", "score"), t,
      Seq("id"))                                                        // v5
    val m = Snapshots.read(spark, t).collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).isNullAt(1) && m(1L).getDouble(2) == 9.9)
    assert(m(2L).getString(1) == "b" && m(2L).getDouble(2) == 7.5)
    // the change feed reads both sides under the to-version's schema:
    // the backfill is an update, untouched keys cancel as carried, and
    // each image is SIDE-PURE — the post-image's v is NULL (what the
    // merge actually wrote), never "a" resurrected from the pre-image
    val d45 = Snapshots.rowDiff(spark, t, 4L, 5L, Seq("id")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getString(3))).toSet
    assert(d45 == Set(
      (1L, Some("a"), None, "update_preimage"),
      (1L, None, Some(9.9), "update_postimage")), s"got $d45")
  }

  test("OPTIMIZE ZORDER BY restores stats-pruning locality lost to accreted appends") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // 20 shuffled appends over a 100x100 grid: every file spans the full
    // value range, so the stats manifest can prune nothing
    val rnd = new scala.util.Random(7)
    val cells = rnd.shuffle(
      (0 until 100).flatMap(x => (0 until 100).map(y => (x.toLong, y.toLong)))
        .toVector)
    cells.grouped(500).foreach { chunk =>
      Snapshots.commitAppend(spark,
        chunk.toDF("x", "y").repartition(1), t)
    }
    Snapshots.extendStats(spark, t, Seq("x", "y"))
    val box = Seq(("x", 10.0, 19.0), ("y", 10.0, 19.0))
    Snapshots.readPruned(spark, t, box)
    val (chosenBefore, totalBefore) =
      graft.operators.Layout.lastStatsPruned.get
    assert(totalBefore == 20 && chosenBefore == 20,
      s"shuffled appends should defeat pruning, got $chosenBefore/$totalBefore")
    // the compaction rewrite doubles as the clustering pass
    val v = Snapshots.compactData(spark, t, targetFiles = 16, minFiles = 8,
      zorderBy = Seq("x", "y")).get
    Snapshots.extendStats(spark, t, Seq("x", "y"))
    val pruned = Snapshots.readPruned(spark, t, box)
    val (chosenAfter, totalAfter) = graft.operators.Layout.lastStatsPruned.get
    assert(totalAfter == 16 && chosenAfter <= 4,
      s"curve-clustered box read should touch few files, got " +
        s"$chosenAfter/$totalAfter")
    // pruning must be lossless and the rewrite bit-identical
    val boxPred = col("x").between(10, 19) && col("y").between(10, 19)
    assert(pruned.filter(boxPred).count() == 100)
    assert(Snapshots.read(spark, t, Some(v)).count() == 10000)
  }

  test("history lists retained commits newest-first with ops and step shape") {
    val t = freshTable()
    Snapshots.commitAppend(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    Snapshots.commitMerge(spark, Seq((2L, "B")).toDF("id", "v"), t, Seq("id"))
    Snapshots.commitDelete(spark, t, Seq(1L), "id")
    (3L to 6L).foreach(i => Snapshots.commitAppend(spark,
      Seq((i, s"x$i")).toDF("id", "v"), t))
    Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 2)
    val h = Snapshots.history(spark, t).collect()
    assert(h.map(_.getLong(0)).toSeq == (8L to 1L by -1L), "newest first")
    assert(h.map(_.getString(2)).reverse.toSeq == Seq("append", "merge",
      "delete", "append", "append", "append", "append", "optimize"))
    // commit instants are the manifest claims' mtimes: non-decreasing
    val ts = h.map(_.getTimestamp(1).getTime).reverse
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // v1 adds everything from nothing; the optimize swapped all files
    val v1 = h.find(_.getLong(0) == 1L).get
    assert(v1.getInt(4) == v1.getInt(3) && v1.getInt(5) == 0)
    val v8 = h.find(_.getLong(0) == 8L).get
    assert(v8.getInt(3) == 1 && v8.getInt(4) == 1)
    // after a vacuum the oldest retained row can't know its predecessor:
    // added/removed go NULL instead of lying
    Snapshots.vacuum(spark, t, keepVersions = 3)
    val h2 = Snapshots.history(spark, t).collect()
    assert(h2.map(_.getLong(0)).toSeq == Seq(8L, 7L, 6L))
    val oldest = h2.last
    assert(oldest.isNullAt(4) && oldest.isNullAt(5))
    assert(!h2.head.isNullAt(4), "contiguous retained rows keep their diffs")
  }

  test("stream watermarks survive interleaved commits and manifest vacuum") {
    val t = freshTable()
    // stream commits batch 0, then unrelated writers bury its manifest
    Snapshots.commitStreamAppend(spark,
      Seq((1L, "a")).toDF("id", "v"), t, "s1", 0L)
    (2L to 6L).foreach(i => Snapshots.commitAppend(spark,
      Seq((i, s"x$i")).toDF("id", "v"), t))
    Snapshots.commitMerge(spark, Seq((2L, "y")).toDF("id", "v"), t, Seq("id"))
    assert(Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 2)
      .nonEmpty)
    // vacuum drops the manifest that claimed batch 0 outright
    Snapshots.vacuum(spark, t, keepVersions = 3)
    intercept[Exception] { Snapshots.filesAt(spark, t, 1L) }
    // the watermark answers from the head manifest (carried forward by
    // every commit) — no scan of vacuumed history, no crash
    assert(Snapshots.lastCommittedBatch(spark, t, "s1").contains(0L))
    // a zombie replay of batch 0 is still refused; the next batch lands
    val (_, did0) = Snapshots.commitStreamAppend(spark,
      Seq((1L, "a")).toDF("id", "v"), t, "s1", 0L)
    assert(!did0, "replayed batch must be refused after vacuum")
    val (_, did1) = Snapshots.commitStreamAppend(spark,
      Seq((10L, "z")).toDF("id", "v"), t, "s1", 1L)
    assert(did1)
    // an unknown stream resolves to None over retained manifests only
    assert(Snapshots.lastCommittedBatch(spark, t, "nope").isEmpty)
  }

  test("merge is copy-on-write at file granularity: a 1-key merge rewrites only its files") {
    val t = freshTable()
    // 32 tight single-file commits: each file holds a distinct 10-key slab
    (0 until 32).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 10).map(j => (i * 10L + j, s"v$i-$j")).toDF("id", "v")
          .coalesce(1), t)
    }
    val before = Snapshots.filesAt(spark, t, 32L)
    assert(before.size >= 32)
    // merge one updated key + one brand-new key
    val v = Snapshots.commitMerge(spark,
      Seq((155L, "bumped"), (9999L, "new")).toDF("id", "v"), t, Seq("id"))
    val after = Snapshots.filesAt(spark, t, v)
    val vectored = Snapshots.deadRowsAt(spark, t, v)
    assert(vectored.keySet == Set(before(15)) &&
      vectored(before(15)).getCardinality == 1,
      s"exactly the file holding key 155 gains a vector, got ${vectored.keySet}")
    assert(after.take(before.size) == before,
      "every file must carry into the new manifest by name")
    assert(spark.read.parquet(after.drop(before.size).map(f =>
      s"$t/data/$f"): _*).count() == 2L, "only the batch's rows stage")
    val state = Snapshots.read(spark, t)
    assert(state.count() == 321)
    assert(state.filter("id = 155").head.getString(1) == "bumped")
    assert(state.filter("id = 9999").head.getString(1) == "new")
    // the merge window's change feed: only the churned slice surfaces
    val d = Snapshots.rowDiff(spark, t, 32L, v, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(d == Set((155L, "update_preimage"), (155L, "update_postimage"),
      (9999L, "insert")), s"got $d")
  }

  test("racing predicate updates serialize; every delta-encoded version resolves") {
    val t = freshTable()
    (0 until 8).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 5).map(j => (i * 5L + j, "old")).toDF("id", "v")
          .coalesce(1), t)
    }
    // 8 writers race disjoint single-key updates: optimistic retry must
    // serialize them — every update lands exactly once, none lost
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        Snapshots.commitUpdateWhere(spark, t,
          org.apache.spark.sql.functions.col("id") === (i * 5L),
          Seq("v" -> org.apache.spark.sql.functions.lit(s"new$i")))
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(Snapshots.currentVersion(spark, t) == 16L)
    val st = Snapshots.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    (0 until 8).foreach(i => assert(st(i * 5L) == s"new$i"))
    assert(st.count(_._2 == "old") == 32)
    // every intermediate version (all delta-encoded under race) still
    // resolves to a readable state
    (1L to 16L).foreach { v =>
      assert(Snapshots.read(spark, t, Some(v)).count() == math.min(v, 8) * 5)
    }
  }

  test("compactSmallFiles packs only the small-file debt; compact files and their deletion vectors carry") {
    val t = freshTable()
    // one "large" slab + 10 accreted small files
    Snapshots.commitAppend(spark,
      (0L until 500L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    (0 until 10).foreach { i =>
      Snapshots.commitAppend(spark,
        Seq((1000L + i, s"s$i")).toDF("id", "v").coalesce(1), t)
    }
    val big = Snapshots.filesAt(spark, t, 1L).head
    val bigLen = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, "data", big))
    // a delete of a SMALL file's only row drops that file; one on the
    // LARGE file vectors it, and the vector rides the carried entry
    Snapshots.commitDelete(spark, t, Seq(7L, 1003L), "id")
    val v = Snapshots.compactSmallFiles(spark, t,
      smallBytes = bigLen, minSmall = 8).get
    val after = Snapshots.filesAt(spark, t, v)
    assert(after.contains(big), "the compact file must carry by name")
    assert(after.size == 2, s"9 small files pack into 1, got $after")
    // the carried file's vector still applies read-side
    val ids0 = ids(Snapshots.read(spark, t))
    assert(!ids0.contains(7L) && !ids0.contains(1003L))
    assert(ids0.size == 508)
    assert(Snapshots.deadRowsAt(spark, t, v).keySet == Set(big),
      "partial compaction must carry the compact file's vector; full " +
        "compactData is the point that re-writes it")
    // below the debt floor: no-op
    assert(Snapshots.compactSmallFiles(spark, t,
      smallBytes = bigLen, minSmall = 8).isEmpty)
  }

  test("compactSmallFiles sizes from the manifest: orphaned files in data/ change nothing it packs") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (0L until 500L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    (0 until 9).foreach { i =>
      Snapshots.commitAppend(spark,
        Seq((1000L + i, s"s$i")).toDF("id", "v").coalesce(1), t)
    }
    val before = Snapshots.filesAt(spark, t, Snapshots.currentVersion(spark, t))
    val big = Snapshots.filesAt(spark, t, 1L).head
    val bigLen = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, "data", big))
    // orphans a crashed writer could leave: small parquet files beside
    // the table's own, flat and under a partition-style dir
    val data = java.nio.file.Paths.get(t, "data")
    Seq("part-orphan-1.parquet", "__gp=x/part-orphan-2.parquet").foreach { n =>
      val dst = data.resolve(n)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(data.resolve(before.last), dst)
    }
    // a fresh process: only the manifests' size ledger is known
    graft.warehouse.ManifestFileIndex.clearSizes()
    val v = Snapshots.compactSmallFiles(spark, t,
      smallBytes = bigLen, minSmall = 8).get
    val after = Snapshots.filesAt(spark, t, v)
    assert(after.size == 2 && after.contains(big),
      s"the 9 small files pack into 1 beside the large one, got $after")
    assert(ids(Snapshots.read(spark, t)) ==
      ((0L until 500L) ++ (1000L until 1009L)).toSet)
    assert(java.nio.file.Files.exists(data.resolve("part-orphan-1.parquet")),
      "packing must not touch orphans")
  }

  test("manifests are O(delta): steady-state commit bytes flat, checkpoints bound chains, vacuum keeps the floor resolvable") {
    val t = freshTable()
    (1 to 40).foreach { i =>
      Snapshots.commitAppend(spark,
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), t)
    }
    def rawLines(name: String): Seq[String] = {
      val p = java.nio.file.Paths.get(t, "_manifests", name)
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split("\n").toSeq
    }
    // the physical v40 manifest is a DELTA — headers + base + 1 add —
    // not a 40-line file list (steady-state commit bytes are O(batch))
    val raw40 = rawLines("v00000040.manifest")
    assert(raw40.exists(_.startsWith("#base:")) &&
      raw40.count(_.startsWith("#add:")) == 1 &&
      raw40.forall(_.startsWith("#")),
      s"expected a delta manifest, got:\n${raw40.mkString("\n")}")
    assert(raw40.size < 10, s"delta manifest carries ${raw40.size} lines")
    // resolution returns the canonical full list at any version
    assert(Snapshots.filesAt(spark, t, 40L).size == 40)
    assert(Snapshots.read(spark, t, Some(25L)).count() == 25)
    // checkpoints land on the interval and are canonical full form
    val cp32 = rawLines("v00000032.checkpoint")
    assert(cp32.count(!_.startsWith("#")) == 32)
    // vacuum to a MID-CHAIN floor (v36, between checkpoints): the floor
    // must stay resolvable after its base chain is deleted
    Snapshots.vacuum(spark, t, keepVersions = 5) // keeps v36..v40
    assert(!Snapshots.hasVersion(spark, t, 35L))
    assert(Snapshots.filesAt(spark, t, 36L).size == 36)
    assert(Snapshots.read(spark, t).count() == 40)
    assert(Snapshots.history(spark, t).count() == 5)
    // a COLD reader (no warm resolver cache — the copy is a new cache
    // key) must resolve the floor purely from disk: delta manifest →
    // backfilled checkpoint, bases gone
    val t2 = java.nio.file.Files.createTempDirectory("graft_snap_cold")
      .toString + "/t"
    val src = java.nio.file.Paths.get(t)
    val dst = java.nio.file.Paths.get(t2)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
    assert(Snapshots.filesAt(spark, t2, 36L).size == 36)
    assert(Snapshots.read(spark, t2, Some(38L)).count() == 38)
  }

  test("merge probe is stats-pruned: candidates shrink driver-side before the scan") {
    val t = freshTable()
    (0 until 32).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 10).map(j => (i * 10L + j, s"v$i-$j")).toDF("id", "v")
          .coalesce(1), t)
    }
    Snapshots.extendStats(spark, t, Seq("id"))
    val v = Snapshots.commitMerge(spark,
      Seq((42L, "bump"), (8888L, "new")).toDF("id", "v"), t, Seq("id"))
    // with a stats manifest on the probe key, the probe never scans the
    // table: 1 candidate file (key 42's slab; 8888 is out of every range)
    val Some((cand, total)) = Snapshots.lastCowProbePruned
    assert(total >= 32 && cand == 1,
      s"probe scanned $cand of $total candidate files; want 1")
    val state = Snapshots.read(spark, t)
    assert(state.count() == 321 &&
      state.filter("id = 42").head.getString(1) == "bump")
    // exactly key 42's slab gains a vector; every file carries
    val before = Snapshots.filesAt(spark, t, 32L)
    assert(Snapshots.deadRowsAt(spark, t, v).keySet == Set(before(4)))
    assert(Snapshots.filesAt(spark, t, v).take(before.size) == before)
  }

  test("merge carries deletion vectors it does not touch; a deleted key it re-inserts is served") {
    val t = freshTable()
    (0 until 4).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 5).map(j => (i * 5L + j, s"v$i$j")).toDF("id", "v")
          .coalesce(1), t)
    }
    val files = Snapshots.filesAt(spark, t, 4L)
    Snapshots.commitDelete(spark, t, Seq(2L, 12L), "id") // v5
    val dead5 = Snapshots.deadRowsAt(spark, t, 5L)
    assert(dead5.keySet == Set(files(0), files(2)))
    // merge touching key 7 only: both vectors carry, reads stay dead
    val v6 = Snapshots.commitMerge(spark, Seq((7L, "x")).toDF("id", "v"), t,
      Seq("id"))
    assert(Snapshots.deadRowsAt(spark, t, v6) - files(1) == dead5,
      "a merge not touching a deleted key must carry its vector")
    assert(ids(Snapshots.read(spark, t)) == (0L until 20L).toSet -- Set(2L, 12L))
    // merge re-inserting key 2: the new row is served, 12 stays dead
    val v7 = Snapshots.commitMerge(spark,
      Seq((2L, "reborn")).toDF("id", "v"), t, Seq("id"))
    assert(Snapshots.deadRowsAt(spark, t, v7)(files(2)) == dead5(files(2)),
      "the untouched vector (key 12) must survive the merge")
    val state = Snapshots.read(spark, t)
    assert(state.filter("id = 2").head.getString(1) == "reborn")
    assert(state.filter("id = 12").count() == 0)
    assert(state.count() == 19)
  }

  test("a delete landing between staging and claim is carried; a constraint is re-validated") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), t)
    def dataFiles(): Int = {
      val dd = new org.apache.hadoop.fs.Path(t, "data")
      val f = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(dd).count(_.isFile)
    }
    try {
      def rows() = Snapshots.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // delete race: a delete of key 2 lands AFTER the append's
      // pre-staging validation read the head — the claim carries the
      // new head's file list and vectors, so the old row stays dead and
      // the appended one is served
      Snapshots.raceHookForTests = () => {
        Snapshots.raceHookForTests = () => ()
        Snapshots.commitDelete(spark, t, Seq(2L), "id")
      }
      Snapshots.commitAppend(spark, Seq((2L, "zombie")).toDF("id", "v"), t)
      assert(rows() == Set((1L, "v1"), (2L, "zombie"), (3L, "v3"),
        (4L, "v4"), (5L, "v5")))
      // constraint race: ADD CONSTRAINT lands mid-commit; the violating
      // batch is refused at claim time under the constraint's name, and
      // the refusal reclaims the staged files
      Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 1)
      val before = dataFiles()
      Snapshots.raceHookForTests = () => {
        Snapshots.addCheckConstraint(spark, t, "id_small", "id < 100")
        Snapshots.raceHookForTests = () => ()
      }
      val e2 = intercept[IllegalArgumentException] {
        Snapshots.commitAppend(spark, Seq((500L, "big")).toDF("id", "v"), t)
      }
      assert(e2.getMessage.contains("id_small"))
      assert(dataFiles() == before, "refused claim must reclaim staged files")
      // the streaming ingest path carries a racing delete the same way
      Snapshots.raceHookForTests = () => {
        Snapshots.raceHookForTests = () => ()
        Snapshots.commitDelete(spark, t, Seq(3L), "id")
      }
      Snapshots.commitStreamAppend(spark,
        Seq((3L, "z")).toDF("id", "v"), t, "race_s", 0L)
      assert(rows() == Set((1L, "v1"), (2L, "zombie"), (3L, "z"),
        (4L, "v4"), (5L, "v5")))
    } finally Snapshots.raceHookForTests = () => ()
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("vacuum removes files unreferenced by retained versions only") {
    val t = freshTable()
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)   // v1
    Snapshots.commitOverwrite(spark, Seq((2L, "b")).toDF("id", "v"), t) // v2: drops v1 files
    Snapshots.commitAppend(spark, Seq((3L, "c")).toDF("id", "v"), t)   // v3
    val deleted = Snapshots.vacuum(spark, t, keepVersions = 2)
    assert(deleted.nonEmpty, "v1-only files should be deleted")
    // latest unaffected; retained versions readable; v1 gone
    assert(Snapshots.read(spark, t).collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(Snapshots.read(spark, t, Some(2L)).count() == 1)
    intercept[Exception] { Snapshots.filesAt(spark, t, 1L) }
  }

  test("widening evolution: int->long append commits, old files read as long, narrowing refuses") {
    val t = freshTable()
    // v1 lands NARROW types: int id, float x, decimal(10,2) d
    Snapshots.commitAppend(spark,
      Seq((1, 1.5f, BigDecimal("1.25")), (2, 2.5f, BigDecimal("2.25")))
        .toDF("id", "x", "d")
        .selectExpr("CAST(id AS INT) AS id", "CAST(x AS FLOAT) AS x",
          "CAST(d AS DECIMAL(10,2)) AS d"), t)
    // v2 appends the WIDE types — the declared schema widens in place
    Snapshots.commitAppend(spark,
      Seq((3L, 3.5d, BigDecimal("3.25")))
        .toDF("id", "x", "d")
        .selectExpr("CAST(id AS BIGINT) AS id", "CAST(x AS DOUBLE) AS x",
          "CAST(d AS DECIMAL(14,2)) AS d"), t)
    val head = Snapshots.read(spark, t)
    assert(head.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(head.schema("x").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(head.schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(14, 2))
    // v1's physically-int files upcast at read under the declared long
    assert(head.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(head.filter("id = 1").head.getDouble(1) == 1.5d)
    assert(head.filter("id = 2").head.getDecimal(2)
      .compareTo(new java.math.BigDecimal("2.25")) == 0)
    // time travel keeps v1's OWN (narrow) declared schema
    assert(Snapshots.read(spark, t, Some(1L)).schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // a NARROWING append still refuses (long head, int batch)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark,
        Seq(4).toDF("id").selectExpr("CAST(id AS INT) AS id",
          "CAST(1.0 AS DOUBLE) AS x", "CAST(1 AS DECIMAL(14,2)) AS d"), t)
    }
    assert(e.getMessage.contains("widening"))
    // so does a re-interpretation (string into a numeric column)
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark,
        Seq(("5", 1.0d, BigDecimal("1.0"))).toDF("id", "x", "d")
          .selectExpr("id", "x", "CAST(d AS DECIMAL(14,2)) AS d"), t)
    }
    // a copy-on-write rewrite after the widening re-lands old files
    // under the declared wide schema (the conform cast path)
    val (v, n) = Snapshots.commitDeleteWhere(spark, t,
      org.apache.spark.sql.functions.expr("id = 2"))
    assert(n == 1L)
    val after = Snapshots.read(spark, t, Some(v))
    assert(after.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(after.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("overwrite may change a column's type on a CHECK-constrained table") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"), t)
    Snapshots.addCheckConstraint(spark, t, "id_pos", "id > 0")
    // overwrite RESETS the schema (x becomes a string) — the constraint
    // must evaluate on the BATCH's schema, not refuse the type change
    // the overwrite exists to perform
    val v = Snapshots.commitOverwrite(spark,
      Seq((3L, "now-a-string")).toDF("id", "x"), t)
    val head = Snapshots.read(spark, t, Some(v))
    assert(head.schema("x").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(head.count() == 1)
    // the constraint itself carries forward and still binds
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark, Seq((-1L, "bad")).toDF("id", "x"), t)
    }
  }

  test("predicate DELETE/UPDATE probes stats-prune driver-side on the predicate's bounds") {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val t = freshTable()
    (0 until 32).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 10).map(j => (i * 10L + j, 1.0)).toDF("id", "x")
          .coalesce(1), t)
    }
    Snapshots.extendStats(spark, t, Seq("id"))
    // a retention-style range DELETE opens the low slabs only (strict
    // bounds relax to inclusive — looser, never wrong); Column-DSL
    // predicates (the DSv2 DELETE shape) prune like SQL-parsed ones
    val (_, nd) = Snapshots.commitDeleteWhere(spark, t, col("id") < 15)
    assert(nd == 15L)
    val Some((candD, totalD)) = Snapshots.lastWherePruned
    assert(candD <= 2 && totalD >= 32,
      s"DELETE probed $candD of $totalD candidates; want the low slabs only")
    // cover the delete's rewrite output, then a range UPDATE prunes to
    // the range-adjacent slabs
    Snapshots.extendStats(spark, t, Seq("id"))
    val (_, nu) = Snapshots.commitUpdateWhere(spark, t,
      expr("id >= 40 AND id < 60"), Seq("x" -> lit(9.0)))
    assert(nu == 20L)
    val Some((candU, totalU)) = Snapshots.lastWherePruned
    assert(totalU >= 30 && candU <= 3,
      s"UPDATE probed $candU of $totalU candidates; want the range slabs")
    // correctness unchanged by the pruning
    val state = Snapshots.read(spark, t)
    assert(state.count() == 305)
    assert(state.filter("id = 45").head.getDouble(1) == 9.0)
    assert(state.filter("id < 15").count() == 0)
  }

  test("a widening landing between staging and claim refuses the stale-typed batch, reclaiming files") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1, "a")).toDF("id", "v")
        .selectExpr("CAST(id AS INT) AS id", "v"), t)
    def dataFiles(): Int = {
      val dd = new org.apache.hadoop.fs.Path(t, "data")
      val f = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(dd).count(_.isFile)
    }
    try {
      // an ALTER COLUMN ... TYPE BIGINT lands AFTER the int batch's
      // pre-staging validation read the (still-int) head: the claim
      // loop must re-evolve against the widened head, refuse the now-
      // narrowing batch, and reclaim its staged files
      val before = dataFiles()
      Snapshots.raceHookForTests = () => {
        Snapshots.commitWidenColumn(spark, t, "id",
          org.apache.spark.sql.types.LongType)
        Snapshots.raceHookForTests = () => ()
      }
      val e = intercept[IllegalArgumentException] {
        Snapshots.commitAppend(spark,
          Seq((2, "b")).toDF("id", "v")
            .selectExpr("CAST(id AS INT) AS id", "v"), t)
      }
      assert(e.getMessage.contains("widening"))
      assert(dataFiles() == before,
        "a schema-refused claim must reclaim its staged files")
      // the stream ingest path carries the same guard
      Snapshots.raceHookForTests = () => ()
      val t2 = freshTable()
      Snapshots.commitAppend(spark,
        Seq((1, "a")).toDF("id", "v")
          .selectExpr("CAST(id AS INT) AS id", "v"), t2)
      Snapshots.raceHookForTests = () => {
        Snapshots.commitWidenColumn(spark, t2, "id",
          org.apache.spark.sql.types.LongType)
        Snapshots.raceHookForTests = () => ()
      }
      val e2 = intercept[IllegalArgumentException] {
        Snapshots.commitStreamAppend(spark,
          Seq((2, "b")).toDF("id", "v")
            .selectExpr("CAST(id AS INT) AS id", "v"), t2, "widen_s", 0L)
      }
      assert(e2.getMessage.contains("widening"))
      // the widened head itself is intact and wide-typed appends land
      Snapshots.commitAppend(spark,
        Seq((3L, "c")).toDF("id", "v"), t2)
      assert(Snapshots.read(spark, t2).count() == 2)
    } finally Snapshots.raceHookForTests = () => ()
  }

  test("commitUpdateWhere reads the affected slice ONCE (single materialization)") {
    val marker = s"graft_upd1p_${java.util.UUID.randomUUID.toString.take(8)}"
    val t = java.nio.file.Files.createTempDirectory(marker).toString + "/t"
    Snapshots.commitAppend(spark,
      (1L to 400L).map(i => (i, 1.0)).toDF("id", "x").repartition(4), t)
    val fileScans = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui
            .SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains(marker) &&
              s.physicalPlanDescription.contains("Scan parquet") =>
          fileScans.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // drain queued events from earlier tests before counting
      var prev = -1
      while (fileScans.get() != prev) { prev = fileScans.get(); Thread.sleep(250) }
      val base = fileScans.get()
      val (_, n) = Snapshots.commitUpdateWhere(spark, t,
        org.apache.spark.sql.functions.expr("id % 2 = 0"),
        Seq("x" -> org.apache.spark.sql.functions.lit(2.0)))
      assert(n == 200L)
      prev = -1
      while (fileScans.get() != prev) { prev = fileScans.get(); Thread.sleep(250) }
      // exactly TWO executions scan the table's parquet: the probe and
      // the one localCheckpoint materialization — the updated-count, the
      // CHECK pass and the staged write all reuse the checkpointed slice
      // (the lazy plan used to re-read the affected files 3x)
      assert(fileScans.get() - base <= 2,
        s"update ran ${fileScans.get() - base} file-scanning executions; " +
          "want <= 2 (probe + one materialization)")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(Snapshots.read(spark, t).filter("x = 2.0").count() == 200L)
  }

  test("DROP COLUMN is metadata-only; the name is refused until a full rewrite purges it") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 20L).map(i => (i, i * 2L, s"v$i")).toDF("id", "x", "v"), t)
    val filesBefore = Snapshots.filesAt(spark, t, 1L)
    val v2 = Snapshots.commitDropColumn(spark, t, "x")
    assert(v2 == 2L)
    // metadata-only: same files, column gone from reads, time travel keeps it
    assert(Snapshots.filesAt(spark, t, 2L) == filesBefore)
    assert(!Snapshots.read(spark, t).columns.contains("x"))
    assert(Snapshots.read(spark, t, Some(1L)).columns.contains("x"))
    assert(Snapshots.read(spark, t).count() == 20L)
    // the NAME is poisoned while pre-drop files are carried: ADD COLUMNS,
    // appends and merges carrying it would resurrect old values
    intercept[IllegalArgumentException] {
      Snapshots.commitAddColumns(spark, t,
        Seq(org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType)))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark,
        Seq((21L, 42L, "w")).toDF("id", "x", "v"), t)
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitMerge(spark,
        Seq((1L, 0L, "m")).toDF("id", "x", "v"), t, Seq("id"))
    }
    // a column-free append carries the ledger forward
    Snapshots.commitAppend(spark, Seq((21L, "w")).toDF("id", "v"), t)
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark,
        Seq((22L, 42L, "u")).toDF("id", "x", "v"), t)
    }
    // full-rewrite OPTIMIZE physically purges the old values and clears
    // the ledger: the name becomes reusable and reads back NULL, never
    // the pre-drop data
    Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 1)
    Snapshots.commitAddColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType)))
    val back = Snapshots.read(spark, t)
    assert(back.columns.contains("x"))
    assert(back.filter(org.apache.spark.sql.functions.col("x").isNotNull)
      .count() == 0L, "re-added column resurrected pre-drop values")
  }

  test("DROP COLUMN refusals: last column, CHECK-mentioned; vectored rows stay dead through the drop") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "x").coalesce(1), t)
    Snapshots.addCheckConstraint(spark, t, "pos", "x > 0")
    intercept[IllegalArgumentException] {
      Snapshots.commitDropColumn(spark, t, "x") // CHECK pos mentions it
    }
    Snapshots.dropCheckConstraint(spark, t, "pos")
    val (deleted, _) = Snapshots.commitDelete(spark, t, Seq(3L), "id")
    assert(Snapshots.vectorFilesAt(spark, t, deleted).nonEmpty)
    val dropped = Snapshots.commitDropColumn(spark, t, "x") // fine now
    assert(Snapshots.vectorFilesAt(spark, t, dropped) ==
      Snapshots.vectorFilesAt(spark, t, deleted))
    assert(ids(Snapshots.read(spark, t)) == (1L to 10L).toSet - 3L)
    intercept[IllegalArgumentException] {
      Snapshots.commitDropColumn(spark, t, "id") // last column
    }
  }

  test("RESTORE across a drop: pre-drop state returns the column AND clears the ledger") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, i * 2L)).toDF("id", "x"), t)
    Snapshots.commitDropColumn(spark, t, "x")
    Snapshots.commitRestore(spark, t, 1L)
    val df = Snapshots.read(spark, t)
    assert(df.columns.contains("x") && df.count() == 10L)
    // the restored state's files legitimately HOLD x — appends with it
    // are legal again (the ledger is data state, restored with the files)
    Snapshots.commitAppend(spark, Seq((11L, 22L)).toDF("id", "x"), t)
    assert(Snapshots.read(spark, t).count() == 11L)
  }

  test("constraint DDL carries deletion vectors: no resurrection through ADD/DROP CONSTRAINT") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "x").coalesce(1), t)
    val (deleted, _) = Snapshots.commitDelete(spark, t, Seq(3L, 4L), "id")
    val vectors = Snapshots.vectorFilesAt(spark, t, deleted)
    assert(vectors.nonEmpty && Snapshots.read(spark, t).count() == 8L)
    // a metadata-only constraint commit must CARRY the deletion vectors
    // — dropping them would resurrect the deleted rows
    val added = Snapshots.addCheckConstraint(spark, t, "pos", "x > 0")
    assert(Snapshots.vectorFilesAt(spark, t, added) == vectors)
    assert(Snapshots.read(spark, t).count() == 8L,
      "ADD CONSTRAINT resurrected deleted rows")
    val dropped = Snapshots.dropCheckConstraint(spark, t, "pos")
    assert(Snapshots.vectorFilesAt(spark, t, dropped) == vectors)
    assert(Snapshots.read(spark, t).count() == 8L,
      "DROP CONSTRAINT resurrected deleted rows")
  }

  test("RENAME COLUMN: metadata-only column mapping — reads, writes, time travel") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "score"), t) // v1
    val v2 = Snapshots.commitRenameColumn(spark, t, "v", "label")
    assert(v2 == 2L)
    // metadata-only: the same files serve both versions
    assert(Snapshots.filesAt(spark, t, 1L) == Snapshots.filesAt(spark, t, 2L))
    // head serves the LOGICAL name with the ORIGINAL values (a naive
    // declared-schema read would resolve `label` as all-NULL)
    val head = Snapshots.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "label", "score"))
    assert(head.select("id", "label").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b"))
    // time travel serves each version's OWN names
    assert(Snapshots.read(spark, t, Some(1L)).columns.toSeq ==
      Seq("id", "v", "score"))
    // appends ingest under the new name (staged physical, served logical)
    Snapshots.commitAppend(spark,
      Seq((3L, "c", 3.0)).toDF("id", "label", "score"), t) // v3
    assert(Snapshots.read(spark, t).filter(col("label") === "c").count() == 1)
    assert(Snapshots.read(spark, t).filter(col("label").isNull).count() == 0,
      "a renamed column must never read as NULL")
    // the OLD name is ledgered: batches carrying it and ADD COLUMNS refuse
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark,
        Seq((9L, "x", 9.0, "old")).toDF("id", "label", "score", "v"), t)
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitAddColumns(spark, t,
        Seq(org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
    }
    // copy-on-write DML under the mapping: merge bumps one key, delete
    // removes one — logical-space semantics, physical-space files
    Snapshots.commitMerge(spark,
      Seq((2L, "B", 2.5)).toDF("id", "label", "score"), t, Seq("id"))
    Snapshots.commitDelete(spark, t, Seq(1L), "id")
    val after = Snapshots.read(spark, t).select("id", "label", "score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(after == Set((2L, "B", 2.5), (3L, "c", 3.0)))
    // rowDiff across the merge window speaks logical names too
    val feed = Snapshots.rowDiff(spark, t, 3L, 4L, Seq("id"))
    assert(feed.columns.contains("label") && !feed.columns.contains("v"))
    // rename BACK to the physical name is legal (it is this column's own
    // data) and un-ledgers the name
    val vb = Snapshots.commitRenameColumn(spark, t, "label", "v")
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("id", "v", "score"))
    assert(Snapshots.read(spark, t).filter(col("v") === "B").count() == 1)
    Snapshots.commitRenameColumn(spark, t, "v", "label") // forward again
    // a full-rewrite OPTIMIZE normalizes physical names: colmap + ledger
    // clear, so the old name becomes a legitimate fresh column
    assert(Snapshots.compactData(spark, t, targetFiles = 1,
      minFiles = 1).nonEmpty)
    assert(Snapshots.read(spark, t).filter(col("label") === "B").count() == 1,
      "full rewrite must preserve renamed-column values")
    Snapshots.commitAddColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val fresh = Snapshots.read(spark, t)
    assert(fresh.columns.toSeq == Seq("id", "label", "score", "v"))
    assert(fresh.filter(col("v").isNotNull).count() == 0,
      "re-added name after OPTIMIZE must read fresh NULLs, never old data")
    assert(vb == 6L)
  }

  test("RENAME COLUMN refusals: dropped names, CHECK mentions, races; vectored rows stay dead through a rename") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "v", "score").coalesce(1), t)
    // renaming ONTO a dropped name would resurrect its data
    Snapshots.commitDropColumn(spark, t, "score")
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, t, "v", "score")
    }
    assert(e1.getMessage.contains("DROPPED"))
    // a vectored delete: a rename carries the vector by entry, so the
    // dead row stays dead under the new name
    val (deleted, _) = Snapshots.commitDelete(spark, t, Seq(2L), "id")
    val renamed = Snapshots.commitRenameColumn(spark, t, "v", "label")
    assert(Snapshots.vectorFilesAt(spark, t, renamed).nonEmpty &&
      Snapshots.vectorFilesAt(spark, t, renamed) ==
        Snapshots.vectorFilesAt(spark, t, deleted))
    assert(ids(Snapshots.read(spark, t)) == Set(1L, 3L),
      "rename must carry the deletion vector")
    assert(Snapshots.compactData(spark, t, targetFiles = 1,
      minFiles = 1).nonEmpty) // re-writes the vectored file
    // CHECK mentions -> refuse (expression strings do not rewrite)
    Snapshots.addCheckConstraint(spark, t, "lab_ok", "label IS NOT NULL")
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, t, "label", "tag")
    }
    assert(e3.getMessage.contains("lab_ok"))
    Snapshots.dropCheckConstraint(spark, t, "lab_ok")
    // a rename landing while an append is staged refuses the append
    // loudly and reclaims its files (stale physical names)
    try {
      Snapshots.raceHookForTests = () => {
        Snapshots.commitRenameColumn(spark, t, "label", "tag")
        Snapshots.raceHookForTests = () => ()
      }
      // the staged batch does not carry any renamed column, so the
      // ledger can't catch it — the colmap-drift guard must
      val e4 = intercept[IllegalStateException] {
        Snapshots.commitAppend(spark, Seq(7L).toDF("id"), t)
      }
      assert(e4.getMessage.contains("RENAME"))
      // a batch CARRYING the now-retired name refuses via the ledger
      val e5 = intercept[IllegalArgumentException] {
        Snapshots.commitAppend(spark,
          Seq((8L, "h")).toDF("id", "label"), t)
      }
      assert(e5.getMessage.contains("DROPPED"))
    } finally Snapshots.raceHookForTests = () => ()
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("id", "tag"))
  }

  test("column DEFAULTs: ADD COLUMNS DEFAULT back-fills landed rows, SET DEFAULT governs writes") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t) // v1
    // metadata-only: ADD COLUMNS ... DEFAULT via SQL, zero files moved
    spark.sql(s"ALTER TABLE '$t' ADD COLUMNS " +
      "(status STRING DEFAULT 'open', bonus DOUBLE DEFAULT 0.5)")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(Snapshots.filesAt(spark, t, 1L) == Snapshots.filesAt(spark, t, 2L))
    // the LOAD-BEARING contract: files that physically LACK the column
    // serve the folded default straight from the parquet reader — the
    // landed v1 rows read 'open'/0.5, NOT NULL, with zero data movement
    val head = Snapshots.read(spark, t)
    assert(head.filter(col("status") === "open").count() == 2)
    assert(head.filter(col("bonus") === 0.5).count() == 2)
    assert(head.filter(col("status").isNull).count() == 0)
    // write semantics: a batch OMITTING a defaulted column lands the
    // default; a batch carrying it (even NULL) lands what it says
    Snapshots.commitAppend(spark, Seq(3L).toDF("id"), t) // v3
    assert(Snapshots.read(spark, t).filter(col("id") === 3L)
      .select("status", "bonus").head match {
        case row => row.getString(0) == "open" && row.getDouble(1) == 0.5
      })
    Snapshots.commitAppend(spark,
      Seq((4L, null.asInstanceOf[String])).toDF("id", "status"), t) // v4
    val r4 = Snapshots.read(spark, t).filter(col("id") === 4L).head
    assert(r4.isNullAt(r4.fieldIndex("status")),
      "an EXPLICIT NULL must stay NULL — defaults fill only missing columns")
    // SET DEFAULT changes FUTURE writes only
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN status SET DEFAULT 'late'")
      .collect()
    Snapshots.commitAppend(spark, Seq(5L).toDF("id"), t)
    assert(Snapshots.read(spark, t).filter(col("id") === 5L)
      .select("status").head.getString(0) == "late")
    assert(Snapshots.read(spark, t).filter(col("id") === 3L)
      .select("status").head.getString(0) == "open",
      "SET DEFAULT must not rewrite landed rows")
    // DROP DEFAULT: writes missing the column land NULL again; the
    // ADD-time EXISTS_DEFAULT keeps serving pre-column files
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN status DROP DEFAULT").collect()
    Snapshots.commitAppend(spark, Seq(6L).toDF("id"), t)
    val r6 = Snapshots.read(spark, t).filter(col("id") === 6L).head
    assert(r6.isNullAt(r6.fieldIndex("status")))
    assert(Snapshots.read(spark, t).filter(col("id") === 1L)
      .select("status").head.getString(0) == "open",
      "DROP DEFAULT must not strip the landed-rows EXISTS_DEFAULT")
    // time travel: v1 has no default columns at all
    assert(Snapshots.read(spark, t, Some(1L)).columns.toSeq == Seq("id", "v"))
    // CHECK constraints see defaulted values: declaring NOT NULL on the
    // defaulted column validates the whole head (the v1 rows would fail
    // if defaults read as NULL)... and a non-foldable default refuses
    Snapshots.addCheckConstraint(spark, t, "bonus_pos", "bonus >= 0")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' ALTER COLUMN bonus SET DEFAULT rand()")
        .collect()
    }
    // row-level DML (deletion vectors) preserves served defaults
    spark.sql(s"UPDATE '$t' SET bonus = 9.9 WHERE id = 1").collect()
    val u = Snapshots.read(spark, t).filter(col("id") === 1L)
      .select("status", "bonus").head
    assert(u.getString(0) == "open" && u.getDouble(1) == 9.9)
    // catalog SQL serves defaults too (the reader-level fill is
    // plan-independent)
    val root = new java.io.File(t).getParent
    spark.conf.set("spark.sql.catalog.gdef",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdef.root", root)
    assert(spark.sql("SELECT status FROM gdef.t WHERE id = 2")
      .head.getString(0) == "open")
  }

  test("partition transforms: dir-level skipping, metadata expiry, vacuum, OPTIMIZE restage") {
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    val t = freshTable()
    val rows = spark.range(0, 800).toDF("id")
      .withColumn("d", date_add(to_date(lit("2024-01-01")),
        (col("id") % 8).cast("int")))
      .withColumn("v", col("id") * 2)
      .localCheckpoint(true)
    // v1 lands FLAT (pre-transform files are legal and always read)
    Snapshots.commitAppend(spark, rows.filter(col("id") < 100), t)
    val r = spark.sql(s"ALTER TABLE '$t' SET PARTITION (date(d))").head
    assert(r.getLong(0) == 2L && r.getString(1) == "date(d)")
    // v3 lands PARTITIONED: entries carry __gp=<date>/ prefixes
    Snapshots.commitAppend(spark, rows.filter(col("id") >= 100), t)
    val entries = Snapshots.filesAt(spark, t, 3L)
    assert(entries.exists(_.startsWith("__gp=2024-01-0")),
      s"expected partition-prefixed entries, got ${entries.take(3)}")
    assert(Snapshots.read(spark, t).count() == 800)
    // whole-partition retention expiry: ONE metadata commit, no reads;
    // flat (pre-transform) files are KEPT — they cannot prove their age
    val e = spark.sql(
      s"ALTER TABLE '$t' EXPIRE PARTITIONS OLDER THAN '2024-01-03'").head
    assert(e.getLong(0) == 4L && e.getInt(1) > 0)
    // partitioned ids 100..799: residues 0/1 (dates 01-01, 01-02) are
    // 87 rows each; every flat v1 row (ids < 100, all dates) survives
    assert(Snapshots.read(spark, t).count() == 800 - 174,
      "expiry must drop exactly the old PREFIXED partitions")
    val flatV3 = Snapshots.filesAt(spark, t, 3L)
      .filterNot(_.startsWith("__gp=")).toSet
    assert(Snapshots.filesAt(spark, t, 4L).count(flatV3) == flatV3.size,
      "expiry must carry every un-prefixed entry")
    // predicate DELETE prunes by DIRECTORY before any footer opens:
    // only the matching partition (plus the flat v1 files) probes
    val (v5, deleted) = Snapshots.commitDeleteWhere(spark, t,
      col("d") === lit(java.sql.Date.valueOf("2024-01-07")))
    assert(v5 == 5L && deleted == 100)
    val (cand, total) = Snapshots.lastWherePruned.get
    assert(cand < total, s"partition prune opened $cand of $total")
    assert(Snapshots.read(spark, t).count() == 526)
    // vacuum reclaims the expired partition files RECURSIVELY
    val reclaimed = Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(reclaimed.exists(_.startsWith("__gp=")),
      s"vacuum must reclaim partitioned files, got $reclaimed")
    assert(Snapshots.read(spark, t).count() == 526)
    // OPTIMIZE full rewrite re-stages EVERYTHING under the transform:
    // the flat v1 debt gains prefixes (and future prunes cover it)
    assert(Snapshots.compactData(spark, t, targetFiles = 4,
      minFiles = 1).nonEmpty)
    val after = Snapshots.filesAt(spark, t,
      Snapshots.currentVersion(spark, t))
    assert(after.forall(_.startsWith("__gp=")),
      s"full rewrite must re-stage under the transform: $after")
    assert(Snapshots.read(spark, t).count() == 526)
    // refusals: the partition column neither drops nor renames, and a
    // DIFFERENT transform refuses while prefixed entries are referenced
    intercept[IllegalArgumentException] {
      Snapshots.commitDropColumn(spark, t, "d") }
    intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, t, "d", "dt") }
    intercept[IllegalArgumentException] {
      Snapshots.commitSetPartition(spark, t, "d", "month") }
    // the delete slice rewrote under the transform too
    assert(Snapshots.filesAt(spark, t, 5L).forall(e =>
      e.startsWith("__gp=") || flatV3(e)),
      "copy-on-write rewrites must stage under the transform")
  }

  test("OPTIMIZE ZORDER composes with a declared partition transform") {
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    val t = freshTable()
    val rows = spark.range(0, 1000).toDF("id")
      .withColumn("d", date_add(to_date(lit("2024-07-01")),
        (col("id") % 4).cast("int")))
      .withColumn("x", (col("id") * 37 % 1000))
      .withColumn("y", (col("id") * 91 % 1000))
    Snapshots.commitAppend(spark, rows.limit(1), t)
    Snapshots.commitSetPartition(spark, t, "d", "date")
    Snapshots.commitAppend(spark, rows, t)
    // the clustering rewrite must still land under partition dirs: the
    // curve repartition decides TASKS, the transform decides DIRS
    assert(Snapshots.compactData(spark, t, targetFiles = 4, minFiles = 1,
      zorderBy = Seq("x", "y")).nonEmpty)
    val head = Snapshots.currentVersion(spark, t)
    val entries = Snapshots.filesAt(spark, t, head)
    assert(entries.forall(_.startsWith("__gp=2024-07-0")),
      s"zorder rewrite escaped the transform: ${entries.take(3)}")
    assert(entries.map(e => e.substring(0, e.indexOf('/'))).distinct
      .size == 4, "all four day-partitions must survive the rewrite")
    assert(Snapshots.read(spark, t).count() == 1001)
    // stats over the clustered partitioned layout still prune box reads
    Snapshots.extendStats(spark, t, Seq("x", "y"))
    val box = col("x") <= 99 && col("y") <= 99
    assert(Snapshots.readPruned(spark, t,
        Seq(("x", 0, 99), ("y", 0, 99))).filter(box).count() ==
      Snapshots.read(spark, t).filter(box).count())
  }

  test("identity partitions on escapable values: probes compare the UNESCAPED dir value") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // ':' and '%' are chars the dynamic-partition writer escapes to %XX
    // in dir names; the pruners must compare raw values, or the file
    // holding the matching rows silently disappears from SELECTs
    val rows = spark.range(0, 400).toDF("id")
      .withColumn("k", org.apache.spark.sql.functions
        .concat_ws(":", org.apache.spark.sql.functions.lit("t"),
          (col("id") % 4).cast("string")))
    Snapshots.commitAppend(spark, rows.filter(col("id") === 0L), t)
    Snapshots.commitSetPartition(spark, t, "k", "identity")
    Snapshots.commitAppend(spark, rows, t)
    val entries = Snapshots.filesAt(spark, t, 3L)
    assert(entries.exists(_.contains("%3A")),
      s"expected ESCAPED ':' in dir fragments, got ${entries.take(3)}")
    // the key-list read path prunes to the right partition AND returns
    // the right rows (pre-fix: escaped-vs-raw mismatch dropped them all)
    val hit = Snapshots.readPrunedByKeys(spark, t, "k", Seq("t:2"))
      .filter(col("k") === "t:2")
    assert(hit.count() == 100L)
    // predicate delete probes the raw value too: exactly one partition
    // (plus the flat seed file) is candidate, and the delete lands
    val (_, deleted) = Snapshots.commitDeleteWhere(spark, t,
      col("k") === "t:1")
    assert(deleted == 100L, s"escaped-dir probe lost the delete: $deleted")
    val (cand, total) = Snapshots.lastWherePruned.get
    assert(cand < total, s"identity partition prune opened $cand of $total")
    assert(Snapshots.read(spark, t).filter(col("k") === "t:1").count() ==
      0L)
    assert(Snapshots.read(spark, t).count() == 301L)
  }

  test("null partition rows land in the sentinel dir and survive pruning and expiry") {
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date, when}
    val t = freshTable()
    val rows = spark.range(0, 500).toDF("id")
      .withColumn("d", when(col("id") % 5 === 0, lit(null))
        .otherwise(date_add(to_date(lit("2024-01-01")),
          (col("id") % 4).cast("int"))).cast("date"))
    // flat seed: id=0 → null d (deterministic, unlike limit(1))
    Snapshots.commitAppend(spark, rows.filter(col("id") === 0L), t)
    Snapshots.commitSetPartition(spark, t, "d", "date")
    Snapshots.commitAppend(spark, rows, t)
    val census = Snapshots.partitionCensus(spark, t).collect()
      .map(_.getString(0)).toSet
    assert(census.contains("__HIVE_DEFAULT_PARTITION__"),
      s"null renderings must land in the sentinel dir, got $census")
    // retention math must not choke on the sentinel ('_' sorts above
    // every digit — pre-fix the LocalDate.parse threw and wedged the
    // whole maintenance run) and must never expire it
    val r = Snapshots.expireRetainedDays(spark, t, 1)
    assert(r.nonEmpty, "retention must fire against the newest DATED dir")
    val after = Snapshots.read(spark, t)
    // every null-d row survives: 100 sentinel rows + the flat seed
    assert(after.filter(col("d").isNull).count() == 101L,
      "expiry must keep every sentinel (null) row")
    // newest dated partition (2024-01-04: ids ≡ 3 mod 4 minus the null
    // fifths = 125 − 25) is the retention anchor and survives
    assert(after.filter(col("d") === lit(java.sql.Date.valueOf(
      "2024-01-04"))).count() == 100L)
    assert(after.filter(col("d") < lit(java.sql.Date.valueOf(
      "2024-01-04"))).count() == 0L, "older dated partitions expire")
    // an explicit cutoff ABOVE every date still keeps the sentinel
    val (_, n) = Snapshots.commitExpirePartitions(spark, t, "2030-01-01")
    assert(n > 0)
    assert(Snapshots.read(spark, t).filter(col("d").isNull).count() ==
      101L, "EXPIRE PARTITIONS must never drop the null sentinel")
  }

  test("partition transform guards: date/month refuse string columns, identity refuses EXPIRE") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    Snapshots.commitAppend(spark,
      Seq((1L, "2024-01-01", "a")).toDF("id", "s", "k"), t)
    // a string column orders lexicographically, not by the truncation
    // the pruner assumes (" 2024-06-15" casts to 2024 yet sorts before
    // "2020-01-01") — date/month on strings must refuse
    intercept[IllegalArgumentException] {
      Snapshots.commitSetPartition(spark, t, "s", "date") }
    intercept[IllegalArgumentException] {
      Snapshots.commitSetPartition(spark, t, "s", "month") }
    // identity on any type is fine — but identity values carry no AGE
    // order ('10' < '9' lexicographically), so EXPIRE refuses
    Snapshots.commitSetPartition(spark, t, "k", "identity")
    Snapshots.commitAppend(spark,
      Seq((2L, "2024-01-02", "b")).toDF("id", "s", "k"), t)
    intercept[IllegalArgumentException] {
      Snapshots.commitExpirePartitions(spark, t, "c") }
    assert(Snapshots.read(spark, t).count() == 2L)
  }

  test("composite partition transforms: nested dirs, intersecting prune legs, level-aware expiry") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val t = freshTable()
    val df = (0 until 200).map { i =>
      (i.toLong, s"2024-0${1 + i % 3}-0${1 + i % 9}", s"src${i % 4}")
    }.toDF("id", "d", "source")
      .select(col("id"), to_date(col("d")).as("d"), col("source"))
      .repartition(4, col("source")).localCheckpoint(true)
    Snapshots.commitCreate(spark, t, df.schema,
      Seq(("d", "month"), ("source", "identity")))
    Snapshots.commitAppend(spark, df, t)
    val entries = Snapshots.filesAt(spark, t, 2L)
    assert(entries.forall(e => e.contains("__gp=") && e.contains("__gp2=")),
      s"nested dirs expected, got ${entries.take(3)}")
    assert(Snapshots.read(spark, t).count() == 200)
    // census: one row per LEAF partition (month/source)
    val census = Snapshots.partitionCensus(spark, t).collect()
      .map(_.getString(0)).toSet
    assert(census.contains("2024-01/src0") && census.size == 12,
      s"got $census")
    // a copy-on-write predicate DELETE on BOTH columns probes only the
    // one leaf dir the intersection leaves alive
    val nBefore = Snapshots.filesAt(spark, t, 2L).size
    val (v3, deleted) = Snapshots.commitDeleteWhere(spark, t,
      col("d") === lit(java.sql.Date.valueOf("2024-02-05")) &&
        col("source") === "src1")
    val expected = df.filter(col("d") === "2024-02-05" &&
      col("source") === "src1").count()
    assert(v3 == 3L && deleted == expected && deleted > 0)
    val (cand, total) = Snapshots.lastWherePruned.get
    assert(total == nBefore && cand * 3 <= total,
      s"composite conjunction probed $cand of $total — the levels' " +
        "verdicts must intersect")
    // expiry keys on the first date/month level: whole months drop,
    // every source beneath surviving months stays
    val (v4, dropped) = Snapshots.commitExpirePartitions(spark, t,
      java.sql.Date.valueOf("2024-02-01"))
    assert(v4 == 4L && dropped > 0)
    val left = Snapshots.read(spark, t).localCheckpoint(true)
    assert(left.filter(col("d") < "2024-02-01").count() == 0)
    assert(left.filter(col("d") >= "2024-02-01").count() ==
      df.filter(col("d") >= "2024-02-01").count() - deleted)
    assert(left.select("source").distinct().count() == 4)
    // changing a declared composite while prefixed entries exist refuses
    intercept[IllegalArgumentException] {
      Snapshots.commitSetPartitions(spark, t,
        Seq(("source", "identity"), ("d", "month")))
    }
    // a batch missing ONE transform column stages flat — and flat
    // entries always survive every prune (soundness)
    Snapshots.commitAppend(spark,
      Seq((900L, java.sql.Date.valueOf("2024-01-15")))
        .toDF("id", "d"), t)
    assert(Snapshots.filesAt(spark, t, 5L).exists(e =>
      !e.contains("__gp=")))
    val (v6, del2) = Snapshots.commitDeleteWhere(spark, t,
      col("d") === lit(java.sql.Date.valueOf("2024-03-03")) &&
        col("source") === "src2")
    assert(del2 > 0, "the flat entry must not block later deletes")
    assert(Snapshots.read(spark, t).filter(col("id") === 900L)
      .count() == 1, "flat-staged rows survive unrelated deletes")
  }

  test("a vacuum with a longer retention after a shorter one keeps what is left") {
    val t = freshTable()
    (1L to 4L).foreach(i =>
      Snapshots.commitAppend(spark, Seq((i, s"v$i")).toDF("id", "v"), t))
    Snapshots.vacuum(spark, t, keepVersions = 1) // v1..v3 expire
    Snapshots.commitAppend(spark, Seq((5L, "v5")).toDF("id", "v"), t)
    // keep 3 would reach back to v3, which is already gone
    Snapshots.vacuum(spark, t, keepVersions = 3)
    assert((1L to 5L).filter(Snapshots.hasVersion(spark, t, _)) == Seq(4L, 5L))
    assert(Snapshots.read(spark, t, Some(4L)).count() == 4L &&
      Snapshots.read(spark, t).count() == 5L)
  }
}
