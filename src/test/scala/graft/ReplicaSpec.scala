package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

/** Snapshots.syncReplica — exactly-once replica maintenance over the
  * change feed, across all four transports (append / feed / rebuild /
  * noop) and the crash-replay contract.
  */
class ReplicaSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def pair(): (String, String) = {
    val root = Files.createTempDirectory("graft_replica").toString
    (root + "/src", root + "/dst")
  }

  private def state(t: String): Set[(Long, String)] =
    Snapshots.read(spark, t).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("append windows ship only added files; repeated sync is a noop") {
    val (src, dst) = pair()
    Snapshots.commitAppend(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "append")
    assert(state(dst) == state(src))
    Snapshots.commitAppend(spark, Seq((3L, "c")).toDF("id", "v"), src)
    val (from, to, mode) = Snapshots.syncReplica(spark, src, dst, Seq("id"))
    assert((from, to, mode) == (1L, 2L, "append"))
    assert(state(dst) == state(src))
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "noop")
    // the cursor is a stream mark in the replica's own manifest — one
    // atomic claim carries state and data (exactly-once under replay)
    assert(Snapshots.lastCommittedBatch(spark, dst,
      s"replica:$src").contains(2L))
  }

  test("rewrite windows apply the row-exact feed: deletes, updates, inserts") {
    val (src, dst) = pair()
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), src)
    Snapshots.syncReplica(spark, src, dst, Seq("id"))
    Snapshots.commitDelete(spark, src, Seq(3L, 7L), "id")
    Snapshots.commitMerge(spark,
      Seq((5L, "BUMPED"), (11L, "NEW")).toDF("id", "v"), src, Seq("id"))
    val (_, _, mode) = Snapshots.syncReplica(spark, src, dst, Seq("id"))
    assert(mode == "feed")
    assert(state(dst) == state(src))
    assert(!state(dst).exists(_._1 == 3L) &&
      state(dst).contains((5L, "BUMPED")) && state(dst).contains((11L, "NEW")))
  }

  test("a replica lagged past source vacuum retention rebuilds, then resumes incremental") {
    val (src, dst) = pair()
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), src)
    Snapshots.syncReplica(spark, src, dst, Seq("id")) // cursor = v1
    (2 to 6).foreach(i => Snapshots.commitAppend(spark,
      Seq((i.toLong, s"v$i")).toDF("id", "v"), src))
    Snapshots.vacuum(spark, src, keepVersions = 2) // v1's manifest is gone
    assert(!Snapshots.hasVersion(spark, src, 1L))
    val (_, _, mode) = Snapshots.syncReplica(spark, src, dst, Seq("id"))
    assert(mode == "rebuild")
    assert(state(dst) == state(src))
    // back on the incremental path afterwards
    Snapshots.commitAppend(spark, Seq((7L, "v7")).toDF("id", "v"), src)
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "append")
    assert(state(dst) == state(src))
  }

  test("schema evolution flows through a feed sync; replica never narrows") {
    val (src, dst) = pair()
    Snapshots.commitAppend(spark, (1L to 4L).map(i => (i, s"v$i"))
      .toDF("id", "v"), src)
    Snapshots.syncReplica(spark, src, dst, Seq("id"))
    // evolution + rewrite in one window: merge adds a column and updates
    Snapshots.commitDelete(spark, src, Seq(2L), "id")
    Snapshots.commitMerge(spark,
      Seq((3L, "patched", 9.5)).toDF("id", "v", "score"), src, Seq("id"))
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "feed")
    val d = Snapshots.read(spark, dst)
    assert(d.columns.toSeq == Seq("id", "v", "score"))
    assert(d.count() == 3 && d.filter("score = 9.5").count() == 1)
    assert(d.filter("id = 2").count() == 0)
  }

  test("feed sync is copy-on-write on the replica: small churn rewrites few replica files") {
    // (row-level since deletion vectors: churned rows die by vector and
    // only the changes stage, so no replica file is re-written)
    val (src, dst) = pair()
    // 24 single-file slabs land on BOTH sides via append syncs
    (0 until 24).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 10).map(j => (i * 10L + j, s"v$i-$j")).toDF("id", "v")
          .coalesce(1), src)
      Snapshots.syncReplica(spark, src, dst, Seq("id"))
    }
    val before = Snapshots.filesAt(spark, dst,
      Snapshots.currentVersion(spark, dst))
    assert(before.size >= 24)
    // a 2-key rewrite window on the source (forces feed mode)
    Snapshots.commitDelete(spark, src, Seq(5L), "id")
    Snapshots.commitMerge(spark, Seq((117L, "BUMP")).toDF("id", "v"),
      src, Seq("id"))
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "feed")
    val head = Snapshots.currentVersion(spark, dst)
    val after = Snapshots.filesAt(spark, dst, head)
    val holders = before.filter(f => spark.read.parquet(s"$dst/data/$f")
      .filter(org.apache.spark.sql.functions.col("id").isin(5L, 117L))
      .count() > 0)
    val vectored = Snapshots.deadRowsAt(spark, dst, head).keySet
    assert(holders.size == 2 && vectored == holders.toSet,
      s"only the 2 replica files holding keys 5 and 117 gain a vector, " +
        s"got ${vectored.size} of ${before.size}")
    assert(after.take(before.size) == before,
      "every replica file must carry by name")
    assert(state(dst) == state(src))
  }

  test("a replica-local vectored delete survives a feed sync (no resurrection)") {
    val (src, dst) = pair()
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), src)
    Snapshots.syncReplica(spark, src, dst, Seq("id"))
    // the replica locally deletes key 9 (e.g. a regional erasure the
    // source has not processed yet) — by vector, zero files touched
    val files = Snapshots.filesAt(spark, dst, Snapshots.currentVersion(spark, dst))
    val (local, _) = Snapshots.commitDelete(spark, dst, Seq(9L), "id")
    assert(Snapshots.filesAt(spark, dst, local) == files)
    assert(!state(dst).exists(_._1 == 9L))
    // a source rewrite window NOT touching key 9 feeds through: the
    // replica's vectored row must stay dead, not silently come back
    // through the feed's re-write
    Snapshots.commitMerge(spark, Seq((2L, "BUMP")).toDF("id", "v"),
      src, Seq("id"))
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "feed")
    assert(!state(dst).exists(_._1 == 9L),
      "replica-local delete resurrected by the feed sync")
    val synced = Snapshots.currentVersion(spark, dst)
    assert(Snapshots.deadRowsAt(spark, dst, synced).values
      .map(_.getCardinality).sum == 2, "key 9's vector carries, key 2's joins")
    assert(state(dst) == state(src) - ((9L, "v9")))
    // but when the SOURCE re-asserts key 9, the feed legitimately
    // resurrects it on the replica (source truth wins)
    Snapshots.commitMerge(spark, Seq((9L, "reborn")).toDF("id", "v"),
      src, Seq("id"))
    Snapshots.syncReplica(spark, src, dst, Seq("id"))
    assert(state(dst).contains((9L, "reborn")))
  }

  test("a replayed sync (crash between commit and caller ack) never double-applies") {
    val (src, dst) = pair()
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), src)
    Snapshots.syncReplica(spark, src, dst, Seq("id"))
    val rowsOnce = Snapshots.read(spark, dst).count()
    val headOnce = Snapshots.currentVersion(spark, dst)
    // same window replayed: the mark in the replica manifest wins
    assert(Snapshots.syncReplica(spark, src, dst, Seq("id"))._3 == "noop")
    assert(Snapshots.read(spark, dst).count() == rowsOnce)
    assert(Snapshots.currentVersion(spark, dst) == headOnce)
  }
}
