package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.warehouse.Snapshots

/** Per-file Bloom file-skipping index (Snapshots.extendBloom /
  * readPrunedByKeys) — point-lookup pruning where min/max stats are
  * useless (high-cardinality, unclustered columns).
  */
class BloomIndexSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/t"

  test("point lookup opens few files, result identical to the unpruned read") {
    val t = freshTable()
    // hash-partitioned: every file's [min,max] spans the key space, so
    // stats could prune NOTHING here — the exact case blooms exist for
    Snapshots.commitAppend(spark,
      (1L to 1600L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartition(16, col("id")), t)
    assert(Snapshots.extendBloom(spark, t, "id",
      expectedItemsPerFile = 1000L) == 16)
    val keys = Seq[Any](7L, 1234L)
    val pruned = Snapshots.readPrunedByKeys(spark, t, "id", keys)
      .filter(col("id").isin(7L, 1234L)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(pruned == Set(7L -> "v7", 1234L -> "v1234"))
    val (chosen, total) = Snapshots.lastBloomPruned.get
    assert(total == 16 && chosen <= 4,
      s"point lookup opened $chosen of $total files")
  }

  test("incremental: uncovered appends always read; extendBloom covers only them") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 100L).map(i => (i, i)).toDF("id", "x").repartition(4), t)
    Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 1000L)
    Snapshots.commitAppend(spark, Seq((999L, 999L)).toDF("id", "x"), t)
    // the new file has no bloom yet: it MUST be a candidate (no false
    // negatives through index staleness)
    val hit = Snapshots.readPrunedByKeys(spark, t, "id", Seq(999L))
      .filter(col("id") === 999L).count()
    assert(hit == 1L, "stale index dropped an uncovered file")
    assert(Snapshots.lastBloomPruned.get._1 >= 1)
    assert(Snapshots.extendBloom(spark, t, "id",
      expectedItemsPerFile = 1000L) == 1) // only the new file scans
    val (chosen, total) = {
      Snapshots.readPrunedByKeys(spark, t, "id", Seq(999L))
        .filter(col("id") === 999L).count()
      Snapshots.lastBloomPruned.get
    }
    assert(total == 5 && chosen <= 2,
      s"covered lookup opened $chosen of $total")
  }

  test("string keys, clone foreign refs, and deletion vectors compose") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 200L).map(i => (s"user$i", i)).toDF("uid", "x")
        .repartition(8, col("uid")), t)
    Snapshots.extendBloom(spark, t, "uid", expectedItemsPerFile = 1000L)
    val one = Snapshots.readPrunedByKeys(spark, t, "uid", Seq("user42"))
      .filter(col("uid") === "user42").count()
    assert(one == 1L)
    assert(Snapshots.lastBloomPruned.get._1 < 8)
    // a clone indexes its FOREIGN refs the same way (version-driven)
    val c = t + "_clone"
    Snapshots.cloneTable(spark, t, c)
    assert(Snapshots.extendBloom(spark, c, "uid",
      expectedItemsPerFile = 1000L) == 8)
    assert(Snapshots.readPrunedByKeys(spark, c, "uid", Seq("user42"))
      .filter(col("uid") === "user42").count() == 1L)
    assert(Snapshots.lastBloomPruned.get._1 < 8)
    // a deleted key stays deleted through the pruned read: its file is
    // vectored, not re-written, so the bloom still hits it and the
    // deletion vector filters
    val (v, n) = Snapshots.commitDelete(spark, t, Seq("user42"), "uid")
    assert(n == 1L && Snapshots.filesAt(spark, t, v) ==
      Snapshots.filesAt(spark, t, v - 1))
    assert(Snapshots.vectorFilesAt(spark, t, v).nonEmpty)
    assert(Snapshots.readPrunedByKeys(spark, t, "uid", Seq("user42"))
      .filter(col("uid") === "user42").count() == 0L,
      "bloom-pruned read resurrected a deleted key")
  }

  test("rewrite expiry + the maintenance leg: dead entries drop, new files re-cover") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 800L).map(i => (i, i)).toDF("id", "x")
        .repartition(8, col("id")), t)
    Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 1000L)
    Snapshots.compactData(spark, t, targetFiles = 2, minFiles = 1)
    // immediately after the rewrite: every live file is uncovered, so
    // the lookup reads them all — stale-index correctness, zero skips
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Seq(5L))
      .filter(col("id") === 5L).count() == 1L)
    assert(Snapshots.lastBloomPruned.get == ((2, 2)))
    // the maintenance policy's bloom leg re-covers the rewrite and
    // expires the 8 dead entries in the same pass
    val msg = graft.warehouse.Maintenance.maintainIfNeeded(spark,
      graft.warehouse.Maintenance.MaintenanceTarget(t,
        graft.warehouse.Maintenance.TableKind.Snapshot,
        vacuumMinAgeMs = 0L))
    assert(msg.exists(_.contains("bloomed 2 new file(s) on id")), s"$msg")
    val sidecar = spark.read.parquet(s"$t/data/_graft_bloom_id")
    assert(sidecar.count() == 2L, "dead bloom entries survived the rewrite")
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Seq(5L))
      .filter(col("id") === 5L).count() == 1L)
  }

  test("no index or no keys falls back to the plain versioned read") {
    val t = freshTable()
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, i)).toDF("id", "x"), t)
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Seq(5L))
      .count() == 10L) // no index: full candidate set
    assert(Snapshots.lastBloomPruned.isEmpty)
    Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 100L)
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Nil).count() == 10L)
  }
}
