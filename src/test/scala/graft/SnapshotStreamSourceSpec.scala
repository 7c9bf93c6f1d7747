package graft

import java.nio.file.Files
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.warehouse.Snapshots

/** sources.SnapshotStreamSource — snapshot tables tailed as a live
  * Structured Streaming source: version-aligned offsets, the initial
  * snapshot, added-files append windows, keyed post-image rewrite
  * windows, checkpoint resume, and the no-keys refusal.
  */
class SnapshotStreamSourceSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def collectStream(src: String, ckpt: String,
      keys: Option[String] = None)(phases: (() => Unit)*)
      : Seq[Set[(Long, String)]] = {
    val batches = mutable.ArrayBuffer.empty[Set[(Long, String)]]
    var reader = spark.readStream.format("graft-snapshot")
      .option("path", src)
    keys.foreach(k => reader = reader.option("keys", k))
    val q = reader.load().writeStream
      .option("checkpointLocation", ckpt)
      .queryName("snapsrc_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val rows = b.collect()
            .map(r => (r.getLong(0), r.getString(1))).toSet
          if (rows.nonEmpty) batches.synchronized { batches += rows }
          ()
      }.start()
    try phases.foreach { p => p(); q.processAllAvailable() }
    finally q.stop()
    batches.toSeq
  }

  test("tailing: initial snapshot, then append windows from added files only") {
    val root = Files.createTempDirectory("graft_strsrc").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), t)
    val got = collectStream(t, root + "/ck")(
      () => (), // first poll: the v1 snapshot
      () => Snapshots.commitAppend(spark,
        (6L to 8L).map(i => (i, s"v$i")).toDF("id", "v"), t),
      () => Snapshots.commitAppend(spark,
        Seq((9L, "v9")).toDF("id", "v"), t))
    assert(got.map(_.map(_._1)) == Seq((1L to 5L).toSet, (6L to 8L).toSet,
      Set(9L)), s"got $got")
  }

  test("checkpoint resume: offsets are versions, a restart serves exactly the missed window") {
    val root = Files.createTempDirectory("graft_strsrc_r").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val first = collectStream(t, root + "/ck")(() => ())
    assert(first.map(_.map(_._1)) == Seq(Set(1L)))
    // two commits land while the stream is DOWN
    Snapshots.commitAppend(spark, Seq((2L, "b")).toDF("id", "v"), t)
    Snapshots.commitAppend(spark, Seq((3L, "c")).toDF("id", "v"), t)
    // same checkpoint: exactly the missed window flows, nothing replays
    val resumed = collectStream(t, root + "/ck")(() => ())
    assert(resumed.map(_.map(_._1)) == Seq(Set(2L, 3L)), s"got $resumed")
  }

  test("sink face: exactly-once commits via manifest stream marks, replay-safe across checkpoints") {
    val root = Files.createTempDirectory("graft_strsink").toString
    val in = new java.io.File(root + "/in"); in.mkdirs()
    val dst = root + "/dst"
    def stage(k: Int, rows: Seq[(Long, String)]): Unit = {
      val tmp = root + s"/tmp$k"
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(in.toString, s"b$k.parquet"))
      ()
    }
    stage(0, Seq((1L, "a"), (2L, "b")))
    def runOnce(ck: String): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(in.toString).schema)
        .parquet(in.toString)
        .writeStream.format("graft-snapshot")
        .option("path", dst).option("checkpointLocation", ck)
        .queryName("snapsink_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(root + "/ck")
    assert(Snapshots.read(spark, dst).count() == 2)
    assert(Snapshots.currentVersion(spark, dst) == 1L)
    assert(Snapshots.lastCommittedBatch(spark, dst,
      s"graft-snapshot-sink:$dst").contains(0L))
    // restart on the SAME checkpoint with one new input file: exactly
    // the new batch lands, as one more protocol commit
    stage(1, Seq((3L, "c")))
    runOnce(root + "/ck")
    assert(Snapshots.read(spark, dst).count() == 3)
    assert(Snapshots.currentVersion(spark, dst) == 2L)
    // a FRESH checkpoint re-reads every input file as batch 0 — the
    // table-scoped stream mark makes that replay a no-op instead of a
    // double-land (the transactional-sink recipe, now as a format)
    runOnce(root + "/ck2")
    assert(Snapshots.read(spark, dst).count() == 3,
      "fresh-checkpoint replay must not double-land")
  }

  test("admission control: a backlogged restart drains in bounded batches, exactly-once") {
    val root = Files.createTempDirectory("graft_strsrc_adm").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    def run(expectBatches: Range): Seq[Set[Long]] = {
      val batches = mutable.ArrayBuffer.empty[Set[Long]]
      val q = spark.readStream.format("graft-snapshot")
        .option("path", t)
        .option("maxVersionsPerBatch", "2")
        .load().writeStream
        .option("checkpointLocation", root + "/ck")
        .queryName("snapadm_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val rows = b.collect().map(_.getLong(0)).toSet
            if (rows.nonEmpty) batches.synchronized { batches += rows }
            ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(expectBatches.contains(batches.size),
        s"wanted ${expectBatches} batches, got ${batches.size}: $batches")
      batches.toSeq
    }
    // initial snapshot: ONE batch by design, cap or no cap
    assert(run(1 to 1) == Seq(Set(1L)))
    // the stream falls SIX commits behind while down
    (2L to 7L).foreach(i => Snapshots.commitAppend(spark,
      Seq((i, s"v$i")).toDF("id", "v"), t))
    // restart on the same checkpoint: the backlog drains across ≥3
    // bounded micro-batches (2 versions each), totals exactly-once —
    // without the cap this was ONE 6-leg-union batch
    val drained = run(3 to 6)
    assert(drained.flatten.toSet == (2L to 7L).toSet, s"got $drained")
    assert(drained.map(_.size).sum == 6, "no version window served twice")
    assert(drained.forall(_.size <= 2),
      s"a batch exceeded the 2-version admission cap: $drained")
  }

  test("startingVersion=0 replay honors the admission cap from the first batch") {
    val root = Files.createTempDirectory("graft_strsrc_adm0").toString
    val t = root + "/t"
    (1L to 5L).foreach(i => Snapshots.commitAppend(spark,
      Seq((i, s"v$i")).toDF("id", "v"), t))
    val batches = mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft-snapshot")
      .option("path", t)
      .option("startingVersion", "0")
      .option("maxVersionsPerBatch", "2")
      .load().writeStream
      .option("checkpointLocation", root + "/ck")
      .queryName("snapadm0_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val rows = b.collect().map(_.getLong(0)).toSet
          if (rows.nonEmpty) batches.synchronized { batches += rows }
          ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.flatten.toSet == (1L to 5L).toSet, s"got $batches")
    assert(batches.size >= 3 && batches.forall(_.size <= 2),
      s"replay must drain in <=2-version batches: $batches")
  }

  test("maxBytesPerBatch: a byte cap drains the backlog one admitted window at a time") {
    val root = Files.createTempDirectory("graft_strsrc_bytes").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    // first run establishes the checkpoint at v1
    val batches = mutable.ArrayBuffer.empty[Set[Long]]
    def run(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", t)
        .option("maxBytesPerBatch", "1") // soft cap: 1 byte → 1 version
        .load().writeStream
        .option("checkpointLocation", root + "/ck")
        .queryName("snapbytes_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val rows = b.collect().map(_.getLong(0)).toSet
            if (rows.nonEmpty) batches.synchronized { batches += rows }
            ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    batches.clear()
    // four commits land while the stream is down; a 1-byte soft cap
    // admits exactly one version per micro-batch on restart
    (2L to 5L).foreach(i => Snapshots.commitAppend(spark,
      Seq((i, s"v$i")).toDF("id", "v"), t))
    run()
    assert(batches.map(_.size).forall(_ == 1) && batches.size == 4,
      s"1-byte soft cap must admit one version per batch: $batches")
    assert(batches.flatten.toSet == (2L to 5L).toSet)
  }

  test("rewrite windows: post-images flow with keys, loud refusal without") {
    val root = Files.createTempDirectory("graft_strsrc_w").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), t)
    val got = collectStream(t, root + "/ck", keys = Some("id"))(
      () => (),
      () => { // one update + one insert + one keyed delete in the window
        Snapshots.commitMerge(spark,
          Seq((3L, "BUMPED"), (10L, "NEW")).toDF("id", "v"), t, Seq("id"))
        Snapshots.commitDelete(spark, t, Seq(5L), "id")
        ()
      })
    // post-images only: the update's new row + the insert; the DELETE
    // does not flow (documented — mirrors use syncReplica)
    assert(got(1) == Set((3L, "BUMPED"), (10L, "NEW")), s"got ${got(1)}")
    // without keys, the same rewrite window refuses loudly
    Snapshots.commitMerge(spark, Seq((4L, "X")).toDF("id", "v"), t,
      Seq("id"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-snapshot").option("path", t)
        .option("startingVersion", Snapshots.currentVersion(spark, t) - 1)
        .load().writeStream
        .option("checkpointLocation", root + "/ck2")
        .format("noop").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("keys") ||
      e.getCause.getMessage.contains("keys"))
  }

  test("readChangeFeed: deletes flow as pre-images exactly once across a checkpoint restart") {
    val root = Files.createTempDirectory("graft_strcdf").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), t) // v1
    val seen = mutable.ArrayBuffer.empty[(Long, String, String)]
    def run(phases: (() => Unit)*): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", t).option("keys", "id")
        .option("readChangeFeed", "true")
        .load().writeStream
        .option("checkpointLocation", root + "/ck")
        .queryName("cdf_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val rows = b.select("id", "v", "_change_type").collect()
              .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
            seen.synchronized { seen ++= rows }
            ()
        }.start()
      try phases.foreach { p => p(); q.processAllAvailable() }
      finally q.stop()
    }
    // phase 1: initial snapshot (10 inserts), then a keyed DELETE
    // window whose pre-images must flow
    run(
      () => (),
      () => { Snapshots.commitDelete(spark, t, Seq(3L, 4L), "id"); () })
    assert(seen.count(_._3 == "insert") == 10)
    assert(seen.filter(_._3 == "delete").map(_._1).toSet == Set(3L, 4L))
    // phase 2 happens while the stream is DOWN: a merge bump and a
    // second keyed delete — the restarted stream must serve both
    // windows exactly once from the checkpoint
    Snapshots.commitMerge(spark,
      Seq((5L, "V5")).toDF("id", "v"), t, Seq("id")) // v3
    Snapshots.commitDelete(spark, t, Seq(6L), "id") // v4
    run(() => ())
    assert(seen.count(_._3 == "delete") == 3, s"got $seen")
    assert(seen.filter(_._3 == "delete").map(_._1).toSet == Set(3L, 4L, 6L),
      "the second delete's window must emit its pre-image exactly once")
    assert(seen.collect {
      case (5L, v, "update_preimage") => v }.toSeq == Seq("v5"))
    assert(seen.collect {
      case (5L, v, "update_postimage") => v }.toSeq == Seq("V5"))
    // no double-served rows anywhere
    assert(seen.size == seen.toSet.size, s"duplicates in $seen")
    // admission caps still bound CDF batches: a fresh startingVersion=0
    // replay capped at 1 version/batch serves one window per batch
    val nBatches = new java.util.concurrent.atomic.AtomicInteger
    val total = new java.util.concurrent.atomic.AtomicLong
    val q2 = spark.readStream.format("graft-snapshot")
      .option("path", t).option("keys", "id")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .option("maxVersionsPerBatch", "1")
      .load().writeStream
      .option("checkpointLocation", root + "/ck2")
      .queryName("cdf2_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val n = b.count()
          if (n > 0) { nBatches.incrementAndGet(); total.addAndGet(n) }
          ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(nBatches.get() == 4, s"expected 4 capped windows, got $nBatches")
    assert(total.get() == seen.size.toLong,
      "a capped replay must serve the same exactly-once CDF rows")
    // a PARTITIONED table tails like any other: the append window's
    // prefixed entries resolve through the same two-arg Path reads
    val pt = Files.createTempDirectory("graft_strpart").toString + "/pt"
    Snapshots.commitAppend(spark,
      Seq((1L, "2024-09-01"), (2L, "2024-09-02")).toDF("id", "d")
        .selectExpr("id", "CAST(d AS DATE) AS d"), pt)
    Snapshots.commitSetPartition(spark, pt, "d", "date")
    val got = mutable.ArrayBuffer.empty[Long]
    val qp = spark.readStream.format("graft-snapshot")
      .option("path", pt).load().writeStream
      .option("checkpointLocation", pt + "_ck")
      .queryName("strpart_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          got.synchronized { got ++= b.collect().map(_.getLong(0)) }
          ()
      }.start()
    try {
      qp.processAllAvailable()
      Snapshots.commitAppend(spark,
        Seq((3L, "2024-09-03"), (4L, "2024-09-04")).toDF("id", "d")
          .selectExpr("id", "CAST(d AS DATE) AS d"), pt)
      qp.processAllAvailable()
    } finally qp.stop()
    assert(got.sorted == Seq(1L, 2L, 3L, 4L),
      s"partitioned append window mis-served: $got")

    // refusal: CDF without keys is rejected at source construction
    val e2 = intercept[Exception] {
      spark.readStream.format("graft-snapshot")
        .option("path", t).option("readChangeFeed", "true")
        .load().writeStream
        .option("checkpointLocation", root + "/ck3")
        .format("noop").start().processAllAvailable()
    }
    assert(e2.getMessage.contains("keys") ||
      Option(e2.getCause).exists(_.getMessage.contains("keys")))
  }

  test("native STREAMING_WRITE: writeStream.toTable commits exactly-once epochs through the protocol") {
    // DataStreamWriter.toTable resolves the catalog through the
    // THREAD-LOCAL SQLConf (unlike spark.sql, it never wraps in
    // withActive) — pin this thread's active session, or a concurrent
    // suite swapping the DEFAULT session (ScaleSpec's dedicated-session
    // AQE test) makes 'gsw' resolve against the wrong conf
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val root = Files.createTempDirectory("graft_strtot").toString
    val in = new java.io.File(root + "/in"); in.mkdirs()
    def stage(k: Int, rows: Seq[(Long, String)]): Unit = {
      val tmp = root + s"/tmp$k"
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(in.toString, s"b$k.parquet"))
      ()
    }
    spark.conf.set("spark.sql.catalog.gsw",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsw.root", root)
    stage(0, Seq((1L, "a"), (2L, "b")))
    def runOnce(ck: String): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(in.toString).schema)
        .parquet(in.toString)
        .writeStream
        .option("checkpointLocation", ck)
        .queryName("snaptot_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .toTable("gsw.t")
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(root + "/ck")
    val t = root + "/t"
    assert(Snapshots.read(spark, t).count() == 2)
    // restart on the SAME checkpoint with one new input file: exactly
    // the new micro-batch lands as one more protocol commit — the
    // (queryId, epochId) watermark rides the manifest, so the replayed
    // epoch 0 commits nothing
    stage(1, Seq((3L, "c")))
    runOnce(root + "/ck")
    assert(Snapshots.read(spark, t).count() == 3,
      "epoch replay after restart must not double-land")
    assert(spark.sql("SELECT count(*) FROM gsw.t").head.getLong(0) == 3)

    // the staged files are EXECUTOR-written parquet under data/ — no
    // driver collect anywhere: verify the bytes read back through both
    // the Scala API and catalog SQL under the same schema
    assert(spark.sql("SELECT v FROM gsw.t WHERE id = 3").head
      .getString(0) == "c")

    // column mapping composes: rename, then stream under the NEW
    // logical name — files stage physical, reads serve logical
    Snapshots.commitRenameColumn(spark, t, "v", "label")
    val q2 = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .parquet(in.toString)
      .selectExpr("id + 100 AS id", "v AS label")
      .writeStream
      .option("checkpointLocation", root + "/ck_ren")
      .queryName("snaptot_ren_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .toTable("gsw.t")
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.sql(
      "SELECT label FROM gsw.t WHERE id = 103").head.getString(0) == "c")
    assert(Snapshots.read(spark, t).count() == 6)

    // a CHECK constraint refuses the whole epoch and reclaims staging:
    // the query dies loudly, no partial rows land
    Snapshots.addCheckConstraint(spark, t, "pos_id", "id > 0")
    val before = Snapshots.read(spark, t).count()
    stage(2, Seq((-5L, "bad")))
    val e = intercept[Exception] {
      val q3 = spark.readStream
        .schema(spark.read.parquet(in.toString).schema)
        .parquet(in.toString)
        .selectExpr("id", "v AS label")
        .writeStream
        .option("checkpointLocation", root + "/ck_chk")
        .queryName("snaptot_chk_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .toTable("gsw.t")
      try q3.processAllAvailable() finally q3.stop()
    }
    def mentions(t0: Throwable): Boolean =
      t0 != null && (Option(t0.getMessage).exists(_.contains("pos_id")) ||
        mentions(t0.getCause))
    assert(mentions(e), s"constraint must surface: ${e.getMessage}")
    assert(Snapshots.read(spark, t).count() == before,
      "a refused epoch must land nothing")

    // a PARTITIONED table streams into its __gp= dirs (not flat): the
    // staged entries prune and expire exactly like batch-landed ones
    val pt = root + "/pt"
    graft.warehouse.Snapshots.commitCreate(spark, pt,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))),
      Seq(("v", "identity")))
    val q5 = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .parquet(in.toString)
      .filter("id > 0")
      .writeStream
      .option("checkpointLocation", root + "/ck_part")
      .queryName("snaptot_part_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .toTable("gsw.pt")
    try q5.processAllAvailable() finally q5.stop()
    val head = graft.warehouse.Snapshots.currentVersion(spark, pt)
    val pEntries = graft.warehouse.Snapshots.filesAt(spark, pt, head)
    assert(pEntries.nonEmpty && pEntries.forall(_.startsWith("__gp=")),
      s"stream staging must route into partition dirs, got " +
        pEntries.take(3))
    assert(spark.sql("SELECT count(*) FROM gsw.pt WHERE v = 'c'")
      .head.getLong(0) == 1L)
    assert(graft.warehouse.Snapshots.lastCatalogPruned
      .exists(p => p._1 < p._2),
      "streamed partition dirs must prune catalog scans")

    // complete mode refuses loudly — append is the native sink's shape
    val e2 = intercept[Exception] {
      val q4 = spark.readStream
        .schema(spark.read.parquet(in.toString).schema)
        .parquet(in.toString)
        .groupBy().count()
        .writeStream.outputMode("complete")
        .option("checkpointLocation", root + "/ck_cm")
        .toTable("gsw.agg")
      try q4.processAllAvailable() finally q4.stop()
    }
    def completeRefused(t0: Throwable): Boolean =
      t0 != null && (Option(t0.getMessage)
        .exists(m => m.contains("complete") || m.contains("append")) ||
        completeRefused(t0.getCause))
    assert(completeRefused(e2), s"got: ${e2.getMessage}")
  }
}
