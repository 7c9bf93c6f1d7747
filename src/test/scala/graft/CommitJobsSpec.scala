package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.Snapshots

/** Pins how many Spark jobs each row-level commit (by deletion vectors)
  * and maintenance commit runs on a table with no stats sidecar. Job
  * count is the main cost
  * of a commit at small scale (ROADMAP's cost fit), so a change that
  * adds a shuffle, an eager checkpoint or a recount to these paths
  * fails here before it shows in the benchmark.
  */
class CommitJobsSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private val Sentinel = "graft.commitJobsSpec.sentinel"

  /** `body`'s result and the Spark jobs it started. A one-task RDD job
    * tagged by a local property runs before and after `body`; listener
    * events arrive in order, so the jobs between the two sentinels are
    * exactly `body`'s, whatever earlier work was still queued.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[java.lang.Boolean]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(Option(js.properties).exists(_.getProperty(Sentinel) != null))
    }
    def sentinel(): Unit = {
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Sentinel, null)
    }
    /** Jobs started before the next sentinel. */
    def untilSentinel(): Int = {
      var n = 0
      var done = false
      while (!done) {
        val s = starts.poll(30, TimeUnit.SECONDS)
        assert(s != null, "the sentinel job's start event never arrived")
        if (s) done = true else n += 1
      }
      n
    }
    sc.addSparkListener(l)
    try {
      sentinel()
      untilSentinel()
      val r = body
      sentinel()
      (r, untilSentinel())
    } finally sc.removeSparkListener(l)
  }

  /** Six one-file appends of (id, v): ids 0..59, ten per file. */
  private def table(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft_jobs").toString + "/t"
    (0 until 6).foreach { f =>
      Snapshots.commitAppend(spark,
        (f * 10L until f * 10L + 10L).map(i => (i, s"v$i")).toDF("id", "v")
          .coalesce(1), t)
    }
    t
  }

  private def rows(t: String): Map[Long, String] =
    Snapshots.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("an append of local rows runs no job; a coalesce(1) or repartition(n) batch runs the Spark write and lands as laid out") {
    val t = table()
    // the driver stages the rows itself: one file, no Spark job
    val (v, n) = jobsOf(Snapshots.commitAppend(spark,
      Seq((100L, "a"), (101L, "b")).toDF("id", "v"), t))
    assert(n == 0, s"append of local rows ran $n jobs")
    assert(Snapshots.filesAt(spark, t, v).size == 7)
    // an explicit layout is a Spark write, one file per slice
    val (v1, n1) = jobsOf(Snapshots.commitAppend(spark,
      Seq((102L, "c"), (103L, "d")).toDF("id", "v").coalesce(1), t))
    assert(n1 == 1, s"coalesce(1) append ran $n1 jobs")
    assert(Snapshots.filesAt(spark, t, v1).size == 8)
    val (v2, n2) = jobsOf(Snapshots.commitAppend(spark,
      (104L until 112L).map(i => (i, s"r$i")).toDF("id", "v").repartition(3),
      t))
    // under AQE the shuffle runs as its own job before the write
    assert(n2 == 2, s"repartition(3) append ran $n2 jobs; want 2 (shuffle, write)")
    assert(Snapshots.filesAt(spark, t, v2).size == 11)
    assert(rows(t).size == 72)
  }

  test("commitMerge on a single-column key runs at most three jobs, one for local rows") {
    val t = table()
    // two keys in two existing files update, two are new
    val local = Seq((3L, "u3"), (25L, "u25"), (200L, "n200"), (201L, "n201"))
      .toDF("id", "v")
    val (_, n) = jobsOf(Snapshots.commitMerge(spark, local, t, Seq("id")))
    assert(n <= 1, s"merge of local rows ran $n jobs; want <= 1 (the probe)")
    val r = rows(t)
    assert(r.size == 62 && r(3L) == "u3" && r(25L) == "u25" &&
      r(200L) == "n200" && r(4L) == "v4")
    // exactly the two files holding a batch key gained a vector (one dead
    // row each), every file carried, and the staged files hold only the
    // batch's four rows
    val (before, after) = (Snapshots.filesAt(spark, t, 6L),
      Snapshots.filesAt(spark, t, 7L))
    assert(after.take(6) == before)
    val dead = Snapshots.deadRowsAt(spark, t, 7L)
    assert(dead.keySet == Set(before(0), before(2)) &&
      dead.values.forall(_.getCardinality == 1), s"vectors $dead")
    assert(spark.read.parquet(after.drop(6).map(f => s"$t/data/$f"): _*)
      .count() == 4L)
    // a computed batch is checkpointed inside its key collect's job
    val computed = spark.range(58L, 62L)
      .select(col("id"), concat(lit("c"), col("id").cast("string")).as("v"))
    val (_, n2) = jobsOf(Snapshots.commitMerge(spark, computed, t, Seq("id")))
    assert(n2 <= 3, s"merge ran $n2 jobs; want <= 3 (key collect, probe, write)")
    val r2 = rows(t)
    assert(r2.size == 64 && r2(59L) == "c59" && r2(61L) == "c61" &&
      r2(57L) == "v57")
  }

  test("commitDelete, commitDeleteWhere and commitUpdateWhere run at most two jobs") {
    val t = table()
    val files = Snapshots.filesAt(spark, t, 6L)
    // a vectored delete runs only its probe and stages no data file
    val ((v1, d1), n1) = jobsOf(
      Snapshots.commitDelete(spark, t, Seq(1L, 2L, 999L), "id"))
    assert(d1 == 2L && n1 <= 1, s"delete removed $d1 rows in $n1 jobs")
    assert(Snapshots.filesAt(spark, t, v1) == files)
    assert(Snapshots.deadRowsAt(spark, t, v1).keySet == Set(files(0)))
    val ((v2, d2), n2) = jobsOf(
      Snapshots.commitDeleteWhere(spark, t, col("id").between(40L, 44L)))
    assert(d2 == 5L && n2 <= 1, s"delete-where removed $d2 rows in $n2 jobs")
    assert(Snapshots.filesAt(spark, t, v2) == files)
    // an update stages only the updated rows
    val ((v3, u), n3) = jobsOf(Snapshots.commitUpdateWhere(spark, t,
      col("id") >= 55L, Seq("v" -> lit("hot"))))
    assert(u == 5L && n3 <= 2, s"update changed $u rows in $n3 jobs")
    val staged = Snapshots.filesAt(spark, t, v3).drop(files.size)
    assert(Snapshots.filesAt(spark, t, v3).take(files.size) == files &&
      staged.map(f => spark.read.parquet(s"$t/data/$f").count()).sum == 5L)
    assert(Snapshots.deadRowsAt(spark, t, v3).keySet ==
      Set(files(0), files(4), files(5)))
    val r = rows(t)
    assert(r.size == 53 && !r.contains(1L) && !r.contains(42L) &&
      r(55L) == "hot" && r(54L) == "v54")
  }

  test("a one-key catalog UPDATE on a multi-file table runs one job") {
    val t = table()
    val cat = "gjobs_" + java.util.UUID.randomUUID.toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      new java.io.File(t).getParent)
    val files = Snapshots.filesAt(spark, t, 6L)
    // the scan finds the row and the same job stages its new version;
    // the commit kills it by vector on the driver, reading no staged
    // file back. (The copy-on-write ReplaceData this replaced ran 2: the
    // re-write of the matched file, then a read of the staged files'
    // schema.)
    val (_, n) = jobsOf(spark.sql(s"UPDATE $cat.t SET v = 'hot' WHERE id = 25"))
    assert(n <= 1, s"catalog UPDATE ran $n jobs; want <= 1 (scan and write)")
    assert(Snapshots.filesAt(spark, t, 7L).take(6) == files)
    assert(Snapshots.deadRowsAt(spark, t, 7L).keySet == Set(files(2)))
    val r = rows(t)
    assert(r.size == 60 && r(25L) == "hot" && r(24L) == "v24")
  }

  /** [[table]] with a third column `x` = 2 × id and `_graft_stats` on all
    * three columns.
    */
  private def statsTable(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft_jobs").toString + "/t"
    (0 until 6).foreach { f =>
      Snapshots.commitAppend(spark,
        (f * 10L until f * 10L + 10L).map(i => (i, s"v$i", 2.0 * i))
          .toDF("id", "v", "x").coalesce(1), t)
    }
    Snapshots.extendStats(spark, t, Seq("id", "v", "x"))
    t
  }

  test("quoted-path UPDATE and DELETE run one job, a MERGE of local rows at most three") {
    val t = table()
    val files = Snapshots.filesAt(spark, t, 6L)
    // each statement is Spark's WriteDelta over the path identifier: the
    // scan finds the rows and the same job stages their new versions; the
    // commit kills them by vector on the driver. The MERGE's join adds
    // the source side's jobs.
    val (_, nu) = jobsOf(spark.sql(s"UPDATE '$t' SET v = 'hot' WHERE id = 25"))
    val (_, nd) = jobsOf(spark.sql(s"DELETE FROM '$t' WHERE id = 25"))
    Seq((3L, "u3"), (200L, "n200")).toDF("id", "v")
      .createOrReplaceTempView("gjobs_merge_src")
    val (_, nm) = jobsOf(spark.sql(s"MERGE INTO '$t' t USING gjobs_merge_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *"))
    assert(nu <= 1, s"quoted-path UPDATE ran $nu jobs; want <= 1")
    assert(nd <= 1, s"quoted-path DELETE ran $nd jobs; want <= 1")
    assert(nm <= 3, s"quoted-path MERGE of local rows ran $nm jobs; want <= 3")
    assert(Snapshots.currentVersion(spark, t) == 9L)
    assert(Snapshots.filesAt(spark, t, 9L).take(6) == files)
    assert(Snapshots.deadRowsAt(spark, t, 9L).keySet == Set(files(0), files(2)))
    val r = rows(t)
    assert(r.size == 60 && !r.contains(25L) && r(3L) == "u3" &&
      r(200L) == "n200" && r(24L) == "v24")
  }

  test("a three-conjunct pruneFilesByFilters on a stats-manifested table runs at most two jobs") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual,
      StringStartsWith}
    val t = statsTable()
    val files = Snapshots.filesAt(spark, t, 6L)
    val (kept, n) = jobsOf(Snapshots.pruneFilesByFilters(spark, t, files,
      Snapshots.schemaAt(spark, t, 6L), Seq(GreaterThanOrEqual("id", 15L),
        LessThanOrEqual("x", 50.0), StringStartsWith("v", "v2"))))
    assert(n <= 2, s"the prune ran $n jobs; want <= 2 (one sidecar read)")
    // only the third file (ids 20..29) passes all three: the second's
    // v values ("v10".."v19") sort below the prefix range
    assert(kept == files.slice(2, 3), s"kept $kept of $files")
  }

  test("commitDeleteWhere and commitDelete on a stats-manifested table run at most four jobs") {
    val t = statsTable()
    val ((_, d1), n1) = jobsOf(Snapshots.commitDeleteWhere(spark, t,
      col("id") >= 12L && col("x") <= 30.0))
    assert(d1 == 4L && n1 <= 4, s"delete-where removed $d1 rows in $n1 jobs")
    val ((_, d2), n2) = jobsOf(
      Snapshots.commitDelete(spark, t, Seq(1L, 33L), "id"))
    assert(d2 == 2L && n2 <= 4, s"delete removed $d2 rows in $n2 jobs")
    assert(Snapshots.read(spark, t).count() == 54L)
  }

  test("compactSmallFiles runs one job: the packed write") {
    val t = table()
    val (v, n) = jobsOf(Snapshots.compactSmallFiles(spark, t, minSmall = 4))
    assert(v.nonEmpty && n == 1, s"pack committed $v in $n jobs")
    assert(Snapshots.filesAt(spark, t, v.get).size == 1)
    assert(rows(t).size == 60)
  }

  test("commitMerge on a Bloom-indexed key reads the sidecar once, then from the cache") {
    val t = table()
    Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 100L)
    // the extend leaves the sidecar cached; the first merge must read it
    graft.operators.Layout.forgetSidecar(
      new org.apache.hadoop.fs.Path(t, "data/_graft_bloom_id"))
    val (_, cold) = jobsOf(Snapshots.commitMerge(spark,
      Seq((3L, "u3")).toDF("id", "v"), t, Seq("id")))
    val (_, warm) = jobsOf(Snapshots.commitMerge(spark,
      Seq((25L, "u25")).toDF("id", "v"), t, Seq("id")))
    assert(cold <= 4 && warm <= 2 && cold > warm, s"the merges ran $cold, " +
      s"then $warm jobs; want <= 4 (sidecar read, probe, write), then <= 2")
    val r = rows(t)
    assert(r.size == 60 && r(3L) == "u3" && r(25L) == "u25" && r(4L) == "v4")
  }

  test("extendStats and extendBloom cover an appended file in at most three jobs each, and extends with nothing new run none") {
    val t = table()
    Snapshots.extendStats(spark, t, Seq("id"))
    Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 100L)
    // a keyed read consults (and caches) both sidecars
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Seq(3L))
      .filter(col("id") === 3L).count() == 1L)
    Snapshots.commitAppend(spark, Seq((100L, "a")).toDF("id", "v"), t)
    val (s, ns) = jobsOf(Snapshots.extendStats(spark, t, Seq("id")))
    val (b, nb) = jobsOf(
      Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 100L))
    assert(s == 1 && b == 1, s"covered $s and $b new files; want 1 each")
    assert(ns <= 3 && nb <= 3, s"the extends ran $ns and $nb jobs; want " +
      "<= 3 each (the aggregate's map stage, its collect, the write)")
    val ((s2, b2), n2) = jobsOf((Snapshots.extendStats(spark, t, Seq("id")),
      Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 100L)))
    assert(s2 == 0 && b2 == 0 && n2 == 0,
      s"extends with nothing new covered $s2 and $b2 files in $n2 jobs")
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Seq(100L))
      .filter(col("id") === 100L).collect().map(_.getString(1)).toSeq ==
      Seq("a"))
    assert(Snapshots.lastBloomPruned == Some((1, 7)))
  }
}
