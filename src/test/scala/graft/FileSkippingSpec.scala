package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.{FileSkipping, Snapshots}

/** Soundness of snapshot-table file skipping under random predicates:
  * every entry point that prunes a version's file list keeps every file
  * holding a matching row. One small table partitioned `date(d)` then
  * `bucket2(id)`, with `_graft_stats` on every column and Bloom sidecars
  * on `id`, `s` and `ts`. Seeded: the seed prints on
  * every run, and `testOnly graft.FileSkippingSpec -- -Dseed=<n>`
  * replays one.
  */
class FileSkippingSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private var configSeed: Option[Long] = None

  override def withFixture(test: NoArgTest) = {
    configSeed = test.configMap.getOptional[String]("seed").map(_.toLong)
    super.withFixture(test)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType),
    StructField("d", DateType), StructField("ts", TimestampType)))
  private val prefixes = Seq("pa", "pb", "pc", "qa", "qb", "r")
  private val day0 = Date.valueOf("2024-01-01").toLocalDate
  private val ts0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Five appends of 40 rows, each batch clustered in every column so
    * the stats bite; about 5 % NULLs per column.
    */
  private def batches(r: Random): Seq[Seq[Row]] = (0 until 5).map { i =>
    def orNull[A](a: => A): Any = if (r.nextInt(20) == 0) null else a
    Seq.fill(40)(Row(
      orNull(i * 100L + r.nextInt(160)),
      orNull(prefixes((i + r.nextInt(2)) % prefixes.size) + r.nextInt(40)),
      orNull(Date.valueOf(day0.plusDays(i + r.nextInt(2)))),
      orNull(new Timestamp(ts0 + (i * 6L + r.nextInt(8)) * 3600000L +
        r.nextInt(3600) * 1000L))))
  }

  private val transforms = Seq("d" -> "date", "id" -> "bucket2")

  /** The first batch lands flat, the rest under the transforms. */
  private def build(t: String, data: Seq[Seq[Row]]): Unit = {
    data.zipWithIndex.foreach { case (rows, i) =>
      Snapshots.commitAppend(spark, spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema).coalesce(1), t)
      if (i == 0) Snapshots.commitSetPartitions(spark, t, transforms)
    }
    Snapshots.extendStats(spark, t, Seq("id", "s", "d", "ts"))
    Seq("id", "s", "ts").foreach(c =>
      Snapshots.extendBloom(spark, t, c, expectedItemsPerFile = 200L))
  }

  test("every entry point keeps every file that holds a matching row") {
    val seed = configSeed.getOrElse(Random.nextLong())
    println(s"FileSkippingSpec seed=$seed " +
      s"(re-run: testOnly graft.FileSkippingSpec -- -Dseed=$seed)")
    val r = new Random(seed)
    def check(ok: Boolean, what: => String): Unit =
      assert(ok, s"seed=$seed: $what")
    val root = Files.createTempDirectory("graft_skip").toString
    spark.conf.set("spark.sql.catalog.gfskip",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfskip.root", root)
    val data = batches(r)
    val values = schema.fieldNames.indices.map(i =>
      data.flatten.map(_.get(i)).filter(_ != null).distinct.toIndexedSeq)

    // a value of column i: mostly one the table holds, else a neighbour
    def value(i: Int): Any = {
      val v = values(i)(r.nextInt(values(i).size))
      if (r.nextInt(10) < 7) v
      else v match {
        case l: Long => l + r.nextInt(21) - 10
        case s: String => s.take(2) + r.nextInt(60)
        case d: Date => Date.valueOf(d.toLocalDate.plusDays(r.nextInt(5) - 2))
        case t: Timestamp =>
          new Timestamp(t.getTime + (r.nextInt(7200) - 3600) * 1000L)
      }
    }
    def sorted(a: Any, b: Any): (Any, Any) = (a, b) match {
      case (x: Long, y: Long) => if (x <= y) (x, y) else (y, x)
      case (x: String, y: String) => if (x <= y) (x, y) else (y, x)
      case (x: Date, y: Date) => if (!x.after(y)) (x, y) else (y, x)
      case (x: Timestamp, y: Timestamp) => if (!x.after(y)) (x, y) else (y, x)
    }
    def atom(): Column = {
      val i = r.nextInt(4)
      val c = col(schema(i).name)
      r.nextInt(9) match {
        case 0 => c === lit(value(i))
        case 1 => c < lit(value(i))
        case 2 => c <= lit(value(i))
        case 3 => c > lit(value(i))
        case 4 => c >= lit(value(i))
        case 5 => c.isin(Seq.fill(1 + r.nextInt(4))(value(i)): _*)
        case 6 =>
          val (lo, hi) = sorted(value(i), value(i))
          c.between(lit(lo), lit(hi))
        case _ =>
          col("s").like(prefixes(r.nextInt(prefixes.size)).take(1 +
            r.nextInt(2)) + "%")
      }
    }
    def term(): Column = r.nextInt(10) match {
      case 0 | 1 => atom() || atom()
      case 2 | 3 => not(atom())
      case _ => atom()
    }
    val predicates = Seq.fill(10)(Seq.fill(1 + r.nextInt(3))(term())
      .reduce(_ && _))
    val keySets = Seq.fill(6) {
      val i = r.nextInt(4)
      (schema(i).name, Seq.fill(1 + r.nextInt(5))(value(i)).distinct)
    }
    val ranges = Seq.fill(5) {
      val i = r.nextInt(4)
      val (lo, hi) = sorted(value(i), value(i))
      (schema(i).name, lo, hi)
    }

    val t = s"$root/t"
    build(t, data)
    val v = Snapshots.currentVersion(spark, t)
    val files = Snapshots.filesAt(spark, t, v)
    val declared = Snapshots.schemaAt(spark, t, v)
    val dataDir = new Path(t, "data")
    val entryOf = {
      val (canon, byCanon) = FileSkipping.canonical(spark, dataDir, files)
      canon.map(c => c -> byCanon(c)).toMap
    }
    def entries(uris: Seq[String]): Set[String] =
      uris.map(u => entryOf(graft.operators.Layout.canonUri(u))).toSet
    // ground truth: the files holding a TRUE row, and the row count, per
    // probe — every probe evaluated in one pass over the table
    val probes: Seq[Column] = predicates ++
      keySets.map { case (c, ks) => col(c).isin(ks: _*) } ++
      ranges.map { case (c, lo, hi) => col(c).between(lit(lo), lit(hi)) }
    val matrix = Snapshots.read(spark, t)
      .select(input_file_name() +: probes.zipWithIndex.map { case (p, i) =>
        coalesce(p, lit(false)).as(s"p$i") }: _*)
      .collect()
    val truth = probes.indices.map { i =>
      val hits = matrix.filter(_.getBoolean(i + 1))
      (entries(hits.map(_.getString(0)).toSeq), hits.length.toLong)
    }
    def prune(filters: Seq[org.apache.spark.sql.sources.Filter]) =
      FileSkipping.prune(spark, dataDir, files, declared, filters, Map.empty,
        transforms).kept.toSet
    var pruned = 0 // probes whose kept set is smaller than the table
    def keeps(kept: Set[String], i: Int, what: String): Unit = {
      val lost = truth(i)._1 -- kept
      check(lost.isEmpty, s"$what dropped ${lost.size} matching file(s) " +
        s"for ${probes(i)}")
      if (kept.size < files.size) pruned += 1
    }

    predicates.indices.foreach { i =>
      val p = predicates(i)
      // catalog pushdown: Spark re-applies the filter, so a dropped
      // matching file shows as a missing row
      val n = spark.table("gfskip.t").filter(p).count()
      check(n == truth(i)._2, s"the catalog scan counted $n, not " +
        s"${truth(i)._2}, for $p")
      // the DELETE/UPDATE WHERE probe
      keeps(prune(FileSkipping.predicateFilters(spark, p, declared)), i,
        "the WHERE probe")
    }
    keySets.zipWithIndex.foreach { case ((c, ks), j) =>
      val i = predicates.size + j
      // a key list (MERGE key set, keyed DELETE) and a runtime filter's
      // join-key set both arrive as one IN
      keeps(Snapshots.pruneFilesByFilters(spark, t, files, declared,
        Seq(org.apache.spark.sql.sources.In(c, ks.toArray)), Map.empty,
        transforms).toSet, i, "the key-list and runtime-filter probe")
      // a key frame (a computed MERGE batch's keys)
      val frame = spark.createDataFrame(
        java.util.Arrays.asList(ks.map(Row(_)): _*),
        StructType(Seq(schema(c))))
      keeps(FileSkipping.pruneByKeys(spark, dataDir, files, declared, c,
        frame, Map.empty, transforms).kept.toSet, i, "the key-frame probe")
      keeps(entries(Snapshots.readPrunedByKeys(spark, t, c, ks).inputFiles),
        i, "readPrunedByKeys")
    }
    ranges.zipWithIndex.foreach { case ((c, lo, hi), j) =>
      val i = predicates.size + keySets.size + j
      keeps(entries(Snapshots.readPruned(spark, t, Seq((c, lo, hi)))
        .inputFiles), i, "readPruned")
    }
    check(pruned > 0, "no probe pruned a single file")

    // the commits themselves: a probe that missed a file would
    // under-count a DELETE or leave a stale row behind a MERGE
    val p = predicates.head
    val want = Snapshots.read(spark, t).filter(p).count()
    val (_, deleted) = Snapshots.commitDeleteWhere(spark, t, p)
    check(deleted == want, s"DELETE WHERE $p removed $deleted rows, not $want")
    val ids = Seq.fill(4)(values(0)(r.nextInt(values(0).size))
      .asInstanceOf[Long]).distinct
    Snapshots.commitMerge(spark, ids.map(k => (k, "merged")).toDF("id", "s"),
      t, Seq("id"))
    val after = Snapshots.read(spark, t).filter(col("id").isin(ids: _*))
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
    check(after.sorted.toSeq == ids.map((_, "merged")).sorted,
      s"MERGE of $ids left ${after.toSeq}")
    val (_, gone) = Snapshots.commitDelete(spark, t, ids, "id")
    check(gone == ids.size, s"DELETE of $ids removed $gone rows")
  }

  private def otherZone(): String =
    if (java.util.TimeZone.getDefault.getRawOffset == -8 * 3600000)
      "Asia/Tokyo"
    else "America/Los_Angeles"

  test("Bloom probes and date partitions use the session time zone, not the JVM's") {
    val root = Files.createTempDirectory("graft_skip_tz").toString
    spark.conf.set("spark.sql.catalog.gfskiptz",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfskiptz.root", root)
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", otherZone())
    try {
      // one row a day at 03:00 UTC: shifted by the session's offset, a
      // key names an instant no row holds, and its calendar day in the
      // session zone is not the JVM zone's
      def rows(n: Int) = spark.range(n).select(col("id"),
        (lit(1704067200L + 3 * 3600L) + col("id") * 86400L).cast("timestamp")
          .as("ts"))
      val bloom = s"$root/bloom"
      Snapshots.commitAppend(spark, rows(800).repartitionByRange(8, col("id")),
        bloom)
      Snapshots.extendBloom(spark, bloom, "ts", expectedItemsPerFile = 200L)
      val dated = s"$root/dated"
      Snapshots.commitAppend(spark, rows(1), dated)
      Snapshots.commitSetPartition(spark, dated, "ts", "date")
      Snapshots.commitAppend(spark, rows(16).filter(col("id") > 0), dated)
      for ((t, id) <- Seq(bloom -> 3L, bloom -> 123L, bloom -> 500L,
          dated -> 3L, dated -> 12L)) {
        val key = Snapshots.read(spark, t).filter(col("id") === id)
          .head().getTimestamp(1)
        val name = new Path(t).getName
        assert(spark.table(s"gfskiptz.$name").filter(col("ts") === lit(key))
          .count() == 1L, s"catalog lookup of $key in $name")
        assert(Snapshots.readPrunedByKeys(spark, t, "ts", Seq(key))
          .filter(col("ts") === lit(key)).count() == 1L,
          s"readPrunedByKeys of $key in $name")
        if (t == bloom) {
          val (chosen, total) = Snapshots.lastBloomPruned.get
          assert(total == 8 && chosen < 8, s"the Bloom kept $chosen of $total")
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("a Bloom sidecar built before ALTER widened its column drops no file") {
    val t = Files.createTempDirectory("graft_skip_widen").toString + "/t"
    Snapshots.commitAppend(spark, spark.range(400)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
      .repartitionByRange(4, col("k")), t)
    Snapshots.extendBloom(spark, t, "k", expectedItemsPerFile = 200L)
    Snapshots.commitWidenColumn(spark, t, "k", LongType)
    // the old files hashed their keys as int; a probe hashes bigint
    def rows(k: Long) = Snapshots.read(spark, t).filter(col("k") === k)
      .collect().map(_.getString(1)).toSeq
    assert(Snapshots.readPrunedByKeys(spark, t, "k", Seq(7L))
      .filter(col("k") === 7L).count() == 1L, "readPrunedByKeys lost k=7")
    Snapshots.commitMerge(spark, Seq((7L, "merged")).toDF("k", "v"), t,
      Seq("k"))
    assert(rows(7L) == Seq("merged"),
      "MERGE must update the row an old file holds, not add one")
    assert(Snapshots.commitDelete(spark, t, Seq(123L), "k")._2 == 1L)
    assert(rows(123L).isEmpty)
    assert(Snapshots.commitDeleteWhere(spark, t, col("k") === 250L)._2 == 1L)
    assert(Snapshots.commitUpdateWhere(spark, t, col("k") === 330L,
      Seq("v" -> lit("updated")))._2 == 1L)
    assert(rows(330L) == Seq("updated"))
    // re-extending re-indexes every live file under the widened type
    val live = Snapshots.filesAt(spark, t, Snapshots.currentVersion(spark, t))
    assert(Snapshots.extendBloom(spark, t, "k",
      expectedItemsPerFile = 200L) == live.size)
    assert(Snapshots.readPrunedByKeys(spark, t, "k", Seq(399L))
      .filter(col("k") === 399L).count() == 1L)
    val (chosen, total) = Snapshots.lastBloomPruned.get
    assert(total == live.size && chosen < total,
      s"the re-indexed Bloom kept $chosen of $total")
  }

  test("timestamp stats written in one session zone prune no probe from another") {
    val root = Files.createTempDirectory("graft_skip_tsstats").toString
    spark.conf.set("spark.sql.catalog.gfskipts",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfskipts.root", root)
    val t = s"$root/t"
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      Snapshots.commitAppend(spark, spark.range(800).select(col("id"),
        (lit(1704067200L + 3 * 3600L) + col("id") * 86400L).cast("timestamp")
          .as("ts")).repartitionByRange(8, col("id")), t)
      Snapshots.extendStats(spark, t, Seq("ts"))
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      // each key is the first row of its file: rendered 8 h earlier than
      // the UTC-rendered file min, it would fall below that file's range
      for (id <- Seq(0L, 100L, 500L)) {
        val key = Snapshots.read(spark, t).filter(col("id") === id)
          .head().getTimestamp(1)
        assert(spark.table("gfskipts.t").filter(col("ts") === lit(key))
          .count() == 1L, s"catalog lookup of $key")
        assert(Snapshots.readPrunedByKeys(spark, t, "ts", Seq(key))
          .filter(col("ts") === lit(key)).count() == 1L,
          s"readPrunedByKeys of $key")
        assert(Snapshots.readPruned(spark, t, Seq(("ts", key, key)))
          .filter(col("ts") === lit(key)).count() == 1L,
          s"readPruned of $key")
      }
      assert(Snapshots.commitDelete(spark, t,
        Seq(Snapshots.read(spark, t).filter(col("id") === 100L)
          .head().getTimestamp(1)), "ts")._2 == 1L)
      val key = Snapshots.read(spark, t).filter(col("id") === 200L)
        .head().getTimestamp(1)
      assert(Snapshots.commitDeleteWhere(spark, t,
        col("ts") <= lit(key) && col("ts") >= lit(key))._2 == 1L)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("timestamp stats written under UTC prune probes from America/Los_Angeles") {
    val root = Files.createTempDirectory("graft_skip_tsprune").toString
    spark.conf.set("spark.sql.catalog.gfskiptsp",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfskiptsp.root", root)
    val t = s"$root/t"
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      Snapshots.commitAppend(spark, spark.range(800).select(col("id"),
        (lit(1704067200L + 3 * 3600L) + col("id") * 86400L).cast("timestamp")
          .as("ts")).repartitionByRange(8, col("id")), t)
      Snapshots.extendStats(spark, t, Seq("ts"))
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      // the files hold disjoint 100-day ranges: each key is in one file
      for (id <- Seq(0L, 99L, 100L, 500L, 799L)) {
        val key = Snapshots.read(spark, t).filter(col("id") === id)
          .head().getTimestamp(1)
        assert(spark.table("gfskiptsp.t").filter(col("ts") === lit(key))
          .count() == 1L, s"catalog lookup of $key")
        val (chosen, total) = Snapshots.lastCatalogPruned.get
        assert(total == 8 && chosen == 1,
          s"the catalog kept $chosen of $total files for $key")
        val byKeys = Snapshots.readPrunedByKeys(spark, t, "ts", Seq(key))
        assert(byKeys.filter(col("ts") === lit(key)).count() == 1L,
          s"readPrunedByKeys of $key")
        assert(byKeys.inputFiles.length == 1,
          s"readPrunedByKeys read ${byKeys.inputFiles.length} files")
        assert(Snapshots.readPruned(spark, t, Seq(("ts", key, key)))
          .filter(col("ts") === lit(key)).count() == 1L,
          s"readPruned of $key")
        val (read, n) = graft.operators.Layout.lastStatsPruned.get
        assert(n == 8 && read == 1, s"readPruned kept $read of $n files")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("a sidecar in the old double/string encoding prunes nothing until extendStats rewrites it typed") {
    val t = Files.createTempDirectory("graft_skip_legacy").toString + "/t"
    Snapshots.commitAppend(spark, spark.range(800).select(
      col("id").cast("int").as("k"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int"))
        .as("d")).repartitionByRange(8, col("k")), t)
    // the sidecar as older builds wrote it: numerics as double, dates
    // (and strings and timestamps) cast to string
    spark.read.parquet(s"$t/data").groupBy(input_file_name().as("file"))
      .agg(count(lit(1L)).as("__count"),
        min(col("k")).cast("double").as("k__min"),
        max(col("k")).cast("double").as("k__max"),
        (count(lit(1L)) - count(col("k"))).as("k__nulls"),
        min(col("d")).cast("string").as("d__min"),
        max(col("d")).cast("string").as("d__max"),
        (count(lit(1L)) - count(col("d"))).as("d__nulls"))
      .coalesce(1).write.parquet(s"$t/data/_graft_stats")
    val day = java.sql.Date.valueOf("2024-03-01")
    def kept(c: String, v: Any): (Int, Int) = {
      assert(Snapshots.readPruned(spark, t, Seq((c, v, v)))
        .filter(col(c) === lit(v)).count() == 1L, s"readPruned of $c = $v")
      graft.operators.Layout.lastStatsPruned.get
    }
    assert(kept("k", 5) == ((8, 8)), "an int column's double stats pruned")
    assert(kept("d", day) == ((8, 8)), "a date column's string stats pruned")
    assert(Snapshots.extendStats(spark, t, Seq("k", "d")) == 8,
      "extendStats must rewrite the whole sidecar")
    val typed = spark.read.parquet(s"$t/data/_graft_stats").schema
    assert(typed("k__min").dataType == IntegerType &&
      typed("d__max").dataType == DateType, s"sidecar still $typed")
    assert(kept("k", 5) == ((1, 8)))
    assert(kept("d", day) == ((1, 8)))
  }

  test("date dirs of a timestamp column staged in one zone prune no probe from another") {
    val root = Files.createTempDirectory("graft_skip_tsdirs").toString
    spark.conf.set("spark.sql.catalog.gfskipdirs",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfskipdirs.root", root)
    val t = s"$root/t"
    val zone = spark.conf.get("spark.sql.session.timeZone")
    // one row a day at 23:00 UTC: 13:00 the next day at UTC+14
    def rows(ids: Seq[Long]) = ids.toDF("id").select(col("id"),
      (lit(1704067200L + 23 * 3600L) + col("id") * 86400L).cast("timestamp")
        .as("ts"))
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      Snapshots.commitAppend(spark, rows(Seq(0L)), t)
      Snapshots.commitSetPartition(spark, t, "ts", "date")
      Snapshots.commitAppend(spark, rows(1L to 15L), t)
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      def key(id: Long) = Snapshots.read(spark, t).filter(col("id") === id)
        .head().getTimestamp(1)
      for (id <- Seq(3L, 9L)) {
        val k = key(id)
        assert(spark.table("gfskipdirs.t").filter(col("ts") === lit(k))
          .count() == 1L, s"catalog lookup of $k")
        val (chosen, total) = Snapshots.lastCatalogPruned.get
        assert(chosen < total, s"the dirs kept $chosen of $total files")
        assert(Snapshots.readPrunedByKeys(spark, t, "ts", Seq(k))
          .filter(col("ts") === lit(k)).count() == 1L,
          s"readPrunedByKeys of $k")
        assert(Snapshots.readPruned(spark, t, Seq(("ts", k, k)))
          .filter(col("ts") === lit(k)).count() == 1L, s"readPruned of $k")
      }
      assert(Snapshots.commitDelete(spark, t, Seq(key(5L)), "ts")._2 == 1L)
      assert(Snapshots.commitDeleteWhere(spark, t,
        col("ts") === lit(key(12L)))._2 == 1L)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }
}
