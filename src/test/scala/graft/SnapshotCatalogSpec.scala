package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

class SnapshotCatalogSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  test("snapshot tables resolve through SQL: head, VERSION AS OF, TIMESTAMP AS OF") {
    val root = Files.createTempDirectory("graft_snapcat").toString
    val t = root + "/orders_t"
    Snapshots.commitAppend(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    Thread.sleep(1100) // manifest mtimes are the protocol's commit clock
    val cut = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1100)
    Snapshots.commitAppend(spark, Seq((3L, "c")).toDF("id", "v"), t)
    spark.conf.set("spark.sql.catalog.gsnap",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsnap.root", root)
    def ids(sql: String): Set[Long] =
      spark.sql(sql).collect().map(_.getLong(0)).toSet

    assert(ids("SELECT id FROM gsnap.orders_t") == Set(1L, 2L, 3L))
    assert(ids("SELECT id FROM gsnap.orders_t VERSION AS OF 1") == Set(1L, 2L))
    assert(ids(s"SELECT id FROM gsnap.orders_t TIMESTAMP AS OF '$cut'") ==
      Set(1L, 2L), "timestamp between v1 and v2 must resolve to v1")

    // schema evolution: the catalog serves the version's DECLARED schema,
    // so pre-evolution files surface the new column as NULL
    Snapshots.commitAppend(spark,
      Seq((4L, "d", 9.5)).toDF("id", "v", "score"), t)
    val head = spark.sql("SELECT * FROM gsnap.orders_t")
    assert(head.columns.toSeq == Seq("id", "v", "score"))
    assert(head.count() == 4 &&
      head.filter("score IS NULL").count() == 3)
    // ...while the pinned pre-evolution version keeps ITS schema
    assert(spark.sql("SELECT * FROM gsnap.orders_t VERSION AS OF 1")
      .columns.toSeq == Seq("id", "v"))

    // Catalyst pushdown reaches the parquet scan through the catalog
    val q = spark.sql("SELECT id FROM gsnap.orders_t WHERE id = 3")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,3"),
      s"filter not pushed:\n${plan.take(800)}")

    // INSERT routes through the commit protocol (full write-face spec
    // below); what still refuses is anything that would BYPASS it
    // (RENAME COLUMN commits through alterTable — see the
    // column-mapping test below; property DDL has no protocol seat and
    // must keep refusing)
    intercept[Exception] {
      spark.sql("ALTER TABLE gsnap.orders_t SET TBLPROPERTIES ('k'='v')") }
    intercept[Exception] { spark.sql("SELECT * FROM gsnap.no_such").collect() }

    // a vacuumed version is a loud miss, not a partial read
    (5L to 9L).foreach(i => Snapshots.commitAppend(spark,
      Seq((i, s"x$i")).toDF("id", "v").withColumn("score",
        org.apache.spark.sql.functions.lit(1.0)), t))
    Snapshots.vacuum(spark, t, keepVersions = 2)
    intercept[Exception] {
      spark.sql("SELECT * FROM gsnap.orders_t VERSION AS OF 1").collect()
    }
    // and the head still answers
    assert(spark.sql("SELECT count(*) FROM gsnap.orders_t")
      .head.getLong(0) == 9L)

    // discovery: only manifest-bearing dirs list as tables
    assert(spark.sql("SHOW TABLES IN gsnap").collect()
      .map(_.getString(1)).toSet == Set("orders_t"))
  }

  test("SQL INSERT goes through the protocol: create, insert, overwrite, drop") {
    val root = Files.createTempDirectory("graft_snapcat_w").toString
    spark.conf.set("spark.sql.catalog.gw",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gw.root", root)
    spark.sql("CREATE TABLE gw.t (id BIGINT, v STRING)")
    val t = root + "/t"
    assert(Snapshots.currentVersion(spark, t) == 1L) // schema-only v1
    spark.sql("INSERT INTO gw.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gw.t SELECT id + 10, 'x' FROM range(3)")
    assert(Snapshots.currentVersion(spark, t) == 3L,
      "each INSERT is ONE protocol commit")
    assert(spark.sql("SELECT id FROM gw.t").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 10L, 11L, 12L))
    // history carries the protocol ops — the SQL writer is a first-class
    // committer, not a side door
    assert(Snapshots.history(spark, t).select("op").collect()
      .map(_.getString(0)).toSeq ==
        Seq("append", "append", "createTable"))
    // INSERT OVERWRITE = commitOverwrite: one new version, old readable
    spark.sql("INSERT OVERWRITE gw.t VALUES (99, 'z')")
    assert(spark.sql("SELECT id FROM gw.t").collect()
      .map(_.getLong(0)).toSet == Set(99L))
    assert(spark.sql("SELECT count(*) FROM gw.t VERSION AS OF 3")
      .head.getLong(0) == 5L, "time travel across a SQL overwrite")
    // a declared CHECK constraint binds the SQL writer too
    spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT pos CHECK (id > 0)")
    intercept[Exception] {
      spark.sql("INSERT INTO gw.t VALUES (-1, 'bad')")
    }
    assert(spark.sql("SELECT count(*) FROM gw.t").head.getLong(0) == 1L)
    // pinned versions stay read-only (history is immutable)
    intercept[Exception] {
      spark.sql("INSERT INTO gw.t VERSION AS OF 3 VALUES (5, 'no')")
    }
    // CTAS composes: createTable + the V1 write in one statement
    spark.sql("CREATE TABLE gw.t2 AS SELECT id FROM range(4)")
    assert(spark.sql("SELECT count(*) FROM gw.t2").head.getLong(0) == 4L)
    assert(spark.sql("SHOW TABLES IN gw").count() == 2)
    // identifier DELETE resolves through Spark's own row-level
    // machinery into one deletion-vector commit
    spark.sql("DELETE FROM gw.t2 WHERE id >= 2")
    assert(spark.sql("SELECT id FROM gw.t2").collect()
      .map(_.getLong(0)).toSet == Set(0L, 1L))
    assert(Snapshots.history(spark, root + "/t2").select("op").collect()
      .map(_.getString(0)).toSeq.head == "delete",
      "the SQL delete must be one protocol commit")
    spark.sql("DROP TABLE gw.t2")
    assert(spark.sql("SHOW TABLES IN gw").count() == 1)
  }

  test("DROP TABLE purges cached manifest resolutions: a recreate never serves dropped state") {
    val root = Files.createTempDirectory("graft_snapcat_drop").toString
    spark.conf.set("spark.sql.catalog.gdrop",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdrop.root", root)
    val t = root + "/t"
    Snapshots.commitAppend(spark, Seq((1L, "old")).toDF("id", "v"), t)
    Snapshots.commitAppend(spark, Seq((2L, "old2")).toDF("id", "v"), t)
    // warm the resolver cache for v1 AND v2 of the soon-dropped table
    assert(spark.sql("SELECT count(*) FROM gdrop.t VERSION AS OF 2")
      .head.getLong(0) == 2L)
    assert(Snapshots.read(spark, t, Some(1L)).count() == 1L)
    spark.sql("DROP TABLE gdrop.t")
    // recreate at the SAME path in the same JVM, one version only
    Snapshots.commitAppend(spark, Seq((9L, "new")).toDF("id", "v"), t)
    // v1 must serve the NEW table's state, not the dropped one's cache
    assert(Snapshots.read(spark, t, Some(1L)).collect()
      .map(_.getLong(0)).toSeq == Seq(9L),
      "a stale cached resolution served the dropped table's v1")
    // v2 does not exist on the new table: a clean missing-version
    // refusal, never the dropped table's file list (raw FileNotFound)
    assert(!Snapshots.hasVersion(spark, t, 2L))
    // a clean analysis-time refusal (table/version not found) — a stale
    // cached resolution would surface as a raw FileNotFound at execution
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM gdrop.t VERSION AS OF 2").collect()
    }
  }

  test("catalog SQL file-skipping: stats ranges and Bloom point probes prune the scan") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_snapcat_skip").toString
    spark.conf.set("spark.sql.catalog.gskip",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gskip.root", root)
    val base = spark.range(0, 16000).toDF("id")
      .withColumn("grp", (col("id") % 7).cast("int"))

    // RANGE-clustered table + stats index: a range predicate must skip
    val rt = root + "/ranget"
    Snapshots.commitAppend(spark,
      base.repartitionByRange(16, col("id")), rt)
    Snapshots.extendStats(spark, rt, Seq("id"))
    assert(spark.sql("SELECT count(*) FROM gskip.ranget WHERE id <= 999")
      .head.getLong(0) == 1000L)
    val (rc, rn) = Snapshots.lastCatalogPruned.get
    assert(rn == 16 && rc < 4, s"range scan opened $rc of $rn files")
    // predicate on an UNINDEXED column: everything reads (sound, visible)
    assert(spark.sql("SELECT count(*) FROM gskip.ranget WHERE grp = 3")
      .head.getLong(0) == base.filter(col("grp") === 3).count())
    assert(Snapshots.lastCatalogPruned.contains((16, 16)))
    // no filters at all: the hook reports no prune happened
    assert(spark.sql("SELECT count(*) FROM gskip.ranget").head.getLong(0)
      == 16000L)
    assert(Snapshots.lastCatalogPruned.isEmpty)
    // a selection the stats rule out ENTIRELY still answers (empty)
    assert(spark.sql("SELECT count(*) FROM gskip.ranget WHERE id > 900000")
      .head.getLong(0) == 0L)
    assert(Snapshots.lastCatalogPruned.exists(_._1 == 0))

    // HASH-distributed table + per-file Bloom: point/IN probes must skip
    // where stats cannot (every file's [min,max] spans the key space)
    val bt = root + "/bloomt"
    Snapshots.commitAppend(spark, base.repartition(16, col("id")), bt)
    Snapshots.extendBloom(spark, bt, "id")
    val one = spark.sql("SELECT id, grp FROM gskip.bloomt WHERE id = 7")
      .collect()
    assert(one.map(_.getLong(0)).toSeq == Seq(7L))
    val (bc, bn) = Snapshots.lastCatalogPruned.get
    assert(bn == 16 && bc < bn, s"point lookup opened $bc of $bn files")
    assert(spark.sql(
      "SELECT count(*) FROM gskip.bloomt WHERE id IN (7, 8888, 15999)")
      .head.getLong(0) == 3L)
    assert(Snapshots.lastCatalogPruned.exists(p => p._1 < p._2))
    // an absent key prunes everything and still answers zero rows
    assert(spark.sql("SELECT count(*) FROM gskip.bloomt WHERE id = -5")
      .head.getLong(0) == 0L)

    // filters STILL push into the parquet scan (row-group skipping and
    // post-scan re-application stay Spark's own)
    val plan = spark.sql("SELECT id FROM gskip.bloomt WHERE id = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,7"),
      s"filter not pushed through the pruning builder:\n${plan.take(800)}")

    // pruning composes with snapshot semantics: a pinned version stays
    // prunable and correct after later commits moved the head
    Snapshots.commitAppend(spark, spark.range(20000, 20500).toDF("id")
      .withColumn("grp", (col("id") % 7).cast("int")), bt)
    Snapshots.extendBloom(spark, bt, "id")
    assert(spark.sql(
      "SELECT count(*) FROM gskip.bloomt VERSION AS OF 1 WHERE id = 20007")
      .head.getLong(0) == 0L, "pinned v1 must not see the later append")
    assert(spark.sql("SELECT count(*) FROM gskip.bloomt WHERE id = 20007")
      .head.getLong(0) == 1L)
    assert(Snapshots.lastCatalogPruned.exists(p => p._1 < p._2))
  }

  test("aggregate pushdown translates through column mapping: footer stats answer MIN/MAX/COUNT on renamed columns") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_snapcat_agg").toString
    spark.conf.set("spark.sql.catalog.gagg",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gagg.root", root)
    val t = root + "/t"
    Snapshots.commitAppend(spark, spark.range(0, 16000).toDF("id")
      .withColumn("g", (col("id") % 4).cast("int")), t)
    spark.sql(s"ALTER TABLE '$t' RENAME COLUMN id TO key").collect()
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.sql(
        "SELECT min(key) AS lo, max(key) AS hi, count(*) AS n FROM gagg.t")
      val r = agg.head
      assert(r.getLong(0) == 0L && r.getLong(1) == 15999L &&
        r.getLong(2) == 16000L,
        s"agg under rename answered wrong: $r")
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [MIN(") &&
        plan.contains("COUNT(*)"),
        s"aggregate not pushed under column mapping:\n${plan.take(1500)}")
      // group-by aggregates stay correct (parquet only pushes group-bys
      // on Hive partition columns, which this layout doesn't expose —
      // the translated refusal must not corrupt the post-scan path)
      val g = spark.sql(
        "SELECT g, min(key) AS lo FROM gagg.t GROUP BY g ORDER BY g")
      assert(g.collect().map(r0 => (r0.getInt(0), r0.getLong(1))).toSeq ==
        Seq((0, 0L), (1, 1L), (2, 2L), (3, 3L)))
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  test("stock Spark ALTER TABLE syntax maps onto the protocol's evolution commits") {
    val root = Files.createTempDirectory("graft_snapcat_alter").toString
    spark.conf.set("spark.sql.catalog.galt",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.galt.root", root)
    val t = root + "/t"
    spark.sql("CREATE TABLE galt.t (id INT, v STRING)")
    spark.sql("INSERT INTO galt.t VALUES (1, 'a'), (2, 'b')")
    // RENAME COLUMN → column mapping (values survive, never all-NULL)
    spark.sql("ALTER TABLE galt.t RENAME COLUMN v TO label")
    assert(spark.sql("SELECT label FROM galt.t WHERE id = 1")
      .head.getString(0) == "a")
    // ADD COLUMN with DEFAULT → declared-schema append; landed files
    // serve the folded default with zero rewrites
    spark.sql("ALTER TABLE galt.t ADD COLUMN bonus DOUBLE DEFAULT 1.5")
    assert(spark.sql("SELECT bonus FROM galt.t WHERE id = 2")
      .head.getDouble(0) == 1.5)
    // widen INT → BIGINT (safe upcast, metadata-only)
    spark.sql("ALTER TABLE galt.t ALTER COLUMN id TYPE BIGINT")
    assert(spark.sql("SELECT id FROM galt.t WHERE label = 'a'")
      .head.getLong(0) == 1L)
    // SET DEFAULT governs future writes; DROP DEFAULT reverts to NULL
    spark.sql("ALTER TABLE galt.t ALTER COLUMN bonus SET DEFAULT 9.0")
    spark.sql("INSERT INTO galt.t (id, label) VALUES (3, 'c')")
    assert(spark.sql("SELECT bonus FROM galt.t WHERE id = 3")
      .head.getDouble(0) == 9.0)
    spark.sql("ALTER TABLE galt.t ALTER COLUMN bonus DROP DEFAULT")
    spark.sql("INSERT INTO galt.t (id, label) VALUES (4, 'd')")
    assert(spark.sql("SELECT bonus FROM galt.t WHERE id = 4").head.isNullAt(0))
    // pre-drop-default rows keep serving their file-level default
    assert(spark.sql("SELECT bonus FROM galt.t WHERE id = 2")
      .head.getDouble(0) == 1.5)
    // DROP COLUMN → dropped-name ledger. label is a RENAME of v, so the
    // ledger records the PHYSICAL name: re-adding `v` refuses while
    // pre-drop files are carried (name-based parquet resolution would
    // resurrect the old values); the logical `label` is free to reuse
    spark.sql("ALTER TABLE galt.t DROP COLUMN label")
    assert(!spark.sql("SELECT * FROM galt.t").columns.contains("label"))
    intercept[Exception] {
      spark.sql("ALTER TABLE galt.t ADD COLUMN v STRING") }
    // unsupported shapes refuse loudly, never silently no-op
    intercept[Exception] {
      spark.sql("ALTER TABLE galt.t ALTER COLUMN id COMMENT 'x'") }
    assert(Snapshots.currentVersion(spark, t) >= 8L)
  }

  test("runtime join-key file skipping: a broadcast dim's key set re-prunes the fact scan") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_snapcat_rt").toString
    spark.conf.set("spark.sql.catalog.grt",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.grt.root", root)
    // fact: 16 range-clustered files, stats + Bloom on the join key —
    // NO literal fact predicate anywhere in the query below
    val ft = root + "/fact"
    Snapshots.commitAppend(spark, spark.range(0, 16000).toDF("k")
      .withColumn("v", col("k") * 3)
      .repartitionByRange(16, col("k")), ft)
    Snapshots.extendStats(spark, ft, Seq("k"))
    Snapshots.extendBloom(spark, ft, "k")
    // dim: tiny, selective filter → broadcast side of the join
    spark.range(0, 16000, 1000).toDF("k")
      .withColumn("seg", (col("k") / 1000 % 4).cast("int"))
      .createOrReplaceTempView("grt_dim")
    Snapshots.lastRuntimePruned = None
    val got = spark.sql(
      """SELECT f.k, f.v FROM grt.fact f
        |JOIN grt_dim d ON f.k = d.k
        |WHERE d.seg = 1""".stripMargin).collect()
    assert(got.map(_.getLong(0)).toSet ==
      Set(1000L, 5000L, 9000L, 13000L) &&
      got.forall(r => r.getLong(1) == r.getLong(0) * 3))
    val (rk, rn) = Snapshots.lastRuntimePruned.getOrElse(
      fail("runtime filter never reached the catalog scan"))
    assert(rk < rn && rk <= 4,
      s"broadcast key set opened $rk of $rn fact files — no runtime skip")
    // the executed plan carries the runtime filter on the fact scan
    val plan = spark.sql(
      """SELECT f.k FROM grt.fact f JOIN grt_dim d ON f.k = d.k
        |WHERE d.seg = 1""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("RuntimeFilters"),
      s"no runtime filter in plan:\n${plan.take(1200)}")
  }

  test("RENAME COLUMN: SQL verb + catalog reads serve logical names over physical files") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_snapcat_ren").toString
    spark.conf.set("spark.sql.catalog.gren",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gren.root", root)
    val t = root + "/t"
    Snapshots.commitAppend(spark, spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id").cast("string")), t)
    spark.sql(s"ALTER TABLE '$t' RENAME COLUMN v TO label")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    // the catalog serves the LOGICAL name with the original values — a
    // naive declared-schema scan would read the renamed column all-NULL
    assert(spark.sql("SELECT label FROM gren.t WHERE id = 7")
      .head.getString(0) == "7")
    assert(spark.sql("SELECT count(*) FROM gren.t WHERE label IS NULL")
      .head.getLong(0) == 0L)
    // filtering ON the renamed column re-applies post-scan (correct,
    // just unpushed); pinned pre-rename versions serve their own names
    assert(spark.sql("SELECT id FROM gren.t WHERE label = '42'")
      .head.getLong(0) == 42L)
    assert(spark.sql("SELECT v FROM gren.t VERSION AS OF 1 WHERE id = 7")
      .head.getString(0) == "7")
    // the identifier spelling commits through the same alterTable
    spark.sql("ALTER TABLE gren.t RENAME COLUMN label TO tag")
    assert(Snapshots.currentVersion(spark, t) == 3L)
    // SQL INSERT ingests under the new name; reads stay non-NULL
    spark.sql("INSERT INTO gren.t SELECT 5000 AS id, 'x' AS tag")
    assert(spark.sql("SELECT tag FROM gren.t WHERE id = 5000")
      .head.getString(0) == "x")
    assert(spark.sql("SELECT count(*) FROM gren.t WHERE tag IS NULL")
      .head.getLong(0) == 0L)
    // sidecar file-skipping composes with the mapping: a stats index
    // requested under the LOGICAL name prunes catalog-SQL range reads
    Snapshots.commitOverwrite(spark, spark.range(0, 16000).toDF("id")
      .withColumn("v", col("id").cast("string")), t) // overwrite resets
    spark.sql(s"ALTER TABLE '$t' RENAME COLUMN id TO ident").collect()
    Snapshots.commitOverwrite(spark, spark.range(0, 16000).toDF("ident")
      .withColumn("v", col("ident").cast("string"))
      .repartitionByRange(16, col("ident")), t)
    spark.sql(s"ALTER TABLE '$t' RENAME COLUMN ident TO key").collect()
    Snapshots.extendStats(spark, t, Seq("key"))
    assert(spark.sql("SELECT count(*) FROM gren.t WHERE key < 1000")
      .head.getLong(0) == 1000L)
    val (kc, kn) = Snapshots.lastCatalogPruned.get
    assert(kn == 16 && kc < 4, s"range scan on renamed col opened $kc/$kn")
  }

  test("PARTITIONED BY through the catalog: dir-level skipping in plain SQL, pinned versions prune") {
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    val root = Files.createTempDirectory("graft_snapcat_part").toString
    spark.conf.set("spark.sql.catalog.gpart",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpart.root", root)
    // CREATE TABLE ... PARTITIONED BY (days(d)) declares the transform
    spark.sql("CREATE TABLE gpart.t (id BIGINT, d DATE) " +
      "PARTITIONED BY (days(d))")
    val t = root + "/t"
    assert(Snapshots.partitionAt(spark, t,
      Snapshots.currentVersion(spark, t)).contains(("d", "date")))
    val rows = spark.range(0, 1600).toDF("id")
      .withColumn("d", date_add(to_date(lit("2024-03-01")),
        (col("id") % 8).cast("int")))
    rows.createOrReplaceTempView("gpart_src")
    spark.sql("INSERT INTO gpart.t SELECT id, d FROM gpart_src")
    // plain catalog SQL on the partition column opens 1 partition of 8
    assert(spark.sql(
      "SELECT count(*) FROM gpart.t WHERE d = DATE '2024-03-05'")
      .head.getLong(0) == 200L)
    val (pc, pn) = Snapshots.lastCatalogPruned.get
    assert(pc < pn && pc <= pn / 4,
      s"partition predicate opened $pc of $pn files")
    // range + IN shapes prune too
    assert(spark.sql(
      "SELECT count(*) FROM gpart.t WHERE d >= DATE '2024-03-07'")
      .head.getLong(0) == 400L)
    assert(Snapshots.lastCatalogPruned.exists(p => p._1 < p._2))
    assert(spark.sql("SELECT count(*) FROM gpart.t " +
      "WHERE d IN (DATE '2024-03-02', DATE '2024-03-03')")
      .head.getLong(0) == 400L)
    assert(Snapshots.lastCatalogPruned.exists(p => p._1 < p._2))
    // a PINNED version prunes like the head (the VERDICT's 1-of-N proof
    // at a version): append more, pin v2 (CREATE is ONE atomic commit —
    // schema + transform together — so the first INSERT is v2), prune
    // still bites
    assert(Snapshots.currentVersion(spark, t) == 2L,
      "CREATE TABLE ... PARTITIONED BY must be ONE commit")
    spark.sql("INSERT INTO gpart.t SELECT id + 10000, d FROM gpart_src")
    assert(spark.sql("SELECT count(*) FROM gpart.t VERSION AS OF 2 " +
      "WHERE d = DATE '2024-03-05'").head.getLong(0) == 200L)
    assert(Snapshots.lastCatalogPruned.exists(p => p._1 < p._2))
    // unsupported transforms refuse loudly (bucket is supported now —
    // see the SPJ tests; years/hours still refuse)
    intercept[Exception] {
      spark.sql("CREATE TABLE gpart.t2 (id BIGINT, d DATE) " +
        "PARTITIONED BY (years(d))")
    }
  }

  test("TIMESTAMP AS OF survives a table copy: #ts headers, not mtimes, are the clock") {
    val root = Files.createTempDirectory("graft_snapcat_ts").toString
    val t = root + "/ts_t"
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    Thread.sleep(1100)
    val cut = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1100)
    Snapshots.commitAppend(spark, Seq((2L, "b")).toDF("id", "v"), t)
    val instants = Snapshots.history(spark, t).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(instants(1L) < cut.getTime && instants(2L) > cut.getTime)
    // copy the whole table tree and RESET every mtime — the table-copy /
    // object-store-migration case where the old clock (claim-file mtime)
    // lies: every copied manifest now "committed" right now
    val root2 = Files.createTempDirectory("graft_snapcat_ts2").toString
    val src = java.nio.file.Paths.get(t)
    val dst = java.nio.file.Paths.get(root2 + "/ts_t")
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else {
        java.nio.file.Files.copy(p, q)
        q.toFile.setLastModified(System.currentTimeMillis())
      }
    }
    spark.conf.set("spark.sql.catalog.gts",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gts.root", root2)
    assert(spark.sql(s"SELECT id FROM gts.ts_t TIMESTAMP AS OF '$cut'")
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "the recorded #ts instant, not the copy's mtime, must resolve")
    // history on the copy reports the ORIGINAL commit instants
    val copied = Snapshots.history(spark, dst.toString).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(copied == instants, s"history drifted: $copied vs $instants")
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answered from the stats sidecar, zero files opened") {
    val root = Files.createTempDirectory("graft_snapcat_magg").toString
    val t = root + "/t"
    val df = (1 to 500).map(i =>
        (i.toLong, s"s${i % 7}", java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(i % 90)),
          java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${i % 60}")))
      .toDF("k", "s", "d", "ts").repartition(6)
    Snapshots.commitAppend(spark, df, t)
    Snapshots.extendStats(spark, t, Seq("k", "s", "d"))
    spark.conf.set("spark.sql.catalog.gma",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gma.root", root)
    val q = spark.sql(
      """SELECT count(*) AS n, min(k) AS min_k, max(k) AS max_k,
        |       min(s) AS min_s, max(s) AS max_s,
        |       min(d) AS min_d, max(d) AS max_d
        |FROM gma.t""".stripMargin)
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getString(4), r.getDate(5).toString, r.getDate(6).toString) ==
      ((500L, 1L, 500L, "s0", "s6", "2024-01-01", "2024-03-30")))
    assert(Snapshots.lastAggAnswered.contains(7),
      s"stats sidecar must answer all 7 aggs, got " +
        s"${Snapshots.lastAggAnswered}")
    assert(q.queryExecution.executedPlan.toString
      .contains("GraftStatsAggScan"),
      "the plan must carry the zero-IO scan, not a parquet scan")

    // a WHERE clause opts out (whole-file stats can't answer filtered
    // aggregates) — correct rows via the normal path
    val f = spark.sql("SELECT count(*) FROM gma.t WHERE k <= 10")
    assert(f.head.getLong(0) == 10L)
    assert(Snapshots.lastAggAnswered.isEmpty)

    // a timestamp MIN refuses (lossy sidecar rendering) — normal path
    val ts = spark.sql("SELECT min(ts) AS m FROM gma.t")
    assert(ts.head.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(Snapshots.lastAggAnswered.isEmpty)

    // an append the sidecar does not cover yet breaks coverage: the
    // metadata path refuses rather than undercounting
    Snapshots.commitAppend(spark,
      Seq((1000L, "zz", java.sql.Date.valueOf("2025-01-01"),
        java.sql.Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("k", "s", "d", "ts"), t)
    val q2 = spark.sql("SELECT count(*) AS n, max(k) AS mk FROM gma.t")
    assert(q2.head.getLong(0) == 501L && q2.head.getLong(1) == 1000L)
    assert(Snapshots.lastAggAnswered.isEmpty,
      "uncovered entries must refuse the metadata answer")
    // ...and re-extending the stats restores it
    Snapshots.extendStats(spark, t, Seq("k", "s", "d"))
    val q3 = spark.sql("SELECT count(*) AS n, max(k) AS mk FROM gma.t")
    assert(q3.head.getLong(0) == 501L && q3.head.getLong(1) == 1000L)
    assert(Snapshots.lastAggAnswered.contains(2))

    // time travel answers from the SAME sidecar, per-version entry list
    val v1 = spark.sql(
      "SELECT count(*) AS n, max(k) AS mk FROM gma.t VERSION AS OF 1")
    assert(v1.head.getLong(0) == 500L && v1.head.getLong(1) == 500L)
    assert(Snapshots.lastAggAnswered.contains(2))

    // the scan reports the EXACT row count to the planner from the
    // same per-file __count — join strategy and AQE run on real
    // cardinality, not a bytes-only guess
    import org.apache.spark.sql.connector.catalog.{Identifier,
      SupportsRead, TableCatalog}
    val scan = spark.sessionState.catalogManager.catalog("gma")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array.empty, "t"))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build()
    val st = scan.asInstanceOf[
        org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(st.numRows().isPresent && st.numRows().getAsLong == 501L,
      s"exact numRows expected, got ${st.numRows()}")
    assert(st.sizeInBytes().isPresent && st.sizeInBytes().getAsLong > 0L)
  }

  test("SupportsReportPartitioning: group-by on the identity partition column plans NO Exchange") {
    val root = Files.createTempDirectory("graft_snapcat_kg").toString
    spark.conf.set("spark.sql.catalog.gkg",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gkg.root", root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // values exercise the ESCAPED-dir path (':' percent-escapes) and
      // a NULL partition row (the sentinel dir must key as null)
      spark.sql(
        "CREATE TABLE gkg.t (id BIGINT, cat STRING) PARTITIONED BY (cat)")
      Seq.tabulate(400)(i =>
          (i.toLong, if (i % 5 == 4) null else s"c:${i % 5}"))
        .toDF("id", "cat")
        .createOrReplaceTempView("gkg_src")
      spark.sql("INSERT INTO gkg.t SELECT id, cat FROM gkg_src")
      spark.sql("INSERT INTO gkg.t SELECT id + 1000, cat FROM gkg_src")

      val agg = spark.sql(
        "SELECT cat, count(*) AS n FROM gkg.t GROUP BY cat")
      val rows = agg.collect().map(r => Option(r.getString(0)) ->
        r.getLong(1)).toMap
      assert(rows == Map(Some("c:0") -> 160L, Some("c:1") -> 160L,
        Some("c:2") -> 160L, Some("c:3") -> 160L, None -> 160L))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"group-by on the partition column must not shuffle:\n" +
          plan.take(2000))

      // a NON-partition group-by on the same table still shuffles (the
      // report must not lie about clustering it doesn't have)
      val other = spark.sql(
        "SELECT id % 3 AS g, count(*) AS n FROM gkg.t GROUP BY id % 3")
      other.collect()
      assert(other.queryExecution.executedPlan.toString
        .contains("Exchange"))

      // a table with FLAT pre-transform entries is ineligible: unknown
      // keys must never report a partitioning (results stay correct,
      // the plan just shuffles)
      val t2 = root + "/flatfirst"
      Snapshots.commitAppend(spark,
        Seq((1L, "a"), (2L, "b")).toDF("id", "cat"), t2)
      Snapshots.commitSetPartition(spark, t2, "cat", "identity")
      Snapshots.commitAppend(spark,
        Seq((3L, "a"), (4L, "c")).toDF("id", "cat"), t2)
      val mixed = spark.sql(
        "SELECT cat, count(*) AS n FROM gkg.flatfirst GROUP BY cat")
      assert(mixed.collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
      assert(mixed.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "flat entries have unknown keys — the scan must not report")

      // storage-partitioned self-join on the partition key: both sides
      // report the same key groups — ZERO Exchange of any kind once
      // broadcast is off (the SPJ zips the key-aligned partitions)
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val spj = spark.sql(
        """SELECT a.cat, count(*) AS pairs
          |FROM (SELECT cat, count(*) AS n FROM gkg.t GROUP BY cat) a
          |JOIN (SELECT cat, count(*) AS n FROM gkg.t GROUP BY cat) b
          |  ON a.cat = b.cat
          |GROUP BY a.cat""".stripMargin)
      val spjRows = spj.collect()
      assert(spjRows.length == 4 && spjRows.forall(_.getLong(1) == 1L))
      assert(!spj.queryExecution.executedPlan.toString.contains("Exchange"),
        "equi-join of two key-grouped aggregates must not shuffle:\n" +
          spj.queryExecution.executedPlan.toString.take(2000))

      // a date transform on a DATE column is value-preserving (cast
      // date→date = identity): the canonical daily-partitioned fact
      // table groups by its date column Exchange-free too
      val td = root + "/daily"
      val daily = spark.range(0, 300).toDF("id")
        .selectExpr("id", "date_add(DATE '2024-06-01', " +
          "CAST(id % 6 AS INT)) AS d")
      Snapshots.commitCreate(spark, td, daily.schema,
        Seq(("d", "date")))
      Snapshots.commitAppend(spark, daily, td)
      val dAgg = spark.sql(
        "SELECT d, count(*) AS n FROM gkg.daily GROUP BY d")
      assert(dAgg.collect().map(_.getLong(1)).toSeq == Seq.fill(6)(50L))
      assert(!dAgg.queryExecution.executedPlan.toString.contains("Exchange"),
        "date-typed daily partitions must group Exchange-free:\n" +
          dAgg.queryExecution.executedPlan.toString.take(2000))
      // ...while a date transform on a TIMESTAMP column truncates —
      // coarser than the column — and must NOT report (correct rows,
      // shuffled plan)
      val tt = root + "/ts"
      val tsRows = spark.range(0, 100).toDF("id")
        .selectExpr("id", "timestamp_seconds(1700000000 + id * 7200) AS t")
      Snapshots.commitCreate(spark, tt, tsRows.schema, Seq(("t", "date")))
      Snapshots.commitAppend(spark, tsRows, tt)
      val tAgg = spark.sql(
        "SELECT t, count(*) AS n FROM gkg.ts GROUP BY t")
      assert(tAgg.collect().map(_.getLong(1)).sum == 100L)
      assert(tAgg.queryExecution.executedPlan.toString.contains("Exchange"),
        "timestamp dirs truncate — the scan must not claim clustering")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bucket(N, col): storage-partitioned join plans NO Exchange; point probes prune to the bucket dir") {
    val root = Files.createTempDirectory("graft_snapcat_spj").toString
    spark.conf.set("spark.sql.catalog.gspj",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspj.root", root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE TABLE gspj.fact (k BIGINT, v DOUBLE) " +
        "PARTITIONED BY (bucket(8, k))")
      spark.sql("CREATE TABLE gspj.dim (k BIGINT, name STRING) " +
        "PARTITIONED BY (bucket(8, k))")
      ((1 to 400).map(i => (java.lang.Long.valueOf((i % 50).toLong),
          i * 1.0)) :+ ((null.asInstanceOf[java.lang.Long], -1.0)))
        .toDF("k", "v").createOrReplaceTempView("spj_f")
      (0 to 49).map(i => (i.toLong, s"n$i")).toDF("k", "name")
        .createOrReplaceTempView("spj_d")
      spark.sql("INSERT INTO gspj.fact SELECT * FROM spj_f")
      spark.sql("INSERT INTO gspj.dim SELECT * FROM spj_d")

      // the canonical co-located fact-dim join: both sides bucketed
      // bucket(8, k), joined on k — storage-partitioned join, NO
      // Exchange on either side (the null-k fact row drops out of the
      // inner join but must not break the key-grouped report)
      val j = spark.sql(
        """SELECT f.k, f.v, d.name
          |FROM gspj.fact f JOIN gspj.dim d ON f.k = d.k""".stripMargin)
      assert(j.count() == 400L)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(3000)}")

      // group-by on the bucket column rides the same clustering
      val g = spark.sql(
        "SELECT k, count(*) AS n FROM gspj.fact GROUP BY k")
      assert(g.collect().length == 51) // 50 keys + the null group
      assert(!g.queryExecution.executedPlan.toString.contains("Exchange"))

      // point probe prunes to the key's bucket dir (no stats index —
      // the DIRECTORY leg alone must skip)
      val p = spark.sql("SELECT k, v FROM gspj.fact WHERE k = 7")
      assert(p.count() == 8L)
      val (pk, pn) = Snapshots.lastCatalogPruned.getOrElse(
        fail("catalog scan never consulted the partition leg"))
      assert(pk < pn, s"bucket point probe opened $pk of $pn files")

      // IN probes prune to the probed buckets; RANGE predicates must
      // NOT prune (hash ids carry no order) — rows prove both
      assert(spark.sql(
        "SELECT k FROM gspj.fact WHERE k IN (3, 9)").count() == 16L)
      assert(spark.sql(
        "SELECT k FROM gspj.fact WHERE k >= 48").count() == 16L)
      val (rk, rn) = Snapshots.lastCatalogPruned.get
      assert(rk == rn, s"a range predicate over hash buckets pruned " +
        s"$rk of $rn — unsound")

      // the V2 bucket function agrees with the writer's dirs: every
      // dir value equals the bound function of a row it holds
      val fn = graft.sources.SnapshotCatalog.BoundBucket(
        org.apache.spark.sql.types.LongType)
      val byBucket = spark.sql("SELECT k FROM gspj.fact").collect()
        .filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct
        .groupBy(k => fn.produceResult(
          org.apache.spark.sql.catalyst.InternalRow(8, k)).intValue())
      val dirs = new java.io.File(s"$root/fact/data").listFiles()
        .filter(_.getName.startsWith("__gp=")).map(_.getName).sorted
      assert(dirs.nonEmpty &&
        dirs.map(_.stripPrefix("__gp=").toInt).toSet ==
          byBucket.keySet.union(Set(fn.produceResult(
            org.apache.spark.sql.catalyst.InternalRow(8, null))
            .intValue())),
        s"dirs $dirs vs computed buckets ${byBucket.keySet}")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bucket probes are type-strict: a probe class mismatching the column type never prunes") {
    val root = Files.createTempDirectory("graft_snapcat_bts").toString
    val t = root + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    Snapshots.commitCreate(spark, t, schema, Seq(("k", "bucket4")))
    Snapshots.commitAppend(spark,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t)
    val entries = Snapshots.filesAt(spark, t,
      Snapshots.currentVersion(spark, t))
    assert(entries.forall(_.startsWith("__gp=")))
    import org.apache.spark.sql.sources.EqualTo
    // an Integer probe on the LongType column hashes through hashInt,
    // not the hashLong the dirs were routed with — it must keep ALL
    // files, never hash into the wrong bucket
    val keptInt = Snapshots.pruneFilesByFilters(spark, t, entries,
      Some(schema), Seq(EqualTo("k", 7: Int)), Map.empty,
      Seq(("k", "bucket4")))
    assert(keptInt == entries,
      s"mismatched probe class pruned ${keptInt.size} of " +
        s"${entries.size} — unsound")
    // the correctly-typed probe prunes to the key's bucket
    val keptLong = Snapshots.pruneFilesByFilters(spark, t, entries,
      Some(schema), Seq(EqualTo("k", 7L)), Map.empty,
      Seq(("k", "bucket4")))
    assert(keptLong.size < entries.size && keptLong.nonEmpty)
  }

  test("shuffle-one-side SPJ: a plain frame joins a bucketed table shuffling ONLY the plain side") {
    val root = Files.createTempDirectory("graft_snapcat_spj1").toString
    spark.conf.set("spark.sql.catalog.gsp1",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp1.root", root)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE TABLE gsp1.fact (k BIGINT, v DOUBLE) " +
        "PARTITIONED BY (bucket(8, k))")
      (1 to 300).map(i => ((i % 40).toLong, i * 1.0)).toDF("k", "v")
        .createOrReplaceTempView("sp1_f")
      spark.sql("INSERT INTO gsp1.fact SELECT * FROM sp1_f")
      // the dim stays a PLAIN parquet view: no bucket layout at all
      (0 to 39).map(i => (i.toLong, s"n$i")).toDF("k", "name")
        .coalesce(2).write.parquet(root + "/plain_dim")
      spark.read.parquet(root + "/plain_dim")
        .createOrReplaceTempView("sp1_d")
      val j = spark.sql(
        """SELECT f.k, f.v, d.name
          |FROM gsp1.fact f JOIN sp1_d d ON f.k = d.k""".stripMargin)
      assert(j.count() == 300L)
      val plan = j.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"expected ONE Exchange (the plain side re-bucketed through " +
          s"the V2 bucket function), got $exchanges:\n${plan.take(3000)}")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("SET PARTITION (bucket(N, col)) SQL verb: future commits route to bucket dirs, composite stays paren-aware") {
    val root = Files.createTempDirectory("graft_snapcat_bsql").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t)
    val r = spark.sql(s"ALTER TABLE '$t' SET PARTITION (bucket(4, k))")
      .collect()(0)
    assert(r.getString(1) == "bucket4(k)")
    Snapshots.commitAppend(spark,
      (101 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t)
    val files = Snapshots.filesAt(spark, t,
      Snapshots.currentVersion(spark, t))
    assert(files.exists(_.startsWith("__gp=")) &&
      files.exists(!_.startsWith("__gp=")),
      s"post-declaration files must carry bucket dirs: $files")
    assert(Snapshots.read(spark, t).count() == 200L)
    // pre-transform flat files always read: a point probe still
    // returns rows that live flat
    assert(Snapshots.read(spark, t).where("k = 5").count() == 1L)

    // composite with a bucket item: the body splitter must not break
    // at the bucket arity comma
    val t2 = root + "/t2"
    Snapshots.commitAppend(spark,
      Seq((1L, "a", java.sql.Date.valueOf("2024-01-02")))
        .toDF("k", "s", "d"), t2)
    val r2 = spark.sql(
      s"ALTER TABLE '$t2' SET PARTITION (bucket(8, k), date(d))")
      .collect()(0)
    assert(r2.getString(1) == "bucket8(k)/date(d)")
    Snapshots.commitAppend(spark,
      Seq((2L, "b", java.sql.Date.valueOf("2024-01-03")))
        .toDF("k", "s", "d"), t2)
    val f2 = Snapshots.filesAt(spark, t2,
      Snapshots.currentVersion(spark, t2))
    assert(f2.exists(e => e.contains("__gp=") && e.contains("__gp2=")),
      s"composite bucket+date dirs expected: $f2")

    // EXPIRE PARTITIONS keys on the date level, never the bucket ids
    val (_, dropped) = Snapshots.commitExpirePartitions(spark, t2,
      java.sql.Date.valueOf("2024-01-03"))
    assert(dropped == 0, "the 2024-01-03 partition is not older than " +
      "the cutoff; bucket ids must never expire")
  }

  test("LIMIT pushdown truncates the file list from sidecar counts; filters and small tables opt out") {
    val root = Files.createTempDirectory("graft_snapcat_lim").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(10), t)
    Snapshots.extendStats(spark, t, Seq("k"))
    spark.conf.set("spark.sql.catalog.glim",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.glim.root", root)

    // 250 rows need 2 of the 10 ~200-row files
    val q = spark.sql("SELECT * FROM glim.t LIMIT 250")
    assert(q.count() == 250L)
    val (kept, total) = Snapshots.lastLimitPruned.getOrElse(
      fail("limit never truncated the file list"))
    assert(total == 10 && kept < 10 && kept >= 2,
      s"expected a short prefix, got $kept of $total")

    // a limit the whole table cannot fill keeps every file
    assert(spark.sql("SELECT * FROM glim.t LIMIT 99999").count() == 2000L)
    assert(Snapshots.lastLimitPruned.isEmpty)

    // a pushed filter opts out: whole-file counts say nothing about
    // how many MATCHING rows a prefix holds
    val f = spark.sql("SELECT * FROM glim.t WHERE k > 1990 LIMIT 5")
    assert(f.count() == 5L)
    assert(Snapshots.lastLimitPruned.isEmpty,
      "a filtered limit must not truncate the file list")

    // an append the sidecar does not cover yet refuses (no counts)
    Snapshots.commitAppend(spark, Seq((9999L, "x")).toDF("k", "v"), t)
    assert(spark.sql("SELECT * FROM glim.t LIMIT 10").count() == 10L)
    assert(Snapshots.lastLimitPruned.isEmpty)
  }

  test("TopN pushdown prunes outranked files: ASC/DESC, null ordering, strings, ties stay sound") {
    val root = Files.createTempDirectory("graft_snapcat_topn").toString
    val t = root + "/t"
    // range-clustered longs 1..1000 across 10 files, plus 7 NULL keys
    // (range partitioning sorts nulls first) and a string column whose
    // order disagrees with the long order
    val base = (1 to 1000).map(i =>
      (java.lang.Long.valueOf(i.toLong), f"s${1000 - i}%04d")) ++
      (1 to 7).map(i => (null.asInstanceOf[java.lang.Long], s"n$i"))
    Snapshots.commitAppend(spark,
      base.toDF("k", "s").repartitionByRange(10, $"k"), t)
    Snapshots.extendStats(spark, t, Seq("k", "s"))
    spark.conf.set("spark.sql.catalog.gtopn",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtopn.root", root)

    // DESC (default NULLS LAST): only the tail file(s) can hold 1000..996
    val d = spark.sql(
      "SELECT k FROM gtopn.t ORDER BY k DESC LIMIT 5")
    assert(d.collect().map(_.getLong(0)).toSeq ==
      Seq(1000L, 999L, 998L, 997L, 996L))
    val (dk, dn) = Snapshots.lastTopNPruned.getOrElse(
      fail("DESC topN never pruned"))
    assert(dn == 10 && dk <= 2, s"DESC kept $dk of $dn")

    // ASC (default NULLS FIRST): the 7 nulls rank first, then 1..3 —
    // every file holding nulls must survive alongside the low file
    val a = spark.sql("SELECT k FROM gtopn.t ORDER BY k LIMIT 10")
    val got = a.collect().map(r => if (r.isNullAt(0)) None else
      Some(r.getLong(0))).toSeq
    assert(got.take(7).forall(_.isEmpty) &&
      got.drop(7) == Seq(Some(1L), Some(2L), Some(3L)))
    val (ak, an) = Snapshots.lastTopNPruned.getOrElse(
      fail("ASC topN never pruned"))
    assert(an == 10 && ak < 10, s"ASC kept $ak of $an")

    // ASC NULLS LAST: nulls outranked by 1..10 — the null file is
    // prunable and nulls never surface
    val anl = spark.sql(
      "SELECT k FROM gtopn.t ORDER BY k ASC NULLS LAST LIMIT 10")
    assert(anl.collect().map(_.getLong(0)).toSeq == (1L to 10L))

    // string column: UTF8 order — "n*" (the null-k file) sorts before
    // every "s*", so the prune must keep that file; rows come back exact
    val s = spark.sql("SELECT s FROM gtopn.t ORDER BY s LIMIT 3")
    assert(s.collect().map(_.getString(0)).toSeq == Seq("n1", "n2", "n3"))

    // a sort EXPRESSION (not a bare column) opts out, rows stay exact
    val e = spark.sql(
      "SELECT k FROM gtopn.t ORDER BY k + 0 DESC LIMIT 3")
    assert(e.collect().map(_.getLong(0)).toSeq == Seq(1000L, 999L, 998L))

    // secondary sort keys ride along: pruning keys on the primary
    val m = spark.sql(
      "SELECT k, s FROM gtopn.t ORDER BY k DESC, s ASC LIMIT 3")
    assert(m.collect().map(_.getLong(0)).toSeq == Seq(1000L, 999L, 998L))
  }

  test("LIKE 'p%' prunes files through string stats as the [p, bumped-prefix) range") {
    val root = Files.createTempDirectory("graft_snapcat_pfx").toString
    val t = root + "/t"
    // prefix-clustered strings: aa000..zz999-ish via two leading chars
    val rows = for (c1 <- 'a' to 'j'; i <- 0 until 100)
      yield (s"$c1${('a' + i % 5).toChar}$i", i.toLong)
    Snapshots.commitAppend(spark,
      rows.toDF("s", "n").repartitionByRange(10, $"s"), t)
    Snapshots.extendStats(spark, t, Seq("s"))
    spark.conf.set("spark.sql.catalog.gpfx",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpfx.root", root)
    val q = spark.sql("SELECT s, n FROM gpfx.t WHERE s LIKE 'cb%'")
    assert(q.count() == 20L) // c1='c', second char 'b' → i%5==1
    val (pk, pn) = Snapshots.lastCatalogPruned.getOrElse(
      fail("prefix probe never consulted the sidecar"))
    assert(pn == 10 && pk <= 2,
      s"LIKE 'cb%' opened $pk of $pn range-clustered files")
    // boundary prefix at the top of the range still returns every row
    assert(spark.sql(
      "SELECT s FROM gpfx.t WHERE s LIKE 'j%'").count() == 100L)
  }

  test("optimized writes: spark.graft.optimizeWrite lands one file per partition dir per commit") {
    val root = Files.createTempDirectory("graft_snapcat_ow").toString
    def commitWide(t: String): Seq[String] = {
      Snapshots.commitCreate(spark, t,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("g",
            org.apache.spark.sql.types.StringType))),
        Seq(("g", "identity")))
      Snapshots.commitAppend(spark,
        (1 to 400).map(i => (i.toLong, s"g${i % 4}")).toDF("k", "g")
          .repartition(8), t) // 8 tasks × 4 dirs without the shuffle
      Snapshots.filesAt(spark, t, Snapshots.currentVersion(spark, t))
    }
    val loose = commitWide(root + "/loose")
    assert(loose.size > 4, s"expected tasks×dirs files, got $loose")
    spark.conf.set("spark.graft.optimizeWrite", "true")
    try {
      val tight = commitWide(root + "/tight")
      assert(tight.size == 4,
        s"optimized write must land one file per dir, got $tight")
      assert(Snapshots.read(spark, root + "/tight").count() == 400L)
    } finally spark.conf.unset("spark.graft.optimizeWrite")
  }

  test("COUNT(col) answers from the sidecar null counts, zero files opened") {
    val root = Files.createTempDirectory("graft_snapcat_ccol").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1 to 300).map(i => (i.toLong,
        if (i % 3 == 0) null else s"v$i")).toDF("k", "v")
        .repartition(5), t)
    Snapshots.extendStats(spark, t, Seq("k", "v"))
    spark.conf.set("spark.sql.catalog.gccol",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gccol.root", root)
    val q = spark.sql(
      "SELECT count(v) AS nv, count(k) AS nk, count(*) AS n FROM gccol.t")
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((200L, 300L, 300L)))
    assert(Snapshots.lastAggAnswered.contains(3),
      s"count(col) must answer from the sidecar, got " +
        s"${Snapshots.lastAggAnswered}")
    assert(q.queryExecution.executedPlan.toString
      .contains("GraftStatsAggScan"))
    // count(DISTINCT col) refuses the metadata path, stays correct
    val d = spark.sql("SELECT count(DISTINCT v) AS dv FROM gccol.t")
    assert(d.head.getLong(0) == 200L)
    assert(Snapshots.lastAggAnswered.isEmpty)
  }

  test("typed stats: timestamp, decimal and widened MIN/MAX answer from metadata; ORDER BY ts DESC LIMIT prunes") {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val root = Files.createTempDirectory("graft_snapcat_typed").toString
    val t = root + "/t"
    // instants with microsecond parts (a string or double bound would
    // round them) and decimals past the double's 2^53 exact range
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val rows = (1 to 600).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(i * 3600L)
        .plusNanos(i * 1000L)), BigDecimal(9007199254740993L + i, 2), i)
    }
    Snapshots.commitAppend(spark, rows.toDF("k", "ts", "amt", "n")
      .select(col("k"), col("ts"), col("amt").cast(DecimalType(20, 2))
        .as("amt"), col("n")).repartitionByRange(6, col("k")), t)
    Snapshots.extendStats(spark, t, Seq("ts", "amt", "n"))
    // stats written while n was int now serve the widened bigint column
    Snapshots.commitWidenColumn(spark, t, "n", LongType)
    spark.conf.set("spark.sql.catalog.gtyped",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtyped.root", root)
    val data = Snapshots.read(spark, t)

    // the A10 probe: MIN/MAX of the fact table's pickup timestamp
    val a10 = spark.sql("SELECT min(ts), max(ts) FROM gtyped.t")
    assert(a10.head == data.agg(min("ts"), max("ts")).head)
    assert(Snapshots.lastAggAnswered.contains(2),
      s"timestamp MIN/MAX must answer from the sidecar, got " +
        s"${Snapshots.lastAggAnswered}")
    assert(a10.queryExecution.executedPlan.toString
      .contains("GraftStatsAggScan"))

    val dec = spark.sql(
      "SELECT min(amt), max(amt), min(n), max(n), count(n) FROM gtyped.t")
    assert(dec.head == data.agg(min("amt"), max("amt"), min("n"), max("n"),
      org.apache.spark.sql.functions.count("n")).head)
    assert(dec.schema.map(_.dataType) ==
      Seq(DecimalType(20, 2), DecimalType(20, 2), LongType, LongType, LongType))
    assert(Snapshots.lastAggAnswered.contains(5),
      s"decimal and widened MIN/MAX must answer from the sidecar, got " +
        s"${Snapshots.lastAggAnswered}")

    // the latest k instants sit in the last file
    Snapshots.lastTopNPruned = None
    val top = spark.sql(
      "SELECT k, ts FROM gtyped.t ORDER BY ts DESC LIMIT 5")
    assert(top.collect().map(_.getLong(0)).toSeq == (600L to 596L by -1L))
    val (kept, total) = Snapshots.lastTopNPruned.getOrElse(
      fail("ORDER BY ts DESC LIMIT never pruned"))
    assert(total == 6 && kept == 1, s"TopN kept $kept of $total files")
  }

  test("metadata answers count live rows when the min and max rows are deleted by vector") {
    import org.apache.spark.sql.functions.{col, max, min}
    val root = Files.createTempDirectory("graft_snapcat_dv").toString
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdv.root", root)
    val t = root + "/t"
    Snapshots.commitAppend(spark, spark.range(0, 40).toDF("id")
      .withColumn("v", col("id") * 2).repartitionByRange(4, col("id")), t)
    Snapshots.extendStats(spark, t, Seq("id", "v"))
    // the table's min and max rows die by vector: no file is re-written,
    // so every sidecar row still counts and bounds them
    val (v, n) = Snapshots.commitDelete(spark, t, Seq(0L, 39L), "id")
    assert(n == 2L && Snapshots.filesAt(spark, t, v) ==
      Snapshots.filesAt(spark, t, v - 1))
    assert(Snapshots.deadRowsAt(spark, t, v).size == 2)
    val data = Snapshots.read(spark, t)
    def ids(q: String) = spark.sql(q).collect().map(_.getLong(0)).toSeq
    // COUNT(*) and COUNT(v) (null-free) answer from metadata, live rows only
    val counts = spark.sql("SELECT count(*), count(v) FROM gdv.t").head
    assert(Snapshots.lastAggAnswered.contains(2))
    assert(counts.getLong(0) == data.count() && counts.getLong(1) == 38L)
    // MIN/MAX refuse the metadata answer: a file's extreme row may be dead
    val mm = spark.sql("SELECT min(id), max(id) FROM gdv.t").head
    assert(Snapshots.lastAggAnswered.isEmpty)
    val want = data.agg(min("id"), max("id")).head
    assert((mm.getLong(0), mm.getLong(1)) == ((want.getLong(0), want.getLong(1))))
    assert((mm.getLong(0), mm.getLong(1)) == ((1L, 38L)))
    // ORDER BY ... LIMIT and LIMIT count each file's live rows: the first
    // file holds 9, so ten rows need the second file too
    val asc = data.orderBy("id").limit(10).collect().map(_.getLong(0)).toSeq
    assert(ids("SELECT id FROM gdv.t ORDER BY id LIMIT 10") == asc)
    assert(asc == (1L to 10L))
    val desc = data.orderBy(col("id").desc).limit(10).collect()
      .map(_.getLong(0)).toSeq
    assert(ids("SELECT id FROM gdv.t ORDER BY id DESC LIMIT 10") == desc)
    assert(desc == (29L to 38L).reverse)
    val limited = ids("SELECT id FROM gdv.t LIMIT 10")
    assert(limited.size == 10 && limited.forall(i => i != 0L && i != 39L))
  }
}
