package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.warehouse.Snapshots

/** Change-feed consumption over the snapshot commit protocol
  * (warehouse/Snapshots.scala) — the incremental-ETL surface a 100 TB
  * warehouse tails instead of re-scanning: append steps are served from
  * ONLY the step's added files (IO ∝ delta), and rewrite steps
  * (copy-on-write delete / merge / OPTIMIZE) get a row-exact feed whose
  * IO is proportional to the churned files, never the table
  * (Snapshots.incrementalRead / Snapshots.rowDiff).
  *
  * The query materializes a scratch snapshot table from the orders
  * fixture with a deterministic four-commit history — append(even keys)
  * → append(odd keys) → keyed delete (o_orderkey % 10 = 3) → MERGE price
  * bump (o_orderkey % 10 = 7) — then emits the change feed of all three
  * steps. Every emitted row is derivable from the orders table alone, so
  * the feed is fully DuckDB-oracled: the append step's feed is exactly
  * the odd half, the delete step's feed is exactly the doomed keys with
  * change_type='delete' (carried rows that merely moved in the
  * copy-on-write rewrite cancel out of rowDiff), and the merge step's
  * feed is one side-pure pre-image AND one post-image row per bumped key
  * (update_preimage/update_postimage — the original price and the bumped
  * price, nothing coalesced across sides).
  */
object SnapshotQ {

  /** Force PLANNING — analysis + optimization + physical planning,
    * which is where DSv2 pushdown runs and the `Snapshots.last*Pruned` /
    * `lastAggAnswered` spec hooks are set — WITHOUT executing. The
    * caller asserts its hook right after; the frame stays LAZY, so the
    * final sink computes it exactly once instead of paying an eager
    * `localCheckpoint` job here plus a block re-read there (guide §1.2:
    * the checkpoint was a whole extra pass whose only job was setting a
    * planning-time hook; snap_partition alone carried two of them and
    * its final plan scanned `ExistingRDD` checkpoint blocks instead of
    * parquet). Hooks that only fire at EXECUTION (runtime join-key
    * filtering) and plan gates scoped to a temporarily-set conf keep
    * their eager pin — see snap_runtime_skip / snap_keygroup_agg.
    */
  private def planned(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    df.queryExecution.executedPlan
    df
  }

  val snapChangeFeed = QueryDef(
    "snap_change_feed",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(o_totalprice, 4) AS o_totalprice,
           |       'insert' AS change_type, 'append_step' AS step
           |FROM orders WHERE o_orderkey % 2 = 1
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       round(o_totalprice, 4) AS o_totalprice,
           |       'delete' AS change_type, 'delete_step' AS step
           |FROM orders WHERE o_orderkey % 10 = 3
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       round(o_totalprice, 4) AS o_totalprice,
           |       'update_preimage' AS change_type, 'merge_step' AS step
           |FROM orders WHERE o_orderkey % 10 = 7
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE) * 1.1, 4) AS o_totalprice,
           |       'update_postimage' AS change_type, 'merge_step' AS step
           |FROM orders WHERE o_orderkey % 10 = 7""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(true) // four commits + a key collect consume it
      // scratch table lives past return: the feed DataFrame is lazy and
      // Verify/Bench execute it after this fn exits (same lifecycle as
      // the QuantGates scratch tables)
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_cdf").toString + "/t"
      Snapshots.commitAppend(spark, // v1: even half
        orders.filter(col("o_orderkey") % 2 === 0), table)
      Snapshots.commitAppend(spark, // v2: odd half
        orders.filter(col("o_orderkey") % 2 === 1), table)
      // v3: keyed copy-on-write delete — the ID-list shape of the GDPR
      // erasure API (bounded: the doomed-key list, never the table)
      val doomed = orders.filter(col("o_orderkey") % 10 === 3)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      Snapshots.commitDelete(spark, table, doomed, "o_orderkey")
      // v4: MERGE price bump — the update feed must carry BOTH images
      Snapshots.commitMerge(spark,
        orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_totalprice",
            col("o_totalprice").cast("double") * 1.1),
        table, Seq("o_orderkey"))
      val appendFeed = Snapshots.incrementalRead(spark, table, 1L, 2L)
        .withColumn("change_type", lit("insert"))
        .withColumn("step", lit("append_step"))
      val deleteFeed = Snapshots.rowDiff(spark, table, 2L, 3L,
          Seq("o_orderkey"))
        .withColumn("step", lit("delete_step"))
      val mergeFeed = Snapshots.rowDiff(spark, table, 3L, 4L,
          Seq("o_orderkey"))
        .withColumn("step", lit("merge_step"))
      appendFeed.unionByName(deleteFeed).unionByName(mergeFeed)
        .withColumn("o_totalprice", round(col("o_totalprice"), 4))
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "change_type", "step")
    })

  // one scratch time-travel table per (JVM, fixture dir): the SQL catalog
  // binds its root at first reference (CatalogManager caches the
  // initialized plugin), so the root must be stable across repeat
  // invocations (Bench runs every query twice)
  private val ttRoots = scala.collection.concurrent.TrieMap[String, String]()
  private def ttRoot(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    ttRoots.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_tt").toString
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
      Snapshots.commitAppend(spark, // v1: even half
        orders.filter(col("o_orderkey") % 2 === 0), root + "/orders_tt")
      Snapshots.commitAppend(spark, // v2: odd half
        orders.filter(col("o_orderkey") % 2 === 1), root + "/orders_tt")
      root
    })

  /** Time travel on the pure-SQL surface: the snapshot table resolves
    * through the DSv2 catalog (sources/SnapshotCatalog.scala), so
    * `VERSION AS OF` pins the even-half v1 while the bare reference reads
    * the head — both DuckDB-oracled from the orders fixture alone. The
    * scan under the catalog is Spark's own parquet reader over the
    * version's manifest-resolved file list (pushdown intact, spec-checked
    * in SnapshotCatalogSpec).
    */
  val snapTimeTravel = QueryDef(
    "snap_time_travel",
    Some("""SELECT o_orderkey, o_custkey, CAST(1 AS BIGINT) AS ver
           |FROM orders WHERE o_orderkey % 2 = 0
           |UNION ALL
           |SELECT o_orderkey, o_custkey, CAST(2 AS BIGINT) AS ver
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val root = ttRoot(spark, dir)
      // catalog NAME is per-fixture-dir: CatalogManager caches the
      // initialized plugin per name, so one JVM running two dirs
      // (ScaleCheck times every query at sf0.01 AND sf0.1) must not
      // re-root a cached catalog — it gets its own instead
      val cat = s"gtt_${java.lang.Integer.toHexString(dir.hashCode)}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, CAST(1 AS BIGINT) AS ver
           |FROM $cat.orders_tt VERSION AS OF 1
           |UNION ALL
           |SELECT o_orderkey, o_custkey, CAST(2 AS BIGINT) AS ver
           |FROM $cat.orders_tt""".stripMargin)
    })

  /** The SQL maintenance face (plans/MaintenanceSql.scala): a scratch
    * snapshot table accretes 16 single-file appends, then pure SQL runs
    * `OPTIMIZE ... ZORDER BY`, `DESCRIBE HISTORY`, and `VACUUM ... RETAIN
    * 1 VERSIONS` — every emitted check value is a protocol constant
    * (versions, op counts, file counts) or the orders row count, so the
    * whole statement surface is DuckDB-oracled. Row preservation across
    * the z-ordered rewrite and the post-vacuum read path are asserted by
    * the `head_rows` check reading the HEAD AFTER the vacuum deleted all
    * pre-optimize files.
    */
  val snapSqlMaintenance = QueryDef(
    "snap_sql_maintenance",
    Some("""SELECT 'head_rows' AS check_name,
           |       (SELECT count(*) FROM orders) AS value
           |UNION ALL SELECT 'history_appends', 16
           |UNION ALL SELECT 'history_optimizes', 1
           |UNION ALL SELECT 'optimize_compacted', 1
           |UNION ALL SELECT 'optimize_files', 8
           |UNION ALL SELECT 'optimize_version', 17
           |UNION ALL SELECT 'vacuumed_files', 16""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      // one eager materialization: the 16 appends below each consume a
      // slice — without this every commit would rescan the parquet table
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(true)
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_sql").toString + "/t"
      // 16 one-file appends: the accretion pattern OPTIMIZE exists to heal
      (0 until 16).foreach { i =>
        Snapshots.commitAppend(spark,
          orders.filter(col("o_orderkey") % 16 === i).coalesce(1), table)
      }
      val opt = spark.sql( // explicit TARGET pins the graded file count;
        // without the clause the statement derives it from table bytes
        s"OPTIMIZE '$table' TARGET 8 FILES ZORDER BY (o_orderkey, o_custkey)")
        .head
      val optFiles = Snapshots.filesAt(spark, table, opt.getLong(0)).size
      val hist = spark.sql(s"DESCRIBE HISTORY '$table'")
        .groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val vacuumed = spark.sql(s"VACUUM '$table' RETAIN 1 VERSIONS")
        .head.getInt(0)
      val headRows = Snapshots.read(spark, table).count()
      Seq(
        ("head_rows", headRows),
        ("history_appends", hist.getOrElse("append", 0L)),
        ("history_optimizes", hist.getOrElse("optimize", 0L)),
        ("optimize_compacted", if (opt.getBoolean(1)) 1L else 0L),
        ("optimize_files", optFiles.toLong),
        ("optimize_version", opt.getLong(0)),
        ("vacuumed_files", vacuumed.toLong)
      ).toDF("check_name", "value")
    })

  /** Exactly-once replica maintenance (Snapshots.syncReplica): a source
    * table walks the same deterministic history as the change-feed query
    * (append even → append odd → delete %10=3 → merge-bump %10=7) with a
    * sync after each phase, so the replica exercises ALL THREE transports
    * — `append` (added files only, IO ∝ delta), `feed` (row-exact CDC
    * merge of the rewrite window), and a final `noop` (cursor caught up).
    * The emitted rows are the REPLICA's final contents, fully
    * DuckDB-oracled from orders alone: every order except the deleted
    * tail, price bumped 10% on the merged tail. A mismatch in any
    * transport (double-applied append, resurrected delete, lost update,
    * pre-image leakage) lands in the diff.
    */
  val snapReplica = QueryDef(
    "snap_replica",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CASE WHEN o_orderkey % 10 = 7
           |                  THEN CAST(o_totalprice AS DOUBLE) * 1.1
           |                  ELSE CAST(o_totalprice AS DOUBLE) END, 4)
           |         AS o_totalprice
           |FROM orders WHERE o_orderkey % 10 <> 3""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(true) // consumed by four commits + a key collect
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_rep").toString
      val src = root + "/src"
      val dst = root + "/dst"
      val keys = Seq("o_orderkey")
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 0), src)
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 1), src)
      val s1 = Snapshots.syncReplica(spark, src, dst, keys)
      require(s1._3 == "append", s"expected append transport, got $s1")
      val doomed = orders.filter(col("o_orderkey") % 10 === 3)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      Snapshots.commitDelete(spark, src, doomed, "o_orderkey")
      Snapshots.commitMerge(spark,
        orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_totalprice",
            col("o_totalprice").cast("double") * 1.1),
        src, keys)
      val s2 = Snapshots.syncReplica(spark, src, dst, keys)
      require(s2._3 == "feed", s"expected feed transport, got $s2")
      val s3 = Snapshots.syncReplica(spark, src, dst, keys)
      require(s3._3 == "noop", s"expected noop on a caught-up replica, got $s3")
      Snapshots.read(spark, dst)
        .withColumn("o_totalprice",
          round(col("o_totalprice").cast("double"), 4))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    })

  /** Zero-copy rollback (`RESTORE ... VERSION AS OF`, the SQL face of
    * Snapshots.commitRestore): append the even half (v1), copy-on-write
    * DELETE a slice of it (v2), RESTORE to v1 (v3 — undoes the delete by
    * re-referencing v1's files, no bytes moved), then append the odd
    * half (v4) to prove the timeline continues normally after an undo.
    * Final contents = ALL orders — only true when the restore actually
    * resurrected the deleted slice — with the head version pinned to the
    * protocol constant 4.
    */
  val snapRestore = QueryDef(
    "snap_restore",
    Some("""SELECT o_orderkey, o_custkey, CAST(4 AS BIGINT) AS head_version
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // three commits + a key collect consume it
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_restore").toString + "/t"
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 0), table)
      val doomed = orders.filter(col("o_orderkey") % 10 === 2)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      Snapshots.commitDelete(spark, table, doomed, "o_orderkey")
      val r = spark.sql(s"RESTORE '$table' TO VERSION AS OF 1").head
      require(r.getLong(0) == 1L && r.getLong(1) == 3L,
        s"expected restore v1 -> head v3, got $r")
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 1), table)
      Snapshots.read(spark, table)
        .withColumn("head_version",
          lit(Snapshots.currentVersion(spark, table)))
        .select("o_orderkey", "o_custkey", "head_version")
    })

  /** The change feed on the PURE-SQL surface (plans/SnapshotTvf.scala —
    * table-valued functions via injectTableFunction): one append-only
    * window served by `snapshot_changes(t, 1, 2)` (added files only) and
    * one rewrite window served by the keyed row-exact form
    * `snapshot_changes(t, 2, 3, 'o_orderkey')`, both consumed from a
    * plain FROM clause and fully DuckDB-oracled from orders alone.
    */
  val snapTvfChanges = QueryDef(
    "snap_tvf_changes",
    Some("""SELECT o_orderkey, o_custkey, 'insert' AS change_type,
           |       'append_win' AS win
           |FROM orders WHERE o_orderkey % 2 = 1
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'delete', 'rewrite_win'
           |FROM orders WHERE o_orderkey % 10 = 3""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // three commits + a key collect consume it
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_tvf").toString + "/t"
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 0), table)
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 1), table)
      val doomed = orders.filter(col("o_orderkey") % 10 === 3)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      Snapshots.commitDelete(spark, table, doomed, "o_orderkey")
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, change_type,
           |       'append_win' AS win
           |FROM snapshot_changes('$table', 1, 2)
           |UNION ALL
           |SELECT o_orderkey, o_custkey, change_type, 'rewrite_win'
           |FROM snapshot_changes('$table', 2, 3, 'o_orderkey')""".stripMargin)
    })

  /** Merge-on-read keyed delete (Snapshots.commitDelete): the doomed
    * rows die by deletion vector with ZERO data files rewritten —
    * asserted in-query by comparing the two versions' file lists — and
    * every read drops the vectored rows. The emitted rows are the
    * post-delete head plus the window's change feed (`delete`
    * pre-images for rows no file rewrite ever touched), both fully
    * DuckDB-oracled from orders.
    */
  val snapLazyDelete = QueryDef(
    "snap_lazy_delete",
    Some("""SELECT o_orderkey, o_custkey, 'head' AS part
           |FROM orders WHERE o_orderkey % 10 <> 6
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'feed_delete'
           |FROM orders WHERE o_orderkey % 10 = 6""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true)
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_lazy").toString + "/t"
      Snapshots.commitAppend(spark, orders, table)
      val doomed = orders.filter(col("o_orderkey") % 10 === 6)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      val (v, n) = Snapshots.commitDelete(spark, table, doomed, "o_orderkey")
      require(v == 2L && n == doomed.size, s"unexpected delete ($v, $n)")
      // the heart of the contract: the delete moved ZERO data bytes
      require(Snapshots.filesAt(spark, table, 1L) ==
        Snapshots.filesAt(spark, table, 2L),
        "a vectored delete must not touch data files")
      Snapshots.read(spark, table).withColumn("part", lit("head"))
        .unionByName(Snapshots.rowDiff(spark, table, 1L, 2L,
            Seq("o_orderkey"))
          .filter(col("change_type") === "delete")
          .withColumn("part", lit("feed_delete"))
          .select("o_orderkey", "o_custkey", "part"))
        .select("o_orderkey", "o_custkey", "part")
    })

  /** CHECK constraints on the SQL surface (`ALTER TABLE ... ADD
    * CONSTRAINT ... CHECK`): declare on a populated table (validates the
    * head first — a metadata-only commit), prove a violating batch is
    * REFUSED before any manifest claim (head version unchanged, loud
    * constraint name), then land a valid batch. Every check value is a
    * protocol constant or an orders count, so the enforcement story is
    * DuckDB-oracled end to end.
    */
  val snapConstraints = QueryDef(
    "snap_constraints",
    Some("""SELECT 'constraint_version' AS check_name,
           |       CAST(2 AS BIGINT) AS value
           |UNION ALL SELECT 'constraints_live', 1
           |UNION ALL SELECT 'head_rows',
           |  (SELECT count(*) FROM orders) +
           |  (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 0)
           |UNION ALL SELECT 'violation_refused', 1
           |UNION ALL SELECT 'violation_version_unchanged', 1""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .localCheckpoint(true)
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_chk").toString + "/t"
      Snapshots.commitAppend(spark, orders, table)
      val cv = spark.sql(s"ALTER TABLE '$table' ADD CONSTRAINT price_pos " +
        "CHECK (o_totalprice > 0)").head.getLong(0)
      val refused =
        try {
          Snapshots.commitAppend(spark, orders.limit(100)
            .withColumn("o_totalprice", lit(-1.0)), table)
          0L
        } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("price_pos") => 1L
        }
      val unchanged =
        if (Snapshots.currentVersion(spark, table) == cv) 1L else 0L
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 10 === 0), table)
      val live =
        if (Snapshots.checkConstraints(spark, table).contains("price_pos"))
          1L else 0L
      Seq(
        ("constraint_version", cv),
        ("constraints_live", live),
        ("head_rows", Snapshots.read(spark, table).count()),
        ("violation_refused", refused),
        ("violation_version_unchanged", unchanged)
      ).toDF("check_name", "value")
    })

  /** Bin-packed PARTIAL compaction (Snapshots.compactSmallFiles — the
    * steady-state OPTIMIZE at 100 TB): one large commit then 12
    * accreted single-file appends, compact with a threshold below the
    * large file's size — the 12 small files pack into ONE output while
    * the large file carries BY NAME (asserted by check rows), and the
    * head's contents survive byte-exactly. Every check value is a
    * protocol constant or the orders row count, so the partial-rewrite
    * semantics are DuckDB-oracled end to end.
    */
  val snapSmallCompact = QueryDef(
    "snap_small_compact",
    Some("""SELECT 'head_rows' AS check_name,
           |       (SELECT count(*) FROM orders) AS value
           |UNION ALL SELECT 'files_after', 2
           |UNION ALL SELECT 'big_carried', 1
           |UNION ALL SELECT 'compact_version', 14""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(true) // 13 commits consume it
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_small").toString + "/t"
      Snapshots.commitAppend(spark, // v1: ONE compact file (the even half)
        orders.filter(col("o_orderkey") % 2 === 0).coalesce(1), table)
      (0 until 12).foreach { i => // v2..v13: accreted small files
        Snapshots.commitAppend(spark,
          orders.filter(col("o_orderkey") % 24 === (2 * i + 1))
            .coalesce(1), table)
      }
      val dd = new org.apache.hadoop.fs.Path(table, "data")
      val fsys = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bigName = Snapshots.filesAt(spark, table, 1L).head
      val bigLen = fsys.getFileStatus(
        new org.apache.hadoop.fs.Path(dd, bigName)).getLen
      // threshold strictly below the large file: the 12 accreted files
      // pack, the compact one must not rewrite
      val v = Snapshots.compactSmallFiles(spark, table,
        smallBytes = bigLen, minSmall = 8).get
      val after = Snapshots.filesAt(spark, table, v)
      Seq(
        ("head_rows", Snapshots.read(spark, table).count()),
        ("files_after", after.size.toLong),
        ("big_carried", if (after.contains(bigName)) 1L else 0L),
        ("compact_version", v)
      ).toDF("check_name", "value")
    })

  /** The SQL WRITE face of the DSv2 catalog (sources/SnapshotCatalog):
    * a pure-SQL lifecycle — CTAS creates the table and lands the even
    * half (createTable commits the schema-only v1, the V1 write commits
    * v2 through `commitAppend`), `INSERT INTO ... SELECT` appends the
    * odd half (v3) — then emits the HEAD next to the PINNED CTAS
    * version, both DuckDB-oracled from orders alone: a write that
    * bypassed the manifest claim, double-landed, or broke time travel
    * across SQL commits lands in the diff.
    */
  val snapSqlInsert = QueryDef(
    "snap_sql_insert",
    Some("""SELECT o_orderkey, o_custkey, 'head' AS part
           |FROM orders
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'ctas_version' AS part
           |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_ins").toString
      val cat = s"gins_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = s"orders_src_$u"
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .createOrReplaceTempView(view)
      spark.sql(s"""CREATE TABLE $cat.t AS
                   |SELECT o_orderkey, o_custkey FROM $view
                   |WHERE o_orderkey % 2 = 0""".stripMargin)
      spark.sql(s"""INSERT INTO $cat.t
                   |SELECT o_orderkey, o_custkey FROM $view
                   |WHERE o_orderkey % 2 = 1""".stripMargin)
      require(Snapshots.currentVersion(spark, root + "/t") == 3L,
        "CTAS (v1 create + v2 insert) then INSERT (v3) — one claim each")
      spark.sql(
        s"""SELECT o_orderkey, o_custkey, 'head' AS part FROM $cat.t
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'ctas_version' AS part
           |FROM $cat.t VERSION AS OF 2""".stripMargin)
    })

  /** Predicate + string-key DELETE (stock SQL DELETE on a quoted path
    * and the widened commitDelete key type): a retention job deletes by
    * DATE PREDICATE through SQL (`DELETE FROM '<path>' WHERE o_orderdate
    * < DATE ...` — Spark's own row-level plan over the path identifier,
    * no driver-side key enumeration, the shape a 100 TB table needs),
    * then an erasure job deletes by STRING key list. Both kill their
    * rows by deletion vector; the emitted rows are the final head, fully
    * DuckDB-oracled from orders alone — any over- or under-delete in
    * either path lands in the diff.
    */
  val snapPredicateDelete = QueryDef(
    "snap_predicate_delete",
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
           |       round(o_totalprice, 4) AS o_totalprice
           |FROM orders
           |WHERE NOT (CAST(o_orderdate AS DATE) < DATE '1997-01-01')
           |  AND o_orderstatus <> 'F'""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date")
            .as("o_orderdate"))
        .localCheckpoint(true) // one commit + two delete probes consume it
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_pdel").toString + "/t"
      Snapshots.commitAppend(spark, orders, table)
      // retention delete by date predicate, through pure SQL
      // a delete that matches nothing commits nothing, so v2 is proof
      spark.sql(
        s"DELETE FROM '$table' WHERE o_orderdate < DATE '1997-01-01'")
      require(Snapshots.currentVersion(spark, table) == 2L,
        "expected a non-empty predicate delete at v2")
      // erasure delete by string keys (the widened Seq[Any] key surface)
      val (v, _) = Snapshots.commitDelete(spark, table, Seq("F"),
        "o_orderstatus")
      require(v >= 2L, s"string-key delete did not commit ($v)")
      Snapshots.read(spark, table)
        .withColumn("o_totalprice", round(col("o_totalprice"), 4))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    })

  /** SQL UPDATE on a quoted path: Spark's own row-level plan over the
    * snapshot catalog's path identifier — the bumped slice (o_orderkey %
    * 10 = 7) dies by deletion vector and only its new versions stage,
    * every other row carries untouched, and the head is DuckDB-oracled
    * from orders alone.
    */
  val snapSqlUpdate = QueryDef(
    "snap_sql_update",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CASE WHEN o_orderkey % 10 = 7
           |                  THEN CAST(o_totalprice AS DOUBLE) * 1.1
           |                  ELSE CAST(o_totalprice AS DOUBLE) END, 4)
           |         AS o_totalprice
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(true)
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_sqlu").toString + "/t"
      Snapshots.commitAppend(spark, orders, table)
      spark.sql(s"UPDATE '$table' " +
        "SET o_totalprice = o_totalprice * 1.1 " +
        "WHERE o_orderkey % 10 = 7")
      require(Snapshots.currentVersion(spark, table) == 2L,
        "expected a non-empty update at v2")
      Snapshots.read(spark, table)
        .withColumn("o_totalprice",
          round(col("o_totalprice").cast("double"), 4))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    })

  /** SQL MERGE on a quoted path: the keyed upsert driven entirely from
    * a stock MERGE INTO statement over the snapshot catalog's path
    * identifier — matched keys (o_orderkey % 10 = 7) take the source's
    * bumped price, unmatched source keys (shifted copies of the % 10 = 3
    * slice) insert, matched rows die by deletion vector and untouched
    * rows carry. The emitted rows are the final head, DuckDB-oracled
    * from orders alone.
    */
  val snapSqlMerge = QueryDef(
    "snap_sql_merge",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CASE WHEN o_orderkey % 10 = 7
           |                  THEN CAST(o_totalprice AS DOUBLE) * 1.1
           |                  ELSE CAST(o_totalprice AS DOUBLE) END, 4)
           |         AS o_totalprice
           |FROM orders
           |UNION ALL
           |SELECT o_orderkey + 100000000, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4) AS o_totalprice
           |FROM orders WHERE o_orderkey % 10 = 3""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(true)
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_sqlm").toString + "/t"
      Snapshots.commitAppend(spark, orders, table)
      val view = s"merge_src_$u"
      orders.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_totalprice", col("o_totalprice").cast("double") * 1.1)
        .unionByName(orders.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("o_totalprice", col("o_totalprice").cast("double")))
        .createOrReplaceTempView(view)
      spark.sql(s"MERGE INTO '$table' t USING $view s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      require(Snapshots.currentVersion(spark, table) == 2L,
        "merge must commit v2")
      Snapshots.read(spark, table)
        .withColumn("o_totalprice",
          round(col("o_totalprice").cast("double"), 4))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    })

  /** Row-level SQL on CATALOG IDENTIFIERS through STOCK Spark: the
    * catalog implements SupportsRowLevelOperations (sources/
    * SnapshotRowLevel.scala), so `UPDATE <catalog>.<table>` and `MERGE
    * INTO <catalog>.<table>` resolve through Spark's own delta-based
    * rewrite — a WriteDelta whose scan is the sidecar-pruned catalog
    * scan and whose commit kills the changed rows by deletion vector and
    * stages their new versions (Snapshots.commitRowDelta). No engine
    * parser involved: this is the statement a stock Spark user types.
    * The lifecycle: UPDATE bumps the %10=7 slice 10% (v2), MERGE
    * upserts bumped-key updates plus shifted inserts (v3), and the
    * emitted rows read back through the catalog's SQL face — fully
    * DuckDB-oracled from orders alone; a lost update, double-applied
    * merge, duplicated rewrite (un-removed originals) or a commit that
    * bypassed the protocol lands in the diff.
    */
  val snapSqlRowLevel = QueryDef(
    "snap_sql_rowlevel",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CASE WHEN o_orderkey % 10 = 7
           |                  THEN CAST(o_totalprice AS DOUBLE) * 1.21
           |                  ELSE CAST(o_totalprice AS DOUBLE) END, 4)
           |         AS o_totalprice
           |FROM orders
           |UNION ALL
           |SELECT o_orderkey + 100000000, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4) AS o_totalprice
           |FROM orders WHERE o_orderkey % 10 = 3""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .localCheckpoint(true)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_rl").toString
      val cat = s"grl_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      Snapshots.commitAppend(spark, orders, root + "/t")
      // v2: STOCK identifier UPDATE (Spark's row-level rewrite) — 10%
      // bump on the %10=7 slice
      spark.sql(s"UPDATE $cat.t SET " +
        "o_totalprice = o_totalprice * 1.1 WHERE o_orderkey % 10 = 7")
      require(Snapshots.currentVersion(spark, root + "/t") == 2L,
        "stock UPDATE must land exactly one deletion-vector commit")
      // v3: STOCK identifier MERGE — a further 10% bump on the same
      // keys (compounding to 1.21x, so a silently-skipped statement is
      // visible) plus shifted inserts
      val view = s"rl_src_$u"
      orders.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_totalprice", col("o_totalprice") * 1.21)
        .unionByName(orders.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        .createOrReplaceTempView(view)
      spark.sql(s"MERGE INTO $cat.t t USING $view s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      require(Snapshots.currentVersion(spark, root + "/t") == 3L,
        "stock MERGE must land exactly one deletion-vector commit")
      spark.sql(s"""SELECT o_orderkey, o_custkey,
                   |round(o_totalprice, 4) AS o_totalprice
                   |FROM $cat.t""".stripMargin)
    })

  /** SQL SCHEMA EVOLUTION as metadata-only commits (stock `ALTER TABLE`
    * through SnapshotCatalog.alterTable onto Snapshots.commitAddColumns /
    * commitWidenColumn): a populated table gains two columns via one
    * `ALTER TABLE ... ADD COLUMNS` (v2 — one commit, zero data
    * moves, landed rows read the new columns as NULL), widens its INT
    * key to BIGINT via `ALTER TABLE ... ALTER COLUMN ... TYPE` (v3 —
    * old int32 files upcast at read), then an `INSERT INTO` lands rows
    * in the evolved wide schema (v4). The emitted rows are the final
    * head read through the DSv2 catalog — fully DuckDB-oracled from
    * orders alone: a lost evolution, a rewritten file, or a mis-typed
    * upcast lands in the diff. An in-query require pins the zero-move
    * contract (v1/v2/v3 share the same file list).
    */
  val snapSqlEvolve = QueryDef(
    "snap_sql_evolve",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4) AS o_totalprice,
           |       CAST(NULL AS VARCHAR) AS category,
           |       -1.0 AS bonus
           |FROM orders
           |UNION ALL
           |SELECT o_orderkey + 100000000, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4), 'new', 2.5
           |FROM orders WHERE o_orderkey % 10 = 1""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          col("o_custkey").cast("int").as("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .localCheckpoint(true)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_ev").toString
      val cat = s"gev_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val t = root + "/t"
      Snapshots.commitAppend(spark, orders, t) // v1: int o_custkey
      spark.sql(
        s"ALTER TABLE $cat.t ADD COLUMNS (category STRING, bonus DOUBLE)")
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN o_custkey TYPE BIGINT")
      require(Snapshots.filesAt(spark, t, 1L) ==
        Snapshots.filesAt(spark, t, 3L),
        "schema evolution must be metadata-only: zero data files moved")
      val view = s"ev_src_$u"
      orders.filter(col("o_orderkey") % 10 === 1)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey").cast("bigint").as("o_custkey"),
          col("o_totalprice"), lit("new").as("category"),
          lit(2.5).as("bonus"))
        .createOrReplaceTempView(view)
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM $view") // v4: wide rows
      require(Snapshots.currentVersion(spark, t) == 4L,
        "three metadata/SQL commits after v1")
      spark.sql(
        s"""SELECT o_orderkey, o_custkey,
           |round(o_totalprice, 4) AS o_totalprice, category,
           |coalesce(bonus, -1.0) AS bonus
           |FROM $cat.t""".stripMargin)
    })

  /** Snapshot table as a LIVE STREAMING SOURCE (sources/
    * SnapshotStreamSource — the Delta streaming-source idea over the
    * graft protocol): a source table walks append(even) → append(odd) →
    * MERGE price bump while a real micro-batch stream tails its commit
    * log — the initial snapshot, an added-files append window, and a
    * keyed rewrite window served as row-exact CDF post-images — and
    * upserts each batch into a SECOND snapshot table. The emitted rows
    * are that downstream table's final contents, fully DuckDB-oracled
    * from orders alone: a lost window, replayed batch, pre-image leak,
    * or double-served rewrite lands in the diff.
    */
  val snapStreamSource = QueryDef(
    "snap_stream_source",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CASE WHEN o_orderkey % 10 = 7
           |                  THEN CAST(o_totalprice AS DOUBLE) * 1.1
           |                  ELSE CAST(o_totalprice AS DOUBLE) END, 4)
           |         AS o_totalprice
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(true) // three commits consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_src").toString
      val src = root + "/src"
      val dst = root + "/dst"
      Snapshots.commitAppend(spark, // v1: tailed as the initial snapshot
        orders.filter(col("o_orderkey") % 2 === 0), src)
      val q = spark.readStream.format("graft-snapshot")
        .option("path", src).option("keys", "o_orderkey").load()
        .writeStream
        .option("checkpointLocation", root + "/ck")
        .queryName("snap_src_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            if (!b.isEmpty)
              Snapshots.commitMerge(spark, b.toDF(), dst, Seq("o_orderkey"))
            ()
        }
        .start()
      q.processAllAvailable() // initial snapshot: the even half
      Snapshots.commitAppend(spark, // append window: added files only
        orders.filter(col("o_orderkey") % 2 === 1), src)
      q.processAllAvailable()
      Snapshots.commitMerge(spark, // rewrite window: CDF post-images
        orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_totalprice",
            col("o_totalprice").cast("double") * 1.1),
        src, Seq("o_orderkey"))
      q.processAllAvailable()
      q.stop()
      Snapshots.read(spark, dst)
        .withColumn("o_totalprice",
          round(col("o_totalprice").cast("double"), 4))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    })

  /** The DESCRIBE DETAIL audit surface (plans/MaintenanceSql
    * DescribeSnapshotDetail): a table with a known lifecycle — 4-file
    * append, CHECK constraint, keyed delete — reports its head metadata
    * in ONE metadata-only row, and every reported value is a protocol
    * constant gradeable against the DuckDB oracle: the version, the
    * LIVE file count (still 4 — the vectored delete moved zero data
    * files), the constraint count and the deletion-vector file count
    * (under its older label, so the oracle's expected rows stay the
    * same), plus liveness flags for the byte census, the declared-schema
    * DDL, and the durable commit instant.
    */
  val snapDetail = QueryDef(
    "snap_detail",
    Some("""SELECT 'bloom_indexed' AS check_name, CAST(1 AS BIGINT) AS value
           |UNION ALL SELECT 'constraints', 1
           |UNION ALL SELECT 'instant_set', 1
           |UNION ALL SELECT 'num_files', 4
           |UNION ALL SELECT 'pending_tombstones', 1
           |UNION ALL SELECT 'schema_has_price', 1
           |UNION ALL SELECT 'size_positive', 1
           |UNION ALL SELECT 'stats_indexed', 1
           |UNION ALL SELECT 'version', 3""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .localCheckpoint(true)
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_det").toString + "/t"
      Snapshots.commitAppend(spark, orders.repartition(4), table) // v1
      Snapshots.addCheckConstraint(spark, table, "price_pos",
        "o_totalprice > 0") // v2: metadata-only
      val doomed = orders.orderBy("o_orderkey").limit(3)
        .collect().map(_.getLong(0)).toSeq
      Snapshots.commitDelete(spark, table, doomed, "o_orderkey") // v3
      // sidecar-only index builds: no commit, num_files/version unmoved
      spark.sql(s"CREATE BLOOM INDEX ON '$table' (o_orderkey)").collect()
      spark.sql(s"CREATE STATS INDEX ON '$table' (o_totalprice)").collect()
      val d = spark.sql(s"DESC DETAIL '$table'").head
      Seq(
        ("bloom_indexed",
          if (d.getString(9) == "o_orderkey") 1L else 0L),
        ("constraints", d.getInt(5).toLong),
        ("instant_set", if (d.getTimestamp(7) != null) 1L else 0L),
        ("num_files", d.getInt(2).toLong),
        ("pending_tombstones", d.getInt(6).toLong),
        ("schema_has_price",
          if (d.getString(4).contains("o_totalprice")) 1L else 0L),
        ("size_positive", if (d.getLong(3) > 0L) 1L else 0L),
        ("stats_indexed",
          if (d.getString(8) == "o_totalprice") 1L else 0L),
        ("version", d.getLong(1))
      ).toDF("check_name", "value")
    })

  /** Admission-controlled BACKLOG DRAIN (sources/SnapshotStreamSource
    * `maxVersionsPerBatch`): a 7-commit table replays from version 0
    * through a live stream capped at 2 commit steps per micro-batch —
    * the recovery shape of a consumer restarted far behind, where an
    * uncapped source would land ONE unbounded 7-leg-union batch. The
    * emitted check rows grade BOTH halves of the contract against the
    * DuckDB oracle: `total_rows` (exactly-once — any double-served or
    * lost window diverges from the orders count) and `batches` (the
    * protocol constant ceil(7/2) = 4 — an uncapped drain would be 1).
    */
  val snapStreamBacklog = QueryDef(
    "snap_stream_backlog",
    Some("""SELECT 'batches' AS check_name,
           |       CAST(4 AS BIGINT) AS value
           |UNION ALL
           |SELECT 'total_rows', (SELECT count(*) FROM orders)""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // seven commits consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_bl").toString
      val src = root + "/src"
      (0 until 7).foreach { i =>
        Snapshots.commitAppend(spark,
          orders.filter(col("o_orderkey") % 7 === i), src)
      }
      val rows = new java.util.concurrent.atomic.AtomicLong
      val batches = new java.util.concurrent.atomic.AtomicInteger
      val q = spark.readStream.format("graft-snapshot")
        .option("path", src)
        .option("startingVersion", "0")
        .option("maxVersionsPerBatch", "2")
        .load().writeStream
        .option("checkpointLocation", root + "/ck")
        .queryName("snap_bl_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val n = b.count()
            if (n > 0) { rows.addAndGet(n); batches.incrementAndGet() }
            ()
        }.start()
      q.processAllAvailable()
      q.stop()
      Seq(("batches", batches.get().toLong),
        ("total_rows", rows.get())).toDF("check_name", "value")
    })

  /** LIVE Structured Streaming ingestion into a snapshot table: the
    * events fixture flows through a real micro-batch stream whose sink
    * is the `graft-snapshot` FORMAT (sources/SnapshotStreamSink — every
    * micro-batch is one `commitStreamAppend`, the (stream, batch)
    * watermark riding IN each claimed manifest, zero foreachBatch
    * boilerplate), and the emitted rows are an aggregate over the
    * LANDED table — any lost or double-committed batch lands in the
    * diff vs the batch oracle. Replay/zombie exactly-once proofs live
    * in SnapshotsSpec + SnapshotStreamSourceSpec; this grades the
    * end-to-end stream→protocol→read path.
    */
  val snapStreamSink = QueryDef(
    "snap_stream_sink",
    Some("""SELECT event_type, count(*) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |         AS total_value
           |FROM events GROUP BY 1""".stripMargin),
    (spark, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_sink").toString
      val table = root + "/t"
      val stream = graft.streaming.EventsStreaming.readEvents(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val q = stream.writeStream.outputMode("append")
        .format("graft-snapshot")
        .option("path", table)
        .option("checkpointLocation", root + "/ck")
        .option("streamId", "snap_stream_sink")
        .queryName("snap_sink_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .start()
      q.processAllAvailable()
      q.stop()
      Snapshots.read(spark, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
    })

  /** SHALLOW CLONE (Snapshots.cloneTable + the `CREATE TABLE ... SHALLOW
    * CLONE` statement): a ZERO-COPY table fork — the clone's v1 manifest
    * references the source's files by qualified URI (asserted: the
    * clone's data dir holds NOTHING right after the clone), then a
    * predicate DELETE diverges the clone copy-on-write while the source
    * head stays byte-identical. Emitted rows are both tables' heads,
    * fully DuckDB-oracled from orders alone: a clone that copied wrong
    * state, a divergence that leaked into the source, or a
    * foreign-reference read that dropped/duplicated rows all land in the
    * diff. At 100 TB the clone is O(manifest) metadata — the instant
    * dev/experiment fork where CTAS would be an hours-long copy.
    */
  val snapClone = QueryDef(
    "snap_clone",
    Some("""SELECT o_orderkey, o_custkey, 'source' AS side FROM orders
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'clone' AS side FROM orders
           |WHERE o_orderkey % 10 <> 3""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // two commits consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_clone").toString
      val src = root + "/base"
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 0), src)
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 1), src)
      val dst = root + "/fork"
      val c = spark.sql(s"CREATE TABLE '$dst' SHALLOW CLONE '$src'").head
      require(c.getLong(0) == 2L && c.getInt(1) > 0,
        s"expected a non-empty clone of v2, got $c")
      // zero-copy: the fork referenced files, it did not copy them
      val ddst = new java.io.File(dst, "data")
      require(!ddst.exists() || ddst.listFiles().forall(!_.isFile),
        "shallow clone copied data files")
      // diverge the clone copy-on-write; the source must not move
      spark.sql(s"DELETE FROM '$dst' WHERE o_orderkey % 10 = 3").collect()
      require(Snapshots.currentVersion(spark, src) == 2L,
        "clone DML leaked a commit into the source")
      Snapshots.read(spark, src).withColumn("side", lit("source"))
        .unionByName(
          Snapshots.read(spark, dst).withColumn("side", lit("clone")))
        .select("o_orderkey", "o_custkey", "side")
    })

  /** COPY INTO (Snapshots.commitCopyInto + the `COPY INTO ... FROM`
    * statement): idempotent bulk file loading — the first load ingests a
    * landing dir, the REPLAYED load is a metadata no-op (0 files — a
    * double-load would double the oracle diff), and a second landing dir
    * loads incrementally. Load marks ride IN the claimed manifest
    * (state+data in one atomic commit), so the head is DuckDB-oracled
    * from orders alone. The decision cost is one driver-side listing per
    * run — the cron-plus-landing-dir ingest loop at any scale.
    */
  val snapCopyInto = QueryDef(
    "snap_copy_into",
    Some("""SELECT o_orderkey, o_custkey FROM orders""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // one commit + two landing writes consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_copy").toString
      val table = root + "/t"
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 3 === 0), table)
      val land1 = root + "/landing1"
      val land2 = root + "/landing2"
      orders.filter(col("o_orderkey") % 3 === 1).write.parquet(land1)
      orders.filter(col("o_orderkey") % 3 === 2).write.parquet(land2)
      val r1 = spark.sql(
        s"COPY INTO '$table' FROM '$land1' FILEFORMAT = PARQUET").head
      require(r1.getInt(1) > 0 && r1.getLong(2) > 0,
        s"first COPY INTO loaded nothing: $r1")
      val r2 = spark.sql(s"COPY INTO '$table' FROM '$land1'").head
      require(r2.getInt(1) == 0 && r2.getLong(2) == 0L,
        s"replayed COPY INTO was not idempotent: $r2")
      val r3 = spark.sql(s"COPY INTO '$table' FROM '$land2'").head
      require(r3.getInt(1) > 0, s"incremental COPY INTO loaded nothing: $r3")
      Snapshots.read(spark, table).select("o_orderkey", "o_custkey")
    })

  /** CONVERT TO SNAPSHOT (Snapshots.convertToSnapshot + the SQL verb):
    * an existing plain-parquet directory becomes a snapshot table IN
    * PLACE — v1 references the dir's own files by qualified URI (zero
    * copies, asserted: no local data files after the convert), and the
    * protocol surface applies immediately: an append commits v2, a
    * predicate UPDATE diverges v3 copy-on-write, time travel still
    * serves the pristine import. Emitted rows are the v1 pin plus the
    * final head, fully DuckDB-oracled from orders alone. At 100 TB the
    * conversion is one listing + one manifest write — the adoption path
    * for a warehouse's existing parquet estate.
    */
  val snapConvert = QueryDef(
    "snap_convert",
    Some("""SELECT o_orderkey, o_custkey, 'imported_v1' AS part
           |FROM orders WHERE o_orderkey % 2 = 0
           |UNION ALL
           |SELECT o_orderkey,
           |       CASE WHEN o_orderkey % 10 = 4 THEN CAST(-1 AS BIGINT)
           |            ELSE o_custkey END AS o_custkey,
           |       'head' AS part
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // a dir write + an append consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_conv").toString
      val estate = root + "/estate"
      orders.filter(col("o_orderkey") % 2 === 0).write.parquet(estate)
      val r = spark.sql(s"CONVERT TO SNAPSHOT '$estate'").head
      require(r.getLong(0) == 1L && r.getInt(1) > 0,
        s"expected a non-empty v1 conversion, got $r")
      val ddir = new java.io.File(estate, "data")
      require(!ddir.exists() || ddir.listFiles().forall(!_.isFile),
        "CONVERT copied data files")
      // the full protocol applies from the next statement on
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 1), estate)
      spark.sql(
        s"UPDATE '$estate' SET o_custkey = -1 WHERE o_orderkey % 10 = 4")
        .collect()
      Snapshots.read(spark, estate, Some(1L))
        .withColumn("part", lit("imported_v1"))
        .unionByName(Snapshots.read(spark, estate)
          .withColumn("part", lit("head")))
        .select("o_orderkey", "o_custkey", "part")
    })

  /** DROP COLUMN lifecycle (Snapshots.commitDropColumn + the SQL verb):
    * a metadata-only drop (v2 re-references v1's files — zero moves),
    * a post-drop append in the narrowed schema, a full-rewrite OPTIMIZE
    * that physically purges the dropped values, then a LEGAL re-add of
    * the name — which must read back ALL NULL, never the pre-drop
    * values name-based parquet resolution would otherwise resurrect
    * (the hazard the `#dropped:` ledger exists to refuse; the refusal
    * path itself is spec-gated in SnapshotsSpec/SnapshotSqlSpec). The
    * v1 pin keeps the dropped column visible with its original values.
    * Fully DuckDB-oracled from orders alone.
    */
  val snapDropColumn = QueryDef(
    "snap_drop_column",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(o_totalprice, 4) AS o_totalprice,
           |       'pre_drop' AS part
           |FROM orders WHERE o_orderkey % 2 = 0
           |UNION ALL
           |SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
           |       'head' AS part
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .localCheckpoint(true) // two commits consume it
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_dropcol").toString + "/t"
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 0), table)
      spark.sql(s"ALTER TABLE '$table' DROP COLUMN o_totalprice")
      require(Snapshots.currentVersion(spark, table) == 2L,
        "expected a v2 metadata drop")
      // the narrowed schema keeps ingesting; the dropped values are
      // physically purged by the full rewrite, unlocking the name
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey"), table)
      // full rewrite regardless of file count (the SQL OPTIMIZE floor
      // would refuse a small fixture as write amplification)
      require(Snapshots.compactData(spark, table,
        targetFiles = 2, minFiles = 1).nonEmpty, "full rewrite refused")
      spark.sql(s"ALTER TABLE '$table' ADD COLUMNS (o_totalprice DOUBLE)")
        .collect()
      Snapshots.read(spark, table, Some(1L))
        .withColumn("part", lit("pre_drop"))
        .unionByName(Snapshots.read(spark, table)
          .withColumn("part", lit("head")))
        .withColumn("o_totalprice", round(col("o_totalprice"), 4))
        .select("o_orderkey", "o_custkey", "o_totalprice", "part")
    })

  /** Per-file Bloom point-lookup index (Snapshots.extendBloom /
    * readPrunedByKeys): the table is HASH-distributed on the key, so
    * every file's [min,max] spans the key space and stats pruning can
    * skip NOTHING — the exact shape the Bloom sidecar exists for. The
    * query indexes the key column, probes three known keys, asserts
    * in-query that the driver opened a strict subset of the files
    * (lastBloomPruned), and emits the looked-up rows — fully
    * DuckDB-oracled from orders alone, so a false NEGATIVE (a dropped
    * file that held a key) is a hash mismatch, not just a slow read.
    * At 100 TB this is the O(sidecar) GDPR / entity-lookup path on an
    * unclustered key: files skip driver-side before any footer opens.
    */
  val snapBloomLookup = QueryDef(
    "snap_bloom_lookup",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(o_totalprice, 4) AS o_totalprice
           |FROM orders
           |WHERE o_orderkey IN (
           |  SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3)""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      val table = java.nio.file.Files
        .createTempDirectory("graft_snap_bloom").toString + "/t"
      Snapshots.commitAppend(spark,
        orders.repartition(16, col("o_orderkey")), table)
      require(Snapshots.extendBloom(spark, table, "o_orderkey") == 16,
        "expected 16 files indexed")
      val keys: Seq[Any] = orders.orderBy("o_orderkey")
        .limit(3).collect().map(_.getLong(0)).toSeq
      val out = Snapshots
        .readPrunedByKeys(spark, table, "o_orderkey", keys)
        .filter(col("o_orderkey").isInCollection(keys))
        .withColumn("o_totalprice", round(col("o_totalprice"), 4))
        .select("o_orderkey", "o_custkey", "o_totalprice")
      // the hook below sees THIS read's prune: readPrunedByKeys probes
      // the bloom sidecar eagerly at build time (driver-side), so the
      // frame can stay lazy — the sink computes it exactly once
      val (chosen, total) = Snapshots.lastBloomPruned.getOrElse(
        throw new IllegalStateException("bloom index not consulted"))
      require(total == 16 && chosen < total,
        s"point lookup opened $chosen of $total files — no skip")
      out
    })

  /** Sidecar file-skipping on the PURE-SQL surface (SnapshotCatalog's
    * PruningScanBuilder over Snapshots.pruneFilesByFilters): two tables,
    * two prune shapes — a RANGE-clustered table whose `_graft_stats`
    * manifest skips files for a pushed `<` predicate, and a
    * HASH-distributed table (every file's [min,max] spans the key space
    * — stats can skip nothing) whose per-file Bloom index skips files
    * for a pushed `IN` probe. Both legs are plain `SELECT ... WHERE` on
    * catalog identifiers: no readPruned API, no TVF — the ad-hoc-SQL
    * path every warehouse user actually takes. In-query requires assert
    * the driver opened a strict subset of each version's 16 files
    * (lastCatalogPruned); the emitted rows are fully DuckDB-oracled
    * from orders alone, so a dropped file that held a matching row
    * (unsound prune) is a hash mismatch, not just a slow read.
    */
  val snapCatalogSkip = QueryDef(
    "snap_catalog_skip",
    Some("""SELECT o_orderkey, o_custkey, 'range' AS part FROM orders
           |WHERE o_orderkey < (SELECT min(o_orderkey) + 1000 FROM orders)
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'point' AS part FROM orders
           |WHERE o_orderkey IN (
           |  SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3)""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // two commits + two driver probes consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_cskip").toString
      val rt = root + "/ranget"
      val bt = root + "/bloomt"
      Snapshots.commitAppend(spark,
        orders.repartitionByRange(16, col("o_orderkey")), rt)
      spark.sql(s"CREATE STATS INDEX ON '$rt' (o_orderkey)").collect()
      Snapshots.commitAppend(spark,
        orders.repartition(16, col("o_orderkey")), bt)
      spark.sql(s"CREATE BLOOM INDEX ON '$bt' (o_orderkey)").collect()
      val cat = s"gcs_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      // literal probes (a scalar subquery would not push down as a
      // source filter): the stats leg's threshold and the bloom leg's
      // keys, both derivable by the oracle from orders alone
      val cut = orders.agg(min(col("o_orderkey"))).head.getLong(0) + 1000L
      val keys = orders.orderBy("o_orderkey").limit(3)
        .collect().map(_.getLong(0))
      val rangeLeg = planned(spark.sql( // pin: the hook below must see
        s"""SELECT o_orderkey, o_custkey, 'range' AS part
           |FROM $cat.ranget WHERE o_orderkey < $cut""".stripMargin))
      val (rc, rn) = Snapshots.lastCatalogPruned.getOrElse(
        throw new IllegalStateException("stats sidecar not consulted"))
      require(rn == 16 && rc < rn,
        s"range predicate opened $rc of $rn files — no skip")
      val pointLeg = planned(spark.sql(
        s"""SELECT o_orderkey, o_custkey, 'point' AS part
           |FROM $cat.bloomt
           |WHERE o_orderkey IN (${keys.mkString(", ")})""".stripMargin))
      val (bc, bn) = Snapshots.lastCatalogPruned.getOrElse(
        throw new IllegalStateException("bloom sidecar not consulted"))
      require(bn == 16 && bc < bn,
        s"point probe opened $bc of $bn files — no skip")
      rangeLeg.unionByName(pointLeg)
    })

  /** RUNTIME join-key file skipping (SupportsRuntimeV2Filtering on the
    * catalog scan): the canonical warehouse shape — `fact JOIN dim ON k
    * WHERE dim.selective` with NO literal fact predicate anywhere — on
    * a range-clustered, stats+Bloom-indexed fact table. Planning-time
    * pushdown sees nothing to prune (asserted: the static hook reports
    * 16 of 16); at execution the broadcast dim's surviving key set is
    * pushed back into the scan and re-prunes the file list through the
    * same sidecar algebra (asserted: strict subset, ≤ 4 of 16). Rows
    * are fully DuckDB-oracled — the dim derives from orders alone
    * (row_number ranks, seg = rn % 4), so an unsound runtime prune that
    * drops a file holding a surviving key is a hash mismatch, not just
    * a slow read.
    */
  val snapRuntimeSkip = QueryDef(
    "snap_runtime_skip",
    Some("""SELECT f.o_orderkey, f.o_custkey
           |FROM orders f
           |JOIN (SELECT k, rn % 4 AS seg FROM (
           |        SELECT o_orderkey AS k,
           |               row_number() OVER (ORDER BY o_orderkey) AS rn
           |        FROM orders) WHERE rn <= 20) d
           |  ON f.o_orderkey = d.k
           |WHERE d.seg = 1""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_rtskip").toString
      val ft = root + "/fact"
      Snapshots.commitAppend(spark,
        orders.repartitionByRange(16, col("o_orderkey")), ft)
      spark.sql(s"CREATE STATS INDEX ON '$ft' (o_orderkey)").collect()
      spark.sql(s"CREATE BLOOM INDEX ON '$ft' (o_orderkey)").collect()
      val cat = s"grts_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val dimView = s"rtskip_dim_$u"
      // the dim must be a SMALL relation with KNOWN stats AND a
      // surviving Filter node: a window over a checkpointed frame
      // estimates at default size and never broadcasts; a LocalRelation
      // constant-folds the selective filter away and dynamic pruning
      // sees no filtering side. A 20-row parquet dim gives both.
      import spark.implicits._
      orders.orderBy(col("o_orderkey")).limit(20)
        .collect().zipWithIndex
        .map { case (r, i) => (r.getLong(0), (i + 1) % 4) }.toSeq
        .toDF("k", "seg").coalesce(1)
        .write.parquet(root + "/dim_parquet")
      spark.read.parquet(root + "/dim_parquet")
        .createOrReplaceTempView(dimView)
      Snapshots.lastRuntimePruned = None
      val out = spark.sql(
        s"""SELECT f.o_orderkey, f.o_custkey
           |FROM $cat.fact f JOIN $dimView d ON f.o_orderkey = d.k
           |WHERE d.seg = 1""".stripMargin)
        .localCheckpoint(true) // execute NOW: the hooks below must see
                               // THIS join's static + runtime prunes
      val (sc, sn) = Snapshots.lastCatalogPruned.getOrElse(
        throw new IllegalStateException("catalog scan never planned"))
      require(sn == 16 && sc == sn,
        s"static pushdown pruned $sc of $sn — the query must carry no " +
          "prunable fact predicate (that would mask the runtime path)")
      val (rk, rn) = Snapshots.lastRuntimePruned.getOrElse(
        throw new IllegalStateException(
          "broadcast key set never reached the catalog scan"))
      require(rn == 16 && rk < rn && rk <= 4,
        s"runtime key set opened $rk of $rn fact files — no skip")
      out
    })

  /** RENAME COLUMN lifecycle (Snapshots.commitRenameColumn + the SQL
    * verb — metadata-only column mapping): rename on a populated table
    * (v2 — zero data moves, asserted in-query by comparing file lists),
    * ingest under the NEW name (v3), a SQL UPDATE driven by the new
    * name (v4 — the copy-on-write engine reading physical files through
    * the logical mapping), then emit the v1 pin under its ORIGINAL name
    * next to the head read through PURE CATALOG SQL under the new name.
    * Fully DuckDB-oracled from orders alone: a renamed column served as
    * NULL (the name-based-resolution hazard), a lost rename, or a
    * mapping leak across time travel all land in the diff.
    */
  val snapRename = QueryDef(
    "snap_rename",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4) AS price,
           |       'pre_rename' AS part
           |FROM orders WHERE o_orderkey % 2 = 0
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       round(CASE WHEN o_orderkey % 10 = 7
           |                  THEN CAST(o_totalprice AS DOUBLE) * 1.1
           |                  ELSE CAST(o_totalprice AS DOUBLE) END, 4),
           |       'head'
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .localCheckpoint(true) // two commits consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_ren").toString
      val t = root + "/t"
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 0), t) // v1
      spark.sql(s"ALTER TABLE '$t' RENAME COLUMN o_totalprice TO price")
      require(Snapshots.currentVersion(spark, t) == 2L,
        "expected a v2 metadata rename")
      require(Snapshots.filesAt(spark, t, 1L) ==
        Snapshots.filesAt(spark, t, 2L),
        "RENAME COLUMN must be metadata-only: zero data files moved")
      Snapshots.commitAppend(spark, // v3: ingest under the NEW name
        orders.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "price"), t)
      spark.sql(s"UPDATE '$t' SET price = price * 1.1 " +
        "WHERE o_orderkey % 10 = 7") // v4: DML speaks the new name
      require(Snapshots.currentVersion(spark, t) == 4L,
        "expected a non-empty v4 update via the renamed column")
      val cat = s"gren_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      // v1 pin serves its own (pre-rename) column name; the head is read
      // through PURE catalog SQL under the logical name — physical files
      // still hold o_totalprice, the mapping re-labels positionally
      Snapshots.read(spark, t, Some(1L))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("price"),
          lit("pre_rename").as("part"))
        .unionByName(spark.sql(
          s"""SELECT o_orderkey, o_custkey, round(price, 4) AS price,
             |'head' AS part FROM $cat.t""".stripMargin))
    })

  /** Column DEFAULT lifecycle (Snapshots schema-metadata defaults + the
    * SQL verbs): `ADD COLUMNS ... DEFAULT` back-fills every LANDED row
    * with zero data movement (the folded EXISTS_DEFAULT is served by
    * the parquet reader itself for files that physically lack the
    * column — asserted in-query: v1 and v2 share the same file list),
    * an append OMITTING the defaulted column materializes the write
    * default, `ALTER COLUMN ... SET DEFAULT` re-points future writes
    * only, and a CHECK constraint declared against the defaulted column
    * validates the whole head — which would refuse if landed rows read
    * NULL. Emitted rows are the head (read through pure catalog SQL —
    * the reader-level fill is plan-independent), fully DuckDB-oracled
    * from orders alone.
    */
  val snapDefault = QueryDef(
    "snap_default",
    Some("""SELECT o_orderkey, o_custkey, 'open' AS status, 0.5 AS bonus
           |FROM orders WHERE o_orderkey % 2 = 0
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'odd', 0.5
           |FROM orders WHERE o_orderkey % 2 = 1
           |UNION ALL
           |SELECT o_orderkey + 100000000, o_custkey, 'late', 0.5
           |FROM orders WHERE o_orderkey % 10 = 5""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true) // three commits consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_def").toString
      val t = root + "/t"
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 0), t) // v1: no defaults
      spark.sql(s"ALTER TABLE '$t' ADD COLUMNS " +
        "(status STRING DEFAULT 'open', bonus DOUBLE DEFAULT 0.5)")
      require(Snapshots.currentVersion(spark, t) == 2L,
        "expected one v2 metadata add")
      require(Snapshots.filesAt(spark, t, 1L) ==
        Snapshots.filesAt(spark, t, 2L),
        "ADD COLUMNS ... DEFAULT must move zero data files")
      // v3: carries status explicitly, OMITS bonus (write default fills)
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 2 === 1)
          .withColumn("status", lit("odd")), t)
      // future-writes-only default switch, then v4 omitting status
      spark.sql(s"ALTER TABLE '$t' ALTER COLUMN status SET DEFAULT 'late'")
        .collect()
      Snapshots.commitAppend(spark,
        orders.filter(col("o_orderkey") % 10 === 5)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L), t)
      // a CHECK against the defaulted column validates the WHOLE head —
      // landed rows reading NULL would refuse the declaration loudly
      spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT st_ok " +
        "CHECK (status IS NOT NULL)").collect()
      val cat = s"gdef_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.sql(s"""SELECT o_orderkey, o_custkey, status, bonus
                   |FROM $cat.t""".stripMargin)
    })

  /** Declared partition transforms (Snapshots.commitSetPartition /
    * commitExpirePartitions + the SQL verbs): a flat table declares
    * `month(o_orderdate)` (v2, metadata-only), the next append lands
    * under `__gp=<yyyy-MM>/` dirs (v3), a PINNED catalog-SQL read with
    * a pushed date predicate opens a strict subset of the version's
    * files (the 1-of-N directory-skipping proof, asserted in-query),
    * and `EXPIRE PARTITIONS OLDER THAN` drops whole months as ONE
    * metadata commit — pre-transform flat files are KEPT (they cannot
    * prove their age; never over-delete). Fully DuckDB-oracled from
    * orders alone: an over-eager expiry, a mis-bucketed row, or an
    * unsound directory prune all land in the diff.
    */
  val snapPartition = QueryDef(
    "snap_partition",
    Some("""SELECT o_orderkey, o_custkey,
           |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
           |       'pinned_recent' AS part
           |FROM orders WHERE o_orderdate >= TIMESTAMP '2000-06-01'
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 'head'
           |FROM orders
           |WHERE o_orderkey % 2 = 0
           |   OR o_orderdate >= TIMESTAMP '1997-01-01'
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 'composite'
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate < TIMESTAMP '1998-01-01'
           |  AND o_orderdate >= TIMESTAMP '1997-06-01'
           |  AND o_orderpriority = '1-URGENT'""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .localCheckpoint(true) // two commits consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_part").toString
      val t = root + "/t"
      Snapshots.commitAppend(spark, // v1: FLAT (pre-transform files)
        orders.filter(col("o_orderkey") % 2 === 0), t)
      val r = spark.sql(
        s"ALTER TABLE '$t' SET PARTITION (month(o_orderdate))").head
      require(r.getLong(0) == 2L && r.getString(1) == "month(o_orderdate)",
        s"expected a v2 transform declaration, got $r")
      Snapshots.commitAppend(spark, // v3: lands under __gp=<yyyy-MM>/
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartition(8, date_format(col("o_orderdate").cast("date"),
            "yyyy-MM")), t)
      require(Snapshots.filesAt(spark, t, 3L).exists(_.startsWith("__gp=")),
        "append after the declaration must land partitioned")
      val cat = s"gprt_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      // the 1-of-N proof: a PINNED catalog-SQL read with a pushed date
      // predicate opens only the recent months (plus the flat files,
      // which can never be skipped) — strict subset, asserted in-query
      val pinned = planned(spark.sql( // pin: the hook must see THIS plan
        s"""SELECT o_orderkey, o_custkey,
           |CAST(CAST(o_orderdate AS DATE) AS STRING) AS odate,
           |'pinned_recent' AS part
           |FROM $cat.t VERSION AS OF 3
           |WHERE o_orderdate >= '2000-06-01'""".stripMargin))
      val (pc, pn) = Snapshots.lastCatalogPruned.getOrElse(
        throw new IllegalStateException("partition dirs not consulted"))
      require(pc < pn, s"date predicate opened $pc of $pn files — no skip")
      // retention: drop whole months < 1995-01 as ONE metadata commit
      val e = spark.sql(
        s"ALTER TABLE '$t' EXPIRE PARTITIONS OLDER THAN '1997-01-01'").head
      require(e.getLong(0) == 4L && e.getInt(1) > 0,
        s"expected a non-empty v4 expiry, got $e")
      // COMPOSITE transform (two nesting levels, the 1-of-N proof at
      // level 2): month(o_orderdate) dirs holding identity(priority)
      // subdirs — a conjunctive predicate on BOTH columns intersects
      // the levels' verdicts and opens a strict subset
      val ct = root + "/ct"
      val slice = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
      Snapshots.commitCreate(spark, ct, slice.schema,
        Seq(("o_orderdate", "month"), ("o_orderpriority", "identity")))
      // co-locate each leaf dir in one task before staging: partitionBy
      // writes one file per (task × dir) — unclustered input would fan
      // a 24-month × 5-priority layout into thousands of tiny files
      Snapshots.commitAppend(spark, slice.repartition(24,
        date_format(col("o_orderdate").cast("date"), "yyyy-MM"),
        col("o_orderpriority")), ct)
      require(Snapshots.filesAt(spark, ct, 2L).forall(en =>
          en.contains("__gp=") && en.contains("__gp2=")),
        "composite append must land under nested __gp=/__gp2= dirs")
      val composite = planned(spark.sql(
        s"""SELECT o_orderkey, o_custkey,
           |CAST(CAST(o_orderdate AS DATE) AS STRING) AS odate,
           |'composite' AS part
           |FROM $cat.ct
           |WHERE o_orderdate >= '1997-06-01'
           |  AND o_orderpriority = '1-URGENT'""".stripMargin))
      val (cc, cn) = Snapshots.lastCatalogPruned.getOrElse(
        throw new IllegalStateException("composite dirs not consulted"))
      require(cc < cn && cc * 3 <= cn,
        s"composite predicate opened $cc of $cn files — the levels' " +
          "verdicts must intersect")
      pinned.unionByName(Snapshots.read(spark, t)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").cast("string").as("odate"),
          lit("head").as("part")))
        .unionByName(composite)
    })

  /** CHANGE-FEED STREAMING (sources/SnapshotStreamSource
    * `readChangeFeed=true` — the Delta CDF-streaming idea): a live
    * micro-batch stream tails the source table's commit log and
    * receives the FULL row-exact feed — initial-snapshot and append
    * windows as `insert`, copy-on-write delete windows as `delete`
    * PRE-IMAGES, merge windows as both update images — so a downstream
    * mirror can maintain itself (deletes included) entirely by stream,
    * where the plain source intentionally serves post-images only. The
    * collected feed lands in a second snapshot table through the
    * exactly-once stream-commit path; emitted rows are that table's
    * contents, fully DuckDB-oracled from orders alone — a lost window,
    * replayed batch, double-served image, or swallowed delete lands in
    * the diff.
    */
  val snapCdfStream = QueryDef(
    "snap_cdf_stream",
    Some("""SELECT o_orderkey, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4) AS price,
           |       'insert' AS change FROM orders
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4), 'delete'
           |FROM orders WHERE o_orderkey % 10 = 3
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE), 4), 'update_preimage'
           |FROM orders WHERE o_orderkey % 10 = 7
           |UNION ALL
           |SELECT o_orderkey, o_custkey,
           |       round(CAST(o_totalprice AS DOUBLE) * 1.1, 4),
           |       'update_postimage'
           |FROM orders WHERE o_orderkey % 10 = 7""".stripMargin),
    (spark, dir) => {
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .localCheckpoint(true) // three commits + a key collect consume it
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_cdfs").toString
      val src = root + "/src"
      val dst = root + "/dst"
      Snapshots.commitAppend(spark, // v1: the initial snapshot window
        orders.filter(col("o_orderkey") % 2 === 0), src)
      val q = spark.readStream.format("graft-snapshot")
        .option("path", src).option("keys", "o_orderkey")
        .option("readChangeFeed", "true").load()
        .writeStream
        .option("checkpointLocation", root + "/ck")
        .queryName("snap_cdfs_" +
          java.util.UUID.randomUUID.toString.replace("-", ""))
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              bid: Long) =>
            if (!b.isEmpty)
              Snapshots.commitStreamAppend(spark, b.toDF(), dst,
                "snap_cdf_stream", bid)
            ()
        }
        .start()
      q.processAllAvailable() // initial snapshot: even-half inserts
      Snapshots.commitAppend(spark, // append window: odd-half inserts
        orders.filter(col("o_orderkey") % 2 === 1), src)
      q.processAllAvailable()
      val doomed = orders.filter(col("o_orderkey") % 10 === 3)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      Snapshots.commitDelete(spark, src, doomed, "o_orderkey")
      q.processAllAvailable() // delete window: PRE-IMAGES flow
      Snapshots.commitMerge(spark,
        orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_totalprice", col("o_totalprice") * 1.1),
        src, Seq("o_orderkey"))
      q.processAllAvailable() // merge window: both update images flow
      q.stop()
      Snapshots.read(spark, dst)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("price"),
          col("_change_type").as("change"))
    })

  /** Key-grouped storage partitioning through the catalog
    * (SupportsReportPartitioning over the declared IDENTITY transform,
    * sources/SnapshotCatalog.scala): a plain-SQL GROUP BY on the
    * partition column must plan with NO Exchange — the `__gp=` dirs
    * already cluster the data, and the scan's HasPartitionKey input
    * partitions tell the planner so. Asserted in-query on the executed
    * plan; rows are fully DuckDB-oracled from orders alone (exact
    * integer aggregates — a grouping served from a LYING partition key
    * drops or double-counts whole partitions and lands in the diff).
    * At 100 TB this is the fact table's hottest aggregation running
    * shuffle-free.
    */
  val snapKeyGroupAgg = QueryDef(
    "snap_keygroup_agg",
    Some("""SELECT o_orderpriority AS priority, count(*) AS n,
           |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM orders GROUP BY o_orderpriority""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .localCheckpoint(true)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_kg").toString
      val t = root + "/kgt"
      Snapshots.commitCreate(spark, t,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_orderpriority",
            org.apache.spark.sql.types.StringType))),
        Seq(("o_orderpriority", "identity")))
      // one task per priority: the staged layout is 5 dirs × few files,
      // and the key-grouped scan plans one group per priority
      Snapshots.commitAppend(spark,
        orders.repartition(8, col("o_orderpriority")), t)
      val cat = s"gkga_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val agg = spark.sql(
          s"""SELECT o_orderpriority AS priority, count(*) AS n,
             |       sum(o_orderkey) AS key_sum, min(o_orderkey) AS min_key,
             |       max(o_orderkey) AS max_key
             |FROM $cat.kgt GROUP BY o_orderpriority""".stripMargin)
        val out = agg.localCheckpoint(true) // execute under the conf
        val plan = agg.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          "group-by on the identity partition column must plan " +
            s"Exchange-free:\n${plan.take(1500)}")
        out
      } finally
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    })

  /** METADATA-ONLY aggregates through the catalog
    * (SnapshotCatalog.statsAggAnswer): `SELECT count(*), min, max` over
    * a stats-indexed snapshot table answered ENTIRELY from the
    * `_graft_stats` sidecar — zero data files opened, zero tasks
    * launched; at 100 TB the table census costs one driver-side read
    * of a manifest with one row per file. Asserted in-query: the
    * answered-aggs hook fired for all 7 expressions AND the plan
    * carries the zero-IO scan node instead of a parquet scan. Rows are
    * fully DuckDB-oracled from orders — a stale sidecar row, a lossy
    * decode, or a wrong null convention is a value mismatch, not just
    * a slow plan.
    */
  val snapStatsAgg = QueryDef(
    "snap_stats_agg",
    Some("""SELECT count(*) AS n,
           |       CAST(min(o_orderkey) AS BIGINT) AS min_k,
           |       CAST(max(o_orderkey) AS BIGINT) AS max_k,
           |       min(o_orderpriority) AS min_p,
           |       max(o_orderpriority) AS max_p,
           |       CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_d,
           |       CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_d
           |FROM orders""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast("date").as("o_orderdate"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_magg").toString
      val t = root + "/t"
      Snapshots.commitAppend(spark, orders.repartition(8), t)
      Snapshots.extendStats(spark, t,
        Seq("o_orderkey", "o_orderpriority", "o_orderdate"))
      val cat = s"gmag_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val q = spark.sql(
        s"""SELECT count(*) AS n,
           |       min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
           |       min(o_orderpriority) AS min_p,
           |       max(o_orderpriority) AS max_p,
           |       CAST(min(o_orderdate) AS STRING) AS min_d,
           |       CAST(max(o_orderdate) AS STRING) AS max_d
           |FROM $cat.t""".stripMargin)
      val out = planned(q) // plan NOW: hook + plan gate below are both
                           // planning-time (the stats scan answers at
                           // pushAggregation; executedPlan is inspectable
                           // unexecuted)
      require(Snapshots.lastAggAnswered.contains(7),
        s"stats sidecar must answer all 7 aggregates, got " +
          s"${Snapshots.lastAggAnswered}")
      require(q.queryExecution.executedPlan.toString
          .contains("GraftStatsAggScan"),
        "the plan must carry the zero-IO stats scan, not a parquet scan")
      out
    })

  /** LIMIT file truncation (SupportsPushDownLimit on the catalog scan):
    * `SELECT * FROM snap.t LIMIT n` keeps only the shortest file PREFIX
    * whose sidecar row counts sum to ≥ n — on a million-file table a
    * LIMIT 10 peek opens one file, not one per partition planned. The
    * row set a LIMIT returns is nondeterministic by SQL semantics, so
    * the graded output is the COUNT of the limited subquery (987 <
    * every fixture's orders rowcount → deterministically 987), with
    * the file-skip asserted in-query via the lastLimitPruned hook and
    * a second, filtered leg proving the truncation OPTS OUT when a
    * predicate is pushed (whole-file counts say nothing about matching
    * rows — truncating there would silently under-fill the LIMIT).
    */
  val snapLimitSkip = QueryDef(
    "snap_limit_skip",
    Some("""SELECT count(*) AS n_lim, 'prefix' AS leg
           |FROM (SELECT * FROM orders LIMIT 987)
           |UNION ALL
           |SELECT count(*) AS n_lim, 'filtered' AS leg
           |FROM (SELECT * FROM orders
           |      WHERE o_orderkey % 100 = 7 LIMIT 11)""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_lskip").toString
      val t = root + "/t"
      Snapshots.commitAppend(spark, orders.repartition(16), t)
      spark.sql(s"CREATE STATS INDEX ON '$t' (o_orderkey)").collect()
      val cat = s"glsk_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val prefix = planned(spark.sql( // pin: the hook must see THIS scan
        s"""SELECT count(*) AS n_lim, 'prefix' AS leg
           |FROM (SELECT * FROM $cat.t LIMIT 987)""".stripMargin))
      val (lk, ln) = Snapshots.lastLimitPruned.getOrElse(
        throw new IllegalStateException(
          "LIMIT never truncated the file list"))
      require(ln == 16 && lk < ln,
        s"LIMIT opened $lk of $ln files — no prefix truncation")
      // filtered leg: the modulo predicate is NOT sidecar-prunable
      // (every file's range matches) but IS pushed — truncation must
      // refuse, and the 11 matching rows still arrive
      val filtered = planned(spark.sql(
        s"""SELECT count(*) AS n_lim, 'filtered' AS leg
           |FROM (SELECT * FROM $cat.t
           |      WHERE o_orderkey % 100 = 7 LIMIT 11)""".stripMargin))
      require(Snapshots.lastLimitPruned.isEmpty,
        "a filtered LIMIT must not truncate the file list")
      prefix.unionByName(filtered)
    })

  /** TopN file pruning (SupportsPushDownTopN on the catalog scan):
    * `ORDER BY k LIMIT n` keeps only the files the sidecar cannot rule
    * out of the global top n — on a time-clustered 100 TB table the
    * canonical "latest k events" probe reads the tail files, not the
    * table. Both directions graded on a range-clustered fact table
    * (ASC and DESC each keep ≤ 2 of 16 files, asserted in-query via
    * lastTopNPruned); o_orderkey is unique so the row sets are
    * deterministic and fully DuckDB-oracled — an unsound prune that
    * drops a file holding a top-20 key is a hash mismatch.
    */
  val snapTopnSkip = QueryDef(
    "snap_topn_skip",
    Some("""SELECT o_orderkey, o_custkey, 'asc' AS leg
           |FROM (SELECT o_orderkey, o_custkey FROM orders
           |      ORDER BY o_orderkey LIMIT 20)
           |UNION ALL
           |SELECT o_orderkey, o_custkey, 'desc' AS leg
           |FROM (SELECT o_orderkey, o_custkey FROM orders
           |      ORDER BY o_orderkey DESC LIMIT 20)""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint(true)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_tskip").toString
      val t = root + "/t"
      Snapshots.commitAppend(spark,
        orders.repartitionByRange(16, col("o_orderkey")), t)
      spark.sql(s"CREATE STATS INDEX ON '$t' (o_orderkey)").collect()
      val cat = s"gtsk_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      def leg(order: String, tag: String) = {
        val df = planned(spark.sql( // pin: the hook must see THIS scan
          s"""SELECT o_orderkey, o_custkey, '$tag' AS leg
             |FROM $cat.t ORDER BY o_orderkey $order LIMIT 20""".stripMargin))
        val (tk, tn) = Snapshots.lastTopNPruned.getOrElse(
          throw new IllegalStateException(
            s"$tag topN never pruned the file list"))
        require(tn == 16 && tk <= 2,
          s"$tag top-20 opened $tk of $tn range-clustered files")
        df
      }
      leg("ASC", "asc").unionByName(leg("DESC", "desc"))
    })

  /** STORAGE-PARTITIONED JOIN over bucket transforms — the co-located
    * fact-dim join a 100 TB warehouse lives on: both tables declared
    * `PARTITIONED BY (bucket(8, key))` (`#partition:` bucket kind →
    * `__gp=<murmur3 pmod 8>` dirs), the catalog scan reports
    * KeyGroupedPartitioning over the catalog-resolved `bucket` V2
    * function (SnapshotCatalog.BucketUnbound — the FunctionCatalog
    * face), and the join on the bucket column plans with NO Exchange on
    * EITHER side (asserted in-query). The modulo filter is not
    * sidecar-prunable, so it re-applies post-scan without disturbing
    * the clustering. Rows fully DuckDB-oracled from orders × customer —
    * a lying bucket report (dir value ≠ function output for any row)
    * would co-locate wrong keys and surface as missing/duplicate join
    * rows, not just a slow plan.
    */
  val snapBucketSpj = QueryDef(
    "snap_bucket_spj",
    Some("""SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |WHERE o.o_orderkey % 91 = 0""".stripMargin),
    (spark, dir) => {
      val u = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")).localCheckpoint(true)
      val customer = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")).localCheckpoint(true)
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_spj").toString
      import org.apache.spark.sql.types._
      Snapshots.commitCreate(spark, root + "/fact",
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType))),
        Seq(("o_custkey", "bucket8")))
      Snapshots.commitAppend(spark, orders, root + "/fact")
      Snapshots.commitCreate(spark, root + "/dim",
        StructType(Seq(StructField("c_custkey", LongType),
          StructField("c_mktsegment", StringType))),
        Seq(("c_custkey", "bucket8")))
      Snapshots.commitAppend(spark, customer, root + "/dim")
      val cat = s"gspj_$u"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.sql(
          s"""SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
             |FROM $cat.fact o JOIN $cat.dim c
             |  ON o.o_custkey = c.c_custkey
             |WHERE o.o_orderkey % 91 = 0""".stripMargin)
        val out = j.localCheckpoint(true) // execute under the confs
        val plan = j.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          "bucket(8, key)-partitioned join must plan Exchange-free " +
            s"on both sides:\n${plan.take(2000)}")
        out
      } finally {
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        spark.conf.unset(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    })

  val all: Seq[QueryDef] =
    Seq(snapChangeFeed, snapTimeTravel, snapSqlMaintenance, snapReplica,
      snapRestore, snapTvfChanges, snapLazyDelete, snapConstraints,
      snapPredicateDelete, snapSqlInsert, snapSqlMerge, snapSqlUpdate,
      snapSqlRowLevel, snapSqlEvolve, snapSmallCompact, snapStreamSource,
      snapStreamSink, snapStreamBacklog, snapDetail, snapClone,
      snapCopyInto, snapConvert, snapDropColumn, snapBloomLookup,
      snapCatalogSkip, snapRuntimeSkip, snapRename, snapDefault,
      snapPartition, snapCdfStream, snapKeyGroupAgg, snapStatsAgg,
      snapLimitSkip, snapTopnSkip, snapBucketSpj)
}
