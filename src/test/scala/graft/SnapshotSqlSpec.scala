package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

/** SQL on snapshot tables: the maintenance statements
  * (plans/MaintenanceSql.scala) parse through the injected
  * GraftSqlParser and execute against the snapshot commit protocol;
  * quoted-path DML and column DDL run stock Spark through the snapshot
  * catalog's path identifiers; everything else delegates verbatim.
  */
class SnapshotSqlSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def freshTable(files: Int): String = {
    val t = Files.createTempDirectory("graft_snapsql").toString + "/t"
    (0 until files).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 8).map(j => (i * 8L + j, i * 1.0)).toDF("id", "x")
          .coalesce(1), t)
    }
    t
  }

  test("OPTIMIZE compacts an accreted table to a new version; healthy tables refuse") {
    val t = freshTable(16)
    val before = Snapshots.read(spark, t).collect().toSet
    val r = spark.sql(s"OPTIMIZE '$t'").head
    assert(r.getLong(0) == 17L && r.getBoolean(1))
    val after = Snapshots.filesAt(spark, t, 17L)
    assert(after.size < 16 && after.size <= 8,
      s"expected <=8 compacted files, got ${after.size}")
    assert(Snapshots.read(spark, t).collect().toSet == before,
      "OPTIMIZE must be bit-identical on data")
    // second run: below minFiles — refused, head unchanged
    val r2 = spark.sql(s"OPTIMIZE '$t'").head
    assert(r2.getLong(0) == 17L && !r2.getBoolean(1))
  }

  test("OPTIMIZE ZORDER BY clusters the rewrite; rows survive exactly") {
    val t = freshTable(16)
    val before = Snapshots.read(spark, t).collect().toSet
    val r = spark.sql(s"OPTIMIZE '$t' ZORDER BY (id, x)").head
    assert(r.getBoolean(1))
    assert(Snapshots.read(spark, t).collect().toSet == before)
    val hist = spark.sql(s"DESC HISTORY '$t'").collect()
    assert(hist.head.getString(2) == "optimize", "newest-first history")
  }

  test("OPTIMIZE ZORDER BY clusters STRING columns (source-keyed corpus shape)") {
    val t = Files.createTempDirectory("graft_snapsql_str").toString + "/t"
    (0 until 16).foreach { i =>
      Snapshots.commitAppend(spark,
        (0 until 50).map(j => (f"src${(i * 50 + j) % 40}%03d", i * 50L + j))
          .toDF("source", "id").coalesce(1), t)
    }
    val before = Snapshots.read(spark, t).collect().toSet
    // explicit TARGET: the clustering assertion below needs multiple
    // output files (the size-derived default compacts this toy to one)
    assert(spark.sql(s"OPTIMIZE '$t' TARGET 8 FILES ZORDER BY (source, id)")
      .head.getBoolean(1))
    assert(Snapshots.read(spark, t).collect().toSet == before)
    // clustering is real: a narrow source band touches a minority of files
    Snapshots.extendStats(spark, t, Seq("source", "id"))
    Snapshots.readPruned(spark, t,
      Seq(("source", "src000", "src004"))).collect()
    val Some((read, total)) = graft.operators.Layout.lastStatsPruned
    assert(read < total,
      s"string z-order + stats must prune a narrow source band ($read/$total)")
  }

  test("catalog-qualified targets resolve through spark.sql.catalog.<name>.root") {
    val root = Files.createTempDirectory("graft_snapsql_cat").toString
    val t = root + "/tt"
    (0 until 16).foreach(i => Snapshots.commitAppend(spark,
      Seq((i.toLong, "v")).toDF("id", "v").coalesce(1), t))
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.root", root)
    assert(spark.sql("OPTIMIZE gsql.tt").head.getBoolean(1))
    // the DSv2 read face sees the compacted head through the same conf
    assert(spark.sql("SELECT count(*) FROM gsql.tt").head.getLong(0) == 16L)
    // an identifier target whose catalog root is NOT configured is NOT
    // ours — it delegates (a foreign format's OPTIMIZE must keep working
    // for whoever owns it; vanilla Spark rejects it as a parse error)
    val err = intercept[Exception] {
      spark.sql("OPTIMIZE nocat.tt").collect()
    }
    assert(err.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException],
      s"unowned identifier targets must delegate verbatim, got: $err")
  }

  test("VACUUM RETAIN deletes exactly the unreferenced files; history shrinks") {
    val t = freshTable(16)
    spark.sql(s"OPTIMIZE '$t'") // v17 rewrites; v1..v16 files now stale
    val optFiles = Snapshots.filesAt(spark, t, 17L).size
    val del = spark.sql(s"VACUUM '$t' RETAIN 1 VERSIONS").head
    assert(del.getInt(0) == 16 && del.getInt(1) == 1,
      s"expected the 16 pre-optimize files deleted, got ${del.getInt(0)}")
    // head still fully readable from its retained files
    assert(Snapshots.read(spark, t).count() == 16 * 8)
    assert(Snapshots.filesAt(spark, t, 17L).size == optFiles)
    // expired manifests are gone: history now holds only the head
    assert(spark.sql(s"DESCRIBE HISTORY '$t'").count() == 1)
  }

  test("DESCRIBE HISTORY reports ops and file deltas, newest first") {
    val t = freshTable(3)
    Snapshots.commitOverwrite(spark,
      Seq((99L, 0.0)).toDF("id", "x"), t)
    val h = spark.sql(s"DESCRIBE HISTORY '$t'").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(4L, 3L, 2L, 1L))
    assert(h.map(_.getString(2)).toSeq ==
      Seq("overwrite", "append", "append", "append"))
    // v2: one file added, none removed; v4 overwrite dropped all three
    assert(h(2).getInt(4) == 1 && h(2).getInt(5) == 0)
    assert(h.head.getInt(5) == 3)
  }

  test("RESTORE is zero-copy undo: files re-referenced, marks carried, vacuum-safe") {
    val t = Files.createTempDirectory("graft_snapsql_rst").toString + "/t"
    // land batch 1 via the exactly-once stream path so the mark exists
    Snapshots.commitStreamAppend(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), t, "s1", 1L)
    val v1Files = Snapshots.filesAt(spark, t, 1L).toSet
    Snapshots.commitDelete(spark, t, Seq(3L, 7L), "id")
    assert(Snapshots.read(spark, t).count() == 8)
    val r = spark.sql(s"RESTORE TABLE '$t' VERSION AS OF 1").head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    // zero-copy: the restored head references exactly v1's files
    assert(Snapshots.filesAt(spark, t, 3L).toSet == v1Files)
    assert(Snapshots.read(spark, t).count() == 10)
    // stream marks carried forward: a replay of batch 1 must NOT re-land
    val (_, committed) = Snapshots.commitStreamAppend(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), t, "s1", 1L)
    assert(!committed && Snapshots.read(spark, t).count() == 10,
      "exactly-once must survive a restore")
    // vacuum keeps the restored files (the head references them)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(Snapshots.read(spark, t).count() == 10)
    // restoring to a vacuumed version is a loud miss
    val err = intercept[Exception] {
      spark.sql(s"RESTORE '$t' TO VERSION AS OF 2").collect()
    }
    assert(err.getMessage.contains("not retained") ||
      Option(err.getCause).exists(_.getMessage.contains("not retained")))
  }

  test("table-valued functions: snapshot_changes / snapshot_at / snapshot_history compose in SQL") {
    val root = Files.createTempDirectory("graft_snapsql_tvf").toString
    val t = root + "/tv"
    Snapshots.commitAppend(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    Snapshots.commitAppend(spark, Seq((3L, "c"), (4L, "d")).toDF("id", "v"), t)
    Snapshots.commitDelete(spark, t, Seq(2L), "id")
    // append-only window: inserts only, composable WHERE
    assert(spark.sql(s"SELECT id FROM snapshot_changes('$t', 1, 2) WHERE id > 3")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    // rewrite window without keys is a loud refusal, not a wrong answer
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_changes('$t', 2, 3)").collect()
    }
    assert(err.getMessage.contains("rowDiff") ||
      Option(err.getCause).exists(_.getMessage.contains("rowDiff")))
    // keyed row-exact form classifies the delete
    assert(spark.sql(
        s"SELECT id, change_type FROM snapshot_changes('$t', 2, 3, 'id')")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "delete")))
    // pinned version + history compose like relations (join/filter)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_at('$t', 1)")
      .head.getLong(0) == 2L)
    assert(spark.sql(
        s"SELECT count(*) FROM snapshot_history('$t') WHERE op = 'append'")
      .head.getLong(0) == 2L)
    // catalog-qualified names resolve through the same root conf
    spark.conf.set("spark.sql.catalog.gtvf",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtvf.root", root)
    assert(spark.sql("SELECT count(*) FROM snapshot_at('gtvf.tv', 2)")
      .head.getLong(0) == 4L)
    // snapshot_at by TIMESTAMP: resolves against the durable #ts commit
    // instants, like the catalog's TIMESTAMP AS OF
    val t1 = Snapshots.history(spark, t)
      .filter("version = 1").head.getTimestamp(1)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_at('$t', '$t1')")
      .head.getLong(0) == 2L)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_at('$t', " +
      s"TIMESTAMP '$t1')").head.getLong(0) == 2L)
    // DATE-ONLY strings parse too (cast through Spark under the session
    // timezone — java.sql.Timestamp.valueOf rejected them): a far-future
    // day resolves to the head
    assert(spark.sql(s"SELECT count(*) FROM snapshot_at('$t', '2099-01-01')")
      .head.getLong(0) == 3L)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_at('$t', " +
      "DATE '2099-01-01')").head.getLong(0) == 3L)
    intercept[Exception] { // pre-history instants refuse loudly
      spark.sql(
        s"SELECT * FROM snapshot_at('$t', '1970-01-01 00:00:00')").collect()
    }
    intercept[Exception] { // ...including date-only pre-history forms
      spark.sql(s"SELECT * FROM snapshot_at('$t', '1970-01-01')").collect()
    }
  }

  test("CHECK constraints: declared in SQL, enforced on every ingest path") {
    val t = Files.createTempDirectory("graft_snapsql_chk").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"), t)
    val r = spark.sql(
      s"ALTER TABLE '$t' ADD CONSTRAINT x_pos CHECK (x > 0)").head
    assert(r.getLong(0) == 2L && r.getString(1) == "x_pos")
    assert(Snapshots.checkConstraints(spark, t) == Map("x_pos" -> "x > 0"))
    // a constraint the existing data violates is refused outright
    intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT x_big CHECK (x > 15)")
        .collect()
    }
    // violating batches are refused on EVERY ingest path, named loudly
    def violates(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val msg = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("x_pos"), s"expected x_pos in: $msg")
    }
    violates(Snapshots.commitAppend(spark,
      Seq((3L, -1.0)).toDF("id", "x"), t))
    violates(Snapshots.commitMerge(spark,
      Seq((1L, -5.0)).toDF("id", "x"), t, Seq("id")))
    violates(Snapshots.commitStreamAppend(spark,
      Seq((4L, -2.0)).toDF("id", "x"), t, "s1", 1L))
    // NULL passes (SQL CHECK semantics), valid rows land, constraint
    // survives the commit (carried forward like stream marks)
    Snapshots.commitAppend(spark,
      Seq((5L, Some(5.0)), (6L, None))
        .toDF("id", "x"), t)
    assert(Snapshots.read(spark, t).count() == 4)
    assert(Snapshots.checkConstraints(spark, t).contains("x_pos"))
    // DROP lifts the gate
    spark.sql(s"ALTER TABLE '$t' DROP CONSTRAINT x_pos")
    Snapshots.commitAppend(spark, Seq((7L, -9.0)).toDF("id", "x"), t)
    assert(Snapshots.read(spark, t).count() == 5)
  }

  test("OPTIMIZE TARGET n FILES pins the output count; no clause derives from bytes") {
    val t = freshTable(20)
    val r = spark.sql(s"OPTIMIZE '$t' TARGET 3 FILES").head
    assert(r.getBoolean(1))
    assert(Snapshots.filesAt(spark, t, r.getLong(0)).size <= 3)
    // without a TARGET clause the output count is size-derived (~128 MB
    // byte budget per file), never a hardcoded constant — this tiny
    // table compacts to ONE file, and a 100 TB one would get ~800k
    val t2 = freshTable(20)
    val r2 = spark.sql(s"OPTIMIZE '$t2'").head
    assert(r2.getBoolean(1))
    assert(Snapshots.filesAt(spark, t2, r2.getLong(0)).size == 1,
      "byte-budget compaction of a tiny table is one file")
  }

  test("CHECK referencing a column a schema-subset batch omits: NULL passes, not an error") {
    val t = Files.createTempDirectory("graft_snapsql_sub").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((1L, "a", 5.0)).toDF("id", "v", "score"), t)
    spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT s_pos CHECK (score > 0)")
    // a legal subset append omitting `score`: readers serve the column
    // as NULL, and NULL PASSES a SQL CHECK — the commit must not die on
    // column resolution
    Snapshots.commitAppend(spark, Seq((2L, "b")).toDF("id", "v"), t)
    val head = Snapshots.read(spark, t)
    assert(head.count() == 2 && head.filter("id = 2").head.isNullAt(2))
    // still enforced whenever the column IS present
    intercept[Exception] {
      Snapshots.commitAppend(spark,
        Seq((3L, "c", -1.0)).toDF("id", "v", "score"), t)
    }
    // the streaming ingest path conforms identically
    Snapshots.commitStreamAppend(spark,
      Seq((4L, "d")).toDF("id", "v"), t, "subset_s", 0L)
    assert(Snapshots.read(spark, t).count() == 3)
  }

  test("DELETE FROM a quoted path kills rows by deletion vector; identifier targets delegate") {
    val t = Files.createTempDirectory("graft_snapsql_del").toString + "/t"
    Snapshots.commitAppend(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(2), t)
    spark.sql(s"DELETE FROM '$t' WHERE id IN (3, 7)")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(Snapshots.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == (1L to 10L).toSet -- Set(3L, 7L))
    // the two rows die by vector; every file carries
    assert(Snapshots.filesAt(spark, t, 2L) == Snapshots.filesAt(spark, t, 1L))
    assert(Snapshots.deadRowsAt(spark, t, 2L).values
      .map(_.getCardinality).sum == 2)
    // misses are free: no commit
    spark.sql(s"DELETE FROM '$t' WHERE id IN (999)")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    // identifier targets still go to Spark's own DELETE (parse-level
    // delegation — a temp view rejects DELETE like vanilla Spark does)
    spark.range(3).createOrReplaceTempView("plain_view")
    intercept[Exception] {
      spark.sql("DELETE FROM plain_view WHERE id IN (1)").collect()
    }
  }

  test("OPTIMIZE SMALL FILES bin-packs under a threshold; large files carry") {
    val t = Files.createTempDirectory("graft_snapsql_small").toString + "/t"
    // a genuinely >1 MB file plus 9 tiny accreted ones
    Snapshots.commitAppend(spark,
      spark.range(200000L).selectExpr("id",
        "repeat(uuid(), 2) AS payload").coalesce(1), t)
    (0 until 9).foreach { i =>
      Snapshots.commitAppend(spark,
        Seq((9000000L + i, s"tiny$i")).toDF("id", "payload").coalesce(1), t)
    }
    val big = Snapshots.filesAt(spark, t, 1L).head
    assert(java.nio.file.Files.size(
      java.nio.file.Paths.get(t, "data", big)) > (1L << 20))
    val r = spark.sql(s"OPTIMIZE '$t' SMALL FILES UNDER 1 MB").head
    assert(r.getLong(0) == 11L && r.getBoolean(1))
    val after = Snapshots.filesAt(spark, t, 11L)
    assert(after.contains(big) && after.size == 2,
      s"9 tiny files pack into 1, the large one carries: $after")
    assert(Snapshots.read(spark, t).count() == 200009L)
    // re-running is a no-op below the debt floor: compacted=false
    val r2 = spark.sql(s"OPTIMIZE '$t' SMALL FILES UNDER 1 MB").head
    assert(r2.getLong(0) == 11L && !r2.getBoolean(1))
  }

  test("DELETE FROM a quoted path takes arbitrary predicates: dates, strings, NULL keeps") {
    val t = Files.createTempDirectory("graft_snapsql_delw").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((1L, "keep", "2024-03-01"), (2L, "drop", "2023-12-31"),
        (3L, "keep", "2024-01-15"), (4L, "drop", "2023-01-01"),
        (5L, null, "2024-06-01")).toDF("id", "tag", "d")
        .withColumn("d", org.apache.spark.sql.functions.expr("to_date(d)")), t)
    // date-range retention delete — the shape that cannot enumerate keys
    spark.sql(s"DELETE FROM '$t' WHERE d < DATE '2024-01-01'")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(Snapshots.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    // string predicate; the NULL-tag row's predicate is NULL -> KEPT
    spark.sql(s"DELETE FROM '$t' WHERE tag = 'keep'")
    assert(Snapshots.currentVersion(spark, t) == 3L)
    assert(Snapshots.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == Set(5L))
    // string-key list through the Scala API's widened key type
    Snapshots.commitAppend(spark,
      Seq((6L, "x", "2024-07-01"), (7L, "y", "2024-07-02"))
        .toDF("id", "tag", "d").withColumn("d", org.apache.spark.sql.functions.expr("to_date(d)")), t)
    val (v, n) = Snapshots.commitDelete(spark, t, Seq("x", "y"), "tag")
    assert(v == 5L && n == 2L)
    assert(Snapshots.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == Set(5L))
  }

  test("UPDATE a quoted path kills rows by deletion vector: SET expressions, NULL keeps, checks bind") {
    val t = Files.createTempDirectory("graft_snapsql_upd").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, null),
        (4L, 40.0, "b")).toDF("id", "x", "tag").coalesce(2), t)
    spark.sql(s"UPDATE '$t' SET x = round(x * 2, 1) WHERE tag = 'b'")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(Snapshots.history(spark, t).select("op").head.getString(0) ==
      "update")
    val st = Snapshots.read(spark, t).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    // NULL-tag row's predicate is NULL -> untouched, like SQL UPDATE
    assert(st == Map(1L -> 10.0, 2L -> 40.0, 3L -> 30.0, 4L -> 80.0))
    // multi-assignment with a function call and a comma INSIDE a string
    // literal
    spark.sql(s"UPDATE '$t' SET x = greatest(x, 50.0), tag = 'u,p' " +
      "WHERE id IN (1, 2)")
    val st2 = Snapshots.read(spark, t).collect()
      .map(x => (x.getLong(0), (x.getDouble(1), x.getString(2)))).toMap
    assert(st2(1L) == (50.0, "u,p") && st2(2L) == (50.0, "u,p") &&
      st2(4L) == (80.0, "b"))
    // a declared CHECK binds the updated rows
    spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT x_cap CHECK (x <= 100)")
    val headV = Snapshots.currentVersion(spark, t)
    intercept[Exception] {
      spark.sql(s"UPDATE '$t' SET x = x * 10 WHERE id = 4")
    }
    assert(Snapshots.read(spark, t).filter("id = 4").head.getDouble(1)
      == 80.0, "a refused UPDATE must leave the head untouched")
    // SET on a missing column refuses (UPDATE never evolves schema)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"UPDATE '$t' SET nope = 1 WHERE id = 1")
    }
    assert(Snapshots.currentVersion(spark, t) == headV)
    // identifier targets keep delegating to Spark's own UPDATE handling
    spark.range(3).createOrReplaceTempView("graft_upd_plain")
    intercept[Exception] {
      spark.sql("UPDATE graft_upd_plain SET id = 1 WHERE id = 2").collect()
    }
  }

  test("MERGE INTO a quoted path is the protocol's keyed upsert; identifiers delegate") {
    val t = Files.createTempDirectory("graft_snapsql_merge").toString + "/t"
    Snapshots.commitAppend(spark,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(2), t)
    Seq((3L, "BUMP"), (9L, "NEW")).toDF("id", "v")
      .createOrReplaceTempView("graft_merge_src")
    spark.sql(s"MERGE INTO '$t' t USING graft_merge_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    val st = Snapshots.read(spark, t).collect()
      .map(x => (x.getLong(0), x.getString(1))).toMap
    assert(st.size == 7 && st(3L) == "BUMP" && st(9L) == "NEW" &&
      st(1L) == "v1")
    // subquery source, insert-only clause
    spark.sql(s"MERGE INTO '$t' t USING " +
      "(SELECT CAST(10 AS BIGINT) AS id, upper('s') AS v) s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(Snapshots.currentVersion(spark, t) == 3L)
    assert(Snapshots.read(spark, t).filter("id = 10").head.getString(1)
      == "S")
    // identifier targets keep delegating to Spark's own MERGE machinery
    spark.range(3).createOrReplaceTempView("graft_merge_plain")
    intercept[Exception] {
      spark.sql("MERGE INTO graft_merge_plain USING graft_merge_src " +
        "ON graft_merge_plain.id = graft_merge_src.id " +
        "WHEN MATCHED THEN UPDATE SET *").collect()
    }
  }

  test("UPDATE and MERGE INTO owned catalog identifiers run STOCK Spark row-level plans onto the protocol") {
    val root = Files.createTempDirectory("graft_snapsql_rl").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      (1L to 6L).map(i => (i, i * 10.0)).toDF("id", "x").coalesce(2), t)
    spark.conf.set("spark.sql.catalog.gsqlrl",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlrl.root", root)
    // identifier UPDATE — Spark's OWN row-level rewrite (the parser no
    // longer intercepts identifiers; the catalog has a
    // SupportsRowLevelOperations seat), committed by deletion vector
    // under the statement's own op
    spark.sql("UPDATE gsqlrl.t SET x = x + 1 WHERE id <= 2")
    assert(spark.sql("SELECT x FROM gsqlrl.t WHERE id = 1").head
      .getDouble(0) == 11.0)
    // identifier MERGE — stock resolution too (explicit ON condition)
    Seq((3L, 999.0), (9L, 90.0)).toDF("id", "x")
      .createOrReplaceTempView("graft_rl_src")
    spark.sql("MERGE INTO gsqlrl.t t USING graft_rl_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val st = spark.sql("SELECT id, x FROM gsqlrl.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(st.size == 7 && st(3L) == 999.0 && st(9L) == 90.0 &&
      st(1L) == 11.0)
    // the commits are first-class history (no side door)
    assert(Snapshots.history(spark, t).select("op").collect()
      .map(_.getString(0)).toSeq ==
      Seq("merge", "update", "append"))
    // UNOWNED identifiers keep delegating to Spark (vanilla failure
    // modes, never our resolver's)
    spark.range(3).createOrReplaceTempView("graft_rl_plain")
    intercept[Exception] {
      spark.sql("UPDATE graft_rl_plain SET id = 1 WHERE id = 2").collect()
    }
    intercept[Exception] {
      spark.sql("MERGE INTO graft_rl_plain USING graft_rl_src ON (id)")
        .collect()
    }
  }

  test("DML against a path with no snapshot table refuses loudly, never no-ops or creates") {
    val empty = Files.createTempDirectory("graft_snapsql_missing")
      .toString + "/nope"
    // the path identifier resolves to no table: analysis fails, naming
    // the path, before anything runs
    def refuses(sql: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
      assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" &&
        e.getMessage.contains(empty), s"for [$sql] got: ${e.getMessage}")
    }
    refuses(s"DELETE FROM '$empty' WHERE id IN (1, 2)")
    refuses(s"DELETE FROM '$empty' WHERE id < 5")
    refuses(s"UPDATE '$empty' SET x = 1 WHERE id = 1")
    spark.range(2).createOrReplaceTempView("graft_missing_src")
    refuses(s"MERGE INTO '$empty' t USING graft_missing_src s " +
      "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *")
    // above all: the refused MERGE must not have CREATED a table there
    assert(Snapshots.currentVersion(spark, empty) == 0L,
      "a refused MERGE must never create a table at the typo'd path")
  }

  test("SET-list splitter: a backslash-escaped quote inside a literal never splits") {
    val t = Files.createTempDirectory("graft_snapsql_esc").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), t)
    // one literal containing an ESCAPED quote and a comma: 'a\'b,c'
    spark.sql(s"UPDATE '$t' SET tag = 'a\\'b,c' WHERE id = 1")
    assert(Snapshots.read(spark, t).filter("id = 1").head.getString(1)
      == "a'b,c")
    // '' doubling still works alongside a second assignment
    spark.sql(s"UPDATE '$t' SET tag = 'it''s, fine', id = id + 10 " +
      "WHERE id = 2")
    val r = Snapshots.read(spark, t).filter("id = 12").head
    assert(r.getString(1) == "it's, fine")
  }

  test("ALTER TABLE ADD COLUMNS / ALTER COLUMN TYPE: metadata-only schema evolution") {
    val root = Files.createTempDirectory("graft_snapsql_ev").toString
    val t = root + "/t"
    Snapshots.commitAppend(spark,
      Seq((1, 1.5f), (2, 2.5f)).toDF("id", "x")
        .selectExpr("CAST(id AS INT) AS id", "CAST(x AS FLOAT) AS x"), t)
    val files1 = Snapshots.filesAt(spark, t, 1L)
    // ADD COLUMNS: declared schema extends, files carry, rows serve NULL
    spark.sql(s"ALTER TABLE '$t' ADD COLUMNS (tag STRING, score DOUBLE)")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(Snapshots.filesAt(spark, t, 2L) == files1,
      "ADD COLUMNS must move zero data files")
    val head2 = Snapshots.read(spark, t)
    assert(head2.columns.toSeq == Seq("id", "x", "tag", "score"))
    assert(head2.filter("tag IS NULL").count() == 2)
    // ALTER COLUMN TYPE: int->long widens in place; files still carry
    spark.sql(s"ALTER TABLE '$t' ALTER COLUMN id TYPE BIGINT")
    assert(Snapshots.currentVersion(spark, t) == 3L)
    assert(Snapshots.filesAt(spark, t, 3L) == files1)
    assert(Snapshots.read(spark, t).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(Snapshots.read(spark, t).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L), "old int32 files must upcast at read")
    // identifier form through the catalog root conf
    spark.conf.set("spark.sql.catalog.gev",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gev.root", root)
    spark.sql("ALTER TABLE gev.t ALTER COLUMN x TYPE DOUBLE")
    assert(spark.sql("SELECT x FROM gev.t WHERE id = 1").head.getDouble(0)
      == 1.5d)
    // refusals: narrowing, unknown column, duplicate column — all loud,
    // all leaving the head untouched
    val headV = Snapshots.currentVersion(spark, t)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' ALTER COLUMN id TYPE INT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' ALTER COLUMN nope TYPE BIGINT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' ADD COLUMNS (tag STRING)")
    }
    assert(Snapshots.currentVersion(spark, t) == headV)
    // appends in the widened type are legal from the next commit on
    Snapshots.commitAppend(spark,
      Seq((3L, 3.5d, "w", 1.0)).toDF("id", "x", "tag", "score"), t)
    assert(Snapshots.read(spark, t).count() == 3)
    // unowned catalogs keep delegating (vanilla failure, not ours)
    intercept[Exception] {
      spark.sql("ALTER TABLE nocat.db.t ADD COLUMNS (c INT)").collect()
    }
  }

  test("ALTER TABLE ADD COLUMNS (a, b) and ADD COLUMN a, b each commit one version, on a quoted path and an identifier") {
    val root = Files.createTempDirectory("graft_snapsql_add").toString
    spark.conf.set("spark.sql.catalog.gadd",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gadd.root", root)
    Seq("p", "i").foreach { n =>
      Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"),
        s"$root/$n")
    }
    def adds(table: String, stmt: String, cols: Seq[String]): Unit = {
      val t = s"$root/$table"
      val before = Snapshots.currentVersion(spark, t)
      spark.sql(stmt)
      assert(Snapshots.currentVersion(spark, t) == before + 1,
        s"[$stmt] committed ${Snapshots.currentVersion(spark, t) - before} versions")
      assert(Snapshots.filesAt(spark, t, before + 1) ==
        Snapshots.filesAt(spark, t, before))
      assert(Snapshots.read(spark, t).columns.toSeq.takeRight(2) == cols)
    }
    adds("i", "ALTER TABLE gadd.i ADD COLUMNS (a INT, b STRING)",
      Seq("a", "b"))
    adds("i", "ALTER TABLE gadd.i ADD COLUMN c INT DEFAULT 7, d DOUBLE",
      Seq("c", "d"))
    adds("p", s"ALTER TABLE '$root/p' ADD COLUMNS (a INT, b STRING)",
      Seq("a", "b"))
    adds("p", s"ALTER TABLE '$root/p' ADD COLUMN c INT, d DOUBLE",
      Seq("c", "d"))
    // the DEFAULT rode the one commit: the landed row serves it
    assert(spark.sql("SELECT c FROM gadd.i").head.getInt(0) == 7)
  }

  test("MERGE WITH SCHEMA EVOLUTION INTO a quoted path adds the source's new columns in one commit, then merges") {
    val t = Files.createTempDirectory("graft_snapsql_mev").toString + "/t"
    Snapshots.commitAppend(spark,
      (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    Seq((2L, "u2", 20.0, "x"), (9L, "n9", 90.0, "y"))
      .toDF("id", "v", "score", "tag")
      .createOrReplaceTempView("graft_mev_src")
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO '$t' t " +
      "USING graft_mev_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // v2: both new columns in one metadata-only commit; v3: the merge
    assert(Snapshots.currentVersion(spark, t) == 3L)
    assert(Snapshots.history(spark, t).select("op").collect()
      .map(_.getString(0)).toSeq.take(2) == Seq("merge", "addColumn"))
    assert(Snapshots.filesAt(spark, t, 2L) == Snapshots.filesAt(spark, t, 1L))
    val head = Snapshots.read(spark, t)
    assert(head.columns.toSeq == Seq("id", "v", "score", "tag"))
    val st = head.collect().map(r => r.getLong(0) -> r).toMap
    assert(st.size == 5 && st(2L).getString(1) == "u2" &&
      st(2L).getDouble(2) == 20.0 && st(9L).getString(3) == "y")
    // old rows are null-padded
    assert(st(1L).isNullAt(2) && st(1L).isNullAt(3) && st(1L).getString(1) == "v1")
  }

  test("versionAtInstant: binary search agrees with the exhaustive instant scan") {
    val t = Files.createTempDirectory("graft_snapsql_vai").toString + "/t"
    (1L to 9L).foreach { i =>
      Snapshots.commitAppend(spark, Seq((i, s"v$i")).toDF("id", "v"), t)
    }
    val instants = Snapshots.commitInstants(spark, t)
    def linear(cut: Long): Option[Long] =
      instants.filter(_._2 <= cut).map(_._1).maxOption
    // before-first refuses; every midpoint, exact instant, and the
    // far future agree with the linear scan
    val probes = Seq(instants.head._2 - 1000, instants.head._2,
      instants(4)._2, instants(4)._2 + 1,
      (instants(3)._2 + instants(4)._2) / 2,
      instants.last._2, instants.last._2 + 100000)
    probes.foreach { cut =>
      assert(Snapshots.versionAtInstant(spark, t, cut) == linear(cut),
        s"binary search diverged from the linear scan at cutoff $cut")
    }
    assert(Snapshots.versionAtInstant(spark, t,
      instants.head._2 - 999999).isEmpty)
  }

  test("VACUUM DRY RUN lists exactly what VACUUM would delete, touching nothing") {
    val t = freshTable(16)
    spark.sql(s"OPTIMIZE '$t' TARGET 1 FILES") // v17: 16 stale files
    val before = Snapshots.read(spark, t).count()
    val dry = spark.sql(s"VACUUM '$t' RETAIN 1 VERSIONS DRY RUN").collect()
      .map(_.getString(0)).toSet
    assert(dry.size == 16, s"expected the 16 pre-optimize files, got $dry")
    // nothing touched: all versions still readable, files still on disk
    assert(Snapshots.read(spark, t, Some(1L)).count() == 8)
    assert(Snapshots.read(spark, t).count() == before)
    // the real VACUUM deletes exactly the dry-run list
    val real = spark.sql(s"VACUUM '$t' RETAIN 1 VERSIONS").head
    assert(real.getInt(0) == 16)
    intercept[Exception] { Snapshots.filesAt(spark, t, 1L) }
  }

  test("DESCRIBE DETAIL reports head metadata in one metadata-only row") {
    val t = Files.createTempDirectory("graft_snapsql_det").toString + "/t"
    Snapshots.commitAppend(spark,
      (1L to 6L).map(i => (i, i * 10.0)).toDF("id", "x")
        .repartitionByRange(2, $"id"), t)
    spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT x_pos CHECK (x > 0)")
    // a keyed delete of one row of three: its file gains a vector
    spark.sql(s"DELETE FROM '$t' WHERE id IN (2)").collect()
    val d = spark.sql(s"DESC DETAIL '$t'").head
    assert(d.getString(0) == t)
    assert(d.getLong(1) == 3L) // append + constraint + keyed delete
    assert(d.getInt(2) == 2 && d.getLong(3) > 0L)
    assert(d.getString(4).toLowerCase.contains("id") &&
      d.getString(4).toLowerCase.contains("bigint"))
    assert(d.getInt(5) == 1 && d.getInt(6) == 1)
    assert(d.getTimestamp(7) != null)
    // no sidecar indexes declared yet: both audit columns empty
    assert(d.getString(8) == "" && d.getString(9) == "")
    // layout/mapping audit columns: empty on a plain table...
    assert(d.getString(10) == "" && d.getString(11) == "" &&
      d.getString(12) == "")
    // ...and populated after the layout DDL lands (the partition column
    // may not rename, so map `x`); the OPTIMIZE re-writes the vectored
    // file, so no vector file is left referenced
    assert(Snapshots.compactData(spark, t, targetFiles = 1,
      minFiles = 1).nonEmpty)
    assert(spark.sql(s"DESC DETAIL '$t'").head.getInt(6) == 0)
    spark.sql(s"ALTER TABLE '$t' SET PARTITION (identity(id))").collect()
    spark.sql(s"ALTER TABLE '$t' DROP CONSTRAINT x_pos").collect()
    spark.sql(s"ALTER TABLE '$t' RENAME COLUMN x TO score").collect()
    spark.sql(s"ALTER TABLE '$t' ADD COLUMNS (tag STRING DEFAULT 'n/a')")
      .collect()
    val d2 = spark.sql(s"DESC DETAIL '$t'").head
    assert(d2.getString(10) == "identity(id)")
    assert(d2.getString(11) == "score<-x")
    assert(d2.getString(12) == "tag='n/a'")
    // a missing table refuses loudly, like the DML statements
    val e = intercept[Exception] {
      spark.sql("DESCRIBE DETAIL '/tmp/graft_no_such_detail'").collect()
    }
    assert((e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("no snapshot table"))
  }

  test("UPDATE without WHERE touches every row; bare DELETE empties but keeps the schema") {
    val t = Files.createTempDirectory("graft_snapsql_all").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "x"), t)
    spark.sql(s"UPDATE '$t' SET x = x * 10")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(Snapshots.read(spark, t).select("x").collect()
      .map(_.getDouble(0)).toSet == Set(10.0, 20.0, 30.0))
    spark.sql(s"DELETE FROM '$t'")
    assert(Snapshots.currentVersion(spark, t) == 3L)
    val head = Snapshots.read(spark, t)
    assert(head.count() == 0 &&
      head.columns.toSeq == Seq("id", "x"),
      "bare DELETE empties the table but the declared schema survives")
    // the timeline continues: an append after the full delete is normal
    Snapshots.commitAppend(spark, Seq((9L, 9.0)).toDF("id", "x"), t)
    assert(Snapshots.read(spark, t).count() == 1)
    // identifier bare-DELETE keeps delegating to Spark's DSv2 machinery
    spark.range(3).createOrReplaceTempView("graft_all_plain")
    intercept[Exception] {
      spark.sql("DELETE FROM graft_all_plain").collect()
    }
  }

  test("ALTER TABLE DROP COLUMN: SQL face, refusal surface, OPTIMIZE unlocks the name") {
    val t = java.nio.file.Files
      .createTempDirectory("graft_sql_dropcol").toString + "/t"
    // 16 files so the default OPTIMIZE floor (minFiles) actually rewrites
    Snapshots.commitAppend(spark,
      (1L to 64L).map(i => (i, i * 2L, s"v$i")).toDF("id", "x", "v")
        .repartition(16), t)
    spark.sql(s"ALTER TABLE '$t' DROP COLUMN x")
    assert(Snapshots.currentVersion(spark, t) == 2L)
    assert(!Snapshots.read(spark, t).columns.contains("x"))
    assert(spark.sql(s"SELECT * FROM snapshot_at('$t', 1)")
      .columns.contains("x"))
    // the poisoned name refuses through the SQL write face too: a
    // schema-evolving MERGE would re-add it
    spark.range(1).selectExpr("CAST(99 AS BIGINT) AS id",
      "CAST(0 AS BIGINT) AS x", "'z' AS v")
      .createOrReplaceTempView("graft_dropcol_src")
    intercept[Exception] {
      spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO '$t' t " +
        "USING graft_dropcol_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        .collect()
    }
    assert(Snapshots.currentVersion(spark, t) == 2L)
    spark.sql(s"OPTIMIZE '$t' TARGET 1 FILES").collect()
    spark.sql(s"ALTER TABLE '$t' ADD COLUMNS (x BIGINT)").collect()
    assert(Snapshots.read(spark, t)
      .filter(org.apache.spark.sql.functions.col("x").isNotNull)
      .count() == 0L)
  }

  test("index DDL: CREATE/DROP BLOOM INDEX and CREATE STATS INDEX through SQL") {
    import org.apache.spark.sql.functions.col
    val t = java.nio.file.Files
      .createTempDirectory("graft_sql_idx").toString + "/t"
    Snapshots.commitAppend(spark,
      (1L to 400L).map(i => (i, i * 2L)).toDF("id", "x")
        .repartition(8, col("id")), t)
    val b = spark.sql(s"CREATE BLOOM INDEX ON '$t' (id) FPP 0.01").head
    assert(b.getString(0) == "id" && b.getInt(1) == 8)
    // incremental: a re-run covers nothing new
    assert(spark.sql(s"CREATE BLOOM INDEX ON '$t' (id)").head.getInt(1) == 0)
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Seq(42L))
      .filter(col("id") === 42L).count() == 1L)
    assert(Snapshots.lastBloomPruned.get._1 < 8)
    val s = spark.sql(s"CREATE STATS INDEX ON '$t' (id, x)").head
    assert(s.getString(0) == "id,x" && s.getInt(1) == 8)
    // the point-lookup TVF serves matching rows from the pruned read
    val rows = spark.sql(s"SELECT * FROM snapshot_lookup('$t', 'id', '42, 77')")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(rows == Set(42L -> 84L, 77L -> 154L))
    assert(Snapshots.lastBloomPruned.get._1 < 8,
      "snapshot_lookup did not consult the bloom index")
    val d = spark.sql(s"DROP BLOOM INDEX ON '$t' (id)").head
    assert(d.getBoolean(1))
    assert(Snapshots.readPrunedByKeys(spark, t, "id", Seq(42L))
      .count() == 400L) // fallback: full candidate set
    assert(Snapshots.lastBloomPruned.isEmpty)
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE BLOOM INDEX ON '$t/nope' (id)").collect()
    }
  }

  test("everything else delegates verbatim to the normal parser") {
    assert(spark.sql("SELECT 1 AS one").head.getInt(0) == 1)
    // near-miss keywords stay vanilla errors, not silent maintenance runs
    intercept[Exception] { spark.sql("OPTIMIZE") }
    intercept[Exception] { spark.sql("DESCRIBE HISTORY") }
    // a bare unowned identifier is not ours: verbatim delegation means a
    // vanilla parse error, never our resolver's
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("OPTIMIZE justaname").collect()
    }
    // and foreign-looking constraint DDL on an unowned catalog delegates
    intercept[Exception] {
      spark.sql("ALTER TABLE nocat.db.t ADD CONSTRAINT c CHECK (x > 0)")
        .collect()
    }
  }
  test("snapshot_partitions TVF: the partition census as a FROM-clause relation") {
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    val t = Files.createTempDirectory("graft_snapsql_pc").toString + "/t"
    Snapshots.commitAppend(spark,
      Seq((0L, "2024-10-01")).toDF("id", "d")
        .selectExpr("id", "CAST(d AS DATE) AS d"), t) // flat seed
    spark.sql(s"ALTER TABLE '$t' SET PARTITION (date(d))").collect()
    Snapshots.commitAppend(spark, spark.range(1, 401).toDF("id")
      .withColumn("d", date_add(to_date(lit("2024-10-01")),
        (col("id") % 4).cast("int"))), t)
    val census = spark.sql(
      s"SELECT * FROM snapshot_partitions('$t') ORDER BY partition")
      .collect()
    val byPart = census.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byPart.keySet == Set("<flat>", "2024-10-01", "2024-10-02",
      "2024-10-03", "2024-10-04"))
    assert(byPart.values.forall { case (files, bytes) =>
      files > 0 && bytes > 0 })
    // it composes like any relation: the retention plan in one query
    assert(spark.sql(
      s"""SELECT sum(num_files) FROM snapshot_partitions('$t')
         |WHERE partition <> '<flat>' AND partition < '2024-10-03'"""
        .stripMargin).head.getLong(0) ==
      byPart("2024-10-01")._1 + byPart("2024-10-02")._1)
    // a pinned version censuses ITS entries (the flat-only v1)
    assert(spark.sql(
      s"SELECT partition FROM snapshot_partitions('$t', 1)").collect()
      .map(_.getString(0)).toSeq == Seq("<flat>"))
  }
}
