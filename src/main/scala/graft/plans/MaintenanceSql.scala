package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.warehouse.Snapshots

/** Maintenance statements for snapshot tables as REAL SQL — the operator
  * surface a versioned warehouse schedules from plain `spark.sql(...)`:
  *
  * {{{
  *   OPTIMIZE <target> [TARGET <n> FILES] [ZORDER BY (c1, c2 [, ...])]
  *   OPTIMIZE <target> SMALL FILES [UNDER <n> MB]
  *   VACUUM <target> [RETAIN <n> VERSIONS] [DRY RUN]
  *   DESC[RIBE] HISTORY <target>
  *   DESC[RIBE] DETAIL <target>
  *   RESTORE [TABLE] <target> [TO] VERSION AS OF <n>
  *   ALTER TABLE <target> ADD CONSTRAINT <name> CHECK (<expr>)
  *   ALTER TABLE <target> DROP CONSTRAINT <name>
  *   ALTER TABLE <target> ADD COLUMNS (c1 TYPE [, c2 TYPE ...])
  *   ALTER TABLE <target> ALTER COLUMN <c> TYPE <widerType>
  *   DELETE FROM '<path>' WHERE <keyCol> IN (<k1>, <k2>, ...)
  *   DELETE FROM '<path>' [WHERE <arbitrary predicate>]
  *   MERGE INTO <target> USING <view|(subquery)> ON (k1 [, k2 ...])
  *     [WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *]
  *   UPDATE <target> SET c1 = e1 [, c2 = e2 ...] [WHERE <predicate>]
  * }}}
  *
  * UPDATE, MERGE and DELETE are parsed here only for QUOTED PATHS (a
  * path has no catalog seat for Spark to resolve). Catalog identifiers
  * (`snap.t`) delegate to Spark's own DML: the catalog implements
  * delta-based SupportsRowLevelOperations (sources/SnapshotRowLevel
  * .scala), so stock `UPDATE`/`MERGE INTO`/`DELETE` commit there by
  * deletion vector, like these verbs do. All DML refuses loudly when
  * no snapshot table exists at the target — a typo'd path must never
  * no-op as success or have MERGE quietly create a table there.
  *
  * `<target>` is either a quoted filesystem path (`'/warehouse/t'`) or a
  * catalog-qualified identifier (`snap.events`) resolved through the same
  * `spark.sql.catalog.<name>.root` configuration the DSv2 read catalog
  * ([[graft.sources.SnapshotCatalog]]) uses — one registration serves
  * both the read face (SELECT/time travel) and the maintenance face.
  *
  * Implementation is the parser-delegation recipe the transactional table
  * formats use for their own OPTIMIZE/VACUUM (SparkSessionExtensions
  * `injectParser`): [[GraftSqlParser]] recognizes exactly these
  * statements and hands EVERYTHING else verbatim to the session's normal
  * parser, so no Spark SQL behavior changes. Each statement becomes a
  * `LeafRunnableCommand` — executed eagerly by Spark's command machinery,
  * results returned as a normal DataFrame.
  *
  * All commands except OPTIMIZE are metadata-bounded at 100 TB (RESTORE
  * is a zero-copy manifest re-reference); OPTIMIZE rewrites
  * one table's current file set under the optimistic commit protocol
  * (racing appends serialize, never lost — Snapshots.compactData), VACUUM
  * deletes only files referenced by no retained manifest, and DESCRIBE
  * HISTORY reads manifests only (O(retained versions), never data).
  */
object MaintenanceSql {

  /** A statement's table target, resolved lazily at execution time (the
    * catalog root conf may be set between parse and run).
    */
  final case class SnapTarget(raw: String) {
    def resolve(spark: SparkSession): String =
      if (raw.startsWith("'")) raw.stripPrefix("'").stripSuffix("'")
      else {
        val parts = raw.split('.').toSeq.map(_.stripPrefix("`").stripSuffix("`"))
        require(parts.size >= 2,
          s"snapshot maintenance target '$raw' must be a quoted path or a " +
            "catalog-qualified name (catalog.table)")
        val key = s"spark.sql.catalog.${parts.head}.root"
        val root = spark.conf.getOption(key).getOrElse(throw
          new IllegalArgumentException(
            s"catalog '${parts.head}' has no $key configured"))
        parts.tail.foldLeft(new org.apache.hadoop.fs.Path(root))(
          (p, n) => new org.apache.hadoop.fs.Path(p, n)).toString
      }
  }

  // quoted path | multipart identifier (optionally backticked parts)
  private val T = """('[^']+'|`?[A-Za-z_][\w]*`?(?:\.`?[A-Za-z_][\w]*`?)*)"""
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + T +
      """(?:\s+TARGET\s+(\d+)\s+FILES?)?""" +
      """(?:\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$""").r
  // bin-packed partial compaction: rewrite only the small files
  private val OptimizeSmallRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + T +
      """\s+SMALL\s+FILES(?:\s+UNDER\s+(\d+)\s*MB)?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + T +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?(\s+DRY\s+RUN)?\s*;?\s*$""").r
  private val HistoryRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+""" + T + """\s*;?\s*$""").r
  private val DetailRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+""" + T + """\s*;?\s*$""").r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?""" + T +
      """\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  private val AddCheckRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val DropCheckRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""").r
  // metadata-only schema evolution: ADD COLUMNS appends forced-nullable
  // fields to the declared schema; ALTER COLUMN TYPE performs the safe
  // widenings (int->long, float->double, decimal precision growth) —
  // zero data moves for either, at any table size
  private val AddColumnsRe = // one paren nesting: DECIMAL(10,2) etc.
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+ADD\s+COLUMNS?\s*\(\s*((?:[^()]|\([^()]*\))+?)\s*\)\s*;?\s*$""").r
  private val AlterColTypeRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+ALTER\s+COLUMN\s+(`?\w+`?)\s+TYPE\s+([\w(),.\s]+?)\s*;?\s*$""").r
  private val DropColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+DROP\s+COLUMN\s+(`?\w+`?)\s*;?\s*$""").r
  private val RenameColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+RENAME\s+COLUMN\s+(`?\w+`?)\s+TO\s+(`?\w+`?)\s*;?\s*$""").r
  // declared partition transforms: directory-level file skipping and
  // O(entries) whole-partition retention expiry
  private val SetPartitionRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+SET\s+PARTITION\s*\(\s*(.+?)\s*\)\s*;?\s*$""").r
  // one transform item: `kind(col)`, `bucket(N, col)`, or a bare `col`
  // (identity)
  private val PartItemRe = """(?i)^\s*(\w+)\s*\(\s*(`?\w+`?)\s*\)\s*$""".r
  private val PartBucketRe =
    """(?i)^\s*bucket\s*\(\s*(\d+)\s*,\s*(`?\w+`?)\s*\)\s*$""".r
  private val PartBareRe = """^\s*(`?\w+`?)\s*$""".r

  /** Top-level comma split of a SET PARTITION body — paren-aware, so
    * `bucket(8, k), date(d)` splits into its two items, not at the
    * bucket arity comma.
    */
  private def splitPartItems(body: String): Seq[String] = {
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    body.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => items += sb.toString; sb.clear()
      case c => sb += c
    }
    items += sb.toString
    items.toSeq
  }
  private val ExpirePartitionsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+EXPIRE\s+PARTITIONS\s+OLDER\s+THAN\s+'([^']+)'\s*;?\s*$""").r
  // column DEFAULTs: SET DEFAULT governs future writes (metadata-only);
  // DROP DEFAULT reverts to NULL-fill; ADD COLUMNS parses per-column
  // DEFAULT clauses itself (Spark's colTypeList has no DEFAULT seat)
  private val SetDefaultRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+ALTER\s+COLUMN\s+(`?\w+`?)\s+SET\s+DEFAULT\s+(.+?)\s*;?\s*$""").r
  private val DropDefaultRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + T +
      """\s+ALTER\s+COLUMN\s+(`?\w+`?)\s+DROP\s+DEFAULT\s*;?\s*$""").r
  // QUOTED PATHS ONLY: Spark has its own DSv2 `DELETE FROM <ident>` —
  // an identifier target must keep delegating to it, so only the form
  // vanilla SQL cannot express (a filesystem path) is intercepted
  private val DeleteKeysRe =
    ("""(?is)^\s*DELETE\s+FROM\s+('[^']+')""" +
      """\s+WHERE\s+(\w+)\s+IN\s*\(\s*(\d+(?:\s*,\s*\d+)*)\s*\)\s*;?\s*$""").r
  // general predicate form (matched AFTER the IN-int-list fast path,
  // which stats-prunes its probe by key list): the retention / erasure
  // shape — `WHERE o_orderdate < DATE '1994-01-01'`, string keys, any
  // boolean expression the session parser accepts
  private val DeleteWhereRe =
    ("""(?is)^\s*DELETE\s+FROM\s+('[^']+')\s+WHERE\s+(.+?)\s*;?\s*$""").r
  // bare DELETE (no WHERE): every row — SQL-legal, served as the
  // predicate form with TRUE (the schema survives; TRUNCATE-like but
  // versioned). Quoted paths only, like the other DELETE forms.
  private val DeleteAllRe =
    ("""(?is)^\s*DELETE\s+FROM\s+('[^']+')\s*;?\s*$""").r
  // MERGE, key-based upsert form (the protocol's merge). The regex
  // accepts any target, but only QUOTED PATHS are served here: catalog
  // identifiers delegate to Spark, whose row-level DML the catalog
  // serves (SupportsRowLevelOperations — see parse below). The source
  // is a view/table name or a parenthesized subquery; the only
  // supported clause pair is the canonical upsert (UPDATE SET * /
  // INSERT *), which may be omitted entirely.
  // UPDATE is served for quoted paths likewise; its SET list splits
  // paren-aware at run time so expressions may call functions
  // WHERE is optional (SQL UPDATE without one touches every row): the
  // split happens at the FIRST ` WHERE ` after SET — a WHERE inside a
  // SET-side string literal mis-splits into fragments that fail
  // expression parsing LOUDLY (never a silent wrong update)
  private val UpdateRe =
    ("""(?is)^\s*UPDATE\s+""" + T +
      """\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""").r
  private val MergeRe =
    ("""(?is)^\s*MERGE\s+INTO\s+""" + T +
      """\s+USING\s+(\((?:[^()]|\([^()]*\))*\)|[\w.`]+)""" +
      """\s+ON\s*\(\s*([^)]+?)\s*\)""" +
      """(\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*""" +
      """\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*)?\s*;?\s*$""").r
  // zero-copy table fork: both names quoted paths or owned identifiers
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+""" + T + """\s+SHALLOW\s+CLONE\s+""" + T +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""").r
  // idempotent bulk file load from a landing dir (source always a path)
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+""" + T + """\s+FROM\s+('[^']+')""" +
      """(?:\s+FILEFORMAT\s*=\s*(\w+))?(\s+FORCE)?\s*;?\s*$""").r
  // in-place zero-copy import of an existing parquet dir (always a path)
  private val ConvertRe =
    ("""(?is)^\s*CONVERT\s+TO\s+SNAPSHOT\s+('[^']+')\s*;?\s*$""").r
  // file-skipping index DDL: per-file Bloom (point lookups) and min/max
  // stats (range boxes) — both incremental, version-list-driven
  private val CreateBloomRe =
    ("""(?is)^\s*CREATE\s+BLOOM\s+INDEX\s+ON\s+""" + T +
      """\s*\(\s*(`?\w+`?)\s*\)(?:\s+FPP\s+(0?\.\d+))?\s*;?\s*$""").r
  private val DropBloomRe =
    ("""(?is)^\s*DROP\s+BLOOM\s+INDEX\s+ON\s+""" + T +
      """\s*\(\s*(`?\w+`?)\s*\)\s*;?\s*$""").r
  private val CreateStatsRe =
    ("""(?is)^\s*CREATE\s+STATS\s+INDEX\s+ON\s+""" + T +
      """\s*\(\s*([\w`,\s]+?)\s*\)\s*;?\s*$""").r

  /** Some(plan) when `sqlText` is one of the maintenance statements AND
    * the target is ours; None → caller delegates to the normal parser.
    *
    * Ownership rule: quoted paths are always ours (vanilla SQL cannot
    * express them); an IDENTIFIER target is ours only when its leading
    * part names a catalog with `spark.sql.catalog.<name>.root`
    * CONFIGURED — `OPTIMIZE delta_cat.t` or foreign constraint DDL on
    * another format's catalog must keep delegating to whoever owns it,
    * not fail against our root lookup (the delegate-verbatim contract).
    */
  def parse(sqlText: String): Option[LogicalPlan] = {
    def ours(target: String): Boolean =
      target.startsWith("'") ||
        org.apache.spark.sql.SparkSession.getActiveSession.exists(
          _.conf.getOption("spark.sql.catalog." +
            target.split('.').head.stripPrefix("`").stripSuffix("`") +
            ".root").isDefined)
    sqlText match {
      case OptimizeSmallRe(target, underMb) if ours(target) =>
        Some(OptimizeSnapshotSmall(SnapTarget(target),
          Option(underMb).map(_.toLong << 20).getOrElse(32L << 20)))
      case OptimizeRe(target, tgtFiles, zorder) if ours(target) =>
        val cols = Option(zorder).toSeq.flatMap(_.split(',').toSeq)
          .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
        // no TARGET clause → 0 = size-derived (~128 MB per output file):
        // a hardcoded constant would mean `OPTIMIZE t` rewrites a 100 TB
        // table into 8 enormous files
        Some(OptimizeSnapshot(SnapTarget(target), cols,
          Option(tgtFiles).map(_.toInt).getOrElse(0)))
      case VacuumRe(target, retain, dry) if ours(target) =>
        val keep = Option(retain).map(_.toInt).getOrElse(2)
        if (dry != null) Some(VacuumSnapshotDryRun(SnapTarget(target), keep))
        else Some(VacuumSnapshot(SnapTarget(target), keep))
      case HistoryRe(target) if ours(target) =>
        Some(DescribeSnapshotHistory(SnapTarget(target)))
      case DetailRe(target) if ours(target) =>
        Some(DescribeSnapshotDetail(SnapTarget(target)))
      case RestoreRe(target, v) if ours(target) =>
        Some(RestoreSnapshot(SnapTarget(target), v.toLong))
      case AddCheckRe(target, name, check) if ours(target) =>
        Some(AddSnapshotConstraint(SnapTarget(target), name, check.trim))
      case DropCheckRe(target, name) if ours(target) =>
        Some(DropSnapshotConstraint(SnapTarget(target), name))
      case AddColumnsRe(target, cols) if ours(target) =>
        Some(AddSnapshotColumns(SnapTarget(target), cols.trim))
      case SetPartitionRe(target, body) if ours(target) &&
          splitPartItems(body).forall(i =>
            PartBucketRe.findFirstIn(i).isDefined ||
            PartItemRe.findFirstIn(i).isDefined ||
            PartBareRe.findFirstIn(i).isDefined) =>
        val transforms = splitPartItems(body).map {
          case PartBucketRe(n, col) =>
            (col.stripPrefix("`").stripSuffix("`"), s"bucket$n")
          case PartItemRe(kind, col) =>
            (col.stripPrefix("`").stripSuffix("`"),
              kind.toLowerCase(java.util.Locale.ROOT))
          case PartBareRe(col) =>
            (col.stripPrefix("`").stripSuffix("`"), "identity")
        }
        Some(SetSnapshotPartition(SnapTarget(target), transforms))
      case ExpirePartitionsRe(target, cutoff) if ours(target) =>
        Some(ExpireSnapshotPartitions(SnapTarget(target), cutoff))
      case SetDefaultRe(target, col, dflt) if ours(target) =>
        Some(SetSnapshotColumnDefault(SnapTarget(target),
          col.stripPrefix("`").stripSuffix("`"), dflt.trim))
      case DropDefaultRe(target, col) if ours(target) =>
        Some(DropSnapshotColumnDefault(SnapTarget(target),
          col.stripPrefix("`").stripSuffix("`")))
      case AlterColTypeRe(target, col, typ) if ours(target) =>
        Some(WidenSnapshotColumn(SnapTarget(target),
          col.stripPrefix("`").stripSuffix("`"), typ.trim))
      case DropColumnRe(target, col) if ours(target) =>
        Some(DropSnapshotColumn(SnapTarget(target),
          col.stripPrefix("`").stripSuffix("`")))
      case RenameColumnRe(target, from, to) if ours(target) =>
        Some(RenameSnapshotColumn(SnapTarget(target),
          from.stripPrefix("`").stripSuffix("`"),
          to.stripPrefix("`").stripSuffix("`")))
      case DeleteKeysRe(target, keyCol, keys) => // quoted paths only
        Some(DeleteSnapshotKeys(SnapTarget(target), keyCol,
          keys.split(',').map(_.trim.toLong).toSeq))
      case DeleteWhereRe(target, predicate) => // quoted paths only
        Some(DeleteSnapshotWhere(SnapTarget(target), predicate.trim))
      case DeleteAllRe(target) => // quoted paths only: every row
        Some(DeleteSnapshotWhere(SnapTarget(target), "true"))
      // UPDATE/MERGE on QUOTED PATHS stay the engine's verbs (a path
      // has no catalog seat for Spark to resolve); catalog IDENTIFIERS
      // delegate to Spark's own row-level machinery — the catalog
      // implements delta-based SupportsRowLevelOperations (sources/
      // SnapshotRowLevel.scala), so stock `UPDATE snap.t` / `MERGE
      // INTO snap.t` (including rich clause forms this verb never
      // parsed) plan as a sidecar-pruned WriteDelta that commits by
      // deletion vector.
      case UpdateRe(target, sets, predicate) if target.startsWith("'") =>
        Some(UpdateSnapshotWhere(SnapTarget(target), sets.trim,
          Option(predicate).map(_.trim).orNull)) // null = no WHERE
      case MergeRe(target, source, keys, _) if target.startsWith("'") =>
        Some(MergeSnapshot(SnapTarget(target), source.trim,
          keys.split(',').map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty).toSeq))
      // both names must be ours: a foreign-catalog identifier on either
      // side delegates verbatim (Spark may grow its own CLONE someday)
      case CloneRe(target, source, v) if ours(target) && ours(source) =>
        Some(CloneSnapshot(SnapTarget(target), SnapTarget(source),
          Option(v).map(_.toLong)))
      case CopyIntoRe(target, srcDir, fmt, force) if ours(target) =>
        Some(CopyIntoSnapshot(SnapTarget(target),
          srcDir.stripPrefix("'").stripSuffix("'"),
          Option(fmt).getOrElse("parquet"), force != null))
      case ConvertRe(dir) =>
        Some(ConvertSnapshot(dir.stripPrefix("'").stripSuffix("'")))
      case CreateBloomRe(target, col, fpp) if ours(target) =>
        Some(CreateBloomIndex(SnapTarget(target),
          col.stripPrefix("`").stripSuffix("`"),
          Option(fpp).map(_.toDouble).getOrElse(0.01)))
      case DropBloomRe(target, col) if ours(target) =>
        Some(DropBloomIndex(SnapTarget(target),
          col.stripPrefix("`").stripSuffix("`")))
      case CreateStatsRe(target, cols) if ours(target) =>
        Some(CreateStatsIndex(SnapTarget(target),
          cols.split(',').map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty).toSeq))
      case _ => None
    }
  }

  /** DML must hit an EXISTING snapshot table: a typo'd or non-snapshot
    * path would otherwise no-op as success (DELETE/UPDATE return (0, 0)
    * on an empty head) or, worse, MERGE would quietly CREATE a brand-new
    * table at the wrong path (commitMerge on head 0 commits v1). Reads
    * and OPTIMIZE/VACUUM share the same protection through their own
    * head lookups; the DML statements refuse loudly here instead.
    */
  private[plans] def requireTable(spark: SparkSession, path: String,
      stmt: String): Unit =
    require(Snapshots.currentVersion(spark, path) > 0,
      s"$stmt: no snapshot table at $path (no committed version) — " +
        "check the path/identifier; creating a table is CREATE TABLE / " +
        "CTAS / commitAppend's job, never a DML side effect")
}

/** `OPTIMIZE t [TARGET n FILES] [ZORDER BY (...)]` →
  * Snapshots.compactData: rewrites the head's accreted files into a
  * compact (optionally Morton-clustered) layout as a NEW version.
  * Without a TARGET clause the output file count is SIZE-DERIVED
  * (targetFiles = 0 → ~128 MB per file) rather than a constant, so the
  * statement scales from a toy table to 100 TB. Returns (version,
  * compacted); version is the unchanged head and compacted=false when
  * the table was already healthy (below minFiles — rewrite refused as
  * pure write amplification).
  */
final case class OptimizeSnapshot(target: MaintenanceSql.SnapTarget,
    zorder: Seq[String], targetFiles: Int = 0, minFiles: Int = 16)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("compacted", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    Snapshots.compactData(spark, path, targetFiles, minFiles,
        zorderBy = zorder) match {
      case Some(v) => Seq(Row(v, true))
      case None => Seq(Row(Snapshots.currentVersion(spark, path), false))
    }
  }
}

/** `OPTIMIZE t SMALL FILES [UNDER n MB]` → Snapshots.compactSmallFiles:
  * bin-packed PARTIAL compaction — only files under the threshold
  * (default 32 MB) rewrite, packed to ~128 MB outputs; every compact
  * file carries by name, so the statement's IO tracks the accreted
  * small-file debt, never the table (the steady-state OPTIMIZE at
  * 100 TB; the full-rewrite form above remains the clustering pass and
  * the one that re-writes every vectored file without its dead rows).
  */
final case class OptimizeSnapshotSmall(target: MaintenanceSql.SnapTarget,
    smallBytes: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("compacted", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    Snapshots.compactSmallFiles(spark, path, smallBytes) match {
      case Some(v) => Seq(Row(v, true))
      case None => Seq(Row(Snapshots.currentVersion(spark, path), false))
    }
  }
}

/** `VACUUM t [RETAIN n VERSIONS]` → Snapshots.vacuum: physically deletes
  * data files referenced by no retained manifest and drops the expired
  * manifests. Returns the deleted-file count and the retention floor.
  */
final case class VacuumSnapshot(target: MaintenanceSql.SnapTarget,
    keepVersions: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("deleted_files", IntegerType, nullable = false)(),
    AttributeReference("retained_versions", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val deleted = Snapshots.vacuum(spark, target.resolve(spark), keepVersions)
    Seq(Row(deleted.size, keepVersions))
  }
}

/** `VACUUM t [RETAIN n VERSIONS] DRY RUN` → Snapshots.vacuumDryRun: one
  * row per file the equivalent VACUUM would physically delete, with
  * NOTHING touched — the audit step before an irreversible erasure.
  */
final case class VacuumSnapshotDryRun(target: MaintenanceSql.SnapTarget,
    keepVersions: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("file", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Snapshots.vacuumDryRun(spark, target.resolve(spark), keepVersions)
      .map(Row(_))
}

/** `DESC[RIBE] DETAIL t` → one row of table-level metadata (Delta's
  * DESCRIBE DETAIL shape): head version, live file count and bytes,
  * declared schema DDL, constraint and deletion-vector file counts, and
  * the head commit instant. Metadata-only — the head manifest plus one
  * getFileStatus per live file, never a data read.
  */
final case class DescribeSnapshotDetail(target: MaintenanceSql.SnapTarget)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("schema_ddl", StringType, nullable = false)(),
    AttributeReference("num_constraints", IntegerType, nullable = false)(),
    AttributeReference("deletion_vector_files", IntegerType,
      nullable = false)(),
    AttributeReference("committed_at", TimestampType, nullable = true)(),
    AttributeReference("stats_columns", StringType, nullable = false)(),
    AttributeReference("bloom_columns", StringType, nullable = false)(),
    AttributeReference("partition_transform", StringType,
      nullable = false)(),
    AttributeReference("renamed_columns", StringType, nullable = false)(),
    AttributeReference("default_columns", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "DESCRIBE DETAIL")
    val head = Snapshots.currentVersion(spark, path)
    val files = Snapshots.filesAt(spark, path, head)
    val dd = new org.apache.hadoop.fs.Path(path, "data")
    val f = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = files.map { n =>
      try f.getFileStatus(new org.apache.hadoop.fs.Path(dd, n)).getLen
      catch { case _: Exception => 0L }
    }.sum
    val schema = Snapshots.schemaAt(spark, path, head)
      .map(_.toDDL).getOrElse("")
    val checks = Snapshots.checkConstraints(spark, path, Some(head))
    val vectorFiles = Snapshots.vectorFilesAt(spark, path, head)
    val instant = Snapshots.commitInstants(spark, path)
      .find(_._1 == head).map(t => new java.sql.Timestamp(t._2)).orNull
    // the index audit: which file-skipping sidecars this table keeps
    val statsCols = graft.operators.Layout
      .statsManifestCols(spark, dd.toString)
      .map(_.sorted.mkString(",")).getOrElse("")
    val bloomCols = Snapshots.bloomIndexedColumns(spark, path)
      .mkString(",")
    // layout/mapping audit: the declared transform, live renames
    // (logical->physical), and the columns carrying a write DEFAULT
    val partitionT = Snapshots.partitionsAt(spark, path, head)
      .map { case (c, k) => s"$k($c)" }.mkString("/")
    val renamed = Snapshots.colmapAt(spark, path, head).toSeq.sorted
      .map { case (l, ph) => s"$l<-$ph" }.mkString(",")
    val defaults = Snapshots.columnDefaults(spark, path, Some(head))
      .toSeq.sortBy(_._1).map { case (c, d) => s"$c=$d" }.mkString(",")
    Seq(Row(path, head, files.size, bytes, schema, checks.size,
      vectorFiles.size, instant, statsCols, bloomCols, partitionT, renamed,
      defaults))
  }
}

/** `DESCRIBE HISTORY t` → Snapshots.history: one row per retained version
  * (newest first) with the commit op, instant, and file-count deltas.
  */
final case class DescribeSnapshotHistory(target: MaintenanceSql.SnapTarget)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("committed_at", TimestampType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("added_files", IntegerType, nullable = true)(),
    AttributeReference("removed_files", IntegerType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    import scala.jdk.CollectionConverters._
    Snapshots.history(spark, target.resolve(spark))
      .collectAsList().asScala.toSeq // bounded: O(retained versions)
  }
}

/** `RESTORE [TABLE] t [TO] VERSION AS OF n` → Snapshots.commitRestore:
  * zero-copy rollback — the new head re-references the old version's
  * files; stream watermarks carry forward (exactly-once survives the
  * undo). Returns (restored-to version, new head version).
  */
final case class RestoreSnapshot(target: MaintenanceSql.SnapTarget,
    toVersion: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(toVersion,
      Snapshots.commitRestore(spark, target.resolve(spark), toVersion)))
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` →
  * Snapshots.addCheckConstraint: validates the current head data (one
  * scan), then records the constraint in the manifest as a metadata-only
  * commit; every later append/merge/stream batch is refused if any row
  * violates it (NULL passes, FALSE violates — SQL CHECK semantics).
  */
final case class AddSnapshotConstraint(target: MaintenanceSql.SnapTarget,
    name: String, check: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("constraint_name", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.addCheckConstraint(spark, target.resolve(spark),
      name, check), name))
}

/** `ALTER TABLE t DROP CONSTRAINT name` → Snapshots.dropCheckConstraint
  * (metadata-only commit).
  */
final case class DropSnapshotConstraint(target: MaintenanceSql.SnapTarget,
    name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("constraint_name", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.dropCheckConstraint(spark, target.resolve(spark),
      name), name))
}

/** `ALTER TABLE t ADD COLUMNS (c1 TYPE [, c2 TYPE ...])` →
  * Snapshots.commitAddColumns: metadata-only schema evolution — the new
  * manifest re-references the same files under an extended declared
  * schema, landed rows serve the new (forced-nullable) columns as NULL,
  * zero data moves at any table size. The column list parses with
  * Spark's own DDL parser, so any SQL type spelling works.
  */
final case class AddSnapshotColumns(target: MaintenanceSql.SnapTarget,
    colsDdl: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("added_columns", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "ALTER TABLE ADD COLUMNS")
    // per-column `DEFAULT <expr>` clauses (Spark's schema-DDL parser has
    // no DEFAULT seat): split top-level commas, peel the DEFAULT tail of
    // each entry, and hand the expressions to the commit — which folds
    // them into EXISTS_DEFAULT so already-landed rows serve the default
    // straight from the parquet reader, zero data movement
    val entries = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0; val sb = new StringBuilder
      colsDdl.foreach {
        case '(' => depth += 1; sb += '('
        case ')' => depth -= 1; sb += ')'
        case ',' if depth == 0 => out += sb.toString; sb.clear()
        case c => sb += c
      }
      out += sb.toString
      out.toSeq.map(_.trim).filter(_.nonEmpty)
    }
    val DefaultTail = """(?is)^(.*?)\s+DEFAULT\s+(.+)$""".r
    val (ddls, defaults) = entries.map {
      case DefaultTail(colDdl, dflt) =>
        val name = colDdl.trim.split("\\s+").head
          .stripPrefix("`").stripSuffix("`")
        (colDdl.trim, Some(name -> dflt.trim))
      case plain => (plain, None)
    }.unzip
    val fields = StructType.fromDDL(ddls.mkString(", ")).fields.toSeq
    val v = graft.warehouse.Snapshots.commitAddColumns(spark, path, fields,
      defaults = defaults.flatten.toMap)
    Seq(Row(v, fields.map(_.name).mkString(",")))
  }
}

/** `ALTER TABLE t SET PARTITION (date(col))` — or a COMPOSITE list,
  * `SET PARTITION (month(d), source)` (bare column = identity), or
  * hash clustering, `SET PARTITION (bucket(8, k))` →
  * Snapshots.commitSetPartitions: declares the table's partition
  * transforms (identity|date|month|bucket<N> per level) as a metadata-only
  * commit — later commits land under nested `__gp=`/`__gp2=` dirs,
  * predicates on the columns prune by DIRECTORY before stats/Bloom
  * (levels intersect), and whole partitions expire as one metadata
  * commit; files landed before stay flat and always read (OPTIMIZE
  * re-stages them under the transforms).
  */
final case class SetSnapshotPartition(target: MaintenanceSql.SnapTarget,
    transforms: Seq[(String, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("partition", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "ALTER TABLE SET PARTITION")
    Seq(Row(graft.warehouse.Snapshots.commitSetPartitions(spark, path,
      transforms.map { case (c, k) => (c, k) }),
      transforms.map { case (c, k) => s"$k($c)" }.mkString("/")))
  }
}

/** `ALTER TABLE t EXPIRE PARTITIONS OLDER THAN '<cutoff>'` →
  * Snapshots.commitExpirePartitions: retention as ONE metadata commit —
  * entries whose partition value sorts below the cutoff's transform
  * rendering leave the manifest, zero data reads, vacuum reclaims.
  */
final case class ExpireSnapshotPartitions(
    target: MaintenanceSql.SnapTarget,
    cutoff: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("expired_files", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "EXPIRE PARTITIONS")
    val (v, n) = graft.warehouse.Snapshots.commitExpirePartitions(spark,
      path, cutoff)
    Seq(Row(v, n))
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr>` →
  * Snapshots.commitSetColumnDefault: metadata-only — future writes
  * missing the column materialize the expression; landed rows are not
  * rewritten (only `ADD COLUMNS ... DEFAULT` back-fills, via the folded
  * EXISTS_DEFAULT the parquet reader serves).
  */
final case class SetSnapshotColumnDefault(
    target: MaintenanceSql.SnapTarget, column: String,
    defaultSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("default", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "ALTER COLUMN SET DEFAULT")
    Seq(Row(graft.warehouse.Snapshots.commitSetColumnDefault(spark, path,
      column, defaultSql), column, defaultSql))
  }
}

/** `ALTER TABLE t ALTER COLUMN c DROP DEFAULT` →
  * Snapshots.commitDropColumnDefault (metadata-only; future writes
  * missing the column land NULL again).
  */
final case class DropSnapshotColumnDefault(
    target: MaintenanceSql.SnapTarget,
    column: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "ALTER COLUMN DROP DEFAULT")
    Seq(Row(graft.warehouse.Snapshots.commitDropColumnDefault(spark, path,
      column), column))
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <type>` →
  * Snapshots.commitWidenColumn: the explicit type-migration statement —
  * metadata-only widening (int→long, float→double, decimal precision
  * growth); old narrower files upcast at read, appends in the wide type
  * are legal from the next commit, and a non-widening change refuses
  * loudly (a 100 TB migration must never silently rewrite).
  */
final case class WidenSnapshotColumn(target: MaintenanceSql.SnapTarget,
    column: String, typeDdl: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("new_type", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "ALTER TABLE ALTER COLUMN")
    val to = spark.sessionState.sqlParser.parseDataType(typeDdl)
    val v = graft.warehouse.Snapshots.commitWidenColumn(spark, path,
      column, to)
    Seq(Row(v, column, to.simpleString))
  }
}

/** `ALTER TABLE t DROP COLUMN c` → Snapshots.commitDropColumn:
  * metadata-only — the new manifest re-references the same files under
  * the declared schema minus the column (zero data moves at any size);
  * the NAME enters the carried `#dropped:` ledger and stays refused for
  * re-adding until a full-rewrite OPTIMIZE physically purges the old
  * values (name-based parquet resolution would otherwise resurrect
  * them). Refuses the last column, the partition column, and any
  * CHECK-mentioned column.
  */
final case class DropSnapshotColumn(target: MaintenanceSql.SnapTarget,
    column: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dropped_column", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "ALTER TABLE DROP COLUMN")
    Seq(Row(graft.warehouse.Snapshots.commitDropColumn(spark, path, column),
      column))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` → Snapshots.commitRenameColumn:
  * metadata-only column mapping — landed files keep the PHYSICAL name,
  * the new logical name serves every read/write from this version on
  * (a carried `#colmap:` header), time travel serves each version's own
  * names, zero data moves at any size. The OLD name enters the
  * `#dropped:` ledger (its physical data is live under the new name) and
  * stays refused until a full-rewrite OPTIMIZE normalizes physical
  * names; renaming onto a dropped name, or renaming the partition
  * column or a CHECK-mentioned column, refuses loudly.
  */
final case class RenameSnapshotColumn(target: MaintenanceSql.SnapTarget,
    from: String, to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("from_column", StringType, nullable = false)(),
    AttributeReference("to_column", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "ALTER TABLE RENAME COLUMN")
    Seq(Row(graft.warehouse.Snapshots.commitRenameColumn(spark, path,
      from, to), from, to))
  }
}

/** `DELETE FROM '<path>' WHERE k IN (...)` → Snapshots.commitDelete:
  * row-level by deletion vectors — the doomed rows die by vector and
  * every file carries by name (a file past the dead-fraction bound is
  * re-written instead). Quoted-path targets only (identifier targets keep
  * delegating to Spark's own DSv2 DELETE). Returns (version, rows
  * deleted); a miss is a no-op at the unchanged head.
  */
final case class DeleteSnapshotKeys(target: MaintenanceSql.SnapTarget,
    keyCol: String, keys: Seq[Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("deleted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "DELETE FROM")
    val (v, n) = Snapshots.commitDelete(spark, path, keys, keyCol)
    Seq(Row(v, n))
  }
}

/** `DELETE FROM '<path>' WHERE <predicate>` → Snapshots.commitDeleteWhere:
  * predicate-driven row-level delete by deletion vectors — the
  * retention/erasure shape that cannot enumerate keys on the driver at
  * 100 TB. The predicate is
  * parsed by the SESSION's expression parser at run time (full Spark SQL
  * expression surface: dates, LIKE, string keys, AND/OR), pushes into
  * the probe's parquet scan, and rows where it evaluates NULL are kept
  * (SQL DELETE semantics). Quoted-path targets only.
  */
final case class DeleteSnapshotWhere(target: MaintenanceSql.SnapTarget,
    predicate: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("deleted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "DELETE FROM")
    val (v, n) = Snapshots.commitDeleteWhere(spark, path,
      org.apache.spark.sql.functions.expr(predicate))
    Seq(Row(v, n))
  }
}

/** `UPDATE <target> SET c = e [, ...] WHERE <pred>` →
  * Snapshots.commitUpdateWhere: predicate-driven row-level update — the
  * matching rows die by deletion vector and only their new versions
  * stage (they take the SET expressions under the column's declared
  * type, NULL predicates leave rows untouched, CHECK constraints bind
  * the updated rows). SET assignments and the predicate resolve through
  * the session's expression parser at run time; the SET list splits
  * paren- and quote-aware so expressions may call functions. Targets are
  * quoted paths only: an UPDATE on a catalog identifier is Spark's own,
  * served as row-level copy-on-write (sources/SnapshotRowLevel.scala).
  */
final case class UpdateSnapshotWhere(target: MaintenanceSql.SnapTarget,
    sets: String, predicate: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("updated_rows", LongType, nullable = false)())

  /** Split `a = f(x, y), b = 'x,y'` into assignments at top-level
    * commas — parens AND single-quoted string literals are opaque (a
    * comma inside either never splits). Inside a literal a backslash
    * escapes the NEXT character (Spark's default string-literal
    * escaping), so `'a\'b,c'` stays one literal — the escaped quote
    * never toggles the string state; `''` doubling keeps working because
    * its two toggles cancel with no comma possible between them.
    */
  private def splitAssignments(s: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inStr = false
    var esc = false
    val cur = new StringBuilder
    s.foreach {
      case ch if esc => esc = false; cur += ch
      case '\\' if inStr => esc = true; cur += '\\'
      case '\'' => inStr = !inStr; cur += '\''
      case '(' if !inStr => depth += 1; cur += '('
      case ')' if !inStr => depth -= 1; cur += ')'
      case ',' if depth == 0 && !inStr => parts += cur.toString; cur.clear()
      case ch => cur += ch
    }
    parts += cur.toString
    parts.toSeq.map { a =>
      val cut = a.indexOf('=')
      require(cut > 0, s"malformed SET assignment: $a")
      (a.take(cut).trim.stripPrefix("`").stripSuffix("`"),
        a.drop(cut + 1).trim)
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "UPDATE")
    val assignments = splitAssignments(sets)
      .map { case (c, e) => c -> expr(e) }
    // no WHERE clause → every row (SQL semantics)
    val pred = Option(predicate).map(_.trim).filter(_.nonEmpty)
      .map(expr).getOrElse(org.apache.spark.sql.functions.lit(true))
    val (v, n) = Snapshots.commitUpdateWhere(spark, path, pred, assignments)
    Seq(Row(v, n))
  }
}

/** `MERGE INTO <target> USING <src> ON (keys) [WHEN MATCHED THEN UPDATE
  * SET * WHEN NOT MATCHED THEN INSERT *]` → Snapshots.commitMerge: the
  * protocol's key-based upsert as real SQL — matched keys update
  * wholesale, unmatched insert, and the matched target rows die by
  * deletion vector while every file carries by name. The source is a
  * view/table name or a parenthesized subquery resolved by the session
  * at run time; the clause pair is the canonical upsert and may be
  * omitted (same semantics). Targets are quoted paths only — a MERGE on a catalog
  * identifier is Spark's own, served by deletion vectors too
  * (sources/SnapshotRowLevel.scala) — and a target with no committed
  * version refuses (MERGE never creates).
  */
final case class MergeSnapshot(target: MaintenanceSql.SnapTarget,
    source: String, keys: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("merged_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(keys.nonEmpty, "MERGE needs at least one ON key column")
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "MERGE INTO")
    // ONE materialization serves both the merged_rows metric and the
    // merge itself: counting the raw plan would execute the source
    // subquery once and commitMerge a second time — wasted IO, and a
    // non-deterministic source (a sampled subquery) would merge rows its
    // reported count never saw
    val src =
      (if (source.startsWith("(")) spark.sql(
        source.stripPrefix("(").stripSuffix(")"))
      else spark.table(source)).localCheckpoint(true)
    val n = src.count()
    val v = Snapshots.commitMerge(spark, src, path, keys)
    Seq(Row(v, n))
  }
}

/** `CREATE TABLE t SHALLOW CLONE s [VERSION AS OF n]` →
  * Snapshots.cloneTable: ZERO-COPY table fork — the new table's v1
  * manifest references the source version's data files by qualified URI
  * (no bytes move at any table size); later DML diverges copy-on-write
  * into the clone's own data dir. Returns (source version cloned, files
  * referenced).
  */
final case class CloneSnapshot(target: MaintenanceSql.SnapTarget,
    source: MaintenanceSql.SnapTarget,
    version: Option[Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source_version", LongType, nullable = false)(),
    AttributeReference("files_referenced", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val src = source.resolve(spark)
    val dst = target.resolve(spark)
    MaintenanceSql.requireTable(spark, src, "SHALLOW CLONE")
    val srcV = version.getOrElse(Snapshots.currentVersion(spark, src))
    Snapshots.cloneTable(spark, src, dst, Some(srcV))
    Seq(Row(srcV, Snapshots.filesAt(spark, dst, 1L).size))
  }
}

/** `COPY INTO t FROM '<dir>' [FILEFORMAT = parquet|csv] [FORCE]` →
  * Snapshots.commitCopyInto: idempotent bulk load — files already
  * load-marked in the table's manifest are skipped, so re-running
  * against an unchanged landing dir is a metadata-only no-op and new
  * files load incrementally. The table must exist (CREATE TABLE / CTAS
  * first — a typo'd path must never silently become a table). Returns
  * (version, files_loaded, rows_loaded).
  */
final case class CopyIntoSnapshot(target: MaintenanceSql.SnapTarget,
    srcDir: String, format: String, force: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_loaded", IntegerType, nullable = false)(),
    AttributeReference("rows_loaded", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "COPY INTO")
    val (v, files, rows) =
      Snapshots.commitCopyInto(spark, path, srcDir, format, force)
    Seq(Row(v, files, rows))
  }
}

/** `CONVERT TO SNAPSHOT '<dir>'` → Snapshots.convertToSnapshot:
  * in-place, zero-copy import — the parquet dir becomes a snapshot table
  * whose v1 references its own files by qualified URI (O(files)
  * driver-side metadata, no data moves at any size); the whole protocol
  * surface applies from the next statement on. Returns
  * (version, files_referenced).
  */
final case class ConvertSnapshot(dir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_referenced", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (v, files) = Snapshots.convertToSnapshot(spark, dir)
    Seq(Row(v, files))
  }
}

/** `CREATE BLOOM INDEX ON t (col) [FPP p]` → Snapshots.extendBloom:
  * build/extend the per-file Bloom point-lookup sidecar over the head
  * version's not-yet-covered files (incremental; the maintenance policy
  * keeps it extended after rewrites). Returns (column, files_indexed).
  */
final case class CreateBloomIndex(target: MaintenanceSql.SnapTarget,
    column: String, fpp: Double) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("files_indexed", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "CREATE BLOOM INDEX")
    Seq(Row(column,
      Snapshots.extendBloom(spark, path, column, fpp = fpp)))
  }
}

/** `DROP BLOOM INDEX ON t (col)`: delete the sidecar — point lookups
  * fall back to the plain versioned read from the next query on.
  */
final case class DropBloomIndex(target: MaintenanceSql.SnapTarget,
    column: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("dropped", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "DROP BLOOM INDEX")
    val d = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path, "data"), s"_graft_bloom_$column")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(Row(column, fs.exists(d) && fs.delete(d, true)))
  }
}

/** `CREATE STATS INDEX ON t (c1, c2, ...)` → Snapshots.extendStats:
  * build/extend the per-file min/max stats manifest (the range-pruning
  * sidecar readPruned and the copy-on-write probes consult). Returns
  * (columns, files_statted).
  */
final case class CreateStatsIndex(target: MaintenanceSql.SnapTarget,
    columns: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("columns", StringType, nullable = false)(),
    AttributeReference("files_statted", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    MaintenanceSql.requireTable(spark, path, "CREATE STATS INDEX")
    Seq(Row(columns.mkString(","),
      Snapshots.extendStats(spark, path, columns)))
  }
}

/** The session parser with the maintenance statements spliced in;
  * every other string delegates verbatim (zero behavior drift for normal
  * SQL — spec-pinned in SnapshotSqlSpec).
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    MaintenanceSql.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
