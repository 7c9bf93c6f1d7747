package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.sources.SnapshotCatalog
import graft.warehouse.Snapshots

/** Maintenance statements for snapshot tables as REAL SQL — the operator
  * surface a versioned warehouse schedules from plain `spark.sql(...)`,
  * for the verbs stock Spark has no statement for:
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
  *   ALTER TABLE <target> SET PARTITION (<transform> [, ...])
  *   ALTER TABLE <target> EXPIRE PARTITIONS OLDER THAN '<cutoff>'
  *   CREATE TABLE <target> SHALLOW CLONE <target> [VERSION AS OF <n>]
  *   COPY INTO <target> FROM '<dir>' [FILEFORMAT = <fmt>] [FORCE]
  *   CONVERT TO SNAPSHOT '<dir>'
  *   CREATE BLOOM INDEX ON <target> (<col>) [FPP <p>]
  *   DROP BLOOM INDEX ON <target> (<col>)
  *   CREATE STATS INDEX ON <target> (<c1> [, ...])
  * }}}
  *
  * `<target>` is either a quoted filesystem path (`'/warehouse/t'`) or a
  * catalog-qualified identifier (`snap.events`) resolved through the same
  * `spark.sql.catalog.<name>.root` configuration the DSv2 read catalog
  * ([[graft.sources.SnapshotCatalog]]) uses — one registration serves
  * both the read face (SELECT/time travel) and the maintenance face.
  *
  * `UPDATE`, `DELETE FROM`, `MERGE INTO` and `ALTER TABLE ... ADD/ALTER/
  * DROP/RENAME COLUMN` are stock Spark on any target: for a quoted path
  * the parser only rewrites the target token into a path identifier of
  * the snapshot catalog (`snapshot.`/warehouse/t``, Delta's path
  * identifiers), so the statement plans as Spark's own row-level
  * WriteDelta or `alterTable` call, exactly as on `snap.t`. A path with
  * no committed version fails analysis (the table is not found) before
  * anything is written — DML never creates a table.
  *
  * Implementation is the parser-delegation recipe the transactional table
  * formats use for their own OPTIMIZE/VACUUM (SparkSessionExtensions
  * `injectParser`): [[GraftSqlParser]] recognizes exactly these
  * statements and hands EVERYTHING else to the session's normal parser,
  * so no Spark SQL behavior changes. Each statement becomes a
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
    * CONFIGURED in `spark` — `OPTIMIZE delta_cat.t` or foreign
    * constraint DDL on another format's catalog must keep delegating to
    * whoever owns it, not fail against our root lookup (the
    * delegate-verbatim contract).
    */
  def parse(spark: SparkSession, sqlText: String): Option[LogicalPlan] = {
    def ours(target: String): Boolean =
      target.startsWith("'") ||
        spark.conf.getOption("spark.sql.catalog." +
          target.split('.').head.stripPrefix("`").stripSuffix("`") +
          ".root").isDefined
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

  // the verbs stock Spark serves on the snapshot catalog: UPDATE,
  // DELETE, MERGE (with or without schema evolution) and the column
  // forms of ALTER TABLE — only their quoted-path target is rewritten
  private val PathTargetRe =
    ("""(?is)^(\s*(?:UPDATE|DELETE\s+FROM""" +
      """|MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO""" +
      """|ALTER\s+TABLE(?=\s+'[^']+'\s+(?:ADD|ALTER|DROP|RENAME)""" +
      """\s+COLUMNS?\b))\s+)'([^']+)'(.*)$""").r

  /** `sqlText` with a quoted-path DML or column-DDL target rewritten to
    * a path identifier of the snapshot catalog — `UPDATE '/w/t' SET ...`
    * becomes ``UPDATE snapshot.`/w/t` SET ...``. Any other text comes
    * back as is.
    */
  def pathTarget(spark: SparkSession, sqlText: String): String =
    sqlText match {
      case PathTargetRe(verb, path, rest) =>
        verb + SnapshotCatalog.pathIdentifier(spark, path) + rest
      case _ => sqlText
    }

  /** A maintenance statement must hit an EXISTING snapshot table: a
    * typo'd or non-snapshot path would otherwise no-op as success or,
    * worse, quietly create a table at the wrong path. Reads and
    * OPTIMIZE/VACUUM share the same protection through their own head
    * lookups; the other statements refuse loudly here instead.
    */
  private[plans] def requireTable(spark: SparkSession, path: String,
      stmt: String): Unit =
    require(Snapshots.currentVersion(spark, path) > 0,
      s"$stmt: no snapshot table at $path (no committed version) — " +
        "check the path/identifier; creating a table is CREATE TABLE / " +
        "CTAS / commitAppend's job, never a maintenance side effect")
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

/** The session parser with the maintenance statements spliced in and
  * quoted-path DML targets rewritten to path identifiers; every other
  * string delegates verbatim (zero behavior drift for normal SQL —
  * spec-pinned in SnapshotSqlSpec).
  */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
  extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    MaintenanceSql.parse(spark, sqlText).getOrElse(
      delegate.parsePlan(MaintenanceSql.pathTarget(spark, sqlText)))
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
