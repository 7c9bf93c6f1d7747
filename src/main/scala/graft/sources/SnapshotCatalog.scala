package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.warehouse.Snapshots

/** Snapshot tables as first-class SQL tables with TIME TRAVEL — the
  * DataSource-V2 catalog face of the commit protocol
  * (warehouse/Snapshots.scala), so the versioned tables the engine
  * maintains are queryable with nothing but SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.snap",
  *     "graft.sources.SnapshotCatalog")
  *   spark.conf.set("spark.sql.catalog.snap.root", "/warehouse/dir")
  *   spark.sql("SELECT * FROM snap.events")                     // head
  *   spark.sql("SELECT * FROM snap.events VERSION AS OF 3")     // pinned
  *   spark.sql("SELECT * FROM snap.events TIMESTAMP AS OF '...'")
  * }}}
  *
  * Each table identifier maps to `root/<name>`, and a path identifier
  * (`` snap.`/warehouse/events` ``, a single part naming an absolute path
  * or URI, Delta's `delta.`/path`` form) maps to that path, so a
  * catalog with no `root` serves paths only — the parser's quoted-path
  * statements resolve through one such catalog, `snapshot`
  * ([[SnapshotCatalog.PathCatalog]]). A load resolves the
  * manifest ONCE into an explicit file list + the version's DECLARED
  * schema and hands both to Spark's own parquet reader, so every scan is
  * snapshot-isolated (concurrent commits never change a resolved plan's
  * files), schema evolution costs zero footer merges, and all of
  * Catalyst's pushdown/pruning applies unchanged. `TIMESTAMP AS OF`
  * resolves to the newest version whose manifest commit time is at or
  * before the asked instant (commit time = the atomic manifest claim's
  * file mtime — the only clock the protocol has).
  *
  * WRITES GO THROUGH THE PROTOCOL, never around it: `INSERT INTO` /
  * `INSERT OVERWRITE` on the HEAD table are served by a DSv2 write
  * whose job commit IS `Snapshots.commitAppend`/`commitOverwrite` —
  * data stages distributed under unique names first, then one atomic
  * manifest claim publishes it, so a SQL writer gets the same
  * optimistic-concurrency and constraint-enforcement guarantees as the
  * Scala API (a bare parquet write under `data/` would corrupt every
  * invariant; that path stays impossible).
  * `CREATE TABLE` commits v1 (schema-only when empty — CTAS works),
  * `DROP TABLE` removes the table tree, and `UPDATE`, `MERGE INTO`
  * (with `WITH SCHEMA EVOLUTION` too) and `DELETE FROM` resolve through
  * Spark's own delta-based row-level rewrite into one deletion-vector
  * commit (sources/SnapshotRowLevel.scala). Time-travel reads
  * (`VERSION/TIMESTAMP AS OF`) remain read-only — history is immutable.
  * `ALTER TABLE` column changes (rename, add, drop, widen, defaults)
  * commit through [[alterTable]]; every other ALTER, and RENAME TABLE,
  * refuses (constraints, partitions and indexes have their own SQL face,
  * plans/MaintenanceSql.scala).
  */
class SnapshotCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  /** A path identifier (a single part naming an absolute path or URI,
    * `` snap.`/warehouse/t` ``) is that path; any other name maps under
    * `root`, which only such names need.
    */
  private def tablePath(ident: Identifier): String =
    if (ident.namespace().isEmpty &&
        SnapshotCatalog.AbsolutePath.matches(ident.name())) ident.name()
    else {
      require(root != null, s"${ident.name()} is not an absolute path " +
        s"or URI, and catalog $catalogName has no root to resolve it " +
        s"under (spark.sql.catalog.$catalogName.root)")
      (ident.namespace() :+ ident.name()).foldLeft(new Path(root)) {
        (p, part) => new Path(p, part)
      }.toString
    }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$op: not supported on snapshot tables through SQL — use " +
        "graft.warehouse.Snapshots (or the maintenance statements) so " +
        "the manifest claim stays atomic")

  /** The version pinned as a DSv2 table: explicit file list + declared
    * schema, served by Spark's own parquet Scan (full pushdown/pruning).
    * `writable` is true ONLY for head loads: INSERT resolves through
    * [[org.apache.spark.sql.connector.write.V1Write]] whose insert call
    * is a protocol commit (stage-then-claim — the SQL writer serializes
    * with every other writer); pinned versions refuse writes (history
    * is immutable).
    */
  private def tableAt(ident: Identifier, version: Long,
      writable: Boolean = false): Table = {
    val t = tablePath(ident)
    // two-arg Path resolution: bare names land under data/, a shallow
    // clone's foreign refs (qualified URIs) resolve as themselves
    val dd = new Path(t, "data")
    val entries = Snapshots.filesAt(spark, t, version)
    val files = entries.map(n => new Path(dd, n).toString)
    val schema = Snapshots.schemaAt(spark, t, version)
    // deletion vectors DO have a seat: the scan's reader drops their
    // positions (PositionedScan); a legacy version without a declared
    // schema has no schema to add the row-index column to
    val dead = Snapshots.deadRowsAt(spark, t, version)
    if (dead.nonEmpty && schema.isEmpty)
      throw new UnsupportedOperationException(
        s"$t@v$version has deletion vectors but no declared schema — " +
          "OPTIMIZE the table, or read via Snapshots.read")
    // column mapping (RENAME COLUMN): files hold PHYSICAL names, the
    // declared schema is LOGICAL — the scan builder reads physical and
    // re-labels positionally (see PruningScanBuilder)
    val colmap = Snapshots.colmapAt(spark, t, version)
    val partition = Snapshots.partitionsAt(spark, t, version)
    if (files.isEmpty && schema.isEmpty) throw new NoSuchTableException(ident)
    val scanName = s"${name()}.${ident.name()}@v$version"
    // a DECLARED schema answers the Table face directly (asNullable —
    // the same shape FileTable would serve); forcing ParquetTable's
    // schema instead ran its OWN InMemoryFileIndex over every file,
    // i.e. one full listing job per loadTable (~200-300 ms per catalog
    // query at fixture scale, a real object-store LIST at 100 TB) for
    // an answer the manifest already holds. Legacy no-schema tables
    // keep ParquetTable's footer-inference path — `inner` stays lazy
    // so declared tables never construct it.
    lazy val inner = ParquetTable(scanName, spark,
      CaseInsensitiveStringMap.empty(), files, schema,
      classOf[ParquetFileFormat])
    def forceNullable(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = forceNullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = forceNullable(a.elementType),
          containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = forceNullable(m.valueType),
          valueContainsNull = true)
      case x => x
    }
    val tableSchema: StructType =
      schema.map(s => forceNullable(s).asInstanceOf[StructType])
        .getOrElse(inner.schema)
    // every read face scans through the sidecar-pruning builder: pushed
    // filters skip files via _graft_stats / per-file Blooms before the
    // parquet scan is constructed (see PruningScanBuilder)
    def pruningScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new SnapshotCatalog.PruningScanBuilder(spark, t, scanName, entries,
        files, schema, colmap, partition, options, dead = dead)
    // wrap to a protocol-honoring face: ParquetTable's OWN BATCH_WRITE
    // must never surface (it would land files no manifest references);
    // the writable face routes inserts through the commit protocol
    if (!writable)
      new Table with SupportsRead {
        override def name(): String = scanName
        override def schema(): StructType = tableSchema
        override def capabilities(): util.Set[TableCapability] =
          Set(TableCapability.BATCH_READ).asJava
        override def newScanBuilder(
            options: CaseInsensitiveStringMap): ScanBuilder =
          pruningScanBuilder(options)
      }
    else {
      val sp = spark
      new Table with SupportsRead with SupportsWrite
          with SupportsMetadataColumns
          with SupportsRowLevelOperations {
        /** STOCK Spark `UPDATE` / `MERGE INTO` / `DELETE`
          * (SupportsRowLevelOperations): Spark rewrites the statement
          * into a WriteDelta whose row id is the metadata columns
          * below; the scan is the ordinary sidecar-pruned catalog scan,
          * and the commit kills the changed rows by deletion vector
          * (Snapshots.commitRowDelta).
          */
        override def metadataColumns(): Array[MetadataColumn] =
          SnapshotCatalog.metadataColumns
        override def newRowLevelOperationBuilder(
            info: org.apache.spark.sql.connector.write
              .RowLevelOperationInfo)
            : org.apache.spark.sql.connector.write
              .RowLevelOperationBuilder =
          () => new SnapshotRowLevelOperation(sp, t, info.command())
        override def name(): String = scanName
        override def schema(): StructType = tableSchema
        override def capabilities(): util.Set[TableCapability] =
          Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
            TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
            // `MERGE WITH SCHEMA EVOLUTION`: Spark adds the source's new
            // columns through alterTable before the merge
            TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava
        override def newScanBuilder(
            options: CaseInsensitiveStringMap): ScanBuilder =
          pruningScanBuilder(options)
        override def newWriteBuilder(
            info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
            : org.apache.spark.sql.connector.write.WriteBuilder =
          new org.apache.spark.sql.connector.write.WriteBuilder
            with org.apache.spark.sql.connector.write.SupportsTruncate {
            private var overwrite = false
            override def truncate()
                : org.apache.spark.sql.connector.write.WriteBuilder = {
              overwrite = true; this
            }
            override def build()
                : org.apache.spark.sql.connector.write.Write =
              new org.apache.spark.sql.connector.write.V1Write {
                override def toInsertableRelation
                    : org.apache.spark.sql.sources.InsertableRelation =
                  new org.apache.spark.sql.sources.InsertableRelation {
                    override def insert(
                        data: org.apache.spark.sql.DataFrame,
                        ov: Boolean): Unit = {
                      // the job commit IS the protocol commit: data
                      // stages distributed, ONE atomic claim publishes —
                      // constraints and optimistic retry apply to the
                      // SQL writer too
                      if (overwrite || ov)
                        Snapshots.commitOverwrite(sp, data, t)
                      else Snapshots.commitAppend(sp, data, t)
                      ()
                    }
                  }
                // `writeStream.toTable("snap.t")` — executors stage,
                // each epoch is ONE exactly-once protocol commit (see
                // SnapshotStreamingWrite). Append only: complete mode
                // arrives as truncate() and refuses here.
                override def toStreaming: org.apache.spark.sql.connector
                    .write.streaming.StreamingWrite = {
                  if (overwrite) throw new UnsupportedOperationException(
                    "outputMode('complete') is not supported on " +
                      "snapshot tables — append only (an overwrite per " +
                      "epoch would churn the whole table; aggregate " +
                      "via foreachBatch + commitOverwrite if you mean " +
                      "it)")
                  new SnapshotStreamingWrite(sp, t, info.queryId(),
                    info.schema())
                }
              }
          }
      }
    }
  }

  private def exists(ident: Identifier): Boolean =
    Snapshots.currentVersion(spark, tablePath(ident)) > 0

  override def loadTable(ident: Identifier): Table = {
    val head = Snapshots.currentVersion(spark, tablePath(ident))
    if (head == 0) throw new NoSuchTableException(ident)
    tableAt(ident, head, writable = true)
  }

  /** SQL `VERSION AS OF <v>`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new NoSuchTableException(ident)
    }
    if (v < 1 || v > Snapshots.currentVersion(spark, tablePath(ident)) ||
        !Snapshots.hasVersion(spark, tablePath(ident), v))
      throw new NoSuchTableException(ident)
    tableAt(ident, v)
  }

  /** SQL `TIMESTAMP AS OF <t>` (micros since epoch): the newest version
    * committed at or before the instant. Commit instants come from each
    * manifest's `#ts:` header (recorded at claim time — durable across a
    * table copy or object-store migration, where file mtimes reset);
    * manifests predating the header fall back to mtime.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = tablePath(ident)
    val head = Snapshots.currentVersion(spark, t)
    if (head == 0) throw new NoSuchTableException(ident)
    // binary search over the retained instants: O(log retained)
    // manifest reads, not O(retained) — long-retention tables resolve
    // TIMESTAMP AS OF without touching every manifest
    val v = Snapshots.versionAtInstant(spark, t, timestampMicros / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    tableAt(ident, v)
  }

  override def tableExists(ident: Identifier): Boolean = exists(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (root == null) return Array.empty
    val base = namespace.foldLeft(new Path(root))((p, n) => new Path(p, n))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => fs.exists(new Path(base, s"$n/_manifests")))
      .map(n => Identifier.of(namespace, n))
  }

  /** `CREATE TABLE snap.t (...) [PARTITIONED BY (<transform>(col))]` —
    * commits v1 through the protocol: an empty batch under the declared
    * schema, so the schema header rides the manifest and `INSERT INTO`
    * / CTAS continue the timeline normally. Up to three
    * identity/days/months/bucket(N, col) transforms are accepted and
    * declared on the table as ONE atomic create (directory-level file
    * skipping, O(entries) partition expiry, and — for bucket — the
    * storage-partitioned-join layout); anything else refuses (finer
    * clustering is OPTIMIZE ZORDER BY's job).
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.length <= 3,
      "snapshot tables take at most three partition transforms " +
        "(nested __gp=/__gp2=/__gp3= dirs)")
    val declared = partitions.toSeq.map { tr =>
      val col = tr.references().headOption
        .map(_.fieldNames().mkString("."))
        .getOrElse(throw new UnsupportedOperationException(
          s"unsupported partition transform $tr"))
      val kind = tr.name().toLowerCase(java.util.Locale.ROOT) match {
        case "identity" => "identity"
        case "days" | "day" | "date" => "date"
        case "months" | "month" => "month"
        case "bucket" =>
          val n = tr.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.dataType ==
                  org.apache.spark.sql.types.IntegerType =>
              l.value().asInstanceOf[Int]
          }.getOrElse(throw new UnsupportedOperationException(
            s"bucket transform needs an integer bucket count: $tr"))
          require(n > 0 && n <= 999999, s"bucket count $n out of range")
          s"bucket$n"
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform $other — " +
            "identity/days/months/bucket only (cluster with OPTIMIZE " +
            "ZORDER BY)")
      }
      (col, kind)
    }
    val t = tablePath(ident)
    require(Snapshots.currentVersion(spark, t) == 0,
      s"table ${ident.name()} already exists at $t")
    // ONE atomic claim carries schema AND transform: DDL must never be
    // two commits (a crash between them would strand the table without
    // its declared layout, a racing append could slip in flat)
    Snapshots.commitCreate(spark, t, schema, declared)
    loadTable(ident)
  }
  /** ALTER on snapshot tables accepts COLUMN DEFAULTs at analysis
    * (Spark gates `CREATE/ALTER ... DEFAULT` syntax on this). */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE).asJava

  /** Stock Spark `ALTER TABLE snap.t ...` (or a quoted path) mapped onto
    * the commit protocol's metadata-only evolution commits — a Spark user
    * types the STANDARD syntax and gets atomic manifest claims: RENAME
    * COLUMN → column mapping, ADD COLUMN(S) (+DEFAULT) → declared-schema
    * append, DROP COLUMN → dropped-name ledger, ALTER COLUMN TYPE →
    * safe-upcast widening, SET/DROP DEFAULT → field-metadata commit.
    * Consecutive ADD COLUMN changes (one `ADD COLUMNS (a, b)`, or the new
    * columns of a schema-evolving MERGE) land as ONE commit; every other
    * change is one commit, in statement order. Nested fields and
    * everything else (positions, comments, properties) refuse loudly
    * rather than silently no-op.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = tablePath(ident)
    if (Snapshots.currentVersion(spark, t) == 0)
      throw new NoSuchTableException(ident)
    def one(fieldNames: Array[String]): String = {
      if (fieldNames.length != 1) readOnly(
        s"ALTER TABLE on nested field ${fieldNames.mkString(".")}")
      fieldNames(0)
    }
    val adds = scala.collection.mutable.ArrayBuffer.empty[TableChange.AddColumn]
    def commitAdds(): Unit = if (adds.nonEmpty) {
      val named = adds.toSeq.map(a => one(a.fieldNames()) -> a)
      Snapshots.commitAddColumns(spark, t,
        named.map { case (n, a) => org.apache.spark.sql.types
          .StructField(n, a.dataType(), nullable = true) },
        defaults = named.flatMap { case (n, a) =>
          Option(a.defaultValue()).map(n -> _.getSql) }.toMap)
      adds.clear()
    }
    changes.foreach {
      case a: TableChange.AddColumn => adds += a
      case change =>
        commitAdds()
        change match {
          case r: TableChange.RenameColumn =>
            Snapshots.commitRenameColumn(spark, t, one(r.fieldNames()),
              r.newName())
          case d: TableChange.DeleteColumn =>
            Snapshots.commitDropColumn(spark, t, one(d.fieldNames()))
          case u: TableChange.UpdateColumnType =>
            Snapshots.commitWidenColumn(spark, t, one(u.fieldNames()),
              u.newDataType())
          case u: TableChange.UpdateColumnDefaultValue =>
            val col = one(u.fieldNames())
            Option(u.newCurrentDefault()).map(_.getSql)
              .orElse(Option(u.newDefaultValue()).filter(_.nonEmpty)) match {
              case Some(sql) =>
                Snapshots.commitSetColumnDefault(spark, t, col, sql)
              case None => Snapshots.commitDropColumnDefault(spark, t, col)
            }
          case n: TableChange.UpdateColumnNullability =>
            // declared schemas are nullable throughout (parquet name-based
            // resolution serves missing columns as NULLs) — relaxing to
            // nullable is a no-op; tightening is a constraint's job
            if (!n.nullable()) readOnly(
              "ALTER COLUMN SET NOT NULL (declare a CHECK constraint)")
          case other => readOnly(s"ALTER TABLE change $other")
        }
    }
    commitAdds()
    loadTable(ident)
  }
  /** `DROP TABLE snap.t` — removes the whole table tree (manifests,
    * data, sidecars). Prior versions go with it; this is the table-level
    * destructor, not a data delete (that's DELETE/VACUUM).
    */
  override def dropTable(ident: Identifier): Boolean = {
    val t = new Path(tablePath(ident))
    val f = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Snapshots.currentVersion(spark, t.toString) == 0) false
    else {
      val gone = f.delete(t, true)
      // purge cached manifest resolutions: a same-JVM recreate at this
      // path must never time-travel into the dropped table's state
      if (gone) Snapshots.invalidateTable(t.toString)
      gone
    }
  }
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")

  /** The catalog's V2 FUNCTION face (`FunctionCatalog`) — what lets
    * Spark's planner resolve the `bucket` partition transform of a
    * bucketed snapshot table into a bound function, which is the
    * prerequisite for STORAGE-PARTITIONED JOINS: two tables bucketed
    * `bucket(N, k)` join on `k` with no Exchange on either side.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      SnapshotCatalog.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
}

object SnapshotCatalog {

  /** The catalog name quoted-path statements resolve under: the SQL
    * parser rewrites `UPDATE '/w/t' ...` to ``UPDATE snapshot.`/w/t` ...``
    * and registers this catalog (with no root) on first use.
    */
  val PathCatalog = "snapshot"

  /** `path` as a path identifier of the [[PathCatalog]] catalog
    * (``snapshot.`/w/t` ``), for SQL text or `Dataset.mergeInto`;
    * registers that catalog in `spark` on first use.
    */
  private[graft] def pathIdentifier(spark: SparkSession,
      path: String): String = {
    val key = s"spark.sql.catalog.$PathCatalog"
    if (spark.conf.getOption(key).isEmpty)
      spark.conf.set(key, classOf[SnapshotCatalog].getName)
    s"$PathCatalog.`${path.replace("`", "``")}`"
  }

  /** An absolute path or URI: what a path identifier names. */
  private[sources] val AbsolutePath = """(?:[A-Za-z][A-Za-z0-9+.\-]*:)?/.*""".r

  /** The `bucket(N, col)` V2 function: murmur3 (seed 42 — Spark's own
    * `hash()`) of the column's internal value, pmod N — EXACTLY the
    * expression the partitioned writer routes dirs with
    * (Snapshots.partitionExpr), so the bucket ids the scan reports as
    * partition keys, the dirs on disk, and what the planner computes
    * when it evaluates this function all agree. Binding is per column
    * type (int/bigint/string/date — the types bucket declaration
    * accepts); `canonicalName` keys on the type so two bucketed tables
    * of the same catalog class compare equal in the storage-partitioned
    * join's compatibility check.
    */
  private[graft] object BucketUnbound
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    import org.apache.spark.sql.types._
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, col): murmur3(col, seed 42) pmod numBuckets"
    override def bind(inputType: StructType)
        : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
      require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType,
        s"bucket expects (int numBuckets, col), got $inputType")
      val dt = inputType.fields(1).dataType
      require(dt == IntegerType || dt == LongType || dt == StringType ||
        dt == DateType,
        s"bucket column must be int/bigint/string/date, got " +
          dt.catalogString)
      BoundBucket(dt)
    }
  }

  private[graft] final case class BoundBucket(
      dt: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.catalog.functions
      .ScalarFunction[Integer] {
    import org.apache.spark.sql.types._
    override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String =
      s"graft.bucket(${dt.catalogString})"
    override def isResultNullable: Boolean = false
    override def produceResult(
        input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
      val n = input.getInt(0)
      // hash(NULL) keeps the seed — matching the SQL hash(), whose
      // null child leaves the running hash at 42
      val h: Int =
        if (input.isNullAt(1)) 42
        else org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
          .hash(input.get(1, dt), dt, 42L).toInt
      Integer.valueOf(((h % n) + n) % n)
    }
  }

  /** ScanBuilder that intersects the scanned VERSION's file list with
    * the `_graft_stats` range bounds and per-file Bloom verdicts derived
    * from the PUSHED-DOWN filters, BEFORE Spark's parquet scan is
    * constructed — so plain catalog SQL (`SELECT ... FROM snap.t WHERE
    * k = 42`) skips files exactly like `Snapshots.readPruned` /
    * `readPrunedByKeys`, with zero new syntax. At 100 TB this is the
    * difference between opening millions of footers and opening the
    * files the sidecars cannot rule out, for every ad-hoc SQL user.
    *
    * The filters are ALSO forwarded to the inner ParquetScanBuilder
    * unchanged, so parquet row-group skipping and Spark's post-scan
    * re-application still happen — a sidecar false positive costs one
    * extra file read and can never change results. Aggregate pushdown
    * delegates too (parquet refuses it whenever data filters exist, so
    * it only ever fires on the unpruned full list — sound).
    */
  private[sources] class PruningScanBuilder(spark: SparkSession,
      table: String, scanName: String, entries: Seq[String],
      files: Seq[String], declared: Option[StructType],
      colmap: Map[String, String], partition: Seq[(String, String)],
      options: CaseInsensitiveStringMap,
      dead: Map[String, org.roaringbitmap.RoaringBitmap] = Map.empty)
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

    // this scan has consulted no sidecar yet (spec hook hygiene: a scan
    // with nothing pushed must not inherit the previous scan's verdict)
    Snapshots.lastCatalogPruned = None
    Snapshots.lastAggAnswered = None
    Snapshots.lastLimitPruned = None
    Snapshots.lastTopNPruned = None

    // column mapping: the parquet scan reads PHYSICAL names (renamed
    // columns would resolve all-NULL under the logical ones); rows are
    // positional, so only planning-time schemas need the two name views
    private val physToLogical = colmap.map(_.swap)
    private def toPhys(s: StructType): StructType =
      if (colmap.isEmpty) s
      else StructType(s.fields.map(f =>
        f.copy(name = colmap.getOrElse(f.name, f.name))))
    private val physDeclared = declared.map(toPhys)

    // the metadata columns the plan asked for (`_file`, `_pos`: the
    // row id of a row-level statement); a declared column of the same
    // name shadows one
    private var meta: Seq[String] = Nil
    // deletion vectors and metadata columns: the parquet scan also
    // reads each row's index within its file (Spark's parquet reader
    // fills this column by name), and PositionedScan drops the dead
    // positions and the column and serves the metadata columns; a scan
    // that needs neither plans as before
    private def positioned(s: StructType): StructType =
      if (dead.isEmpty && meta.isEmpty) s else s.add(RowIndexField)
    private lazy val deadByUri: Map[String, org.roaringbitmap.RoaringBitmap] = {
      val uri = graft.warehouse.FileSkipping.canonical(spark,
        new Path(table, "data"), dead.keys.toSeq)._2.map(_.swap)
      dead.map { case (e, b) => uri(e) -> b }
    }
    private def deadCount(e: String): Long =
      dead.get(e).fold(0L)(_.getLongCardinality)
    /** `s` (a parquet scan of physical names) as the catalog serves it:
      * logical names, and the dead rows dropped and the metadata columns
      * served whenever it reads the row index.
      */
    private def served(s: Scan): Scan = {
      val named =
        if (colmap.isEmpty) s
        else new SnapshotCatalog.LogicalNameScan(s, physToLogical)
      if (!s.readSchema().fieldNames.contains(RowIndexField.name)) named
      else new PositionedScan(named, deadByUri, meta)
    }

    /** One driver-side `getFileStatus` per manifest file, fetched once
      * per scan build and served to every (re)built index below —
      * `ParquetTable`'s own `InMemoryFileIndex` would instead re-LIST
      * the path set on every construction, and above the
      * parallelPartitionDiscovery threshold (32) that is a whole Spark
      * job with one task per file, run twice per pruned read (once for
      * the initial builder, once for the post-prune rebuild). The
      * manifest already knows the files; re-discovering them is pure
      * overhead at any scale (guide §6: manifest metadata avoids
      * listing).
      */
    private lazy val statusByPath: Map[Path, org.apache.hadoop.fs.FileStatus] = {
      val ps = files.map(new Path(_))
      // keyed by the RAW constructor paths: InMemoryFileIndex.
      // listLeafFiles consults the cache with rootPathsSpecified
      // verbatim (no qualification before the lookup — verified against
      // the 4.1 bytecode), so the keys must match what builderFor
      // passes in
      ps.zip(graft.warehouse.ManifestFileIndex
        .statusesOf(spark.sparkContext.hadoopConfiguration,
          ps.head.getParent, files)).toMap
    }
    private object PinnedStatusCache
      extends org.apache.spark.sql.execution.datasources.FileStatusCache {
      override def getLeafFiles(path: Path)
          : Option[Array[org.apache.hadoop.fs.FileStatus]] =
        statusByPath.get(path).map(Array(_))
      override def putLeafFiles(path: Path,
          leafFiles: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }

    private def builderFor(paths: Seq[String]): FileScanBuilder =
      physDeclared match {
        case Some(ds) =>
          // pre-fetched statuses + an empty partition spec: the index
          // construction does zero FS work and zero partition inference
          // (explicit file roots never infer partitions — same contract
          // as ParquetTable over explicit paths)
          val index = new org.apache.spark.sql.execution.datasources
            .InMemoryFileIndex(spark, paths.map(new Path(_)),
              Map.empty[String, String], Some(ds), PinnedStatusCache,
              Some(org.apache.spark.sql.execution.datasources
                .PartitionSpec.emptySpec), None)
          val withIndex = ds.add(RowIndexField)
          new org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScanBuilder(spark, index, withIndex, withIndex, options)
        case None => // legacy no-schema table: footer inference needs
          // ParquetTable's own discovery path
          ParquetTable(scanName, spark, CaseInsensitiveStringMap.empty(),
            paths, physDeclared, classOf[ParquetFileFormat])
            .newScanBuilder(options).asInstanceOf[FileScanBuilder]
      }

    private var inner: FileScanBuilder = builderFor(files)
    // builder state the RUNTIME re-prune replays on its rebuilt scan:
    // the statically-surviving entries, the pushed conjuncts, and the
    // pruned projection (SupportsRuntimeV2Filtering arrives at
    // execution time, long after this builder finished)
    private var liveEntries: Seq[String] = entries
    private var pushedCatalyst: Seq[Expression] = Nil
    private var requiredLogical: Option[StructType] = None
    private var aggPushed = false

    private def pathsFor(keep: Set[String]): Seq[String] = {
      val paths = entries.zip(files).collect { case (n, p) if keep(n) => p }
      // an empty selection still needs a well-typed scan: the declared
      // schema serves it; without one (legacy no-header table) keep a
      // file and let the re-applied filter drop its rows
      if (paths.isEmpty && declared.isEmpty) files.take(1) else paths
    }

    override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
      // V1-translatable conjuncts drive the sidecar prune (the same
      // algebra the DELETE path translates); untranslatable shapes
      // simply don't prune — soundness lives in pruneFilesByFilters.
      // Filters keep their LOGICAL names: the prune maps internally,
      // and a renamed-column filter simply doesn't reach the parquet
      // footer level (it re-applies post-scan like any unpushed filter)
      val translated = filters.flatMap(e =>
        org.apache.spark.sql.graft.ColumnBridge.translateFilter(e))
      val kept = Snapshots.pruneFilesByFilters(spark, table, entries,
        declared, translated, colmap, partition)
      Snapshots.lastCatalogPruned = Some((kept.size, entries.size))
      liveEntries = kept
      pushedCatalyst = filters
      if (kept.size < entries.size) inner = builderFor(pathsFor(kept.toSet))
      inner.pushFilters(filters)
    }
    override def pushedFilters: Array[Predicate] = inner.pushedFilters
    override def pruneColumns(required: StructType): Unit = {
      val (asked, data) = required.fields.partition(f =>
        MetadataTypes.contains(f.name) &&
          !declared.exists(_.fieldNames.contains(f.name)))
      if (asked.nonEmpty && declared.isEmpty)
        throw new UnsupportedOperationException(
          s"$table has no declared schema: its rows have no _file/_pos " +
            "(OPTIMIZE the table first)")
      meta = asked.map(_.name).toSeq
      requiredLogical = Some(StructType(data))
      inner.pruneColumns(positioned(toPhys(StructType(data))))
    }
    /** The Aggregation with its field references renamed logical →
      * physical, so footer-stats pushdown works on RENAMED columns too
      * (the inner parquet builder sees only physical names). Spark maps
      * the scan's agg output back POSITIONALLY, so the physical-
      * flavored output labels are cosmetic. None when any shape is
      * outside the translatable set (parquet's own MIN/MAX/COUNT/
      * COUNT(*) plus bare-column group-bys) — the caller then refuses
      * and the aggregate runs post-scan, exactly as before.
      */
    private def toPhysAgg(agg: Aggregation): Option[Aggregation] = {
      import org.apache.spark.sql.connector.{expressions => v2x}
      import org.apache.spark.sql.connector.expressions.aggregate._
      if (colmap.isEmpty) return Some(agg)
      def physRef(e: v2x.Expression): Option[v2x.NamedReference] = e match {
        case r: v2x.NamedReference if r.fieldNames().length == 1 =>
          Some(v2x.Expressions.column(
            colmap.getOrElse(r.fieldNames()(0), r.fieldNames()(0))))
        case _ => None
      }
      val aggs = agg.aggregateExpressions().toSeq.map {
        case m: Min => physRef(m.column()).map(new Min(_))
        case m: Max => physRef(m.column()).map(new Max(_))
        case c: Count => physRef(c.column())
          .map(new Count(_, c.isDistinct))
        case c: CountStar => Some(c)
        case _ => None
      }
      val groups = agg.groupByExpressions().toSeq.map(physRef)
      if (aggs.forall(_.isDefined) && groups.forall(_.isDefined))
        Some(new Aggregation(aggs.flatten.toArray[AggregateFunc],
          groups.flatten.toArray[v2x.Expression]))
      else None
    }
    // a fully metadata-answered aggregation (stats sidecar, zero data
    // files — see SnapshotCatalog.statsAggAnswer); only attempted when
    // NO filter was pushed (a filtered count/min over whole-file stats
    // would be wrong, not just slow)
    private var statsServed
        : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] =
      None
    private def tryStatsAnswer(agg: Aggregation)
        : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] =
      if (pushedCatalyst.nonEmpty) None
      else SnapshotCatalog.statsAggAnswer(spark, table, entries, colmap,
        declared, agg, deadCount)

    // parquet's aggregate pushdown answers from footers, which count a
    // vectored file's dead rows too
    private def footerAggs: Boolean = !liveEntries.exists(dead.contains)

    override def pushAggregation(agg: Aggregation): Boolean = {
      statsServed = tryStatsAnswer(agg)
      if (statsServed.isDefined) { aggPushed = true; return true }
      aggPushed = footerAggs && toPhysAgg(agg).exists(pa => inner match {
        case a: SupportsPushDownAggregates => a.pushAggregation(pa)
        case _ => false
      })
      aggPushed
    }
    override def supportCompletePushDown(agg: Aggregation): Boolean =
      tryStatsAnswer(agg).isDefined || footerAggs &&
      toPhysAgg(agg).exists(pa => inner match {
        case a: SupportsPushDownAggregates => a.supportCompletePushDown(pa)
        case _ => false
      })

    // a LIMIT/TopN truncation proved a file subset sufficient for the
    // query's k rows; a later runtime join-key re-prune of that subset
    // could drop rows the LIMIT is entitled to, so build() disables it
    private var truncated = false

    // both pushdowns are PARTIAL by design: the scan only shrinks the
    // file list, Spark's own Limit/TakeOrdered still runs above
    override def isPartiallyPushed(): Boolean = true

    /** `LIMIT n` truncates the FILE LIST: when the stats sidecar holds a
      * row count for every live entry (and nothing else was
      * pushed — a filter or aggregate changes what "n rows" means), the
      * scan keeps only the shortest entry prefix whose counts sum to
      * ≥ n. `SELECT * FROM snap.t LIMIT 10` on a million-file table
      * opens one file; Spark's own Limit still runs above (partial
      * pushdown), so serving ≥ n rows is all the contract requires.
      */
    override def pushLimit(limit: Int): Boolean = {
      if (limit <= 0 || pushedCatalyst.nonEmpty || aggPushed) return false
      // live rows: a vectored file's dead rows do not count
      val counts = Snapshots.fileStats(spark, table, liveEntries, declared,
        colmap).flatMap(_.rowCounts).getOrElse(return false)
        .zip(liveEntries).map { case (n, e) => n - deadCount(e) }
      var cum = 0L; var n = 0
      while (n < counts.length && cum < limit) { cum += counts(n); n += 1 }
      if (cum >= limit && n < liveEntries.size) {
        val keep = liveEntries.take(n)
        Snapshots.lastLimitPruned = Some((keep.size, liveEntries.size))
        liveEntries = keep
        truncated = true
        inner = builderFor(pathsFor(keep.toSet))
      }
      true
    }

    /** `ORDER BY c [ASC|DESC] LIMIT k` prunes files that provably
      * cannot reach the top k — the sidecar min/max/count/nulls prove
      * k rows rank better-or-equal than a threshold T, and every file
      * whose BEST possible row ranks strictly worse than T is skipped.
      * Pruning keys on the PRIMARY sort key alone (sound: exclusion is
      * strict dominance on the first key, which decides lexicographic
      * order before any tie-break). Spark re-sorts the survivors
      * (partial pushdown), so a kept-too-much is only IO. At 100 TB,
      * "latest k events" on a time-clustered table reads the tail
      * files, not the table.
      */
    override def pushTopN(
        orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
        limit: Int): Boolean = {
      if (limit <= 0 || pushedCatalyst.nonEmpty || aggPushed) return false
      val o = orders.headOption.getOrElse(return false)
      val colName = o.expression() match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames().length == 1 => r.fieldNames()(0)
        case _ => return false
      }
      val keep = SnapshotCatalog.topNKeepEntries(spark, table, liveEntries,
        colmap.getOrElse(colName, colName), declared, colmap,
        asc = o.direction() ==
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        nullsFirst = o.nullOrdering() ==
          org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST,
        k = limit, dead = deadCount).getOrElse(return false)
      if (keep.size < liveEntries.size) {
        Snapshots.lastTopNPruned = Some((keep.size, liveEntries.size))
        liveEntries = keep
        truncated = true
        inner = builderFor(pathsFor(keep.toSet))
      }
      true
    }

    /** The runtime re-prune's scan factory: same builder recipe, same
      * pushed filters and projection, a smaller file list.
      */
    private def rebuildFor(keep: Set[String]): Scan = {
      val b = builderFor(pathsFor(keep))
      b.pushFilters(pushedCatalyst)
      requiredLogical.foreach(r => b.pruneColumns(positioned(toPhys(r))))
      served(b.build())
    }

    override def build(): Scan = {
      statsServed.foreach { case (schema, row) =>
        Snapshots.lastAggAnswered = Some(schema.fields.length)
        return new SnapshotCatalog.StatsAggScan(schema, row)
      }
      val s = served(inner.build())
      // a pushed aggregate rewrites the scan's output to the agg values
      // — a runtime file re-prune under it would change RESULTS, not
      // just IO (partial MIN of fewer files), so it opts out
      if (aggPushed) s
      else new SnapshotCatalog.RuntimeFilterableScan(spark, table,
        liveEntries, declared, colmap, partition, s, rebuildFor,
        allowRuntimeFilter = !truncated, deadCount = deadCount)
    }
  }

  /** Catalog scan face that accepts RUNTIME filters — the join-key sets
    * Spark pushes at execution time when a dimension side is broadcast
    * (`SupportsRuntimeV2Filtering`): the key set re-prunes the file
    * list through the same sidecar algebra as static pushdown
    * (stats ranges, Bloom verdicts, partition dirs), so the canonical
    * warehouse shape `fact JOIN dim ON k WHERE dim.selective` opens
    * only the fact files that can hold a surviving key — with NO
    * literal fact predicate in the query at all. At 100 TB this is the
    * difference between scanning the fact table and scanning the join's
    * working set.
    *
    * Sound like every other pruner here: only translatable predicates
    * prune, a failed translation keeps everything, Spark re-applies the
    * join itself — a sidecar false positive costs one extra file read.
    * `filterAttributes` advertises only prunable columns that survive
    * the projection (Spark RESOLVES each against the scan's output and
    * throws on a miss).
    */
  private[sources] class RuntimeFilterableScan(spark: SparkSession,
      table: String, baseEntries: Seq[String],
      declared: Option[StructType], colmap: Map[String, String],
      partition: Seq[(String, String)], initial: Scan,
      rebuild: Set[String] => Scan, allowRuntimeFilter: Boolean = true,
      deadCount: String => Long = _ => 0L)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

    @volatile private var current: Scan = initial
    @volatile private var live: Seq[String] = baseEntries

    /** The declared IDENTITY transform as a reported storage
      * partitioning (`SupportsReportPartitioning`): the `__gp=` dirs
      * already cluster the data by the partition column, so a group-by
      * or storage-partitioned join keyed on it needs NO Exchange — at
      * 100 TB that is the whole shuffle of the table's hottest
      * aggregation, gone. One (key row → entries) group per distinct
      * dir value, computed once per scan from the STATICALLY-pruned
      * entry list.
      *
      * Reported only when every condition makes the keys TRUTHFUL —
      * a storage-partitioned join trusts them for correctness, not just
      * for placement:
      *   - v2 bucketing is on (Spark ignores the report otherwise, and
      *     per-group planning would cost driver time for nothing);
      *   - the transform is VALUE-PRESERVING: identity on any type, or
      *     a `date` transform on a DateType column (casting a date to
      *     date IS identity, so the daily dirs of the canonical
      *     date-partitioned fact table cluster by the exact column
      *     value). A date transform on a TIMESTAMP truncates — coarser
      *     than the column, its clustering EXPRESSION would need a
      *     FunctionCatalog face — and month always truncates; neither
      *     reports;
      *   - every live entry carries a `__gp=` prefix (one flat
      *     pre-transform file has an unknown key);
      *   - the partition column survives the projection (the planner
      *     resolves the clustering key against the scan's output);
      *   - every dir value round-trips through a non-ANSI cast to the
      *     column's type (the null-sentinel dir maps to a null key; a
      *     non-sentinel value casting to null would LIE to a join).
      */
    private lazy val staticGroups
        : Option[(org.apache.spark.sql.connector.expressions.Transform,
          Seq[(org.apache.spark.sql.catalyst.InternalRow, Seq[String])])] =
      for {
        pcKind <- partition match {
          case Seq((c, k)) => Some((c, k))
          case _ => None // composite layouts report nothing
        }
        (pc, kind) = pcKind
        if spark.conf.get("spark.sql.sources.v2.bucketing.enabled",
          "false") == "true"
        if readSchema().fieldNames.contains(pc)
        dt <- declared.flatMap(_.fields.find(_.name == pc)).map(_.dataType)
        bucketN = Snapshots.bucketModulus(kind)
        if kind == "identity" || (kind == "date" &&
          dt == org.apache.spark.sql.types.DateType) || bucketN.isDefined
        // a bucket dir IS the transform's output: the reported key is
        // the int bucket id and the clustering expression is the
        // catalog-resolvable bucket(N, col) (FunctionCatalog face) —
        // what a storage-partitioned join matches across tables
        keyType = bucketN.map(_ =>
            org.apache.spark.sql.types.IntegerType
              : org.apache.spark.sql.types.DataType)
          .getOrElse(dt)
        groups <- keyGroupsOf(baseEntries, keyType)
        if groups.size > 1 // a single group is SinglePartition anyway
        expr = bucketN match {
          case Some(n) => org.apache.spark.sql.connector.expressions
            .Expressions.bucket(n, pc)
          case None => org.apache.spark.sql.connector.expressions
            .Expressions.identity(pc)
        }
      } yield (expr, groups)

    /** (key row → member entries) per distinct dir value, sorted for
      * deterministic planning; None as soon as any entry's key is
      * unknown or untruthful.
      */
    private def keyGroupsOf(entries: Seq[String],
        dt: org.apache.spark.sql.types.DataType)
        : Option[Seq[(org.apache.spark.sql.catalyst.InternalRow,
          Seq[String])]] = {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      val valued = entries.map(e => Snapshots.partitionDirValue(e).map((e, _)))
      if (valued.exists(_.isEmpty)) return None
      val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
      val groups = valued.flatten.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (v, es) =>
          val key: Any =
            if (v == Snapshots.NullPartition) null
            else Cast(Literal(org.apache.spark.unsafe.types.UTF8String
                .fromString(v), org.apache.spark.sql.types.StringType),
              dt, zone, org.apache.spark.sql.catalyst.expressions
                .EvalMode.LEGACY).eval(null)
          if (key == null && v != Snapshots.NullPartition) return None
          (new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](key)), es.map(_._1))
        }
      Some(groups)
    }

    override def outputPartitioning()
        : org.apache.spark.sql.connector.read.partitioning.Partitioning =
      staticGroups match {
        case Some((expr, groups)) =>
          new org.apache.spark.sql.connector.read.partitioning
            .KeyGroupedPartitioning(
              Array[org.apache.spark.sql.connector.expressions.Expression](
                expr), groups.size)
        case None =>
          new org.apache.spark.sql.connector.read.partitioning
            .UnknownPartitioning(0)
      }

    override def filterAttributes()
        : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
      val visible = readSchema().fieldNames.toSet
      Snapshots.prunableColumns(spark, table, colmap, partition)
        .filter(visible)
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray
    }

    override def filter(predicates: Array[Predicate]): Unit = {
      // a LIMIT/TopN-truncated file list must not shrink further: the
      // kept subset is exactly sufficient for the query's k rows
      if (!allowRuntimeFilter) return
      val v1 = predicates.toSeq.flatMap(
        org.apache.spark.sql.graft.ColumnBridge.predicateToV1)
      if (v1.isEmpty) return
      val kept = Snapshots.pruneFilesByFilters(spark, table, baseEntries,
        declared, v1, colmap, partition)
      Snapshots.lastRuntimePruned = Some((kept.size, baseEntries.size))
      if (kept.size < baseEntries.size) {
        live = kept
        current = rebuild(kept.toSet)
      }
    }

    // the projection never changes under a runtime file re-prune — the
    // INITIAL scan's schema stays authoritative (a rebuilt empty
    // selection must not surface a different shape)
    override def readSchema(): StructType = initial.readSchema()
    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      staticGroups match {
        case None => current.toBatch
        case Some((_, groups)) =>
          // grouped planning from the LIVE entry set: a runtime filter
          // may have arrived since the report — a key whose entries all
          // died simply plans no partitions (Spark restores missing
          // keys as empty partitions under the subset rule), and every
          // surviving partition still carries its HasPartitionKey
          val liveSet = live.toSet
          val alive = groups
            .map { case (k, es) => (k, es.filter(liveSet)) }
            .filter(_._2.nonEmpty)
          new KeyGroupedBatch(
            alive.map { case (k, es) => (k, rebuild(es.toSet).toBatch) })
      }
    override def description(): String = current.description()
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      initial.supportedCustomMetrics()
    // EXACT row count from the stats sidecar's per-file row counts when
    // every live entry is covered: the planner's join-strategy and AQE
    // decisions run on real cardinality instead of a bytes-only guess.
    // One driver-side read of the tiny manifest, cached per scan;
    // sizeInBytes still comes from the parquet scan.
    // A vectored file's dead rows do not count.
    private lazy val exactRows: Option[Long] = Snapshots.fileStats(spark,
      table, baseEntries, declared, colmap).flatMap(_.rowCounts)
      .map(_.sum - baseEntries.map(deadCount).sum)

    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics = {
      val inner = current match {
        case s: org.apache.spark.sql.connector.read
            .SupportsReportStatistics => Some(s.estimateStatistics())
        case _ => None
      }
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          inner.map(_.sizeInBytes())
            .getOrElse(java.util.OptionalLong.empty())
        override def numRows(): java.util.OptionalLong =
          exactRows.map(java.util.OptionalLong.of)
            .orElse(inner.map(_.numRows()))
            .getOrElse(java.util.OptionalLong.empty())
      }
    }
  }

  /** The entries of a catalog scan that can still hold a row of the
    * global `ORDER BY <col> LIMIT k` answer, decided entirely from the
    * stats sidecar; None when the sidecar cannot prove a SOUND prune
    * (missing file coverage or counts, an untracked column) — the
    * caller then reads everything.
    *
    * Soundness, phrased for ASC (DESC mirrors through the flipped
    * comparator): sort files by their WORST value bound (max),
    * accumulate guaranteed-rank rows until k are proven — under NULLS
    * FIRST every row of a file counts (nulls rank ahead of all
    * values), under NULLS LAST only the non-null rows do. T = the
    * worst bound among the counted files; every counted file survives
    * the prune by construction (its best bound ≤ its worst ≤ T). A
    * file whose BEST bound (min) ranks strictly worse than T is
    * outranked by those ≥ k surviving rows for EVERY row it holds, so
    * dropping it cannot change any valid top-k answer. Files with
    * nulls are never dropped under NULLS FIRST; under NULLS LAST the k
    * counted rows are non-null and outrank any null, so even an
    * all-null file drops. Bounds are exact in the column's type and
    * compare under Spark's ordering for it.
    */
  private[sources] def topNKeepEntries(spark: SparkSession, table: String,
      entries: Seq[String], physCol: String, declared: Option[StructType],
      colmap: Map[String, String], asc: Boolean, nullsFirst: Boolean,
      k: Int, dead: String => Long = _ => 0L): Option[Seq[String]] = {
    val st = Snapshots.fileStats(spark, table, entries, declared, colmap)
      .getOrElse(return None)
    // defined only when every file has its row and null counts
    val nonNulls = st.nonNulls(physCol).getOrElse(return None)
    // a vectored file counts its live rows, and of its non-null values
    // only those no dead row can have been; its bounds still hold every
    // live value
    val fss = entries.zip(st.covered.get).zip(nonNulls).map {
      case ((e, f), nn) =>
        val b = f.columns(physCol)
        val (d, rows) = (dead(e), f.rows.get - dead(e))
        if (nn < 0) return None
        if (nn == 0) (e, rows, 0L, None, None)
        else if (b.min == null || b.max == null) return None
        else if (asc) (e, rows, math.max(0L, nn - d), Some(b.min), Some(b.max))
        else (e, rows, math.max(0L, nn - d), Some(b.max), Some(b.min))
    }
    Some(topNKeepStats(fss, org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(st.types(physCol)), asc, nullsFirst, k))
  }

  /** Pure core of [[topNKeepEntries]] — the counting/exclusion algebra
    * over already-decoded per-file stats
    * `(entry, count, nonNulls, bestBound, worstBound)` (bounds None for
    * files with no non-null value), compared by `ord`, the column type's
    * ordering. Separated so PropertySpec can fuzz it against a
    * brute-force top-k over synthetic row multisets.
    */
  private[graft] def topNKeepStats(
      fss: Seq[(String, Long, Long, Option[Any], Option[Any])],
      ord: Ordering[Any], asc: Boolean, nullsFirst: Boolean,
      k: Int): Seq[String] = {
    // better(a, b) < 0 ⇔ a ranks strictly before b in the output order
    def better(a: Any, b: Any): Int =
      if (asc) ord.compare(a, b) else -ord.compare(a, b)
    // counting phase: prove k rows at rank ≤ T
    val (boundless, bounded) = fss.partition(_._5.isEmpty)
    var cum: Long =
      if (nullsFirst) boundless.map(_._2).sum else 0L
    var t: Option[Any] = None
    val it = bounded.sortWith((x, y) => better(x._5.get, y._5.get) < 0)
      .iterator
    while (cum < k && it.hasNext) {
      val f = it.next()
      cum += (if (nullsFirst) f._2 else f._3)
      t = Some(f._5.get)
    }
    if (cum < k) return fss.map(_._1) // cannot prove k rows: keep all
    fss.filter { case (_, count, nonNulls, best, _) =>
      val hasNulls = count - nonNulls > 0
      if (nullsFirst && hasNulls) true // its nulls rank ahead of T
      else best match {
        case None => false // empty or outranked all-null file
        case Some(b) => t match {
          case None => false // k nulls outrank every value row
          case Some(tv) => better(b, tv) <= 0
        }
      }
    }.map(_._1)
  }

  /** METADATA-ONLY aggregate answer: COUNT(*) / COUNT(col) / MIN / MAX
    * with no filters and no grouping, computed ENTIRELY from the
    * `_graft_stats` sidecar — the Delta/Iceberg "answer from the log"
    * idea. At 100 TB `SELECT count(*), min(k), max(k) FROM snap.fact`
    * becomes one driver-side read of a manifest with one row per file:
    * zero data files opened, zero tasks launched. COUNT(col) rides the
    * sidecar's per-file row and null counts.
    *
    * Refuses (→ the footer-pushdown path) unless the answer is provably
    * EXACT:
    *   - every entry of the scanned version has a stats row, and (for
    *     COUNT) its counts (rows from before the counts refuse);
    *   - MIN/MAX columns are tracked ([[graft.operators.Layout.stats]]):
    *     their bounds hold the column's type exactly — timestamps and
    *     decimals included, bounds from before a widening cast up — and
    *     the winner is chosen by Spark's ordering for that type;
    *   - on a file with `dead` rows (its deletion vector), COUNT(*)
    *     counts the live ones, COUNT(col) answers only when the column
    *     is all-null or null-free there, and MIN/MAX refuse (the file's
    *     extreme row may be dead).
    * NULL file stats contribute nothing to MIN/MAX (an all-null or
    * empty file), matching Spark's null-ignoring aggregates; an overall
    * empty/all-null table answers NULL.
    */
  private[sources] def statsAggAnswer(spark: SparkSession, table: String,
      entries: Seq[String], colmap: Map[String, String],
      declared: Option[StructType], agg: Aggregation,
      dead: String => Long = _ => 0L)
      : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    if (agg.groupByExpressions.nonEmpty) return None
    val schema = declared.getOrElse(return None)
    // (logical name, declared type, physical name) of a bare column
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType, String)] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        val c = r.fieldNames()(0)
        schema.fields.find(_.name == c)
          .map(f => (c, f.dataType, colmap.getOrElse(c, c)))
      case _ => None
    }
    // shape check BEFORE touching the sidecar: Left(None) = COUNT(*),
    // Left(Some(c)) = COUNT(c), Right((c, isMin)) = MIN/MAX
    val shapes = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Left(None)
      case c: Count if !c.isDistinct =>
        Left(Some(colOf(c.column()).getOrElse(return None)))
      case m: Min => Right((colOf(m.column()).getOrElse(return None), true))
      case m: Max => Right((colOf(m.column()).getOrElse(return None), false))
      case _ => return None
    }
    val st = Snapshots.fileStats(spark, table, entries, declared, colmap)
      .getOrElse(return None)
    val files = st.covered.getOrElse(return None)
    val deadN = entries.map(dead)
    val vectored = deadN.exists(_ > 0)
    val out = shapes.map {
      case Left(c) =>
        val rows = st.rowCounts.getOrElse(return None)
        val counted = c.fold(rows)(c => st.nonNulls(c._3)
          .getOrElse(return None))
        val n = counted.lazyZip(rows).lazyZip(deadN).map { (k, r, d) =>
          if (d == 0 || k == 0) k
          else if (k == r) k - d // null-free: every dead row was counted
          else return None
        }.sum
        (StructField(s"count(${c.fold("*")(_._1)})", LongType,
          nullable = false), java.lang.Long.valueOf(n): Any)
      case Right(((c, dt, phys), isMin)) =>
        if (!st.types.contains(phys) || vectored) return None
        val vs = files.map(f => f.columns(phys))
          .map(b => if (isMin) b.min else b.max).filter(_ != null)
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(dt)
        (StructField(s"${if (isMin) "min" else "max"}($c)", dt),
          if (vs.isEmpty) null else if (isMin) vs.min(ord) else vs.max(ord))
    }
    Some((StructType(out.map(_._1)),
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        out.map(_._2).toArray)))
  }

  /** One-row, zero-IO scan serving a metadata-answered aggregate
    * ([[statsAggAnswer]]) — what `build()` returns when the whole
    * aggregation was answered from the stats sidecar.
    */
  private[sources] class StatsAggScan(schema: StructType,
      row: org.apache.spark.sql.catalyst.InternalRow)
    extends Scan with org.apache.spark.sql.connector.read.Batch {
    override def readSchema(): StructType = schema
    override def description(): String =
      s"GraftStatsAggScan[${schema.fieldNames.mkString(", ")}]"
    override def toBatch: org.apache.spark.sql.connector.read.Batch = this
    override def planInputPartitions()
        : Array[org.apache.spark.sql.connector.read.InputPartition] =
      Array(StatsAggPartition(row))
    override def createReaderFactory()
        : org.apache.spark.sql.connector.read.PartitionReaderFactory =
      new StatsAggReaderFactory
  }

  private[sources] case class StatsAggPartition(
      row: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.InputPartition

  private[sources] class StatsAggReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    override def createReader(
        p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] =
      new org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] {
        private val row = p.asInstanceOf[StatsAggPartition].row
        private var served = false
        override def next(): Boolean =
          if (served) false else { served = true; true }
        override def get(): org.apache.spark.sql.catalyst.InternalRow = row
        override def close(): Unit = ()
      }
  }

  /** Batch face of a key-grouped catalog scan: one inner parquet batch
    * per distinct partition value, every emitted input partition
    * stamped with its group's key row (`HasPartitionKey`) so Spark's
    * v2-bucketing machinery can co-locate by key — a group-by or
    * storage-partitioned join on the partition column plans with NO
    * Exchange. A file split never crosses a group (each group is its
    * own parquet scan over its own dir's files), so the key is exact
    * for every row the partition yields.
    */
  private[sources] class KeyGroupedBatch(
      groups: Seq[(org.apache.spark.sql.catalyst.InternalRow,
        org.apache.spark.sql.connector.read.Batch)])
    extends org.apache.spark.sql.connector.read.Batch {

    override def planInputPartitions()
        : Array[org.apache.spark.sql.connector.read.InputPartition] =
      groups.zipWithIndex.flatMap { case ((key, b), gi) =>
        b.planInputPartitions().map(p => KeyedInputPartition(key, gi, p))
      }.toArray

    override def createReaderFactory()
        : org.apache.spark.sql.connector.read.PartitionReaderFactory =
      new DispatchingReaderFactory(
        groups.map(_._2.createReaderFactory()).toArray)
  }

  /** An inner scan's input partition plus the partition-value key row
    * its group reported, and the group index its reader factory lives
    * at ([[DispatchingReaderFactory]]).
    */
  private[sources] case class KeyedInputPartition(
      key: org.apache.spark.sql.catalyst.InternalRow, group: Int,
      inner: org.apache.spark.sql.connector.read.InputPartition)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
      key
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** Routes each [[KeyedInputPartition]] to its own group's parquet
    * reader factory, delegating the columnar decision so vectorized
    * reads survive the wrapping.
    */
  private[sources] class DispatchingReaderFactory(
      factories: Array[org.apache.spark.sql.connector.read
        .PartitionReaderFactory])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    private def un(p: org.apache.spark.sql.connector.read.InputPartition) =
      p.asInstanceOf[KeyedInputPartition]
    override def createReader(
        p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] =
      factories(un(p).group).createReader(un(p).inner)
    override def createColumnarReader(
        p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.vectorized.ColumnarBatch] =
      factories(un(p).group).createColumnarReader(un(p).inner)
    override def supportColumnarReads(
        p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
      factories(un(p).group).supportColumnarReads(un(p).inner)
  }

  /** Scan face for column-mapped tables: the wrapped parquet scan reads
    * PHYSICAL column names; this re-labels `readSchema()` back to the
    * LOGICAL ones so the plan's output attributes resolve — rows are
    * positional at execution, so nothing else changes. Statistics and
    * batch construction delegate.
    */
  private[sources] class LogicalNameScan(inner: Scan,
      physToLogical: Map[String, String])
    extends WrappedScan(inner) {
    override def readSchema(): StructType =
      StructType(inner.readSchema().fields.map(f =>
        f.copy(name = physToLogical.getOrElse(f.name, f.name))))
  }

  /** A scan face over `inner` that changes what it serves, not how it is
    * planned: batch, description, metrics and statistics delegate.
    */
  private[sources] abstract class WrappedScan(inner: Scan)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      inner.toBatch
    override def description(): String = inner.description()
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      inner.supportedCustomMetrics()
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }
  }

  /** The column a positioned parquet scan adds: Spark's parquet reader
    * fills a field of this name with each row's index within its file.
    */
  private val RowIndexField = org.apache.spark.sql.types.StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
    org.apache.spark.sql.types.LongType)

  /** The head table's metadata columns, Iceberg's names: a row's data
    * file URI and its row index in that file. Together they are the row
    * id of a row-level statement (sources/SnapshotRowLevel.scala), so
    * neither is nullable.
    */
  private[sources] val FileColumn = "_file"
  private[sources] val PosColumn = "_pos"
  private val MetadataTypes = Map[String, org.apache.spark.sql.types.DataType](
    FileColumn -> org.apache.spark.sql.types.StringType,
    PosColumn -> org.apache.spark.sql.types.LongType)
  private[sources] val metadataColumns: Array[MetadataColumn] =
    MetadataTypes.toArray.map { case (n, t) =>
      new MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = t
        override def isNullable: Boolean = false
      }
    }

  /** Scan face over a parquet scan that reads [[RowIndexField]]: its
    * reader factory drops the rows whose (file, row index) `dead` holds
    * (bitmaps by canonical file URI), projects the index column away and
    * appends the metadata columns `meta` asks for. Rows are served one at
    * a time (a columnar batch cannot lose rows), so a scan that needs
    * neither never takes this path.
    */
  private[sources] class PositionedScan(inner: Scan,
      dead: Map[String, org.roaringbitmap.RoaringBitmap], meta: Seq[String])
    extends WrappedScan(inner) {
    private def rowIndex = inner.readSchema().fieldIndex(RowIndexField.name)
    override def readSchema(): StructType =
      StructType(inner.readSchema().fields.patch(rowIndex, Nil, 1) ++
        meta.map(n => org.apache.spark.sql.types.StructField(n,
          MetadataTypes(n), nullable = false)))
    override def toBatch: org.apache.spark.sql.connector.read.Batch = {
      val b = inner.toBatch
      val types = inner.readSchema().fields.map(_.dataType)
      val at = rowIndex
      new org.apache.spark.sql.connector.read.Batch {
        override def planInputPartitions()
            : Array[org.apache.spark.sql.connector.read.InputPartition] =
          b.planInputPartitions()
        override def createReaderFactory()
            : org.apache.spark.sql.connector.read.PartitionReaderFactory =
          new PositionedReaderFactory(b.createReaderFactory(),
            new graft.warehouse.DeletionVectors.RowMask(dead, Map.empty),
            types, at, meta)
      }
    }
  }

  /** The reader side of [[PositionedScan]], beside
    * [[DispatchingReaderFactory]]: each row's file is the one the file
    * reader announces (`InputFileBlockHolder`, what `input_file_name()`
    * reads), its index sits at ordinal `at` of the wrapped row (of column
    * `types`), `mask` decides whether it is served, and `meta` which of
    * file and index it carries after its columns.
    */
  private[sources] class PositionedReaderFactory(
      inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      mask: graft.warehouse.DeletionVectors.RowMask,
      types: Array[org.apache.spark.sql.types.DataType], at: Int,
      meta: Seq[String])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    override def supportColumnarReads(
        p: org.apache.spark.sql.connector.read.InputPartition): Boolean = false
    override def createReader(
        p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] = {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference,
        GenericInternalRow, JoinedRow, UnsafeProjection}
      val r = inner.createReader(p)
      // the file URI rides as one extra field after the wrapped row's
      val project = UnsafeProjection.create(types.indices.filter(_ != at)
        .map(i => BoundReference(i, types(i), nullable = true)) ++
        meta.map { n =>
          if (n == FileColumn) BoundReference(types.length,
            org.apache.spark.sql.types.StringType, nullable = false)
          else BoundReference(at, org.apache.spark.sql.types.LongType,
            nullable = false)
        })
      val file = new GenericInternalRow(1)
      val joined = new JoinedRow
      new org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] {
        private var row: org.apache.spark.sql.catalyst.InternalRow = _
        override def next(): Boolean = {
          while (r.next()) {
            val cur = r.get()
            val f = org.apache.spark.sql.graft.ColumnBridge.inputFilePath
            if (mask.live(f, cur.getLong(at))) {
              file.update(0, f)
              row = project(joined(cur, file))
              return true
            }
          }
          false
        }
        override def get(): org.apache.spark.sql.catalyst.InternalRow = row
        override def close(): Unit = r.close()
      }
    }
  }
}
