package graft.warehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types

import graft.operators.Layout

/** Minimal snapshot-isolation commit protocol over plain parquet — the
  * upgrade path the README's concurrency section describes, implemented
  * with nothing but filesystem primitives (the same recipe the
  * transactional table formats build on: an ordered manifest log +
  * atomic manifest creation).
  *
  * Layout:
  * {{{
  *   table/
  *     data/part-<uuid>.parquet        immutable data files
  *     data/_graft_stats/              optional per-file min/max manifest
  *     data/_graft_bloom_<col>/        optional per-file Bloom index on col
  *     _manifests/v00000001.manifest   optional #-headers, then file names
  *     _manifests/v00000002.manifest
  *     _deletes/<uuid>.dv              immutable deletion vectors (dead
  *                                     row positions per data file)
  * }}}
  *
  * Invariants:
  *   - data files are written FIRST, under unique names, and never
  *     mutated or referenced until a manifest commits them;
  *   - a commit is `fs.create(vN+1, overwrite = false)` — atomic
  *     create-if-absent, so of two racing writers exactly ONE wins vN+1;
  *     the loser re-reads the new state and retries on vN+2 (optimistic
  *     concurrency, like Delta's log protocol);
  *   - readers resolve the highest manifest once and then read ONLY the
  *     files it lists — writers never disturb a running read (snapshot
  *     isolation), and any earlier version stays readable (time travel)
  *     until a vacuum removes unreferenced files;
  *   - everything a reader needs beyond the file list rides in
  *     `#`-prefixed manifest header lines: the version's declared schema
  *     (`#schema:` — schema evolution with no footer-merge reads) and
  *     the stream-commit watermarks (`#stream:` — exactly-once streaming
  *     appends), so state and data always commit in one atomic claim;
  *     every commit carries the head's stream marks forward, making each
  *     manifest self-contained (watermark lookup = one head read, immune
  *     to manifest vacuuming).
  *
  * The manifest text format (every header, the delta encoding and
  * checkpoint resolution) lives in [[Manifest]]; every commit publishes
  * through the one commit loop, [[transact]].
  *
  * On top of the core commit protocol the object provides MERGE, DELETE
  * and UPDATE by deletion vectors ([[DeletionVectors]]), OPTIMIZE,
  * vacuum retention, per-file-stats
  * pruned reads ([[readPruned]]), and incremental consumption
  * ([[incrementalRead]] / [[rowDiff]] — IO proportional to the delta /
  * churn, never the table). Single-table scope; no manifest-log
  * compaction (at one manifest per commit the log grows by bytes, and
  * vacuum bounds it).
  */
object Snapshots {

  /** Test-only race-injection seam: runs between a commit's staging step
    * and its claim (an append's, or each DELETE/UPDATE attempt's), where
    * a concurrent writer's commit can land.
    * Specs use it to interleave a DELETE / ADD CONSTRAINT
    * deterministically and prove the claim loop re-validates against the
    * moved head. A no-op in production.
    */
  private[graft] var raceHookForTests: () => Unit = () => ()

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive file walk via `listStatus` — deliberately NOT
    * `FileSystem.listFiles`: that API wraps every entry in a
    * `LocatedFileStatus`, whose constructor EAGERLY loads permissions,
    * and on a local FS without native Hadoop IO each load forks an
    * `ls -ld` subprocess PER FILE (jstack'd as the dominant driver cost
    * of every commit's staging walk — seconds per multi-file commit).
    * `listStatus` keeps permissions lazy and never forks; block
    * locations are irrelevant driver-side.
    */
  private def walkFiles(f: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    def go(d: Path): Unit = f.listStatus(d).foreach { st =>
      if (st.isDirectory) go(st.getPath) else buf += st
    }
    go(dir)
    buf.toSeq
  }

  private def dataDir(table: String) = new Path(table, "data")

  /** True when `version`'s manifest is still retained (v0 always is —
    * the empty table needs no manifest). A change-feed window whose
    * from-version fails this check was vacuumed away; the consumer must
    * fall back to a full re-read (see Incremental.syncMart).
    */
  def hasVersion(spark: SparkSession, table: String, version: Long): Boolean =
    version == 0 || {
      val p = Manifest.path(table, version)
      fs(spark, p).exists(p)
    }

  /** Retained manifest versions, ascending (empty for the empty table). */
  private def retainedVersions(spark: SparkSession,
      table: String): Seq[Long] = {
    val dir = Manifest.dir(table)
    // one listing: a missing dir is the empty table
    try fs(spark, dir).listStatus(dir).toSeq
      .flatMap(s => Manifest.versionOf(s.getPath.getName)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Highest committed version, 0 if the table is empty. */
  def currentVersion(spark: SparkSession, table: String): Long =
    retainedVersions(spark, table).lastOption.getOrElse(0L)

  /** The CANONICAL manifest of a version — headers plus the COMPLETE file
    * list, whatever the physical encoding ([[Manifest.resolve]] walks
    * delta chains to the nearest full manifest or checkpoint). Empty for
    * v0. Claimed manifests are immutable, so each version is parsed once
    * per JVM: commit retries, history walks and feed reads hit the cache.
    */
  private def manifestAt(spark: SparkSession, table: String,
      version: Long): Manifest = {
    if (version == 0) return Manifest()
    val key = (new Path(table).toString, version)
    resolvedManifests.get(key) match {
      case Some(m) => return m
      case None =>
    }
    val m = Manifest.resolve(fs(spark, Manifest.dir(table)), table, version,
      manifestAt(spark, table, _))
    // seed the probe-free read path: resolved sizes are as authoritative
    // as claim-time ones (the ledger travels with the manifest, so a
    // table written by ANOTHER process reads probe-free too)
    val dd = dataDir(table)
    m.sizes.foreach { case (n, l) =>
      ManifestFileIndex.recordSize(new Path(dd, n), l)
    }
    if (resolvedManifests.size > 4096) resolvedManifests.clear()
    resolvedManifests.put(key, m)
    m
  }

  private def headOf(spark: SparkSession, table: String): Manifest =
    manifestAt(spark, table, currentVersion(spark, table))

  // bounded; cleared wholesale past the cap — correctness never depends
  // on it
  private val resolvedManifests =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Manifest]

  /** Drop EVERY cached manifest resolution of `table` — the table-level
    * destructor's companion (SnapshotCatalog.dropTable): "immutable once
    * claimed" stops holding when the whole table tree is deleted and a
    * NEW table is later created at the same path, so without this purge
    * a same-JVM recreate would serve the DROPPED table's file lists and
    * schemas for any version number the new table hasn't reached yet
    * (a raw FileNotFound instead of a clean missing-version refusal).
    * Vacuum keeps removing only its own expired keys.
    */
  private[graft] def invalidateTable(table: String): Unit = {
    val key = new Path(table).toString
    resolvedManifests.keys.filter(_._1 == key)
      .foreach(resolvedManifests.remove)
  }

  /** logical → PHYSICAL column names of a version (`#colmap:` headers,
    * written by [[commitRenameColumn]]): the physical name is what landed
    * files hold forever (renames are metadata-only — Delta's
    * column-mapping idea restricted to names), the logical name is what
    * every API serves. Empty for never-renamed tables, so the whole
    * mapping machinery is a no-op on the common path. The DSv2 catalog
    * reads files under the PHYSICAL names and serves the LOGICAL schema.
    */
  def colmapAt(spark: SparkSession, table: String,
      version: Long): Map[String, String] =
    manifestAt(spark, table, version).colmap

  // ------------------------------------------------------------------
  // Declared partition transforms (directory-level file skipping)
  // ------------------------------------------------------------------

  /** The version's declared partition transforms (`#partition:` header),
    * outermost dir level first: (column, kind) with kind ∈ identity |
    * date | month | bucket<N> (murmur3 pmod N hash clustering — the
    * storage-partitioned-join layout). Data files of partitioned commits
    * land under `data/__gp=<k1(c1)>/__gp2=<k2(c2)>/...` and their
    * manifest entries carry the dir prefix — the DIRECTORY is a pruning
    * hint and a retention unit; the column itself stays IN every file
    * (unlike Hive layout), so no read path ever needs to re-derive
    * values from paths: pre-transform flat files, partitioned files, and
    * foreign refs all read identically. Carried forward by every commit,
    * like the colmap.
    */
  def partitionsAt(spark: SparkSession, table: String,
      version: Long): Seq[(String, String)] =
    manifestAt(spark, table, version).partitions

  /** The primary (outermost) transform of a version. */
  def partitionAt(spark: SparkSession, table: String,
      version: Long): Option[(String, String)] =
    partitionsAt(spark, table, version).headOption

  private val PartitionKinds = Set("identity", "date", "month")

  /** `bucket<N>` kinds carry their modulus in the kind string (the
    * `#partition:` header stays a flat `col:kind` pair); None for the
    * fixed kinds.
    */
  private[graft] def bucketModulus(kind: String): Option[Int] =
    if (kind.matches("bucket[1-9]\\d{0,5}")) Some(kind.drop(6).toInt)
    else None

  private def validPartitionKind(kind: String): Boolean =
    PartitionKinds(kind) || bucketModulus(kind).isDefined

  private[warehouse] val PartPrefix = "__gp="

  /** The dynamic-partition writer's null sentinel: a row whose transform
    * rendered NULL (null column value, or a failed date cast) lands
    * here. Its age and order are UNDEFINED — every pruner keeps it and
    * partition expiry never drops it.
    */
  private[graft] val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** [[partValueAt]] of the primary level, for the DSv2 catalog's
    * key-grouped reporting face
    * (sources/SnapshotCatalog.scala): the UNESCAPED `__gp=` dir value of
    * a manifest entry, None for flat/pre-transform/foreign entries
    * (whose partition value is unknown — a scan holding any such entry
    * must not report a partitioning).
    */
  private[graft] def partitionDirValue(entry: String): Option[String] =
    partValueAt(entry, 0)

  /** Date/month transforms need a column whose ordering IS the
    * truncation's. A string column orders lexicographically, not by
    * parse (" 2021-06-15" casts to a 2021 partition yet sorts before
    * "2020-01-01"), so a dir-value comparison against it would prune
    * files that hold matching rows; only date/timestamp columns
    * qualify. Identity takes any type.
    */
  private def requirePartitionable(schema: types.StructType,
      column: String, kind: String): Unit = {
    require(schema.fieldNames.contains(column), s"no column $column")
    if (bucketModulus(kind).isDefined) {
      // bucket dirs are murmur3 hashes of the column's INTERNAL value:
      // the probe renderer and the V2 bucket function must reproduce
      // the writer's hash from a driver-side value, so only the types
      // with an unambiguous external→internal mapping qualify
      val dt = schema(column).dataType
      require(dt == types.IntegerType || dt == types.LongType ||
          dt == types.StringType || dt == types.DateType,
        s"$kind($column) needs an int/bigint/string/date column, not " +
          s"${dt.simpleString}")
    } else if (kind != "identity") {
      val dt = schema(column).dataType
      require(dt == types.DateType || dt == types.TimestampType ||
          dt == types.TimestampNTZType,
        s"$kind($column) needs a date/timestamp column, not " +
          s"${dt.simpleString} — string order is not the truncation " +
          "order the pruner assumes; use identity, or cast at ingest")
    }
  }

  /** The partition-transform Column of a logical frame
    * ([[StagedFiles.render]]).
    */
  private def partitionExpr(c: String, kind: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(StagedFiles.render(kind,
      ColumnBridge.expression(org.apache.spark.sql.functions.col(c)), None))
  }

  /** Dir-column name of nesting level `i` (what the staging writer
    * partitions by) and its dir-fragment prefix: `__gp=` for the
    * primary, `__gp2=`/`__gp3=`... beneath it.
    */
  private def partLevelCol(i: Int): String =
    if (i == 0) "__gp" else s"__gp${i + 1}"
  private def partLevelPrefix(i: Int): String = partLevelCol(i) + "="

  /** Partition value of a manifest entry at nesting level `level`:
    * Some(v) when the entry lands under that level's `__gpN=` dir, None
    * for flat/pre-transform/foreign entries (which every pruner must
    * ALWAYS read — the stats staleness rule). Component-wise parse, so
    * a shallow clone's qualified foreign URIs resolve too.
    */
  private[warehouse] def partValueAt(entry: String,
      level: Int): Option[String] = {
    val prefix = partLevelPrefix(level)
    entry.split('/').dropRight(1).find(_.startsWith(prefix))
      // dir fragments land ESCAPED (the dynamic-partition writer turns
      // ':','%','=',… into %XX) while probes render RAW values — the
      // comparison space is the unescaped one, or an identity partition
      // holding any escapable char would be wrongly pruned
      .map(c => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(c.substring(prefix.length)))
  }

  /** Declare the table's partition transform as a METADATA-ONLY commit
    * (op `setPartition`): from the NEXT commit on, staged files land
    * under `data/__gp=<kind(col)>/` and their manifest entries carry
    * the prefix — directory-level file skipping for predicates on the
    * partition column, and O(entries) whole-partition retention expiry
    * ([[commitExpirePartitions]]). Files landed BEFORE the declaration
    * stay flat and are simply always read (the stats staleness rule);
    * an OPTIMIZE full rewrite re-stages everything under the transform.
    *
    * Refuses when a DIFFERENT transform already governs prefixed
    * entries (their dir values would be misinterpreted): drop the
    * transform is not supported — OPTIMIZE after declaring a fresh one
    * on a flat table is the migration path. The column must exist and
    * must be identity/date/month-transformable.
    */
  def commitSetPartition(spark: SparkSession, table: String, column: String,
      kind: String): Long =
    commitSetPartitions(spark, table, Seq((column, kind)))

  /** [[commitSetPartition]] for COMPOSITE transforms: up to three
    * nesting levels, outermost first — rows land under
    * `data/__gp=<k1(c1)>/__gp2=<k2(c2)>/...`, every pruning leg
    * intersects across levels, and partition expiry keys on the first
    * date/month level. Same declaration rules per level (identity any
    * type, date/month only on date/timestamp columns) and the same
    * change-refusal while prefixed entries are referenced.
    */
  def commitSetPartitions(spark: SparkSession, table: String,
      transforms: Seq[(String, String)]): Long = {
    require(transforms.nonEmpty, "1..3 partition transforms, got 0")
    requireTransforms(transforms)
    transact(spark, table, "setPartition") { m =>
      require(m.version > 0, s"no snapshot table at $table to partition")
      val prior = m.schema
        .getOrElse(read(spark, table, Some(m.version)).schema)
      transforms.foreach { case (c, k) => requirePartitionable(prior, c, k) }
      def show(ps: Seq[(String, String)]) =
        ps.map { case (c, k) => s"$k($c)" }.mkString("/")
      if (m.partitions == transforms) Skip(m.version)
      else {
        require(m.partitions.isEmpty || !m.files.exists(_.contains(PartPrefix)),
          s"$table already has prefixed entries under " +
            s"${show(m.partitions)} — their dir values would be " +
            s"misinterpreted under ${show(transforms)}; change is refused " +
            "while prefixed entries are referenced")
        claim(m.copy(partitions = transforms))
      }
    }
  }

  /** Shape rules shared by every transform declaration: at most three
    * distinct columns whose names fit the `:`/`;`-delimited header, and
    * known kinds.
    */
  private def requireTransforms(transforms: Seq[(String, String)]): Unit = {
    require(transforms.size <= 3,
      s"1..3 partition transforms, got ${transforms.size}")
    require(transforms.map(_._1).distinct.size == transforms.size,
      "partition columns must be distinct")
    transforms.foreach { case (c, k) =>
      require(validPartitionKind(k),
        s"partition kind $k not in " +
          s"${PartitionKinds.mkString("/")}/bucket<N>")
      require(!c.contains(":") && !c.contains(";") && !c.contains("\n"),
        s"partition column '$c' must be colon/semicolon/newline-free " +
          "(the transform header is ':'/';' delimited)")
    }
  }

  /** Create v1 of a NEW snapshot table as ONE atomic claim carrying the
    * declared schema AND (optionally) the partition transform — the DDL
    * face's `CREATE TABLE ... PARTITIONED BY` must not be two commits,
    * or a crash (or a racing flat append) between them leaves the table
    * live without its declared layout. Exactly one of two racing
    * creators claims v1; the loser gets a loud refusal, never a merge.
    */
  def commitCreate(spark: SparkSession, table: String,
      schema: types.StructType,
      partition: Seq[(String, String)] = Nil): Long = {
    requireTransforms(partition)
    partition.foreach { case (c, k) => requirePartitionable(schema, c, k) }
    transact(spark, table, "createTable") { m =>
      require(m.version == 0, s"table already exists at $table")
      claim(Manifest(schema = Some(schema), partitions = partition))
    }
  }

  /** Drop every WHOLE PARTITION older than `cutoff` as ONE metadata
    * commit (op `expirePartitions`) — the retention path a partitioned
    * 100 TB table runs: entries whose `__gp=` value sorts strictly
    * below the cutoff's transform rendering leave the manifest, no data
    * byte is read or rewritten (vacuum reclaims them after retention),
    * and un-prefixed entries are KEPT (they can't prove their age —
    * never silently over-delete). Cutoff takes the COLUMN's domain
    * (a date/timestamp/ISO string for date/month transforms). Returns
    * (version, entries dropped) — the unchanged head with 0 when
    * nothing is old enough.
    */
  def commitExpirePartitions(spark: SparkSession, table: String,
      cutoff: Any): (Long, Int) =
    transact(spark, table, "expirePartitions") { m =>
      require(m.version > 0, s"no snapshot table at $table")
      require(m.partitions.nonEmpty, s"$table declares no partition " +
        "transform — nothing to expire")
      // "older than" needs an AGE order: date/month truncations have
      // one (ISO string order); identity values don't ('10' < '9'
      // lexicographically — expiry would drop the wrong partitions).
      // Composite layouts expire on their FIRST date/month level.
      val ((pc, kind), level) = m.partitions.zipWithIndex
        .find(p => p._1._2 == "date" || p._1._2 == "month").getOrElse(
          throw new IllegalArgumentException(
            s"EXPIRE PARTITIONS on ${m.partitions.map { case (c, k) =>
              s"$k($c)" }.mkString("/")}: identity values carry no " +
              "age order — only date/month transforms expire"))
      val cut = FileSkipping.partProbeValue(kind, cutoff,
        spark.sessionState.conf.sessionLocalTimeZone).getOrElse(
        throw new IllegalArgumentException(
          s"cutoff $cutoff does not render under $kind($pc)"))
      // the null partition and values outside ISO order can't prove
      // their age — never expire them
      val (doomed, kept) = m.files.partition(e => partValueAt(e, level)
        .exists(v => StagedFiles.isoOrdered(v) && v < cut))
      if (doomed.isEmpty) Skip((m.version, 0))
      else Claim(m.copy(files = kept), Nil, v => (v, doomed.size))
    }

  /** Data-relative retention for PARTITIONED snapshot tables — the
    * maintenance policy's expiry leg rebased onto the declared
    * transform: expire whole partitions older than (newest partition
    * value − (retainDays−1)), measured from the table's OWN newest
    * partition (deterministic and replayable, the same discipline as
    * the Hive-layout policy). Only date/month transforms carry an age;
    * identity transforms and flat tables return None. Metadata-only
    * ([[commitExpirePartitions]]); vacuum reclaims the bytes later.
    */
  def expireRetainedDays(spark: SparkSession, table: String,
      retainDays: Int): Option[(Long, Int)] = {
    require(retainDays > 0, "retainDays must be positive")
    val m = headOf(spark, table)
    m.partitions.zipWithIndex
      .find(p => p._1._2 == "date" || p._1._2 == "month")
      .flatMap { case ((_, kind), level) =>
        // only values in the transform's ISO shape carry an age: the
        // null-partition sentinel sorts ABOVE every date ('_' > '9')
        // and would wedge the parse below on one null row
        val shape =
          if (kind == "month") """\d{4}-\d{2}""" else """\d{4}-\d{2}-\d{2}"""
        val newest = m.files.flatMap(partValueAt(_, level))
          .filter(_.matches(shape)).maxOption
        newest.flatMap { nv =>
          val newestDay = java.time.LocalDate.parse(
            if (kind == "month") nv + "-01" else nv)
          val cutoff = newestDay.minusDays(retainDays - 1L).toString
          val (v, n) = commitExpirePartitions(spark, table, cutoff)
          if (n == 0) None else Some((v, n))
        }
      }
  }

  /** Partition census of a version: one row per partition value —
    * (partition, num_files, size_bytes) — plus a `<flat>` row for
    * un-prefixed (pre-transform) entries. Metadata-only: one manifest
    * read and a getFileStatus per entry, never a data read — the audit
    * an operator consults before `EXPIRE PARTITIONS OLDER THAN`.
    */
  def partitionCensus(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = version.getOrElse(currentVersion(spark, table))
    require(v > 0, s"no snapshot table at $table")
    val m = manifestAt(spark, table, v)
    val dd = dataDir(table)
    val f = fs(spark, dd)
    m.files.map { n =>
      val bytes = m.sizes.getOrElse(n, // probe-free for size-manifested tables
        try f.getFileStatus(new Path(dd, n)).getLen
        catch { case _: Exception => 0L })
      // composite layouts census one row per LEAF partition — all
      // levels' unescaped values joined ("2024-06/eu"), exactly the
      // retention/audit granularity the nested dirs give
      val levels = n.split('/').dropRight(1)
        .filter(_.matches("""__gp\d*=.*"""))
        .map(c => org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(
            c.substring(c.indexOf('=') + 1)))
      (if (levels.isEmpty) "<flat>" else levels.mkString("/"), bytes)
    }.groupBy(_._1).toSeq
      .map { case (pv, xs) => (pv, xs.size.toLong, xs.map(_._2).sum) }
      .sortBy(_._1)
      .toDF("partition", "num_files", "size_bytes")
  }

  private def physName(colmap: Map[String, String], c: String): String =
    colmap.getOrElse(c, c)

  /** The declared (logical) schema with renamed fields mapped back to
    * their physical on-file names — what parquet reads resolve against.
    */
  private[warehouse] def physSchema(schema: types.StructType,
      colmap: Map[String, String]): types.StructType =
    if (colmap.isEmpty) schema
    else types.StructType(schema.fields.map(f =>
      f.copy(name = physName(colmap, f.name))))

  /** Rename a LOGICAL frame's columns to their physical names before
    * staging (the write half of the column-mapping boundary). Only
    * columns present in the frame rename; everything else is identity.
    */
  private def toPhysical(df: DataFrame,
      colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty) df
    else df.withColumnsRenamed(
      colmap.filter { case (l, p) => l != p && df.columns.contains(l) })

  /** Data files of a version (empty for v0). */
  def filesAt(spark: SparkSession, table: String, version: Long): Seq[String] =
    manifestAt(spark, table, version).files

  /** The dead row positions of each of the version's entries that has a
    * deletion vector ([[DeletionVectors]]); empty for a version with none.
    * Driver-side: the vector files are read once per JVM, then cached.
    */
  private[graft] def deadRowsAt(spark: SparkSession, table: String,
      version: Long): Map[String, org.roaringbitmap.RoaringBitmap] = {
    val m = manifestAt(spark, table, version)
    DeletionVectors.of(spark, table, m.dvs, m.files)
  }

  /** The distinct deletion-vector files the version references. */
  private[graft] def vectorFilesAt(spark: SparkSession, table: String,
      version: Long): Seq[String] =
    manifestAt(spark, table, version).dvs.values.toSeq.distinct.sorted

  /** Spec hook: the version's `#fsz:` size ledger (entry → bytes). */
  private[graft] def fileSizesAt(spark: SparkSession, table: String,
      version: Long): Map[String, Long] =
    manifestAt(spark, table, version).sizes

  // ------------------------------------------------------------------
  // Schema evolution (manifest-recorded)
  // ------------------------------------------------------------------

  /** Declared schema of a version, recorded at commit time in the
    * manifest (`#schema:` header). This is what makes schema evolution
    * scale: readers apply the DECLARED schema instead of merging footers
    * (`mergeSchema` reads every footer — at millions of files that's a
    * planning-time full-metadata scan), and parquet's name-based column
    * resolution serves files from before an added column as NULLs.
    * None for v0 and for legacy manifests written before this header.
    */
  def schemaAt(spark: SparkSession, table: String,
      version: Long): Option[types.StructType] =
    manifestAt(spark, table, version).schema

  /** True when reading parquet files written as `from` under a declared
    * schema of `to` is a SAFE UPCAST the reader performs natively
    * (Spark's vectorized parquet reader promotes these — the same set
    * Delta's type widening allows): int→long, float→double, and decimal
    * precision growth at the same scale. Everything else is a narrowing
    * or a re-interpretation and refuses.
    */
  private def widens(from: types.DataType, to: types.DataType): Boolean =
    (from, to) match {
      case (types.IntegerType, types.LongType) => true
      case (types.FloatType, types.DoubleType) => true
      case (f: types.DecimalType, t: types.DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }

  /** Union-evolve: fields shared with the prior schema keep their exact
    * type OR WIDEN (int→long, float→double, decimal precision growth —
    * the declared type takes the batch's wider form and parquet's
    * name-based resolution upcasts the already-landed narrower files at
    * read, so a 100 TB type migration is one append instead of a full
    * overwrite); any other type change is silent drift and refuses at
    * commit time, the only place it can be refused cheaply. Genuinely
    * new fields append; prior-only fields survive, so an append missing
    * a column never narrows the table.
    */
  private def evolveSchema(prior: Option[types.StructType],
      batch: types.StructType): types.StructType = prior match {
    case None => batch
    case Some(p) =>
      val shared = p.fields.map { pf =>
        batch.fields.find(_.name == pf.name) match {
          case Some(bf) if bf.dataType == pf.dataType => pf
          case Some(bf) if widens(pf.dataType, bf.dataType) =>
            pf.copy(dataType = bf.dataType)
          case Some(bf) =>
            throw new IllegalArgumentException(
              s"schema evolution cannot change column ${bf.name}: " +
                s"${pf.dataType.simpleString} -> " +
                s"${bf.dataType.simpleString} (only widening — int->" +
                "long, float->double, decimal precision growth — is a " +
                "safe in-place migration)")
          case None => pf
        }
      }
      types.StructType(shared ++
        batch.fields.filterNot(f => p.fieldNames.contains(f.name)))
  }

  // ------------------------------------------------------------------
  // Column DEFAULT values (schema-metadata-recorded)
  // ------------------------------------------------------------------

  // Spark's own default-column convention: CURRENT_DEFAULT is the SQL
  // text future writes materialize for a missing column;
  // EXISTS_DEFAULT is its constant-folded literal the PARQUET READER
  // ITSELF serves for files that physically lack the column — so
  // ADD COLUMNS ... DEFAULT is metadata-only at any table size and
  // every read path (Scala API, catalog SQL, feeds) fills the default
  // with zero extra code. Both ride the `#schema:` header (StructField
  // metadata round-trips through schema JSON).
  private val CurrentDefaultKey = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  private val ExistsDefaultKey = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** Declared column defaults of a version: column → CURRENT_DEFAULT
    * SQL text (what a write missing the column materializes).
    */
  def columnDefaults(spark: SparkSession, table: String,
      version: Option[Long] = None): Map[String, String] = {
    manifestAt(spark, table, version.getOrElse(currentVersion(spark, table)))
      .schema.map(_.fields.toSeq
      .filter(_.metadata.contains(CurrentDefaultKey))
      .map(f => f.name -> f.metadata.getString(CurrentDefaultKey)).toMap)
      .getOrElse(Map.empty)
  }

  /** Materialize CURRENT_DEFAULT values into a batch's MISSING columns
    * (SQL write semantics: an append omitting a defaulted column lands
    * the DEFAULT, not NULL — and CHECK constraints evaluate against the
    * defaulted values). Columns the batch carries are untouched:
    * an explicit NULL stays NULL.
    */
  private def fillWriteDefaults(batch: DataFrame,
      head: Option[types.StructType]): DataFrame = head match {
    case None => batch
    case Some(s) =>
      s.fields.filter(f => !batch.columns.contains(f.name) &&
          (f.metadata.contains(CurrentDefaultKey) ||
            f.metadata.contains(ExistsDefaultKey)))
        .foldLeft(batch) { (b, f) =>
          // a missing column with a live default materializes it; one
          // whose default was DROPPED (EXISTS_DEFAULT only) materializes
          // an EXPLICIT NULL — a file physically missing the column
          // would otherwise serve the reader-level back-fill meant
          // strictly for files predating the column
          val v =
            if (f.metadata.contains(CurrentDefaultKey))
              org.apache.spark.sql.functions
                .expr(f.metadata.getString(CurrentDefaultKey))
            else org.apache.spark.sql.functions.lit(null)
          b.withColumn(f.name, v.cast(f.dataType))
        }
  }

  /** Pad and column-order `df` to `schema` (for merge inputs that
    * predate an added column): a missing column takes its declared
    * CURRENT_DEFAULT when one exists (write semantics), NULL otherwise.
    * A shared column whose type differs casts to the declared one — the
    * widening path reads old files through a NARROWER in-flight frame
    * (a rewrite slice read before the widening evolved), and re-landing
    * it must stage the declared type.
    */
  private def conform(df: DataFrame, schema: types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    df.select(schema.fields.toIndexedSeq.map { fld =>
      if (!df.columns.contains(fld.name)) {
        val base =
          if (fld.metadata.contains(CurrentDefaultKey))
            expr(fld.metadata.getString(CurrentDefaultKey))
          else lit(null)
        base.cast(fld.dataType).as(fld.name)
      }
      else if (df.schema(fld.name).dataType == fld.dataType) col(fld.name)
      else col(fld.name).cast(fld.dataType).as(fld.name)
    }: _*)
  }

  /** Read `names` under the version's declared schema when one exists —
    * the READ half of the column-mapping boundary: files resolve under
    * PHYSICAL names (renamed columns would otherwise read all-NULL
    * through parquet's name-based resolution), the returned frame serves
    * LOGICAL names, so every caller above this line — probes, merges,
    * constraints, feeds — lives purely in logical space.
    *
    * Deletion vectors apply here too: `dead` (entry → positions) drops
    * rows, `only` keeps just the listed positions of its entries (the
    * change feed's view of rows that died or came back), and `positions`
    * adds each row's file URI and row index. With none of the three the
    * plan is the plain scan.
    */
  private def readWithSchema(spark: SparkSession, table: String,
      names: Seq[String], schema: Option[types.StructType],
      colmap: Map[String, String],
      dead: Map[String, org.roaringbitmap.RoaringBitmap] = Map.empty,
      only: Map[String, org.roaringbitmap.RoaringBitmap] = Map.empty,
      positions: Boolean = false): DataFrame = {
    import DeletionVectors.{FileCol, RowCol}
    val df = schema match {
      case Some(s) => readFileList(spark, table, names, physSchema(s, colmap))
      case None => // legacy manifests without a declared schema: parquet
        // footer inference is the only source of truth — keep Spark's own
        // discovery path for them
        spark.read.parquet(
          names.map(n => new Path(dataDir(table), n).toString): _*)
    }
    // the row positions ride the scan's hidden _metadata, which a filter
    // passes through but a projection does not: mask, and take the
    // positions, before any rename
    val live =
      if (dead.isEmpty && only.isEmpty) df
      else {
        val uri = FileSkipping.canonical(spark, dataDir(table),
          (dead.keys ++ only.keys).toSeq.distinct)._2.map(_.swap)
        def byUri(m: Map[String, org.roaringbitmap.RoaringBitmap]) =
          m.map { case (e, b) => uri(e) -> b }
        DeletionVectors.filter(df,
          new DeletionVectors.RowMask(byUri(dead), byUri(only)))
      }
    val placed =
      if (!positions) live
      else live.select(org.apache.spark.sql.functions.col("*") +:
        DeletionVectors.positionCols: _*)
    schema match {
      case Some(s) if colmap.nonEmpty => placed.toDF(
        s.fieldNames.toIndexedSeq ++
          (if (positions) Seq(FileCol, RowCol) else Nil): _*)
      case _ => placed
    }
  }

  /** The rows of `names` that version `m` serves: its deletion vectors
    * applied, under its declared schema. The one read of live rows every
    * reader goes through; `positions` keeps each row's file URI and row
    * index ([[DeletionVectors.FileCol]], [[DeletionVectors.RowCol]]).
    */
  private def readLive(spark: SparkSession, table: String, m: Manifest,
      names: Seq[String], positions: Boolean = false): DataFrame =
    readWithSchema(spark, table, names, m.schema, m.colmap,
      DeletionVectors.of(spark, table, m.dvs, names), positions = positions)

  /** Scan exactly `names` under the given PHYSICAL schema through a
    * manifest-backed [[ManifestFileIndex]]: no file-listing job, no
    * footer schema inference — the manifest is the index (guide §6).
    * Same FileSourceScanExec, pushdown and pruning as a plain
    * `spark.read.schema(...).parquet(paths)`.
    */
  private def readFileList(spark: SparkSession, table: String,
      names: Seq[String], phys: types.StructType): DataFrame = {
    val dd = dataDir(table)
    val index = new ManifestFileIndex(dd,
      ManifestFileIndex.statusesOf(
        spark.sparkContext.hadoopConfiguration, dd, names))
    // force-nullable mirrors DataFrameReader.schema(...)'s asNullable:
    // schema-evolved files missing a later column must serve NULL, not
    // refuse the read
    def asNullable(dt: types.DataType): types.DataType = dt match {
      case s: types.StructType => types.StructType(s.fields.map(fd =>
        fd.copy(dataType = asNullable(fd.dataType), nullable = true)))
      case a: types.ArrayType =>
        a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: types.MapType =>
        m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
      case x => x
    }
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, types.StructType(Nil),
      asNullable(phys).asInstanceOf[types.StructType], None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat, Map.empty[String, String])(spark)
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        rel, isStreaming = false))
  }

  // ------------------------------------------------------------------
  // CHECK constraints (manifest-recorded, enforced at ingest)
  // ------------------------------------------------------------------

  /** Constraints declared on a version (`#check:` headers): name →
    * boolean SQL expression. Carried forward by every commit, like
    * stream marks.
    */
  def checkConstraints(spark: SparkSession, table: String,
      version: Option[Long] = None): Map[String, String] =
    manifestAt(spark, table,
      version.getOrElse(currentVersion(spark, table))).checks

  /** Fail the commit when any batch row VIOLATES any declared CHECK
    * (SQL semantics: NULL passes, only FALSE violates). ONE aggregation
    * pass computes every constraint's violation count — enforcement
    * costs one scan of the BATCH regardless of how many constraints the
    * table declares, and never touches landed data.
    *
    * The batch is CONFORMED to the union of the declared head schema and
    * its own before the constraints evaluate: a legal schema-subset
    * append (evolveSchema allows batches omitting columns, which readers
    * serve as NULL) must see the omitted column as NULL — which PASSES
    * under SQL CHECK semantics — instead of failing column resolution.
    * A constraint referencing a column in neither schema (possible after
    * an overwrite narrowed the table) still refuses, with a clear
    * message instead of a raw AnalysisException.
    */
  private def enforceChecks(batch: DataFrame, checks: Map[String, String],
      table: String,
      headSchema: Option[types.StructType] = None): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions._
    val b = conform(batch, evolveSchema(headSchema, batch.schema))
    val aggs = checks.toSeq.sortBy(_._1).map { case (n, ex) =>
      sum(when(!coalesce(expr(ex), lit(true)), 1L).otherwise(0L)).as(n) }
    val r =
      try b.agg(aggs.head, aggs.tail: _*).head
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"CHECK constraint on $table references a column absent from " +
              s"both the batch and the declared schema: ${e.getMessage}")
      }
    val bad = checks.toSeq.sortBy(_._1).zipWithIndex.collect {
      case ((n, ex), i) if !r.isNullAt(i) && r.getLong(i) > 0 =>
        s"$n ($ex): ${r.getLong(i)} row(s)"
    }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"CHECK constraint violation on $table — batch refused: " +
        bad.mkString("; "))
  }

  /** A METADATA-ONLY change of the head's declared schema (and whatever
    * else `f` rewrites): same files, new manifest. Legacy tables without
    * a `#schema:` header derive the prior schema from a footer read once
    * — every commit after this records the header.
    */
  private def alterSchema(spark: SparkSession, table: String, op: String)(
      f: (Manifest, types.StructType) => Manifest): Long =
    transact(spark, table, op) { m =>
      require(m.version > 0, s"no snapshot table at $table")
      val prior = m.schema
        .getOrElse(read(spark, table, Some(m.version)).schema)
      claim(f(m, prior))
    }

  /** ADD COLUMNS as a METADATA-ONLY commit (op `addColumn`): the new
    * manifest carries the same files under a declared schema extended
    * with the new (forced-nullable) fields — zero data moves at any
    * table size, and every reader serves the new columns as NULL for
    * all landed rows (parquet name-based resolution). Later appends may
    * then populate them. Refuses columns that already exist; the table
    * must have at least one committed version (schema-only tables
    * included — CREATE TABLE commits v1).
    */
  def commitAddColumns(spark: SparkSession, table: String,
      fields0: Seq[types.StructField],
      defaults: Map[String, String] = Map.empty): Long = {
    require(fields0.nonEmpty, "ADD COLUMNS needs at least one column")
    defaults.keys.foreach(c => require(fields0.exists(_.name == c),
      s"DEFAULT declared for $c, which is not among the added columns"))
    // attach CURRENT_DEFAULT and constant-fold EXISTS_DEFAULT (Spark's
    // own machinery — validates the expression and refuses non-foldable
    // defaults): landed files lacking the column serve the folded
    // literal straight from the parquet reader, zero data movement
    val fields =
      if (defaults.isEmpty) fields0
      else org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .constantFoldCurrentDefaultsToExistDefaults(
          types.StructType(fields0.map { f =>
            defaults.get(f.name) match {
              case Some(d) => f.copy(metadata =
                new types.MetadataBuilder().withMetadata(f.metadata)
                  .putString(CurrentDefaultKey, d).build())
              case None => f
            }
          }), "ALTER TABLE ADD COLUMNS").fields.toSeq
    alterSchema(spark, table, "addColumn") { (m, prior) =>
      fields.foreach(f => require(!prior.fieldNames.contains(f.name),
        s"column ${f.name} already exists on $table"))
      // a DROPPED name is not reusable while carried files still hold
      // its pre-drop values (name-based parquet resolution would
      // resurrect them); OPTIMIZE's full rewrite clears the ledger
      fields.foreach(f => require(!m.dropped.contains(f.name),
        s"column ${f.name} was DROPPED from $table and its data still " +
          "exists in carried files — OPTIMIZE (full rewrite) before " +
          "reusing the name"))
      // forced nullable: landed rows HAVE no value for the new column,
      // so a non-null declaration would lie to every reader
      m.copy(schema = Some(types.StructType(prior.fields ++
        fields.map(_.copy(nullable = true)))))
    }
  }

  /** WIDEN a column's declared type as a METADATA-ONLY commit (op
    * `widenColumn`): int→long, float→double, decimal precision growth —
    * the same safe set [[evolveSchema]] accepts from appends, but
    * driven explicitly (the migration statement a 100 TB table runs
    * INSTEAD of an overwrite: zero data moves, old narrower files
    * upcast at read, and appends in the wide type are legal from the
    * next commit on). Any non-widening change refuses.
    */
  def commitWidenColumn(spark: SparkSession, table: String, column: String,
      to: types.DataType): Long =
    alterSchema(spark, table, "widenColumn") { (m, prior) =>
      val field = prior.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(
          s"no column $column on $table"))
      require(widens(field.dataType, to),
        s"ALTER COLUMN $column ${field.dataType.simpleString} -> " +
          s"${to.simpleString} is not a safe widening (int->long, " +
          "float->double, decimal precision growth)")
      m.copy(schema = Some(types.StructType(prior.fields.map(f =>
        if (f.name == column) f.copy(dataType = to) else f))))
    }

  /** Refuse a column DDL on `column` while a CHECK constraint mentions
    * it (expression strings do not rewrite).
    */
  private def requireUnreferenced(m: Manifest, table: String,
      column: String, afterDrop: String): Unit = {
    val mention = ("(?i)\\b" +
      java.util.regex.Pattern.quote(column) + "\\b").r
    m.checks.foreach { case (n, ex) =>
      require(mention.findFirstIn(ex).isEmpty,
        s"constraint $n CHECK ($ex) mentions column $column — " +
          s"DROP CONSTRAINT first$afterDrop")
    }
  }

  /** DROP a column as a METADATA-ONLY commit (op `dropColumn`): the new
    * manifest re-references the same files under the declared schema
    * MINUS the column — zero data moves at any table size, readers stop
    * projecting it immediately (explicit-schema parquet reads ignore
    * extra physical columns), and time travel keeps the column visible
    * in pre-drop versions.
    *
    * The dropped NAME enters the manifest's `#dropped:` ledger, carried
    * forward by every commit that still references pre-drop files:
    * re-adding the name (ADD COLUMNS, or an append/merge whose batch
    * carries it) is REFUSED until a full-rewrite OPTIMIZE physically
    * purges the old values — Delta needs column-mapping mode for DROP
    * COLUMN precisely because name-based resolution would otherwise
    * resurrect them; the ledger is this protocol's name-based answer.
    * Refuses to drop the last column, the partition column, or a column
    * a CHECK constraint mentions (DROP CONSTRAINT first).
    */
  def commitDropColumn(spark: SparkSession, table: String,
      column: String): Long =
    alterSchema(spark, table, "dropColumn") { (m, prior) =>
      require(prior.fieldNames.contains(column),
        s"no column $column on $table")
      require(prior.fields.length > 1,
        s"cannot drop the last column of $table")
      require(!m.partitions.exists(_._1 == column),
        s"column $column is $table's declared partition column")
      requireUnreferenced(m, table, column, "")
      // the ledger holds the PHYSICAL name — that is what lingers in
      // carried files and what a later add must not collide with; a
      // renamed column's original logical name was ledgered by the
      // rename itself
      m.copy(
        schema = Some(types.StructType(
          prior.fields.filterNot(_.name == column))),
        dropped = (m.dropped :+ physName(m.colmap, column)).distinct,
        colmap = m.colmap - column)
    }

  /** Declare (or replace) a column's DEFAULT as a METADATA-ONLY
    * commit (op `setDefault`): future writes missing the column
    * materialize the expression ([[fillWriteDefaults]]); already-landed
    * rows are NOT rewritten and keep serving what they hold (standard
    * `ALTER COLUMN ... SET DEFAULT` semantics — only `ADD COLUMNS ...
    * DEFAULT` back-fills landed rows, via the folded EXISTS_DEFAULT).
    * The expression must parse and cast to the column's declared type;
    * it is validated here, the only cheap place.
    */
  def commitSetColumnDefault(spark: SparkSession, table: String,
      column: String, defaultSql: String): Long = {
    require(!defaultSql.contains("\n"), "DEFAULT must be one line")
    alterSchema(spark, table, "setDefault") { (m, prior) =>
      val field = prior.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(s"no column $column on $table"))
      def withDefault(f: types.StructField) = f.copy(metadata =
        new types.MetadataBuilder().withMetadata(f.metadata)
          .putString(CurrentDefaultKey, defaultSql).build())
      // validate: must analyze as a constant of the column's type
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.analyze(
        withDefault(field), "ALTER TABLE ALTER COLUMN", CurrentDefaultKey)
      m.copy(schema = Some(types.StructType(prior.fields.map(f =>
        if (f.name == column) withDefault(f) else f))))
    }
  }

  /** Remove a column's CURRENT_DEFAULT (op `dropDefault`, metadata-only):
    * future writes missing the column land NULL again. A folded
    * EXISTS_DEFAULT from `ADD COLUMNS ... DEFAULT` stays — the
    * landed-rows contract is immutable (Iceberg's initial-default).
    */
  def commitDropColumnDefault(spark: SparkSession, table: String,
      column: String): Long =
    alterSchema(spark, table, "dropDefault") { (m, prior) =>
      val field = prior.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(s"no column $column on $table"))
      require(field.metadata.contains(CurrentDefaultKey),
        s"column $column of $table has no DEFAULT to drop")
      m.copy(schema = Some(types.StructType(prior.fields.map(f =>
        if (f.name == column) {
          val mb = new types.MetadataBuilder().withMetadata(f.metadata)
          mb.remove(CurrentDefaultKey)
          f.copy(metadata = mb.build())
        } else f))))
    }

  /** RENAME a column as a METADATA-ONLY commit (op `renameColumn`) —
    * the column-mapping idea (Delta's column mapping restricted to
    * names): landed files keep the column's PHYSICAL name forever, the
    * new LOGICAL name serves every read and write from this version on
    * (a `#colmap:logical:physical` header, carried by every commit
    * whose files still hold the physical name), and time travel serves
    * each version under ITS OWN names. Zero data moves at any size.
    *
    * Hazard bookkeeping composes with the DROP ledger: the OLD logical
    * name enters `#dropped:` — its physical data is still LIVE under
    * the new name, so re-introducing it (ADD COLUMNS or a batch
    * carrying it) must refuse until a full-rewrite OPTIMIZE normalizes
    * physical names (which clears colmap and ledger together); renaming
    * ONTO a dropped name refuses for the same reason in reverse.
    * Refuses when a CHECK constraint mentions the column (expression
    * strings do not rewrite — DROP CONSTRAINT first, re-declare under
    * the new name).
    */
  def commitRenameColumn(spark: SparkSession, table: String, from: String,
      to: String): Long = {
    require(from != to, s"RENAME COLUMN $from TO $to: names are equal")
    require(!to.contains(":") && !to.contains("\n") && to.nonEmpty,
      s"column name '$to' must be non-empty and colon/newline-free")
    alterSchema(spark, table, "renameColumn") { (m, prior) =>
      require(prior.fieldNames.contains(from), s"no column $from on $table")
      require(!prior.fieldNames.contains(to),
        s"column $to already exists on $table")
      val physical = physName(m.colmap, from)
      // renaming BACK to the physical name is always safe (the "dropped"
      // entry is this very column's own live data) and un-ledgers it;
      // renaming onto any OTHER ledgered name would resurrect dead data
      val renameBack = physical == to
      require(renameBack || !m.dropped.contains(to),
        s"column $to was DROPPED from $table and its data still exists " +
          "in carried files — renaming onto it would resurrect them; " +
          "OPTIMIZE (full rewrite) first")
      require(!m.partitions.exists(_._1 == from),
        s"column $from is $table's declared partition column — the " +
          "transform header does not rewrite")
      requireUnreferenced(m, table, from, " and re-declare under the new name")
      // ledger ONLY names whose physical data lingers: the first rename
      // of a column ledgers it (physical == from); renaming an
      // already-mapped column retires a purely-logical name (its
      // physical never existed — nothing to refuse); renaming BACK
      // un-ledgers the physical name (it is live again)
      m.copy(
        schema = Some(types.StructType(prior.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))),
        dropped = (if (physical == from) (m.dropped :+ from).distinct
          else m.dropped).filterNot(n => renameBack && n == to),
        colmap = if (renameBack) m.colmap - from
          else (m.colmap - from) + (to -> physical))
    }
  }

  /** Refuse a batch that re-introduces a DROPPED column name: its
    * pre-drop values still physically exist in the version's carried
    * files, and the union-evolve would re-expose them (see
    * [[commitDropColumn]]).
    */
  private def refuseDroppedColumns(schema: types.StructType, table: String,
      m: Manifest): Unit = {
    val hit = schema.fieldNames.filter(m.dropped.toSet)
    require(hit.isEmpty,
      s"column(s) ${hit.mkString(", ")} were DROPPED from $table and " +
        "their pre-drop data still exists in carried files — OPTIMIZE " +
        "(full rewrite) before reusing the name(s)")
  }

  /** Declare a CHECK constraint as a new commit (op `addConstraint`,
    * files carried — metadata-only). By default the CURRENT head data is
    * validated first (one scan; a constraint the data already violates
    * is refused, Delta's ADD CONSTRAINT semantics); every later
    * append/merge/stream commit enforces it on the batch. The name must
    * be colon- and newline-free (it keys a manifest header line).
    */
  def addCheckConstraint(spark: SparkSession, table: String, name: String,
      sqlExpr: String, validate: Boolean = true): Long = {
    require(!name.contains(":") && !name.contains("\n") && name.nonEmpty,
      s"constraint name '$name' must be non-empty and colon/newline-free")
    require(!sqlExpr.contains("\n"), "constraint expression must be one line")
    if (validate && currentVersion(spark, table) > 0)
      enforceChecks(read(spark, table), Map(name -> sqlExpr), table)
    transact(spark, table, "addConstraint") { m =>
      claim(m.copy(checks = m.checks + (name -> sqlExpr)))
    }
  }

  /** Drop a declared constraint (op `dropConstraint`, metadata-only). */
  def dropCheckConstraint(spark: SparkSession, table: String,
      name: String): Long =
    transact(spark, table, "dropConstraint") { m =>
      require(m.checks.contains(name),
        s"no CHECK constraint named $name on $table")
      claim(m.copy(checks = m.checks - name))
    }

  /** Append `batch` as a new snapshot version. Data lands before the
    * commit; the commit itself is an atomic create-if-absent of the next
    * manifest. On a lost race the commit retries against the new head —
    * data files are never rewritten, only re-referenced. A batch of
    * local rows stages on the driver and the append runs no Spark job;
    * any other batch is written by a Spark write job ([[stageData]]).
    * Returns the committed version.
    */
  def commitAppend(spark: SparkSession, batch: DataFrame,
      table: String): Long =
    commit(spark, batch, table, replace = false)

  /** Replace the table's contents with `batch` (snapshot-level CTAS /
    * truncate-reload): the new manifest references only the new files.
    * Prior versions stay readable until vacuumed.
    */
  def commitOverwrite(spark: SparkSession, batch: DataFrame,
      table: String): Long =
    commit(spark, batch, table, replace = true)

  /** Write `batch`'s files into the table's data dir under unique names
    * (no manifest references them yet — invisible to readers). The
    * WRITE half of the column-mapping boundary: the logical frame's
    * renamed columns stage under their PHYSICAL names, so data files
    * stay uniformly physical whatever commit staged them.
    *
    * A batch of local rows — its optimized plan a `LocalRelation`, and
    * no explicit `repartition`/`repartitionByRange` asking for a layout
    * — is staged on the driver by the engine's one staged-file writer
    * ([[StagedFiles.writeLocal]]): one file per partition dir, and no
    * Spark job. Any other batch, and any with `survivors` (the live rows
    * a row-level commit re-writes, staged in the same write), is written
    * by a Spark write job.
    */
  private def stageData(spark: SparkSession, batch: DataFrame,
      table: String, colmap: Map[String, String],
      partition: Seq[(String, String)] = Nil,
      survivors: Option[DataFrame] = None): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
      Repartition, RepartitionByExpression}
    if (survivors.isEmpty && isLocal(batch) &&
        batch.queryExecution.analyzed.find {
          case _: Repartition | _: RepartitionByExpression => true
          case _ => false
        }.isEmpty) batch.queryExecution.optimizedPlan match {
      case l: LocalRelation => return StagedFiles.writeLocal(spark, table,
        l.schema, colmap, partition, l.data)
      case _ =>
    }
    val rows = survivors.foldLeft(batch)(_ unionByName _)
    val dd = dataDir(table)
    val f = fs(spark, dd)
    val staging = new Path(table, s"_staging-${java.util.UUID.randomUUID}")
    // the declared transforms route rows into nested __gp=/__gp2=/...
    // dirs — the DIRECTORY is a pruning hint and a retention unit; the
    // columns themselves STAY in every file (no read path ever
    // re-derives values from paths). A batch missing ANY transform
    // column stages flat (its entries carry no prefix, so every pruner
    // always reads them — sound).
    val routed = partition
      .filter(_ => partition.forall(p => rows.columns.contains(p._1)))
    val writer = if (routed.nonEmpty) {
      val withDirs = routed.zipWithIndex.foldLeft(rows) {
        case (df, ((c, kind), i)) =>
          df.withColumn(partLevelCol(i), partitionExpr(c, kind))
      }
      // OPTIMIZED WRITES (spark.graft.optimizeWrite=true): shuffle rows
      // to their partition dirs before staging, so a commit lands ONE
      // file per live dir instead of (tasks × dirs) small files — the
      // Delta optimized-write idea. Off by default: the extra shuffle
      // is the wrong trade for small batches, and OPTIMIZE compacts
      // after the fact either way. A hot dir still lands one task's
      // file; skewed ingest belongs to OPTIMIZE/ZORDER, not the stager.
      val shaped =
        if (spark.conf.getOption("spark.graft.optimizeWrite")
            .contains("true"))
          withDirs.repartition(
            routed.indices.map(i => org.apache.spark.sql.functions
              .col(partLevelCol(i))): _*)
        else withDirs
      toPhysical(shaped, colmap).write
        .partitionBy(routed.indices.map(partLevelCol): _*)
    } else toPhysical(rows, colmap).write
    graft.GraftSession.named(spark, "graft staged write")(
      writer.parquet(staging.toString))
    f.mkdirs(dd)
    // collect staged files RECURSIVELY, keeping the partition dirs in
    // the manifest entry (relative paths resolve through two-arg Path
    // like bare names do)
    val staged = walkFiles(f, staging)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath, st.getLen))
    val newFiles = staged.map { case (p, len) =>
      // walk up every __gpN= ancestor (nested composite dirs)
      val dirs = Iterator.iterate(p.getParent)(_.getParent)
        .takeWhile(d => d != null && d.getName.matches("""__gp\d*=.*"""))
        .map(_.getName).toSeq.reverse
      val rel = if (dirs.isEmpty) "" else dirs.mkString("/") + "/"
      if (rel.nonEmpty) f.mkdirs(new Path(dd, dirs.mkString("/")))
      val target = new Path(dd, s"$rel${java.util.UUID.randomUUID}.parquet")
      require(f.rename(p, target), s"failed to stage $p")
      // the stager held this file's status anyway — feed the size
      // ledger so the claim never re-probes it (rename keeps length)
      ManifestFileIndex.recordSize(target, len)
      rel + target.getName
    }
    f.delete(staging, true)
    newFiles
  }

  // ------------------------------------------------------------------
  // The commit protocol
  // ------------------------------------------------------------------

  /** What one commit attempt decided against the head it was handed. */
  private sealed trait Step[+A]

  /** Publish `next` as head + 1. `staged` are files this attempt wrote
    * (reclaimed if the claim is lost — the next attempt recomputes);
    * `result` maps the committed version to the caller's answer.
    */
  private final case class Claim[A](next: Manifest, staged: Seq[Path],
      result: Long => A) extends Step[A]

  /** Commit nothing and answer `result` (a no-op, or a twin already won). */
  private final case class Skip[A](result: A) extends Step[A]

  private def claim(next: Manifest, staged: Seq[Path] = Nil): Step[Long] =
    Claim(next, staged, identity)

  private val MaxAttempts = 10

  /** THE commit loop — the one place a snapshot version is published.
    * Each attempt reads the head manifest and hands it to `attempt`,
    * which validates against it (a refusal throws) and returns the next
    * manifest; the claim is an atomic create-if-absent of head + 1, so
    * of two racing writers exactly one wins and the loser re-reads the
    * moved head and tries again — optimistic concurrency, Delta's
    * `OptimisticTransaction` / Iceberg's `TableOperations.commit(base,
    * metadata)`. Every claim is stamped with `op` and the claim instant.
    *
    * `staged` are files written ONCE before the loop (an append's data)
    * and re-referenced by every attempt; they are reclaimed whenever the
    * loop exits without committing them — a refusal, a Skip, or
    * exhausted attempts — so no exit strands unreferenced files for
    * vacuum to find.
    */
  private def transact[A](spark: SparkSession, table: String, op: String,
      staged: Seq[Path] = Nil)(attempt: Manifest => Step[A]): A = {
    def reclaim(ps: Seq[Path]): Unit =
      ps.foreach(p => fs(spark, p).delete(p, false))
    var tries = 0
    while (tries < MaxAttempts) {
      val head = headOf(spark, table)
      val step = try attempt(head) catch {
        case e: Throwable => reclaim(staged); throw e
      }
      step match {
        case Skip(result) => reclaim(staged); return result
        case Claim(next, mine, result) =>
          val v = head.version + 1
          if (claimManifest(spark, table, v, next.copy(op = op,
              ts = Some(System.currentTimeMillis()), version = v)))
            return result(v)
          reclaim(mine) // computed against a stale head
      }
      tries += 1
    }
    reclaim(staged)
    throw new IllegalStateException(
      s"$op on $table failed after $MaxAttempts attempts")
  }

  /** Atomically PUBLISH `next` as `version`. The manifest is fully
    * written to a temp name first, then claimed atomically — readers can
    * never observe a half-written manifest, and of two racing writers
    * exactly one claims vN+1:
    *   - file://  → hard link (atomic create-if-absent WITH content;
    *                a plain create(overwrite=false) on LocalFileSystem
    *                is check-then-create and loses commits under race)
    *   - hdfs://  → rename (atomic, fails when the target exists)
    * Returns false when another writer already owns `version`.
    *
    * The claim records the per-file size ledger (`#fsz:`): staged files
    * were recorded by [[stageData]], carried files by the parent's
    * resolution, so steady state probes nothing; unknown sizes (a
    * ledger-less parent) are probed through
    * [[ManifestFileIndex.statusesOf]]. Best-effort per file — an
    * unknowable size (a foreign ref the probe can't reach) just keeps
    * that file on the reader's probing fallback. The PHYSICAL encoding
    * ([[Manifest.encode]] — a delta over the parent when smaller) is
    * invisible to every commit path, and every CheckpointInterval-th
    * claim drops a full checkpoint beside the manifest (best-effort,
    * idempotent content).
    */
  private def claimManifest(spark: SparkSession, table: String,
      version: Long, next: Manifest): Boolean = {
    val dir = Manifest.dir(table)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val dd = dataDir(table)
    def known(n: String) = ManifestFileIndex.knownSize(new Path(dd, n))
    val unknown = next.files.filter(known(_).isEmpty)
    if (unknown.nonEmpty)
      try ManifestFileIndex.statusesOf(
        spark.sparkContext.hadoopConfiguration, dd, unknown)
      catch { case scala.util.control.NonFatal(_) => () }
    val sized = next.copy(sizes =
      next.files.flatMap(n => known(n).map(n -> _)).toMap).canonical
    val physical = Manifest.encode(sized, version,
      manifestAt(spark, table, version - 1))
    val claimed = writeAtomic(f, dir, Manifest.path(table, version),
      physical.render)
    if (claimed) {
      resolvedManifests.put((new Path(table).toString, version), sized)
      if (version % Manifest.CheckpointInterval == 0)
        writeAtomic(f, dir, Manifest.checkpointPath(table, version),
          sized.render)
    }
    claimed
  }

  /** Create `target` with `body` iff it does not exist yet (see
    * [[claimManifest]] for the per-scheme atomicity).
    */
  private def writeAtomic(f: org.apache.hadoop.fs.FileSystem, dir: Path,
      target: Path, body: String): Boolean = {
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID}")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val ok =
      if ("file" == f.getScheme) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !f.exists(target) && f.rename(tmp, target)
    f.delete(tmp, false)
    ok
  }

  /** Refuse a claim of files staged under a column mapping or partition
    * transform the head no longer declares: their physical names (or,
    * when `prefixed`, their dir values) would be misread. `colmap` None
    * skips the mapping check (an overwrite's files normalize names).
    */
  private def requireLayout(m: Manifest, table: String, what: String,
      colmap: Option[Map[String, String]], partition: Option[String],
      prefixed: Boolean): Unit = {
    if (colmap.exists(_ != m.colmap))
      throw new IllegalStateException(
        s"$what to $table raced a concurrent RENAME COLUMN — the staged " +
          "files carry stale physical names; re-run")
    if (prefixed && m.partitionHeader != partition)
      throw new IllegalStateException(
        s"$what to $table raced a concurrent partition-transform change " +
          "— the staged entries carry stale dir prefixes; re-run")
  }

  /** A batch validated against the head and staged ONCE, for the commits
    * whose data never depends on the head (append, overwrite, stream
    * append, COPY INTO): only the manifest is recomputed per attempt.
    */
  private final class StagedBatch(spark: SparkSession, table: String,
      what: String, batch: DataFrame, replace: Boolean,
      stagedAt: Manifest, val files: Seq[String]) {

    private var validated = stagedAt

    def paths: Seq[Path] = files.map(new Path(dataDir(table), _))

    /** Re-validate against `m`, the head this attempt claims over, and
      * return the schema to declare. The pre-staging checks ran against
      * an older head, but the claim CARRIES the new head's constraints:
      * an ADD CONSTRAINT landing while we staged must re-validate here,
      * or the append could land a violating batch under a manifest that
      * claims the constraint holds. The schema re-evolution is a
      * re-validation too: a widen landing mid-stage can make the batch's
      * types illegal. Overwrite RESETS the schema, so the head schema
      * neither conforms its checks nor evolves it.
      */
    def revalidate(m: Manifest): types.StructType = {
      if (m.checks != validated.checks)
        enforceChecks(batch, m.checks, table,
          if (replace) None else m.schema)
      // an append re-introducing a DROPPED column name would expose
      // pre-drop values from carried files; overwrite replaces every
      // file, so the name becomes legitimately reusable
      if (!replace) refuseDroppedColumns(batch.schema, table, m)
      requireLayout(m, table, what,
        if (replace) None else Some(stagedAt.colmap),
        stagedAt.partitionHeader, prefixed = true)
      validated = m
      evolveSchema(if (replace) None else m.schema, batch.schema)
    }
  }

  /** Validate `batch0` against the head — fail fast, BEFORE staging (a
    * refusal would otherwise strand orphaned data files until a vacuum)
    * — and stage it. Appends land write DEFAULTs for omitted columns
    * and stage under the head's PHYSICAL names (column mapping); an
    * overwrite replaces every file, so its names normalize to the
    * batch's own and the claim carries no colmap. The partition
    * transform is LAYOUT POLICY and routes either way.
    */
  private def stageBatch(spark: SparkSession, table: String, what: String,
      batch0: DataFrame, replace: Boolean = false): StagedBatch = {
    val head = headOf(spark, table)
    val batch = if (replace) batch0 else fillWriteDefaults(batch0, head.schema)
    if (!replace) {
      evolveSchema(head.schema, batch.schema)
      refuseDroppedColumns(batch.schema, table, head)
    }
    // overwrite RESETS the declared schema, so the head schema must not
    // conform the batch here: a legitimate column-type-changing overwrite
    // of a CHECK-constrained table would otherwise refuse on the very
    // type-change the overwrite exists to perform
    enforceChecks(batch, head.checks, table,
      if (replace) None else head.schema)
    val files = stageData(spark, batch, table,
      if (replace) Map.empty else head.colmap, head.partitions)
    raceHookForTests()
    new StagedBatch(spark, table, what, batch, replace, head, files)
  }

  private def commit(spark: SparkSession, batch0: DataFrame, table: String,
      replace: Boolean): Long = {
    val op = if (replace) "overwrite" else "append"
    val staged = stageBatch(spark, table, op, batch0, replace)
    transact(spark, table, op, staged.paths) { m =>
      val schema = Some(staged.revalidate(m))
      // overwrite REPLACES the data state: the dropped-name ledger and
      // the colmap go with the old files; an append carries them (the
      // re-validation keeps reads correct)
      claim(
        if (replace) m.copy(schema = schema, files = staged.files,
          dropped = Nil, colmap = Map.empty)
        else m.copy(schema = schema, files = m.files ++ staged.files))
    }
  }

  /** Spec hook: (candidate files actually probed/read, total candidate
    * files) of the last stats-pruned copy-on-write probe ([[cowApply]]).
    * None until it runs.
    */
  @volatile private[graft] var lastCowProbePruned: Option[(Int, Int)] = None

  /** Spec hook: (candidate files probed, total files) of the last
    * predicate-driven DELETE/UPDATE probe (stats-pruned when the
    * predicate constrains a stats-manifested column). None until one
    * runs.
    */
  @volatile private[graft] var lastWherePruned: Option[(Int, Int)] = None

  /** Spec/assert hook: number of aggregate expressions the last catalog
    * scan answered ENTIRELY from the stats sidecar (zero data files
    * opened); None when the metadata-only path did not serve.
    */
  @volatile var lastAggAnswered: Option[Int] = None

  /** The typed stats sidecar ([[graft.operators.Layout.stats]]) for a
    * VERSION's entry list, aligned, under its declared schema and
    * column mapping. One driver-side read of the (tiny) manifest; zero
    * data files are touched. None when the table has no sidecar.
    */
  private[graft] def fileStats(spark: SparkSession, table: String,
      entries: Seq[String], declared: Option[types.StructType],
      colmap: Map[String, String]): Option[Layout.Stats] =
    Layout.stats(spark, dataDir(table).toString,
      declared.map(physSchema(_, colmap)),
      FileSkipping.canonical(spark, dataDir(table), entries)._1)

  /** Whether `df` is a deterministic plan over rows already on the
    * driver (every leaf a `LocalRelation`, as in a batch built from
    * local rows): re-running it gives the same rows and reads no file,
    * and collecting it usually runs no Spark job.
    */
  private def isLocal(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.deterministic && plan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  /** The distinct rows of `df` in ONE Spark job with no shuffle: each
    * task dedups its own partition and ships at most `cap` + 1 rows, the
    * driver dedups the union; a local plan ([[isLocal]]) is collected
    * directly, usually with no job. A `distinct()` would add an exchange (a
    * second job under AQE) to dedup what is small enough to dedup on
    * the driver: probed file names, a bounded key list. More than `cap`
    * rows back means the true count is more than `cap` too.
    */
  private[warehouse] def distinctRows(df: DataFrame,
      cap: Int = Int.MaxValue): Seq[Row] =
    if (isLocal(df)) df.collect().toSeq.distinct
    else df.mapPartitions { it =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[Row]
      while (it.hasNext && seen.size <= cap) seen += it.next()
      seen.iterator
    }(org.apache.spark.sql.Encoders.row(df.schema)).collect().toSeq.distinct

  /** `c IN vals` as ONE set-lookup expression, the form the optimizer
    * gives a long IN-list anyway and the parquet scan pushes down like
    * one. `isInCollection` builds an n-child `In` that every analyzer
    * rule walks: about 40 ms per frame at a thousand keys on a 4-core
    * machine. `vals` must
    * be external values of `dt`, the type `c` has where it is filtered.
    */
  private def inSet(c: String, dt: types.DataType, vals: Seq[Any]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dt)
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.InSet(
      ColumnBridge.expression(org.apache.spark.sql.functions.col(c)),
      vals.map(toCatalyst).toSet))
  }

  /** Row-level apply by deletion vectors — the shared engine of
    * [[commitMerge]] and [[syncReplica]]'s feed transport: mark the rows
    * the change set replaces or deletes dead, stage only the change set's
    * new row versions, carry every file into the new manifest by name.
    *
    *   1. probe: ONE positioned scan of the version's live rows,
    *      filtered on the touched keys (a key set for a single-column
    *      key, a broadcast semi-join otherwise), each task folding the
    *      matched rows' positions into one bitmap per file
    *      ([[DeletionVectors.positionsOf]]). Only the key columns are
    *      read, and the candidate set is pruned driver-side first by
    *      [[FileSkipping]] (partition dirs, stats and Bloom sidecars on
    *      the probe key) — on a z-ordered, stats-manifested table the
    *      probe opens a handful of files, not the table;
    *   2. the matched positions die ([[killRows]]): an affected file
    *      gains a cumulative deletion vector, or is re-written without
    *      its dead rows once their share passes
    *      [[DeletionVectors.MaxDeadFraction]];
    *   3. stage: the upserts (the change set minus `deleteCol`-flagged
    *      rows) plus any re-written survivors, in one write. A single-
    *      column key's set is collected with the probe's filter, so a
    *      MERGE runs three jobs (key collect, probe, staged write), and
    *      one, the probe, when the change set is a batch of local rows:
    *      its keys collect and its rows stage on the driver
    *      ([[stageData]]) with no job.
    *
    * `changes` must already be conformed to `schema` (plus the optional
    * delete-flag column); `keys` must be unique within `changes`.
    * Returns the next manifest (declaring `schema`) and the files this
    * pass staged — data and the vector file — for the commit loop to
    * reclaim on a lost claim (carried-forward files are never touched).
    */
  private def cowApply(spark: SparkSession, table: String,
      m: Manifest, schema: types.StructType, changes0: DataFrame,
      keys: Seq[String], deleteCol: Option[String]): (Manifest, Seq[Path]) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val files = m.files
    def dataPaths(ns: Seq[String]) = ns.map(new Path(dataDir(table), _))
    // ONE materialization of the (bounded-by-contract) change set: the
    // pass consumes it several times — key collect/probe and the staged
    // write — and in feed mode the lazy plan is a whole rowDiff join that
    // must not re-execute per consumer. The checkpoint is LAZY: its first
    // consumer (the key collect below, for single-column keys)
    // materializes it inside its own job. It also cuts lineage to an in-memory RDD, so the
    // positioned probes read one file source only.
    // A deterministic batch of local rows is already materialized,
    // holds no file source, and gives up its keys with no job: it is
    // used as is.
    val changes =
      if (isLocal(changes0)) changes0 else changes0.localCheckpoint(false)
    val upserts = deleteCol match {
      case None => changes
      case Some(dc) => changes.filter(!col(dc)).drop(dc)
    }
    val colmap = m.colmap
    if (files.isEmpty) {
      val staged = stageData(spark, upserts, table, colmap, m.partitions)
      return (m.copy(schema = Some(schema), files = staged), dataPaths(staged))
    }
    // single-column keys (the common case) probe via a key set when the
    // touch-set is bounded: the predicate pushes into the parquet scan
    // (row-group min/max skipping applies) and no second frame ever
    // joins the probe — fastVals is None past the cap or for composite
    // keys, falling back to the broadcast semi-join.
    val fastVals: Option[Seq[Any]] =
      if (keys.size == 1)
        Some(graft.GraftSession.named(spark, "graft change set")(
            distinctRows(changes.select(col(keys.head)).na.drop(),
              FileSkipping.MaxPruneKeys)).map(_.get(0)))
          .filter(_.size <= FileSkipping.MaxPruneKeys)
      else None
    lazy val touched = changes.select(keys.map(col): _*).distinct()
    // pruned probe: the candidate file set shrinks DRIVER-SIDE before
    // the scan — on a z-ordered table a small touch-set probes a
    // handful of files, so the probe itself costs O(candidate files),
    // not O(table)
    val cand = fastVals match {
      case Some(vals) => FileSkipping.prune(spark, dataDir(table), files,
        m.schema, Seq(org.apache.spark.sql.sources.In(keys.head, vals.toArray)),
        colmap, m.partitions).kept
      case None => FileSkipping.pruneByKeys(spark, dataDir(table), files,
        m.schema, keys.head, touched.select(col(keys.head)), colmap,
        m.partitions).kept
    }
    lazy val positioned = readWithSchema(spark, table, cand, m.schema,
      colmap, DeletionVectors.of(spark, table, m.dvs, cand), positions = true)
    val keyType = schema(keys.head).dataType
    val probe = fastVals match {
      case _ if cand.isEmpty => None
      case Some(vals) =>
        if (vals.isEmpty) None
        else {
          // a set lookup needs the key's type in the files, as the head
          // declares it, to be the change set's: a legacy head declares
          // none, and a widening MERGE changes it
          val sameType = m.schema.exists(_.fields.exists(f =>
            f.name == keys.head && f.dataType == keyType))
          Some(positioned
            .filter(if (sameType) inSet(keys.head, keyType, vals)
              else col(keys.head).isInCollection(vals)))
        }
      case None => Some(positioned.join(broadcast(touched), keys, "left_semi"))
    }
    lastCowProbePruned = Some((cand.size, files.size))
    val dead = probe
      .map(p => probedPositions(spark, table, files,
        DeletionVectors.positionsOf(
          p.select(DeletionVectors.FileCol, DeletionVectors.RowCol))))
      .getOrElse(Map.empty)
    val kill = killRows(spark, table, m, dead)
    val newFiles = stageData(spark, upserts, table, colmap, m.partitions,
      kill.survivors.map(conform(_, schema)))
    (kill(m).copy(schema = Some(schema), files = kill(m).files ++ newFiles),
      dataPaths(newFiles) ++ kill.staged)
  }

  /** What a row-level commit does with the rows it kills. `gone` are the
    * entries that leave the file list (re-written, or with no live row
    * left), `survivors` the live rows of the re-written ones (to stage),
    * `vectors` the entries that carry with a new cumulative vector in
    * the one vector file `staged` holds, and `count` the rows killed.
    */
  private final case class Kill(gone: Set[String],
      survivors: Option[DataFrame], vectors: Map[String, String],
      staged: Seq[Path], count: Long) {
    /** `m` with the gone entries out and the new vectors in. */
    def apply(m: Manifest): Manifest =
      m.copy(files = m.files.filterNot(gone), dvs = m.dvs ++ vectors)
  }

  /** Kill `dead` (entry → newly dead positions of version `m`'s live
    * rows). Each affected entry's cumulative vector is its old one plus
    * the new positions; past [[DeletionVectors.MaxDeadFraction]] of the
    * file's rows (its footer count) the entry is re-written instead —
    * its live rows under the cumulative vector become `survivors` — and
    * a file with no live row left just leaves.
    * The rest get their vectors in ONE vector file, written here on the
    * driver with no Spark job.
    */
  private def killRows(spark: SparkSession, table: String, m: Manifest,
      dead: Map[String, org.roaringbitmap.RoaringBitmap]): Kill = {
    import org.roaringbitmap.RoaringBitmap
    val old = DeletionVectors.of(spark, table, m.dvs, dead.keys)
    val cum = dead.map { case (e, b) =>
      e -> old.get(e).fold(b)(o => RoaringBitmap.or(o, b))
    }
    def rows(e: String) = DeletionVectors.rowCount(spark, table, e)
    // a file holds at least (last dead position + 1) rows, so only a
    // vector that could pass the bound against that needs the footer
    val (rewrite, vectored) = cum.partition { case (e, b) =>
      val bound = DeletionVectors.MaxDeadFraction
      b.getLongCardinality > bound * (b.last().toLong + 1) &&
        b.getLongCardinality > bound * rows(e)
    }
    val reread = m.files.filter(e =>
      rewrite.get(e).exists(_.getLongCardinality < rows(e)))
    val survivors =
      if (reread.isEmpty) None
      else Some(readWithSchema(spark, table, reread, m.schema, m.colmap,
        reread.map(e => e -> rewrite(e)).toMap))
    val vf = if (vectored.isEmpty) None
      else Some(DeletionVectors.write(spark, table, vectored))
    Kill(rewrite.keySet, survivors,
      vf.fold(Map.empty[String, String])(v => vectored.map(_._1 -> v).toMap),
      vf.map(new Path(DeletionVectors.dir(table), _)).toSeq,
      dead.values.map(_.getLongCardinality).sum)
  }

  /** Probed positions by canonical file URI ([[DeletionVectors.positionsOf]])
    * re-keyed by the MANIFEST ENTRY that references each file: a bare
    * name for the table's own files, the qualified URI of a FOREIGN ref
    * (shallow clones, in-place conversions). Collapsing to `getName`
    * would be a correctness bug, not a cosmetic one: a foreign entry
    * never equals a bare name, so its rows would never die.
    */
  private def probedPositions(spark: SparkSession, table: String,
      candidates: Seq[String],
      byUri: Map[String, org.roaringbitmap.RoaringBitmap])
      : Map[String, org.roaringbitmap.RoaringBitmap] = {
    val canonMap = FileSkipping.canonical(spark, dataDir(table), candidates)._2
    byUri.map { case (u, b) => canonMap.getOrElse(u, new Path(u).getName) -> b }
  }

  /** MERGE with an update branch, under snapshot isolation — ROW-LEVEL
    * BY DELETION VECTORS: one positioned probe finds the rows holding a
    * batch key ([[cowApply]]); they die by vector, the batch is staged
    * as the new row versions (updates and inserts alike), and every file
    * carries into the new manifest BY NAME — a 10-row CDC tick against a
    * 100 TB table stages the 10 rows and a vector file, never a data
    * file it did not write. A file whose dead share passes
    * [[DeletionVectors.MaxDeadFraction]] is re-written without its dead
    * rows instead. A batch of local rows runs one Spark job, the probe;
    * a computed batch three ([[cowApply]]).
    *
    * UNLIKE append, the result DEPENDS on the head it was computed
    * against, so a lost claim cannot simply retry the manifest: the
    * loser deletes its orphaned files (and the vector file it staged),
    * RE-READS the new head, RECOMPUTES the merge and tries again — full
    * optimistic concurrency (Delta-style), serializing concurrent merges
    * instead of losing one. Returns the committed version.
    */
  def commitMerge(spark: SparkSession, batch: DataFrame, table: String,
      keys: Seq[String]): Long = {
    // every post-merge row is either an untouched (already-valid) target
    // row or a batch row taken wholesale — enforcing on the batch covers
    // the new state without scanning the table
    val head0 = headOf(spark, table)
    enforceChecks(batch, head0.checks, table, head0.schema)
    var validatedChecks = head0.checks
    transact(spark, table, "merge") { m =>
      // TOCTOU guard (see StagedBatch.revalidate): constraints landing
      // mid-merge apply
      if (m.checks != validatedChecks) {
        enforceChecks(batch, m.checks, table, m.schema)
        validatedChecks = m.checks
      }
      // evolve first, then conform BOTH sides: a merge may introduce a
      // new column (target rows null-pad) or omit one (batch null-pads)
      // — but never a DROPPED name while pre-drop files are carried
      refuseDroppedColumns(batch.schema, table, m)
      val schema = evolveSchema(m.schema, batch.schema)
      val (next, staged) = cowApply(spark, table, m, schema,
        conform(batch, schema), keys, deleteCol = None)
      claim(next, staged)
    }
  }

  /** Snapshot-isolated targeted DELETE — row-level by deletion vectors:
    * one positioned probe of the pinned head finds the doomed rows, they
    * die by vector, and every file carries into the new manifest BY
    * NAME; nothing is staged but the vector file, so the delete runs the
    * probe's one Spark job (a file past
    * [[DeletionVectors.MaxDeadFraction]] is re-written instead). Like
    * [[commitMerge]], the result depends on the head it was computed
    * against, so a lost claim deletes its orphaned files, re-reads the
    * new head, and recomputes — concurrent deletes / appends / merges
    * serialize instead of losing rows.
    *
    * Retention semantics (the GDPR fine print): the delete is LOGICAL at
    * commit — a vectored row stays in its data file, and prior versions
    * still reference the old files (that is what time travel means). So
    * PHYSICAL erasure is `commitDelete`, then OPTIMIZE ([[compactData]],
    * which re-writes every vectored file without its dead rows and drops
    * the vectors), then [[vacuum]] with a retention window of 0/1; until
    * the vacuum, the rows are readable via time travel by design.
    *
    * Returns (committed version, rows deleted) — (head, 0) when no live
    * row holds any of the keys (no-op: no new version).
    */
  def commitDelete(spark: SparkSession, table: String, keys: Seq[Any],
      keyCol: String): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    if (keys.isEmpty) return (currentVersion(spark, table), 0L)
    val distinctKeys = keys.distinct
    deleteWhereImpl(spark, table, col(keyCol).isInCollection(distinctKeys),
      _ => Seq(org.apache.spark.sql.sources.In(keyCol, distinctKeys.toArray)))
  }

  /** Predicate DELETE — `DELETE FROM t WHERE <predicate>` for the
    * retention / erasure jobs that CANNOT enumerate keys on the driver
    * at 100 TB (`ts < '2024-01-01'`, `user_id = 'x'`): the same
    * row-level delete by deletion vectors as [[commitDelete]], with the probe
    * filtering on the arbitrary predicate instead of a key list — the
    * predicate pushes down into the probe's parquet scan, so row-group
    * min/max skipping bounds even the probe's IO. Rows where the
    * predicate is NULL are KEPT (SQL DELETE semantics). Returns
    * (committed version, rows deleted); (head, 0) when no live row
    * matches.
    */
  def commitDeleteWhere(spark: SparkSession, table: String,
      predicate: Column): (Long, Long) =
    deleteWhereImpl(spark, table, predicate,
      m => FileSkipping.predicateFilters(spark, predicate, m.schema))

  /** Predicate UPDATE — `UPDATE t SET c = expr, ... WHERE pred` as a
    * row-level commit by deletion vectors: ONE positioned probe
    * (predicate pushed into the parquet scan) finds the matching rows,
    * they die by vector, and only their new versions (the SET
    * expressions applied) are staged; every file carries by name. Rows
    * where the predicate is NULL are NOT updated (SQL semantics); SET
    * columns must already exist (UPDATE never evolves schema — that's
    * what appends and MERGE are for); declared CHECK constraints are
    * enforced on the updated rows (the only rows that changed) before
    * any claim. Returns (committed version, rows updated); (head, 0)
    * when nothing matches.
    */
  def commitUpdateWhere(spark: SparkSession, table: String,
      predicate: Column, sets: Seq[(String, Column)]): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(sets.nonEmpty, "UPDATE needs at least one SET assignment")
    val setMap = sets.toMap
    rewriteWhere(spark, table, "update", predicate, { m =>
      sets.foreach { case (c, _) =>
        require(m.schema.forall(_.fieldNames.contains(c)),
          s"UPDATE SET column $c does not exist in $table — UPDATE " +
            "never evolves schema (append or MERGE a new column)")
      }
      FileSkipping.predicateFilters(spark, predicate, m.schema)
    }, Some { (m, matched) =>
      val updated = matched.select(matched.columns.toIndexedSeq.map { c =>
        setMap.get(c) match {
          case Some(e) => // cast pins the column's DECLARED type — a SET
            // expression must never silently widen the stored schema
            e.cast(matched.schema(c).dataType).as(c)
          case None => col(c)
        }
      }: _*)
      // updated rows are the only new data — they must still satisfy
      // every declared CHECK before a manifest claims them
      enforceChecks(updated, m.checks, table, m.schema)
      updated
    })
  }

  private def deleteWhereImpl(spark: SparkSession, table: String,
      predicate: Column,
      filters: Manifest => Seq[org.apache.spark.sql.sources.Filter])
      : (Long, Long) =
    rewriteWhere(spark, table, "delete", predicate, filters, None)

  /** Predicate row-level change by deletion vectors, shared by DELETE and
    * UPDATE: ONE positioned probe of the head's live rows, pre-pruned
    * driver-side by [[FileSkipping]] on `filters` (an `In` for a key
    * list, the translated predicate otherwise; computing them may also
    * refuse), with the predicate pushed into the parquet scan, folds the
    * matching rows' positions into one bitmap per file. Those rows die
    * ([[killRows]]); `update` maps the matching rows to their new
    * versions, which are staged (a DELETE stages nothing). Every file
    * carries by name unless its dead share passes
    * [[DeletionVectors.MaxDeadFraction]]. Like [[commitMerge]], the
    * result depends on the head it was computed against, so a lost
    * claim reclaims what it staged and recomputes — concurrent writers
    * serialize instead of losing rows. (head, 0) when no live row
    * matches.
    *
    * The probe reads the APPLIED view (the vectors): already dead rows
    * neither count nor die again. The rows changed (predicate
    * TRUE) are the killed positions, so counting them costs nothing: a
    * DELETE runs one job (the probe) and an UPDATE two (probe and
    * staged write).
    */
  private def rewriteWhere(spark: SparkSession, table: String, op: String,
      predicate: Column,
      filters: Manifest => Seq[org.apache.spark.sql.sources.Filter],
      update: Option[(Manifest, DataFrame) => DataFrame]): (Long, Long) =
    transact(spark, table, op) { m =>
      if (m.version == 0) Skip((0L, 0L))
      else {
        val cand = FileSkipping.prune(spark, dataDir(table), m.files,
          m.schema, filters(m), m.colmap, m.partitions).kept
        lastWherePruned = Some((cand.size, m.files.size))
        val dead =
          if (cand.isEmpty) Map.empty[String, org.roaringbitmap.RoaringBitmap]
          else probedPositions(spark, table, m.files,
            DeletionVectors.positionsOf(
              readLive(spark, table, m, cand, positions = true)
                .filter(predicate)))
        if (dead.isEmpty) Skip((m.version, 0L))
        else {
          val kill = killRows(spark, table, m, dead)
          val updated = update.map(f =>
            f(m, readLive(spark, table, m, m.files.filter(dead.contains))
              .filter(predicate)))
          val staged = (updated.toSeq ++ kill.survivors.toSeq)
            .reduceOption(_ unionByName _)
            .map(stageData(spark, _, table, m.colmap, m.partitions))
            .getOrElse(Nil)
          raceHookForTests()
          Claim(kill(m).copy(files = kill(m).files ++ staged),
            staged.map(new Path(dataDir(table), _)) ++ kill.staged,
            v => (v, kill.count))
        }
      }
    }

  /** OPTIMIZE under the commit protocol: rewrite the head's accreted
    * small files into ~`targetFiles`, committed as a NEW version by the
    * same optimistic claim as merge/delete — readers pinned to earlier
    * versions keep their files (vacuum reclaims them later), a racing
    * append serializes before or after, never lost. Data is
    * bit-identical; only layout changes. No-op (None) below `minFiles` —
    * compaction that rewrites a healthy table is pure write
    * amplification. Returns the committed version.
    *
    * `zorderBy` (2..6 numeric columns) clusters the rewrite along the
    * Morton curve instead of hash-scattering it — `OPTIMIZE ZORDER BY`:
    * the rewrite is the one moment the table's rows move anyway, so
    * clustering rides along for free, and with a stats manifest
    * ([[extendStats]] after the compaction) box predicates on those
    * columns prune to the few curve-adjacent files instead of hitting a
    * random slice of all of them. Accreted appends degrade locality;
    * the maintenance policy's periodic OPTIMIZE restores it.
    */
  def compactData(spark: SparkSession, table: String, targetFiles: Int = 8,
      minFiles: Int = 16, zorderBy: Seq[String] = Nil,
      targetFileBytes: Long = 128L << 20): Option[Long] = {
    require(targetFiles >= 0, "targetFiles must be >= 0 (0 = size-derived)")
    val f = fs(spark, dataDir(table))
    transact(spark, table, "optimize") { m =>
      // deletion vectors always compact (physically dropping dead rows is
      // the point, whatever the file count); otherwise the minFiles floor
      // refuses pure write amplification
      if (m.version == 0 || (m.files.size < minFiles && m.dvs.isEmpty))
        Skip(None)
      else {
        // targetFiles == 0 → SIZE-DERIVED: aim for ~targetFileBytes per
        // output file from the live byte census of the version's file
        // list (probe-free when manifested). A constant target is
        // pathological in both directions at 100 TB — 8 means one full
        // rewrite into enormous files, a large constant shreds a small
        // table — so the unparameterized SQL face compacts to a byte
        // budget instead.
        val nOut =
          if (targetFiles > 0) targetFiles
          else {
            val bytes = m.files.map(n => m.sizes.getOrElse(n,
              f.getFileStatus(new Path(dataDir(table), n)).getLen)).sum
            math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
          }
        // the rewrite is the APPLIED state — OPTIMIZE is the
        // materialization point
        val current = readLive(spark, table, m, m.files)
        val rewritten =
          if (zorderBy.nonEmpty)
            Layout.zorderFrameN(current, zorderBy, nOut)
          else current.repartition(nOut)
        // the full rewrite NORMALIZES physical names (stage the logical
        // frame verbatim) and re-stages under the partition transform
        // (layout policy); every surviving file is re-staged under the
        // declared schema, so deletion vectors, the dropped-name ledger
        // and the colmap all clear
        val staged = stageData(spark, rewritten, table, Map.empty,
          m.partitions)
        Claim(m.copy(files = staged, dropped = Nil,
          colmap = Map.empty, dvs = Map.empty),
          staged.map(new Path(dataDir(table), _)),
          v => Some(v))
      }
    }
  }

  /** Bin-packed PARTIAL compaction — the steady-state OPTIMIZE a 100 TB
    * table actually runs (the Delta/Iceberg bin-packing semantics):
    * rewrite ONLY the files under `smallBytes`, packed into
    * ~`targetFileBytes` outputs, and carry every already-compact file
    * into the new manifest BY NAME — IO is proportional to the accreted
    * small-file debt, never the table, so it can run after every
    * streaming burst where [[compactData]]'s full rewrite could not.
    * Sizes come from the version's size ledger (zero data reads and,
    * in steady state, zero filesystem calls for the decision), so
    * orphaned files in the data dir cost nothing. Packing
    * COALESCES the scan's partitions into at most that many outputs:
    * no shuffle, so the pack is one Spark job, and each packed file
    * keeps its input rows' order.
    *
    * Deletion vectors of the packed slice go with its entries (dead rows
    * are filtered out of the packed output); carried files keep theirs
    * — full [[compactData]] remains the total materialization point.
    * No-op (None) below `minSmall` small files — packing two files is
    * pure write amplification. Returns the committed version.
    */
  def compactSmallFiles(spark: SparkSession, table: String,
      smallBytes: Long = 32L << 20, targetFileBytes: Long = 128L << 20,
      minSmall: Int = 8): Option[Long] = {
    require(smallBytes > 0 && targetFileBytes > 0)
    transact(spark, table, "optimize") { m =>
      // the version's own entries, sized from its ledger (`#fsz:`) and
      // probed only where the ledger lacks them; foreign clone/convert
      // refs (qualified URIs or absolute paths) are never packed
      val own = m.files.filterNot(n => n.contains(":/") || n.startsWith("/"))
      val unsized = own.filterNot(m.sizes.contains)
      val sizes = m.sizes ++ unsized.zip(ManifestFileIndex.statusesOf(
        spark.sparkContext.hadoopConfiguration, dataDir(table), unsized)
        .map(_.getLen))
      val small = own.filter(sizes(_) < smallBytes)
      if (small.isEmpty || small.size < minSmall) Skip(None)
      else {
        val nOut = math.max(1,
          math.ceil(small.map(sizes).sum.toDouble / targetFileBytes).toInt)
        // the packed slice is read APPLIED (its vectored rows leave
        // physically, and its vectors go with its entries); carried files
        // keep their vectors
        val packed = readLive(spark, table, m, small).coalesce(nOut)
        val staged = graft.GraftSession.named(spark, "graft compaction pack")(
          stageData(spark, packed, table, m.colmap, m.partitions))
        // PARTIAL pack: carried files may still hold pre-drop values, so
        // the dropped-name ledger carries (unlike the full rewrite above)
        Claim(m.copy(files = m.files.filterNot(small.toSet) ++ staged),
          staged.map(new Path(dataDir(table), _)), v => Some(v))
      }
    }
  }

  /** Every file under the data dir as (path, data-dir-relative entry,
    * status) — the RECURSIVE census vacuum reconciles against:
    * partitioned entries (`__gp=.../f.parquet`)
    * count like flat ones; sidecar trees (underscore or dot components)
    * are never included.
    */
  private def dataFileCensus(f: org.apache.hadoop.fs.FileSystem, dd: Path)
      : Seq[(Path, String, org.apache.hadoop.fs.FileStatus)] = {
    val ddQ = f.makeQualified(dd).toString + "/"
    walkFiles(f, dd).flatMap { st =>
      val rel = f.makeQualified(st.getPath).toString.stripPrefix(ddQ)
      if (st.isFile && !rel.split('/').exists(c =>
          (c.startsWith("_") && !c.startsWith(PartPrefix)) ||
            c.startsWith(".")))
        Some((st.getPath, rel, st))
      else None
    }
  }

  /** Read the table at `version` (default: latest). A resolved reader is
    * pinned: later commits never change the files it reads.
    */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val m = manifestAt(spark, table,
      version.getOrElse(currentVersion(spark, table)))
    if (m.files.isEmpty) emptyAt(spark, m)
    else readLive(spark, table, m, m.files)
  }

  /** The empty read of a version with no data file: its declared schema
    * (a DELETE of every row leaves none), column-less without one.
    */
  private def emptyAt(spark: SparkSession, m: Manifest): DataFrame =
    m.schema.fold(spark.emptyDataFrame)(s =>
      spark.createDataFrame(new java.util.ArrayList[Row](), s))

  /** The table's commit log as a DataFrame — the audit surface a
    * versioned warehouse exposes (Delta's DESCRIBE HISTORY): one row per
    * RETAINED version (newest first) with the commit's operation (the
    * `#op:` manifest header; "unknown" for manifests predating it), the
    * commit instant (the `#ts:` header recorded at claim time — durable
    * across table copies and store migrations; the claim file's mtime is
    * the fallback for legacy manifests), and the physical step shape
    * (file counts; added/removed are NULL for the oldest retained
    * version when its predecessor was vacuumed). Metadata-only: reads
    * manifests, never data files — O(retained versions), which vacuum
    * bounds.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    var prior: Option[Set[String]] = None // unknown until a version reads
    val rows = retainedManifests(spark, table).map { case (m, mtime) =>
      val files = m.files.toSet
      // contiguity: vacuum retains a suffix, so only the OLDEST retained
      // version can lack its predecessor (unless it is v1)
      val base = if (m.version == 1) Some(Set.empty[String]) else prior
      val row = (m.version, new java.sql.Timestamp(m.ts.getOrElse(mtime)),
        if (m.op.isEmpty) "unknown" else m.op, files.size,
        base.map(b => files.diff(b).size), base.map(b => b.diff(files).size))
      prior = Some(files)
      row
    }.reverse
    rows.toDF("version", "committed_at", "op", "num_files",
      "added_files", "removed_files")
  }

  /** Every retained manifest, ascending, with its file's mtime (the
    * commit-instant fallback for legacy manifests without `#ts:`).
    */
  private def retainedManifests(spark: SparkSession,
      table: String): Seq[(Manifest, Long)] = {
    val dir = Manifest.dir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .flatMap(s => Manifest.versionOf(s.getPath.getName)
        .map(v => (v, s.getModificationTime)))
      .sortBy(_._1)
      .map { case (v, mtime) => (manifestAt(spark, table, v), mtime) }
  }

  /** (version, commit instant epochMs) of every RETAINED manifest,
    * ascending — the `#ts:` header when present (durable), the manifest
    * file's mtime for legacy manifests. What `TIMESTAMP AS OF` resolves
    * against; O(retained versions) manifest reads, bounded by vacuum.
    */
  def commitInstants(spark: SparkSession, table: String): Seq[(Long, Long)] =
    retainedManifests(spark, table).map { case (m, mtime) =>
      m.version -> m.ts.getOrElse(mtime)
    }

  /** The newest retained version committed at or before `cutoffMs` —
    * what `TIMESTAMP AS OF` / `snapshot_at(t, ts)` resolve. BINARY
    * SEARCH over the retained version range: commit instants are
    * monotone in version order by claim construction (each `#ts:` is
    * stamped as its claim wins, and claims are ordered), so the lookup
    * reads O(log retained) manifests instead of every one —
    * [[commitInstants]] stays the exhaustive audit surface. A writer
    * with a skewed clock degrades this to the same approximation every
    * timestamp-ordered log accepts (Delta's commit-timestamp lookup has
    * the identical caveat). None when every retained commit is after
    * the cutoff.
    */
  def versionAtInstant(spark: SparkSession, table: String,
      cutoffMs: Long): Option[Long] = {
    val dir = Manifest.dir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return None
    val mtimes = f.listStatus(dir).toSeq.flatMap(s =>
      Manifest.versionOf(s.getPath.getName)
        .map(_ -> s.getModificationTime)).toMap
    if (mtimes.isEmpty) return None
    val versions = mtimes.keys.toIndexedSeq.sorted
    def instant(v: Long): Long =
      manifestAt(spark, table, v).ts.getOrElse(mtimes(v))
    // largest index whose instant <= cutoff
    var lo = 0
    var hi = versions.size - 1
    if (instant(versions(lo)) > cutoffMs) return None
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (instant(versions(mid)) <= cutoffMs) lo = mid else hi = mid - 1
    }
    Some(versions(lo))
  }

  // ------------------------------------------------------------------
  // Incremental consumption (change feed)
  // ------------------------------------------------------------------

  /** File names present in `toV` but not `fromV` — metadata-only (two
    * manifest reads, no data IO). The physical growth of the step.
    */
  def addedFiles(spark: SparkSession, table: String, fromV: Long,
      toV: Long): Seq[String] = {
    val before = filesAt(spark, table, fromV).toSet
    filesAt(spark, table, toV).filterNot(before)
  }

  /** File names present in `fromV` but not `toV` — files a delete/merge/
    * compaction rewrote away during the step. Metadata-only.
    */
  def removedFiles(spark: SparkSession, table: String, fromV: Long,
      toV: Long): Seq[String] = {
    val after = filesAt(spark, table, toV).toSet
    filesAt(spark, table, fromV).filterNot(after)
  }

  /** True when the step `fromV` → `toV` only ADDED rows: no file left,
    * and every file of `fromV` keeps the deletion vector it had. A
    * vectored DELETE or MERGE removes no file but is NOT append-only: its
    * window must flow through [[rowDiff]]. The test every incremental consumer
    * runs before choosing the added-files transport
    * ([[incrementalRead]]); metadata-only, two manifest reads.
    */
  def appendOnly(spark: SparkSession, table: String, fromV: Long,
      toV: Long): Boolean = {
    val (from, to) = (manifestAt(spark, table, fromV),
      manifestAt(spark, table, toV))
    val kept = to.files.toSet
    from.files.forall(kept) &&
      from.files.forall(e => from.dvs.get(e) == to.dvs.get(e))
  }

  /** Rows appended between two versions of an APPEND-ONLY step, served by
    * reading ONLY the step's added files — IO is proportional to the new
    * data, never the table (the contract an incremental consumer needs at
    * 100 TB: tailing a snapshot table costs O(delta) per poll, like
    * Delta's CDF on append commits). Throws when the step is not
    * [[appendOnly]] (a delete/merge/compaction landed in the window) —
    * added files then also carry rows that merely MOVED or replace dead
    * ones, so a file-level read would over-report; use [[rowDiff]] for
    * those steps.
    */
  def incrementalRead(spark: SparkSession, table: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    require(appendOnly(spark, table, fromV, toV),
      s"step v$fromV->v$toV rewrote or deleted rows (a file left, or a " +
        "file gained a deletion vector) — not append-only; use " +
        "rowDiff(keys) for a row-exact change feed")
    // the TO-version's declared schema: an evolution step's feed carries
    // the new columns, and pre-evolution consumers see a superset schema;
    // an added file vectored within the window serves its live rows
    val to = manifestAt(spark, table, toV)
    val added = addedFiles(spark, table, fromV, toV)
    if (added.isEmpty) read(spark, table, Some(toV)).limit(0)
    else readWithSchema(spark, table, added, to.schema, to.colmap,
      DeletionVectors.of(spark, table, to.dvs, added))
  }

  /** Row-exact change feed between two versions, with IO proportional to
    * the CHURNED files, not the table: rows can only differ inside files
    * the step removed (pre-images) or added (post-images) — every carried
    * file is byte-identical on both sides and is never opened. A
    * full-outer join of just those two slices on `keys` classifies each
    * key as insert / delete / update; keys whose payload is unchanged
    * (rows that merely moved in a compaction or a copy-on-write rewrite)
    * cancel out. OPTIMIZE therefore yields an EMPTY feed at full-table
    * rewrite cost of zero extra reads beyond the rewritten files
    * themselves.
    *
    * Output: the table's columns plus `change_type`. Inserts carry the
    * post-image, deletes the pre-image, and each update emits TWO rows —
    * `update_preimage` and `update_postimage` (the Delta CDF convention):
    * a consumer applying the feed takes post-images; a consumer
    * invalidating derived state keyed by a changed column (a mart
    * partition whose date moved) needs the pre-image row too, or the old
    * key's state goes permanently stale. Images are side-pure — an update
    * that sets a column to NULL has NULL in its post-image, never a value
    * resurrected from the pre-image. Requires `keys` to be unique within
    * each version (the usual CDF contract); both versions must still be
    * within vacuum retention.
    */
  def rowDiff(spark: SparkSession, table: String, fromV: Long, toV: Long,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    require(keys.nonEmpty, "rowDiff needs at least one key column")
    val from = manifestAt(spark, table, fromV)
    val to = manifestAt(spark, table, toV)
    // BOTH sides read under the to-version's declared schema: files from
    // before an added column serve it as NULL, so a backfill rewrite
    // classifies as `update` instead of failing the column resolution.
    // Each side is read at ITS version's APPLIED state: a row dead at
    // fromV must not feed a pre-image, and a row dead at toV must not
    // feed a post-image — e.g. a window that only re-writes vectored
    // files (OPTIMIZE) nets to an empty feed instead of re-reporting the
    // deletes. A side's files serve their live rows at that side's
    // vectors, and a CARRIED file whose vector
    // changed contributes the positions that died in the window as
    // pre-images (read at fromV) and any that came back (a RESTORE past
    // a vectored delete) as post-images (read at toV) — a vectored MERGE
    // then pairs the dead old row with the staged new one as an update.
    val toSchema = to.schema
    val toColmap = to.colmap
    val carried = from.files.filter(to.files.toSet)
    val moved = carried.filter(e => from.dvs.get(e) != to.dvs.get(e))
    val (fromDv, toDv) = (DeletionVectors.of(spark, table, from.dvs, moved),
      DeletionVectors.of(spark, table, to.dvs, moved))
    def minus(a: Map[String, org.roaringbitmap.RoaringBitmap],
        b: Map[String, org.roaringbitmap.RoaringBitmap]) =
      moved.flatMap { e =>
        val d = org.roaringbitmap.RoaringBitmap.andNot(
          a.getOrElse(e, new org.roaringbitmap.RoaringBitmap),
          b.getOrElse(e, new org.roaringbitmap.RoaringBitmap))
        if (d.isEmpty) None else Some(e -> d)
      }.toMap
    /** `m`'s live rows of `names`, plus those at the `only` positions. */
    def side(m: Manifest, names: Seq[String],
        only: Map[String, org.roaringbitmap.RoaringBitmap]) =
      (Some(names).filter(_.nonEmpty).map(ns => readWithSchema(spark, table,
          ns, toSchema, toColmap, DeletionVectors.of(spark, table, m.dvs, ns))) ++
        Some(only).filter(_.nonEmpty).map(o => readWithSchema(spark, table,
          carried.filter(o.contains), toSchema, toColmap, only = o)))
        .reduceOption(_ unionByName _)
    val pre = side(from, removedFiles(spark, table, fromV, toV),
      minus(toDv, fromDv))
    val post = side(to, addedFiles(spark, table, fromV, toV),
      minus(fromDv, toDv))
    (pre, post) match {
      case (None, None) =>
        read(spark, table, Some(toV)).limit(0)
          .withColumn("change_type", lit(""))
      case (None, Some(a)) => a.withColumn("change_type", lit("insert"))
      case (Some(r), None) => r.withColumn("change_type", lit("delete"))
      case (Some(r), Some(a)) =>
        val nonKeys = a.columns.filterNot(keys.contains).toSeq
        val lhs = r.select(keys.map(col) ++
          nonKeys.map(c => col(c).as(s"__pre_$c")) :+
          lit(true).as("__in_pre"): _*)
        val rhs = a.select(keys.map(col) ++
          nonKeys.map(c => col(c).as(s"__post_$c")) :+
          lit(true).as("__in_post"): _*)
        val unchanged = nonKeys
          .map(c => col(s"__pre_$c") <=> col(s"__post_$c"))
          .reduceOption(_ && _).getOrElse(lit(true))
        val joined = lhs.join(rhs, keys, "full_outer")
          .withColumn("change_type",
            when(!coalesce(col("__in_pre"), lit(false)), "insert")
              .when(!coalesce(col("__in_post"), lit(false)), "delete")
              .when(unchanged, "carried")
              .otherwise("update"))
          .filter(col("change_type") =!= "carried")
        if (nonKeys.isEmpty)
          // key-only table: payloads can't differ, so updates are
          // impossible — only insert/delete rows survive the carry filter
          joined.select(keys.map(col) :+ col("change_type"): _*)
        else {
          // one pass over the join: each row explodes into its image
          // rows (1 for insert/delete, pre+post for update) — never a
          // second join execution, and each image is taken wholly from
          // ITS side (a coalesce would resurrect pre-image values into
          // post-images wherever the new value is NULL)
          val preImg = struct(nonKeys.map(c => col(s"__pre_$c").as(c)): _*)
          val postImg = struct(nonKeys.map(c => col(s"__post_$c").as(c)): _*)
          def img(i: org.apache.spark.sql.Column, ct: String) =
            struct(i.as("img"), lit(ct).as("ct"))
          joined.select(keys.map(col) :+ explode(
              when(col("change_type") === "insert",
                array(img(postImg, "insert")))
              .when(col("change_type") === "delete",
                array(img(preImg, "delete")))
              .otherwise(array(img(preImg, "update_preimage"),
                img(postImg, "update_postimage")))).as("__e"): _*)
            .select(keys.map(col) ++ nonKeys.map(c =>
              col("__e").getField("img").getField(c).as(c)) :+
              col("__e").getField("ct").as("change_type"): _*)
        }
    }
  }

  // ------------------------------------------------------------------
  // Per-file stats: manifest-level file skipping on versioned tables
  // ------------------------------------------------------------------

  /** Maintain per-file min/max stats for a snapshot table (the Layout
    * `_graft_stats` sidecar, living inside `data/` where the underscore
    * keeps it invisible to data readers). Driven by the head version's
    * file list ([[headFiles]]): the first call reads every file it
    * lists to build the sidecar; every later call is INCREMENTAL — only
    * files not yet covered are read, so the steady-state cost after
    * each commit is O(new files). Stats rows for files the head no
    * longer lists are dropped for free, and a sidecar whose bounds are
    * unsound for the declared types (the double/string encoding of
    * older builds) is rewritten whole. Returns the number of files
    * newly covered.
    *
    * Run it after commits (or from the maintenance policy); [[readPruned]]
    * stays correct either way because uncovered files are never skipped.
    */
  def extendStats(spark: SparkSession, table: String,
      statsCols: Seq[String]): Int = {
    val (m, files) = headFiles(spark, table)
    require(files.nonEmpty, s"$table has no data files to stat")
    // the sidecar reads footers, so it tracks PHYSICAL column names;
    // callers speak logical — map before touching the manifest
    val physCols = statsCols.map(physName(m.colmap, _))
    Layout.statsManifestCols(spark, dataDir(table).toString)
      .foreach(cols => require(cols.toSet == physCols.toSet,
        s"stats manifest already tracks $cols; asked for $physCols"))
    physStats(spark, table, m, files, physCols)
  }

  /** The head version's manifest and its data files as canonical
    * qualified URIs: what every index build covers — never a directory
    * listing, so concurrent writers' staged orphans stay out, and a
    * shallow clone's or in-place convert's FOREIGN references index in
    * exactly like the table's own files.
    */
  private def headFiles(spark: SparkSession,
      table: String): (Manifest, Seq[String]) = {
    val m = manifestAt(spark, table, currentVersion(spark, table))
    (m, FileSkipping.canonical(spark, dataDir(table), m.files)._1)
  }

  /** The stats sidecar on physical columns `cols` over `files`. */
  private def physStats(spark: SparkSession, table: String, m: Manifest,
      files: Seq[String], cols: Seq[String]): Int =
    Layout.extendStatsSidecar(spark, dataDir(table).toString, cols, files,
      m.schema.map(physSchema(_, m.colmap)))(
      readColumns(spark, table, m, _, cols))

  /** Physical columns `cols` of data files `names` in version `m`'s
    * declared schema (a file written before a widening reads widened),
    * or in the footers' types on a legacy version without one.
    */
  private def readColumns(spark: SparkSession, table: String, m: Manifest,
      names: Seq[String], cols: Seq[String]): DataFrame = m.schema match {
    case Some(s) => readFileList(spark, table, names, types.StructType(
      physSchema(s, m.colmap).fields.filter(f => cols.contains(f.name))))
    case None => spark.read.parquet(names: _*)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Extend every file-skipping index `table` keeps — the stats sidecar
    * and each Bloom sidecar — over the head's uncovered files, dropping
    * the rows of files the head no longer lists: the maintenance leg
    * after a compaction replaced files or appends accreted new ones.
    * Returns the files newly covered by the stats sidecar, and by each
    * Bloom sidecar with its physical column. Nothing while the head
    * lists no file.
    */
  def extendIndexes(spark: SparkSession,
      table: String): (Int, Seq[(String, Int)]) = {
    val (m, files) = headFiles(spark, table)
    if (files.isEmpty) (0, Nil)
    else (Layout.statsManifestCols(spark, dataDir(table).toString)
        .fold(0)(physStats(spark, table, m, files, _)),
      bloomIndexedColumns(spark, table)
        .map(c => c -> physBloom(spark, table, m, files, c)))
  }

  /** Read a version of the table with the file list pre-pruned for a
    * box: each `(col, lo, hi)` is a `col >= lo AND col <= hi` pair for
    * [[FileSkipping]], so only files whose stats [min, max] range (and
    * partition dir) can intersect every side are opened —
    * `readPruned(...).filter(box)` ≡ `read(...).filter(box)`, with the
    * file skip decided driver-side before a single footer is touched.
    * Pruning composes with snapshot semantics ([[readSkipping]]): files
    * the stats don't cover yet are always read, and a pinned version
    * stays prunable after later commits. With no index it is the plain
    * versioned read.
    */
  def readPruned(spark: SparkSession, table: String,
      ranges: Seq[(String, Any, Any)],
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    readSkipping(spark, table, version, ranges.flatMap { case (c, lo, hi) =>
      Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi)) }) { (p, n) =>
      Layout.lastStatsPruned = if (p.statsRead) Some((p.kept.size, n)) else None
    }
  }

  /** A version read with its file list pruned by [[FileSkipping]] on
    * `filters`: the candidate set is the VERSION's file list (never a
    * directory listing, so orphans and other versions' files can't leak
    * in), and every read honors the version's DECLARED schema and its
    * deletion vectors, exactly like the plain read. `report` receives
    * the prune and the version's file count (the spec hooks). An empty
    * selection keeps the schema.
    */
  private def readSkipping(spark: SparkSession, table: String,
      version: Option[Long], filters: Seq[org.apache.spark.sql.sources.Filter])(
      report: (FileSkipping.Pruned, Int) => Unit): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, table))
    val m = manifestAt(spark, table, v)
    if (m.files.isEmpty) return emptyAt(spark, m)
    def rd(names: Seq[String]) = readLive(spark, table, m, names)
    val p = FileSkipping.prune(spark, dataDir(table), m.files, m.schema,
      filters, m.colmap, m.partitions)
    report(p, m.files.size)
    if (p.kept.isEmpty) rd(m.files).limit(0) else rd(p.kept)
  }

  // ------------------------------------------------------------------
  // Per-file Bloom file-skipping index (point lookups)
  // ------------------------------------------------------------------

  /** Spec hook: (files read, files total) of the last Bloom-pruned
    * read; None when no index covered the read (full scan).
    */
  @volatile var lastBloomPruned: Option[(Int, Int)] = None

  /** Columns with a per-file Bloom sidecar (one `listStatus` of the
    * data dir) — the maintenance policy's discovery hook.
    */
  def bloomIndexedColumns(spark: SparkSession, table: String): Seq[String] = {
    val dd = dataDir(table)
    val f = fs(spark, dd)
    if (!f.exists(dd)) Nil
    else f.listStatus(dd).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("_graft_bloom_"))
      .map(_.stripPrefix("_graft_bloom_")).toSeq.sorted
  }

  /** Incrementally extend the table's per-FILE Bloom index on `column`
    * — the Delta bloom-filter-index idea: min/max stats prune RANGE
    * reads but are useless for point lookups on a high-cardinality,
    * unclustered column (every file's [min,max] spans the key space);
    * a per-file Bloom of the column's hashed values lets the driver
    * skip files that certainly lack a probed key before a single
    * footer opens. One underscore-prefixed parquet sidecar per indexed
    * column (`data/_graft_bloom_<col>`), invisible to every data read.
    *
    * Incremental like [[extendStats]]: driven by the head version's
    * file list, scanning ONLY the column of the not-yet-covered files;
    * rows of files the head no longer lists drop (a pinned-version read
    * of those files falls back to "always read", the same staleness
    * contract as stats). Values hash through `xxhash64` of the column's
    * declared type, which each sidecar row records (`type`; NULL on a
    * table with no declared schema): a row hashed under another type (a
    * file indexed before ALTER widened the column, or by a build that
    * did not record it) counts as uncovered and re-indexes here. The
    * build is ONE distributed aggregation (Spark's own
    * BloomFilterAggregate, map-side partial like any agg), ~1.2 KB/file
    * per 1k expected items at fpp 0.01. Returns files newly indexed.
    */
  def extendBloom(spark: SparkSession, table: String, column: String,
      fpp: Double = 0.01, expectedItemsPerFile: Long = 100000L): Int = {
    require(fpp > 0 && fpp < 1, s"fpp $fpp out of (0, 1)")
    val (m, files) = headFiles(spark, table)
    require(files.nonEmpty, s"$table has no data files to index")
    physBloom(spark, table, m, files, physName(m.colmap, column), fpp,
      expectedItemsPerFile)
  }

  /** The Bloom sidecar on physical column `pc` over `files`. */
  private def physBloom(spark: SparkSession, table: String, m: Manifest,
      files: Seq[String], pc: String, fpp: Double = 0.01,
      expectedItemsPerFile: Long = 100000L): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, xxhash64}
    import org.apache.spark.sql.graft.ColumnBridge
    val bt = m.schema.map(s =>
      FileSkipping.bloomType(physSchema(s, m.colmap)(pc).dataType))
    // optimal bit count for the target fpp (standard Bloom sizing)
    val numBits = math.max(64L, math.ceil(
      -expectedItemsPerFile.toDouble * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong)
    val bloomAgg = ColumnBridge.column(new org.apache.spark.sql.catalyst
      .expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col(pc))),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItemsPerFile),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())
    Layout.buildSidecar(spark, FileSkipping.bloomDir(dataDir(table), pc),
      files, { s =>
        // rows hashed under another type than the declared one re-index
        val typed = s.fieldNames.contains("type")
        r => typed && Option(r.getAs[String]("type")) == bt
      }, Seq(bloomAgg.as("bloom"), count(lit(1)).as("rows"),
        lit(bt.orNull).cast("string").as("type")))(
      readColumns(spark, table, m, _, Seq(pc)))
  }

  /** Point-lookup read with the file list pre-pruned by the per-file
    * Bloom index: only files that MIGHT hold one of `keys` (plus files
    * the index does not cover yet) are opened —
    * `readPrunedByKeys(...).filter(col(c).isin(keys))` ≡
    * `read(...).filter(...)`, with the skip decided driver-side from
    * the sidecar (no false negatives by the Bloom contract; false
    * positives only cost an extra file read). Composes with snapshot
    * semantics exactly like [[readPruned]]: the candidate set is the
    * VERSION's file list, the declared schema applies, deletion
    * vectors filter, pinned versions stay prunable. The keys are an
    * `In` probe for [[FileSkipping]], so partition dirs and stats prune
    * too; each key hashes as a literal cast to the column's declared
    * type, exactly as the index build hashed the column.
    */
  def readPrunedByKeys(spark: SparkSession, table: String, column: String,
      keys: Seq[Any], version: Option[Long] = None): DataFrame =
    readSkipping(spark, table, version,
      Seq(org.apache.spark.sql.sources.In(column, keys.toArray))) { (p, n) =>
      lastBloomPruned = if (p.bloomRead) Some((p.kept.size, n)) else None
    }

  /** Spec hook: (files chosen, files total) of the last DSv2 catalog
    * scan that consulted the sidecar indexes during filter pushdown
    * (sources/SnapshotCatalog.scala); None when the last catalog scan
    * planned without pushed filters.
    */
  @volatile var lastCatalogPruned: Option[(Int, Int)] = None

  /** Spec hook: (files kept, files candidate) of the last RUNTIME
    * re-prune — a broadcast-side join-key set pushed into a catalog
    * scan at execution time (SupportsRuntimeV2Filtering). None until
    * one fires.
    */
  @volatile var lastRuntimePruned: Option[(Int, Int)] = None

  /** Spec hook: (files kept, files candidate) of the last catalog scan
    * whose file list was TRUNCATED by a pushed LIMIT — the stats
    * sidecar's per-file row counts prove a prefix of files already
    * holds `limit` rows, so the rest are never opened. None until one
    * fires.
    */
  @volatile var lastLimitPruned: Option[(Int, Int)] = None

  /** Spec hook: (files kept, files candidate) of the last catalog scan
    * pruned by a pushed ORDER BY ... LIMIT (TopN): files provably
    * outranked by `limit` rows from better-bounded files are skipped.
    * None until one fires.
    */
  @volatile var lastTopNPruned: Option[(Int, Int)] = None

  /** Logical columns on which driver-side file skipping can act for
    * `table`: the declared partition column plus every stats-manifested
    * and Bloom-indexed column (sidecars key PHYSICAL names; the names
    * returned are logical). What the DSv2 catalog scan advertises as
    * its runtime-filter attributes — a join keyed on any of these can
    * push its broadcast-side key set back into the file list.
    */
  def prunableColumns(spark: SparkSession, table: String,
      colmap: Map[String, String],
      partition: Seq[(String, String)]): Seq[String] = {
    val physToLogical = colmap.map(_.swap)
    val stats = Layout.statsManifestCols(spark, dataDir(table).toString)
      .getOrElse(Nil)
    val bloom = bloomIndexedColumns(spark, table)
    (partition.map(_._1) ++
      (stats ++ bloom).map(p => physToLogical.getOrElse(p, p))).distinct
  }

  /** Driver-side file skipping from PUSHED-DOWN source filters
    * ([[FileSkipping.prune]], the path every read, probe and DML takes),
    * for the DSv2 catalog scan (`SELECT ... FROM snap.t WHERE k = 42`,
    * sources/SnapshotCatalog.scala): the ScanBuilder hands the pushed
    * conjuncts here before Spark's parquet scan is constructed, and a
    * runtime filter its join-key set. `names` are the scanned VERSION's
    * manifest entries; returns the surviving subset, order preserved.
    * Sound by construction (an extra file may open, a matching row is
    * never dropped); Spark re-applies every pushed filter post-scan.
    */
  def pruneFilesByFilters(spark: SparkSession, table: String,
      names: Seq[String], schema: Option[types.StructType],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      colmap: Map[String, String] = Map.empty,
      partition: Seq[(String, String)] = Nil): Seq[String] =
    FileSkipping.prune(spark, dataDir(table), names, schema, filters, colmap,
      partition).kept

  // ------------------------------------------------------------------
  // Exactly-once streaming commits
  // ------------------------------------------------------------------

  /** Highest batch id this stream has committed — ONE head-manifest read
    * (every commit carries the head's stream marks forward, so the HEAD
    * manifest holds every stream's latest watermark and the lookup is
    * O(1) and immune to manifest vacuuming). Falls back to a downward
    * scan of the still-retained manifests for tables whose history
    * predates the carry-forward (legacy marks live only in the claiming
    * commit's manifest). None when the stream never committed within
    * retention.
    */
  def lastCommittedBatch(spark: SparkSession, table: String,
      streamId: String): Option[Long] = {
    val versions = retainedVersions(spark, table)
    versions.reverseIterator
      .map(v => manifestAt(spark, table, v).marks.get(streamId))
      .collectFirst { case Some(bid) => bid }
  }

  /** EXACTLY-ONCE streaming append: the foreachBatch sink body for a
    * snapshot table. Structured Streaming replays a micro-batch (same
    * `batchId`) after any restart whose checkpoint predates the sink's
    * side effect; this commit is idempotent under that replay because the
    * (streamId, batchId) watermark rides IN the manifest it claims —
    * state and data commit atomically, the classic transactional-sink
    * recipe. A replayed or raced batch (a zombie executor of the same
    * stream finishing late) detects `batchId <= lastCommittedBatch`,
    * deletes its orphaned staged files, and returns without committing.
    * `batchId` must be monotonic per stream (Structured Streaming's
    * contract). Returns (head version, whether THIS call committed).
    */
  def commitStreamAppend(spark: SparkSession, batch0: DataFrame,
      table: String, streamId: String, batchId: Long): (Long, Boolean) = {
    require(!streamId.contains("\n"), "streamId must be single-line")
    if (lastCommittedBatch(spark, table, streamId).exists(_ >= batchId))
      return (currentVersion(spark, table), false)
    val staged = stageBatch(spark, table, "stream append", batch0)
    transact(spark, table, "streamAppend", staged.paths) { m =>
      val schema = staged.revalidate(m)
      // a twin of this very batch won the race while we staged: our rows
      // are already in the table once — never land them twice
      if (committedBatch(spark, table, m, streamId).exists(_ >= batchId))
        Skip((m.version, false))
      else Claim(m.copy(schema = Some(schema),
        marks = m.marks + (streamId -> batchId),
        files = m.files ++ staged.files), Nil, v => (v, true))
    }
  }

  /** The stream's watermark at head `m` — the head-mark fast path, with
    * [[lastCommittedBatch]] covering legacy tables whose mark predates
    * the carry-forward.
    */
  private def committedBatch(spark: SparkSession, table: String,
      m: Manifest, streamId: String): Option[Long] =
    m.marks.get(streamId).orElse(lastCommittedBatch(spark, table, streamId))

  /** Staged parquet files read back as a LOGICAL batch: the writers
    * staged PHYSICAL names under `stagedColmap`.
    */
  private def readStaged(spark: SparkSession, table: String,
      staged: Seq[String], stagedColmap: Map[String, String]): DataFrame = {
    val read0 = spark.read.parquet(
      staged.map(n => new Path(dataDir(table), n).toString): _*)
    val physToLogical = stagedColmap.map(_.swap)
    if (physToLogical.isEmpty) read0
    else read0.withColumnsRenamed(physToLogical.filter {
      case (p, l) => p != l && read0.columns.contains(p)
    })
  }

  /** The claim half of the NATIVE streaming sink
    * (`writeStream.toTable("snap.t")`, sources/SnapshotStreamingWrite
    * .scala): executors already wrote `staged` parquet files (unique
    * names under `data/`, unreferenced — invisible to readers), and the
    * driver's epoch commit publishes them under the same
    * (streamId, batchId) watermark semantics as [[commitStreamAppend]]
    * — state and data in ONE atomic manifest claim, idempotent under
    * Structured Streaming's restart replay. Validation (schema
    * evolution, CHECK constraints, dropped-name ledger) runs by READING
    * THE STAGED FILES BACK — a distributed scan of only the new batch,
    * O(batch) at any table size; any refusal deletes the staged files
    * before surfacing.
    *
    * `stagedColmap` is the column mapping the WRITERS staged under
    * (fetched when the write was built): a rename that lands between
    * build and commit refuses — the staged files carry stale physical
    * names. Likewise `stagedPartition` (the raw `#partition:` header at
    * build): prefixed entries staged under a transform that changed in
    * between would have their dir values misinterpreted by every
    * pruner, so they refuse; FLAT entries are sound under any declared
    * transform (every pruner always reads them) and commit regardless.
    * DEFAULTed columns must be present in the staged schema — the data
    * is already on disk, so the sink cannot materialize defaults; a
    * missing defaulted column refuses loudly at commit.
    */
  def commitStagedStreamAppend(spark: SparkSession, table: String,
      staged: Seq[String], stagedColmap: Map[String, String],
      streamId: String, batchId: Long,
      stagedPartition: Option[String] = None): (Long, Boolean) = {
    require(!streamId.contains("\n"), "streamId must be single-line")
    if (staged.isEmpty) return (currentVersion(spark, table), false)
    lazy val batch = readStaged(spark, table, staged, stagedColmap)
    transact(spark, table, "streamAppend",
        staged.map(new Path(dataDir(table), _))) { m =>
      if (committedBatch(spark, table, m, streamId).exists(_ >= batchId))
        Skip((m.version, false)) // a twin won while we validated
      else {
        m.schema.foreach { s =>
          val missing = s.fields
            .filter(fl => fl.metadata.contains(CurrentDefaultKey) &&
              !batch.columns.contains(fl.name)).map(_.name)
          require(missing.isEmpty,
            s"stream batch omits DEFAULTed column(s) " +
              s"${missing.mkString(", ")} of $table — the native sink " +
              "cannot materialize defaults into already-written files; " +
              "select them explicitly (or sink via foreachBatch + " +
              "commitStreamAppend)")
        }
        refuseDroppedColumns(batch.schema, table, m)
        enforceChecks(batch, m.checks, table, m.schema)
        requireLayout(m, table, "stream append", Some(stagedColmap),
          stagedPartition, staged.exists(_.contains(PartPrefix)))
        Claim(m.copy(schema = Some(evolveSchema(m.schema, batch.schema)),
          marks = m.marks + (streamId -> batchId),
          files = m.files ++ staged), Nil, v => (v, true))
      }
    }
  }

  /** The vector commit of stock row-level SQL — `UPDATE`, `MERGE INTO`
    * and `DELETE` on a catalog identifier, through the catalog's
    * delta-based row-level seat (sources/SnapshotRowLevel.scala). The
    * executors already found the changed rows and staged their new
    * versions: `deadByUri` holds the positions of the rows the statement
    * deleted or replaced, by canonical file URI, as of the scan at
    * version `scannedAt`, and `staged` the new row versions (`data/`
    * entries written under `stagedColmap`, logical schema `rowSchema`).
    * The dead rows die like every other row-level commit's
    * ([[killRows]]: a cumulative vector, or a re-write past
    * [[DeletionVectors.MaxDeadFraction]]), every other file carries by
    * name, and one claim publishes, stamped with `op` (the SQL command).
    * CHECK constraints bind the staged rows; a racing RENAME or
    * partition-transform change refuses (stale physical names / dir
    * values).
    *
    * CONFLICTS refuse, never merge: if a touched entry is no longer
    * referenced at claim time (a concurrent re-write churned it) or its
    * deletion vector changed since the scan (a concurrent row-level
    * commit killed more of its rows, so the positions no longer describe
    * what the statement read), the staged files are reclaimed and a
    * ConcurrentModificationException surfaces. Racing APPENDS are fine:
    * their files are not touched.
    */
  private[graft] def commitRowDelta(spark: SparkSession, table: String,
      op: String, deadByUri: Map[String, org.roaringbitmap.RoaringBitmap],
      staged: Seq[String], rowSchema: types.StructType,
      stagedColmap: Map[String, String], stagedPartition: Option[String],
      scannedAt: Long): Long = {
    if (deadByUri.isEmpty && staged.isEmpty)
      return currentVersion(spark, table) // nothing matched
    val scan = manifestAt(spark, table, scannedAt)
    val dead = probedPositions(spark, table, scan.files, deadByUri)
    lazy val batch = readStaged(spark, table, staged, stagedColmap)
    transact(spark, table, op, staged.map(new Path(dataDir(table), _))) { m =>
      val gone = dead.keys.filterNot(m.files.toSet)
      val moved = dead.keys.filter(e => m.dvs.get(e) != scan.dvs.get(e))
      if (gone.nonEmpty || moved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"row-level $op on $table conflicts with a concurrent commit: " +
            s"of the ${dead.size} file(s) it changed, ${gone.size} left " +
            s"the head and ${moved.size} gained deletion vectors since " +
            "the scan — re-run the statement against the new snapshot")
      requireLayout(m, table, s"row-level $op", Some(stagedColmap),
        stagedPartition, staged.exists(_.contains(PartPrefix)))
      val schema =
        if (staged.isEmpty) m.schema
        else {
          refuseDroppedColumns(rowSchema, table, m)
          // only a CHECK reads the staged rows back
          if (m.checks.nonEmpty)
            enforceChecks(batch, m.checks, table, m.schema)
          Some(evolveSchema(m.schema, rowSchema))
        }
      val kill = killRows(spark, table, m, dead)
      val rewritten = kill.survivors
        .map(stageData(spark, _, table, m.colmap, m.partitions))
        .getOrElse(Nil)
      Claim(kill(m).copy(schema = schema,
          files = kill(m).files ++ staged ++ rewritten),
        rewritten.map(new Path(dataDir(table), _)) ++ kill.staged, identity)
    }
  }

  /** RESTORE: roll the table back to `toVersion`'s state as a NEW commit
    * — the time-travel undo (Delta's RESTORE TABLE). ZERO-COPY: the new
    * manifest re-references `toVersion`'s still-retained data files by
    * name; no bytes move, and a later vacuum keeps them because the head
    * references them. History is preserved (the bad commits stay
    * readable via time travel until vacuumed); the restore itself is one
    * more optimistic manifest claim, so racing writers serialize.
    *
    * Stream watermarks are CARRIED FROM THE HEAD, not rewound: a
    * restored table must not re-land stream batches it already
    * committed (exactly-once survives the undo); re-ingesting rolled-back
    * stream data is a new stream id's job. Throws when `toVersion` was
    * vacuumed away. Returns the new head version.
    */
  def commitRestore(spark: SparkSession, table: String,
      toVersion: Long): Long = {
    require(toVersion >= 1, s"cannot restore to v$toVersion")
    require(hasVersion(spark, table, toVersion),
      s"version $toVersion of $table is not retained (vacuumed)")
    val target = manifestAt(spark, table, toVersion)
    transact(spark, table, "restore") { m =>
      // marks AND constraints carry from the pre-restore head: the undo
      // rewinds DATA, not ingestion state or declared policy (restored
      // rows predating a constraint are an operator decision — commits
      // after the restore enforce as usual). The target's deletion
      // vectors and dropped-name ledger are DATA state, restored with its
      // files (a rollback past a delete resurrects; a pre-drop target
      // legitimately has the column back)
      if (m.version == toVersion) Skip(m.version) // already that state
      else claim(target.copy(marks = m.marks, checks = m.checks))
    }
  }

  /** SHALLOW CLONE: create `dst` as a ZERO-COPY snapshot of `src` at
    * `version` (default: head) — Delta's `CREATE TABLE ... SHALLOW
    * CLONE` semantics. The clone's v1 manifest references the source's
    * data files by FULLY-QUALIFIED URI; no data bytes move, so cloning
    * a 100 TB table is O(manifest) metadata work — the instant
    * dev/test/experiment fork a warehouse runs dozens of times a day
    * where a deep copy would be an hours-long job.
    *
    * Foreign references live as first-class file entries (any entry
    * containing `/` resolves as its own URI; bare names stay relative to
    * the table's `data/` dir — Hadoop's `Path(parent, child)` resolution
    * makes every existing read/probe/census site handle both forms).
    * Divergence stays local: the clone's DML kills rows of foreign files
    * by deletion vectors in the clone's own `_deletes/` dir (the
    * [[cowApply]] carry logic treats foreign names like any other),
    * appends land locally, and OPTIMIZE localizes everything it
    * rewrites. The clone's VACUUM can never delete source
    * bytes (it reconciles only its OWN `data/` listing), and a
    * clone-of-a-clone carries grandparent references verbatim.
    *
    * Carried state: declared schema, CHECK constraints, stream marks
    * (a stream switching its sink to the clone must not re-land batches
    * the source already committed — same rationale as [[commitRestore]])
    * and deletion vectors, re-written into one vector file of the
    * clone's keyed by its own entries, so the source's VACUUM can never
    * strand them. The documented shallow-clone hazard is the
    * same as Delta's: a VACUUM on the SOURCE that expires the cloned
    * version's files breaks the clone — deep-copy (CTAS) when the source
    * retention isn't under your control.
    */
  def cloneTable(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None): Long = {
    val srcV = version.getOrElse(currentVersion(spark, src))
    require(srcV >= 1, s"cannot clone $src: no committed version")
    require(hasVersion(spark, src, srcV),
      s"version $srcV of $src is not retained (vacuumed)")
    require(currentVersion(spark, dst) == 0,
      s"clone target $dst already exists (head v${currentVersion(spark, dst)})")
    require(new Path(src).toString != new Path(dst).toString,
      s"clone target equals source: $src")
    val source = manifestAt(spark, src, srcV)
    val f = fs(spark, dataDir(src))
    val refs = source.files.map { n =>
      // foreign = qualified URI or absolute path; a PARTITIONED relative
      // entry (`__gp=.../f.parquet`) is local and must qualify like a
      // bare name (two-arg Path resolves the subdir)
      if (n.contains(":/") || n.startsWith("/")) n
      else f.makeQualified(new Path(dataDir(src), n)).toString
    }
    // deletion vectors re-key to the clone's qualified entries in ONE
    // vector file of its own, so the source's vacuum can never strand them
    val vectors = DeletionVectors.of(spark, src, source.dvs, source.files)
    val ref = source.files.zip(refs).toMap
    val vf = if (vectors.isEmpty) None else Some(DeletionVectors.write(spark,
      dst, vectors.map { case (e, b) => ref(e) -> b }))
    transact(spark, dst, "clone",
        vf.map(new Path(DeletionVectors.dir(dst), _)).toSeq) { m =>
      require(m.version == 0, s"clone target $dst already has a v1 manifest")
      claim(source.copy(files = refs,
        dvs = vf.fold(Map.empty[String, String])(v =>
          vectors.keys.map(e => ref(e) -> v).toMap)))
    }
  }

  /** IN-PLACE conversion of an existing parquet directory into a
    * snapshot table — Delta's `CONVERT TO DELTA` verb, zero-copy: the
    * claimed v1 manifest references the directory's own files by
    * qualified URI (the same foreign-reference machinery as
    * [[cloneTable]]), so converting a 100 TB landing area is O(files)
    * driver-side metadata — one listing, one manifest write, no data
    * reads beyond a footer sample for the declared schema.
    *
    * The table root IS the directory: manifests land in
    * `<dir>/_manifests`, later appends/rewrites stage into
    * `<dir>/data/`, and the protocol surface (time travel, DML,
    * OPTIMIZE, streaming, catalog reads) applies from the first commit.
    * The imported files stay under the CALLER's ownership: VACUUM
    * reconciles only the table's own `data/` dir, so it never deletes
    * them even after an OPTIMIZE stops referencing them — reclaiming
    * the originals after a full rewrite is the operator's explicit
    * decision, exactly like the shallow-clone contract. Refuses when
    * the directory already has a manifest log (idempotence belongs to
    * the caller: a re-run must not silently fork history). Returns
    * (version 1, files referenced).
    */
  def convertToSnapshot(spark: SparkSession, dir: String): (Long, Int) = {
    val d = new Path(dir)
    val f = fs(spark, d)
    require(f.exists(d), s"CONVERT TO SNAPSHOT: $dir does not exist")
    require(currentVersion(spark, dir) == 0,
      s"$dir is already a snapshot table " +
        s"(head v${currentVersion(spark, dir)})")
    val files = f.listStatus(d).filter(_.isFile)
      .map(s => f.makeQualified(s.getPath).toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    require(files.nonEmpty, s"CONVERT TO SNAPSHOT: no .parquet files in $dir")
    val schema = spark.read.parquet(dir).schema
    transact(spark, dir, "convert") { m =>
      require(m.version == 0, s"$dir claimed a v1 manifest concurrently")
      Claim(Manifest(schema = Some(schema), files = files), Nil,
        v => (v, files.size))
    }
  }

  /** Idempotent bulk file loading — `COPY INTO` (the Delta/Snowflake
    * ingest verb): load every data file under `srcDir` that this table
    * has NOT already loaded, as ONE commit. Idempotence state is a
    * LOAD MARK per source file (`copy:<qualified-uri>` in the manifest's
    * mark ledger, the same atomically-carried channel as stream
    * watermarks — state and data commit in one claim, so a crashed or
    * re-run COPY INTO never double-loads). Re-running against an
    * unchanged directory is a metadata-only no-op; dropping new files in
    * and re-running loads ONLY the new files — the poor-man's ingest
    * loop (`cron` + object-store landing dir) a warehouse runs where a
    * full streaming pipeline is overkill. `force=true` reloads every
    * listed file regardless of marks (Delta's `FORCE = true`).
    *
    * The listing is one driver-side `listStatus` (O(landing-dir files),
    * no data reads for the decision); loaded bytes are read through the
    * normal staging path so schema evolution, CHECK constraints and the
    * dropped-name ledger apply exactly as for any append. Returns
    * (committed version, files loaded, rows loaded) — version is the
    * unchanged head when nothing was new.
    */
  def commitCopyInto(spark: SparkSession, table: String, srcDir: String,
      format: String = "parquet", force: Boolean = false): (Long, Int, Long) = {
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    require(fmt == "parquet" || fmt == "csv",
      s"COPY INTO supports FILEFORMAT parquet|csv, got $format")
    val sd = new Path(srcDir)
    val sf = fs(spark, sd)
    require(sf.exists(sd), s"COPY INTO source $srcDir does not exist")
    val ext = "." + fmt
    val listed = sf.listStatus(sd).filter(_.isFile)
      .map(s => sf.makeQualified(s.getPath).toString)
      .filter(_.endsWith(ext)).sorted.toSeq
    def markOf(uri: String) = s"copy:$uri"
    def pending(marks: Map[String, Long]): Seq[String] =
      if (force) listed else listed.filterNot(u => marks.contains(markOf(u)))
    val head0 = headOf(spark, table)
    val todo0 = pending(head0.marks)
    if (todo0.isEmpty) return (head0.version, 0, 0L)
    val base = fmt match {
      case "parquet" => spark.read.parquet(todo0: _*)
      case _ => spark.read.option("header", "true")
        .option("inferSchema", "true").csv(todo0: _*)
    }
    // up-cast shared columns whose LANDED type is narrower than the
    // declared one (CSV inference reads 20 as int into a long column; a
    // narrow parquet drop is the same case) — the batch lands in the
    // declared type, and every OTHER mismatch still refuses in the
    // commit loop's evolveSchema (COPY INTO is an append, not a
    // schema-change side door). New columns pass through and evolve.
    val src = head0.schema match {
      case Some(s) =>
        base.select(base.columns.toIndexedSeq.map { c =>
          s.fields.find(_.name == c) match {
            case Some(fld) if base.schema(c).dataType != fld.dataType &&
                widens(base.schema(c).dataType, fld.dataType) =>
              org.apache.spark.sql.functions.col(c).cast(fld.dataType).as(c)
            case _ => org.apache.spark.sql.functions.col(c)
          }
        }: _*)
      case _ => base
    }
    val staged = stageBatch(spark, table, "COPY INTO", src)
    val rows = src.count()
    transact(spark, table, "copyInto", staged.paths) { m =>
      // a racing COPY INTO of the same landing dir won while we staged:
      // if it loaded ANY of our files, re-landing this batch would
      // double-load those — drop the staged files and let the caller
      // re-run (the next run loads only what is still unmarked)
      if (!force && pending(m.marks) != todo0) {
        require(pending(m.marks).isEmpty,
          s"COPY INTO $table raced a concurrent load of $srcDir — " +
            "re-run to load the remaining files")
        Skip((m.version, 0, 0L))
      } else {
        val schema = staged.revalidate(m)
        val loadMarks = todo0.map(u => markOf(u) ->
          sf.getFileStatus(new Path(u)).getLen).toMap
        Claim(m.copy(schema = Some(schema), marks = m.marks ++ loadMarks,
          files = m.files ++ staged.files), Nil, v => (v, todo0.size, rows))
      }
    }
  }

  /** EXACTLY-ONCE replica maintenance: catch snapshot table `dst` up to
    * `src`'s current head in ONE sync, choosing the cheapest correct
    * transport per window — the cross-region / dev-mirror loop a 100 TB
    * warehouse runs on its change feed instead of re-copying tables:
    *
    *   - `append`  — the window only added rows ([[appendOnly]]): ship
    *     ONLY the added files' rows ([[incrementalRead]], IO ∝ delta) as
    *     a stream append;
    *   - `feed`    — the window rewrote files or killed rows
    *     (delete/merge/OPTIMIZE landed): apply the row-exact change feed
    *     ([[rowDiff]], IO ∝ churn on the source side) to the replica's
    *     own head via the row-level CDC merge ([[cowApply]]) — the
    *     changed keys' REPLICA rows die by vector and only the changes
    *     stage, every replica file carries by name, so destination IO
    *     tracks churn too (never replica size), and the replica's own
    *     deletes of keys the feed does not touch stay deleted;
    *   - `rebuild` — the replica lagged past the source's vacuum
    *     retention (its cursor's manifest is gone): one full re-mirror
    *     of the source head, then incremental syncs resume;
    *   - `noop`    — already caught up.
    *
    * The cursor is the source-head version, persisted as a STREAM MARK in
    * the replica's own manifest (streamId `replica:<src>`) — state and
    * data commit in one atomic claim, so a crashed or replayed sync
    * detects `srcHead <= mark` and returns without committing
    * (exactly-once, the same contract as [[commitStreamAppend]]). Feed
    * and rebuild syncs are computed against the replica's head and
    * recompute on a lost claim, like [[commitMerge]]. `keys` must be
    * unique per version (the rowDiff contract). Returns
    * (fromVersion, syncedThroughVersion, mode).
    */
  def syncReplica(spark: SparkSession, src: String, dst: String,
      keys: Seq[String]): (Long, Long, String) = {
    import org.apache.spark.sql.functions._
    val sid = s"replica:${new Path(src).toString}"
    val srcHead = currentVersion(spark, src)
    val from = lastCommittedBatch(spark, dst, sid).getOrElse(0L)
    if (srcHead <= from) return (from, srcHead, "noop")
    val precise = hasVersion(spark, src, from)
    if (precise && appendOnly(spark, src, from, srcHead)) {
      commitStreamAppend(spark, incrementalRead(spark, src, from, srcHead),
        dst, sid, srcHead)
      return (from, srcHead, "append")
    }
    val mode = if (precise) "feed" else "rebuild"
    transact(spark, dst, "replicaSync") { m =>
      if (committedBatch(spark, dst, m, sid).exists(_ >= srcHead))
        Skip((from, srcHead, "noop"))
      else {
        val marks = m.marks + (sid -> srcHead)
        val srcSchema = read(spark, src, Some(srcHead)).schema
        val (next, staged) =
          if (!precise || m.version == 0 || m.files.isEmpty) {
            // rebuild: one full re-mirror of the source head (the
            // replica lagged past retention, or is empty) — O(src) by
            // definition; the new files carry no vectors, ledger or
            // colmap
            val state = read(spark, src, Some(srcHead))
            val files = stageData(spark, state, dst, Map.empty, m.partitions)
            (m.copy(schema = Some(state.schema), files = files,
              dropped = Nil, colmap = Map.empty),
              files.map(new Path(dataDir(dst), _)))
          } else {
            // replica state evolves to the union of its own schema and
            // the source's (an evolution step's feed carries the new
            // columns); the feed applies as a file-granular CDC merge
            // against the replica's OWN files — staged bytes ∝ churn,
            // not replica size
            val schema = evolveSchema(m.schema, srcSchema)
            val changes = rowDiff(spark, src, from, srcHead, keys)
              .filter(col("change_type") =!= "update_preimage")
              .withColumn("_deleted", col("change_type") === "delete")
              .drop("change_type")
            cowApply(spark, dst, m, schema,
              conform(changes, types.StructType(schema.fields :+
                types.StructField("_deleted", types.BooleanType, false))),
              keys, deleteCol = Some("_deleted"))
          }
        Claim(next.copy(marks = marks), staged, _ => (from, srcHead, mode))
      }
    }
  }

  /** Delete data files referenced by NO manifest ≤ the current head and
    * manifests older than `keepVersions` (retention). Returns deleted
    * file names.
    *
    * `minAgeMs` guards the staging race: a concurrent committer's files
    * sit in `data/` unreferenced between [[stageData]] and its manifest
    * claim, so an automated vacuum must skip young files (the same
    * reason Delta's VACUUM has a retention-hours floor). 0 (the default)
    * reclaims immediately — correct only when no commit is in flight.
    */
  def vacuum(spark: SparkSession, table: String,
      keepVersions: Int = 2, minAgeMs: Long = 0L): Seq[String] =
    vacuumImpl(spark, table, keepVersions, minAgeMs, dryRun = false)

  /** `VACUUM ... DRY RUN`: the exact file names [[vacuum]] would delete
    * under the same retention arguments, with NOTHING touched — no data
    * deletes, no manifest expiry, no checkpoint backfill, no cache
    * eviction. The audit step an operator runs before an irreversible
    * physical erasure. Metadata-only (directory listings + retained
    * manifest reads).
    */
  def vacuumDryRun(spark: SparkSession, table: String,
      keepVersions: Int = 2, minAgeMs: Long = 0L): Seq[String] =
    vacuumImpl(spark, table, keepVersions, minAgeMs, dryRun = true)

  private def vacuumImpl(spark: SparkSession, table: String,
      keepVersions: Int, minAgeMs: Long, dryRun: Boolean): Seq[String] = {
    val versions = retainedVersions(spark, table)
    val head = versions.lastOption.getOrElse(0L)
    // an earlier vacuum with a shorter retention may already have
    // expired versions this one would keep: the floor is never below
    // the oldest version still retained
    val keepFrom = math.max(math.max(1L, head - keepVersions + 1),
      versions.headOption.getOrElse(1L))
    val kept = (keepFrom to head).map(manifestAt(spark, table, _))
    val referenced = kept.flatMap(_.files).toSet
    val dd = dataDir(table)
    val f = fs(spark, dd)
    if (!f.exists(dd)) return Nil
    val now = System.currentTimeMillis()
    val deleted = dataFileCensus(f, dd)
      .filter { case (_, rel, st) =>
        now - st.getModificationTime >= minAgeMs && !referenced.contains(rel)
      }
      .map { case (p, rel, _) => if (!dryRun) f.delete(p, false); rel }
    // deletion-vector files age out exactly like data files: unreferenced
    // by any retained manifest (folded by a re-write, or their version
    // expired)
    val dvDir = DeletionVectors.dir(table)
    val liveVectors = kept.flatMap(_.dvs.values).toSet
    val vectorsDeleted =
      if (!f.exists(dvDir)) Nil
      else f.listStatus(dvDir).toSeq.filter(_.isFile)
        .filter(s => now - s.getModificationTime >= minAgeMs)
        .map(_.getPath).filterNot(p => liveVectors.contains(p.getName))
        .map { p => if (!dryRun) f.delete(p, false); p.getName }
    if (dryRun) return deleted ++ vectorsDeleted
    // the new retention floor must stay resolvable after its delta-chain
    // bases vanish: when keepFrom's physical manifest is delta-encoded
    // and no checkpoint exists yet, write one (idempotent content — the
    // resolved canonical manifest) BEFORE deleting anything below it
    if (keepFrom > 1 && head >= keepFrom) {
      val mdir = Manifest.dir(table)
      val mf = fs(spark, mdir)
      if (!mf.exists(Manifest.checkpointPath(table, keepFrom)) &&
          Manifest.isDelta(mf, table, keepFrom))
        writeAtomic(mf, mdir, Manifest.checkpointPath(table, keepFrom),
          kept.head.render)
    }
    val tableKey = new Path(table).toString
    (1L until keepFrom).foreach { v =>
      f.delete(Manifest.path(table, v), false)
      f.delete(Manifest.checkpointPath(table, v), false)
      // expired versions must READ as expired: drop their cached
      // resolutions, or filesAt/time-travel would serve vacuumed state
      resolvedManifests.remove((tableKey, v))
    }
    deleted ++ vectorsDeleted
  }
}
