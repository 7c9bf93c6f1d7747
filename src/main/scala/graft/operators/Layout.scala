package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-layout control — at 100 TB the dominant query cost is how much
  * data a scan must touch, and layout is the lever: files carry min/max
  * column statistics (parquet footers, table-format manifests), so
  * co-locating rows that filters select together lets engines skip
  * whole files/row-groups.
  *
  *   - linear sort: perfect skipping on ONE leading column, none on the
  *     others (the classic clustered-index limitation);
  *   - Z-ORDER (Morton curve): interleaves the bits of several columns'
  *     normalized ranks, so value-space proximity in EVERY dimension maps
  *     to key proximity — multi-dimensional predicates touch a small,
  *     contiguous band of files.
  *
  * The curve math follows the classic Morton construction; the same
  * layout idea ships in Delta/Iceberg `OPTIMIZE ZORDER BY`.
  */
object Layout {

  /** 32-bit Morton key: interleaves the low 16 bits of `x` and `y`
    * (x in even positions, y in odd). Pure codegen'd bit arithmetic.
    */
  def mortonKey(x: Column, y: Column): Column =
    mortonKeyN(Seq(x, y))

  /** k-dimensional Morton key (2 ≤ k ≤ 6): dimension `i`'s bit `j` lands
    * at interleaved position `j*k + i`. Bits per dimension shrink as k
    * grows (min(16, 62/k)) so the key stays a positive Long — rank
    * resolution per dimension falls, which is the real Z-ORDER trade-off
    * at high k (each extra clustered column dilutes the others' locality;
    * the same reason Delta docs advise few ZORDER columns).
    */
  def mortonKeyN(ranks: Seq[Column]): Column = {
    val k = ranks.size
    require(k >= 2 && k <= 6, s"z-order needs 2..6 columns, got $k")
    val bits = math.min(16, 62 / k)
    val drop = 16 - bits // ranks are 16-bit; keep the HIGH bits
    ranks.zipWithIndex.flatMap { case (r, i) =>
      (0 until bits).map { j =>
        shiftright(r, j + drop).bitwiseAND(1).cast("long") *
          (1L << (j * k + i))
      }
    }.reduce(_ + _)
  }

  /** Normalize a numeric column to a 16-bit rank bucket given its
    * [min, max] range (driver-computed, 2 values per column).
    */
  private def to16bit(c: Column, lo: Double, hi: Double): Column =
    if (hi <= lo) lit(0)
    else least(lit(65535),
      floor((c.cast("double") - lo) / (hi - lo) * 65536).cast("int"))

  /** Write `df` z-ordered on two numeric columns into `numFiles` files:
    * rows close in BOTH dimensions land in the same or adjacent files,
    * so box predicates touch few files (see LayoutSpec for the measured
    * locality win vs a linear sort). Range-partitioned on the Morton key
    * → files tile the curve contiguously.
    */
  def zorderWrite(df: DataFrame, colX: String, colY: String,
      path: String, numFiles: Int): Unit =
    zorderFrame(df, colX, colY, numFiles)
      .write.mode("overwrite").parquet(path)

  /** The z-ordered frame itself (range-partitioned on the Morton key,
    * curve-sorted within partitions, one output file per partition) —
    * for writers that own their commit path, e.g. the snapshot
    * protocol's OPTIMIZE staging its rewrite before claiming a manifest.
    */
  def zorderFrame(df: DataFrame, colX: String, colY: String,
      numFiles: Int): DataFrame =
    zorderFrameN(df, Seq(colX, colY), numFiles)

  /** k-column z-order (1..6 columns, ANY orderable type): numeric
    * columns rank by exact [min, max] normalization (ONE driver-side agg,
    * 2k values); string/date/timestamp columns rank by sampled range
    * boundaries ([[boundaryRank]] — the range-partition-id idea Delta's
    * ZORDER uses, here as a deterministic hash-sample + an `aggregate`
    * HOF counting boundaries ≤ value). The interleaved Morton key drives
    * the same range-partition + in-partition sort; ONE column degenerates
    * to a plain range-cluster (a 1-d Morton curve IS a sort).
    */
  def zorderFrameN(df: DataFrame, cols: Seq[String],
      numFiles: Int): DataFrame = {
    // ONE combined agg serves every numeric column's [min, max] (2k
    // values in one driver action): on a manifest-pinned or
    // vector-filtered input, per-column aggs would re-execute the
    // whole upstream read k times
    val numeric = cols.filter(c =>
      df.schema(c).dataType.isInstanceOf[NumericType])
    val ranges: Map[String, (Double, Double)] =
      if (numeric.isEmpty) Map.empty
      else {
        val aggs = numeric.flatMap(c => Seq(
          min(col(c)).cast("double"), max(col(c)).cast("double")))
        val r = df.agg(aggs.head, aggs.tail: _*).head
        numeric.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(2 * i)) (0.0, 0.0) // all-NULL column
                else (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
        }.toMap
      }
    // 16-bit rank: exact-range normalization for numerics, sampled
    // boundaries for everything else; NULLs rank 0 (curve origin)
    def rank(c: String): Column = ranges.get(c) match {
      case Some((lo, hi)) => to16bit(col(c), lo, hi)
      case None => boundaryRank(df, c)
    }
    val key =
      if (cols.size == 1) rank(cols.head)
      else mortonKeyN(cols.map(rank))
    df.withColumn("__z", key)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Max boundaries per non-numeric z-order column: rank resolution 256
    * per dimension — plenty for FILE-level clustering (a table has far
    * fewer files than 256 per dimension), and it bounds the per-row
    * rank cost (one `aggregate` pass over ≤255 literals).
    */
  private val boundaryCap = 255

  /** Unsigned-byte lexicographic order of the UTF-8 encoding — how Spark
    * compares strings internally (UTF8String binary order). JVM String
    * ordering compares UTF-16 code units and disagrees above the BMP.
    */
  private object Utf8Ordering extends Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
  }

  /** Sampled-boundary rank for non-numeric orderable columns: collect a
    * bounded, DETERMINISTIC sample of the column's distinct domain —
    * the distinct values ordered by (xxhash64, value) with the first
    * `cap·8` taken, one TakeOrdered pass (a per-partition heap of ~2k
    * entries, no RNG, no LIMIT nondeterminism, same survivors on every
    * run at any cardinality) — keep ≤ [[boundaryCap]] evenly-spaced
    * sorted boundaries, and rank each row by how many boundaries it is ≥
    * (an `aggregate` HOF — pure Catalyst, no UDF). Domain-weighted
    * rather than frequency-weighted: heavy skew concentrates rows in one
    * rank bucket, which costs locality, never correctness. Boundaries
    * sort under UTF-8 BINARY order — the order Spark's own string
    * comparison uses — so `>=` in the rank expression agrees with the
    * boundary order even for supplementary characters, where JVM UTF-16
    * string order diverges.
    */
  private[graft] def boundaryRank(df: DataFrame, c: String): Column = {
    val probeCap = boundaryCap * 8 + 1
    val sample = df.select(col(c)).na.drop().distinct()
      .orderBy(xxhash64(col(c)), col(c)).limit(probeCap).collect()
    val bounds = sample.map(_.get(0)).sortBy(_.toString)(Utf8Ordering)
    val kept =
      if (bounds.length <= boundaryCap) bounds.toSeq
      else (1 to boundaryCap).map(i => bounds((i * bounds.length) / (boundaryCap + 1)))
    if (kept.isEmpty) lit(0)
    else {
      val scale = 65536.0 / (kept.length + 1)
      val arr = array(kept.map(lit): _*)
      val rank = aggregate(arr, lit(0),
        (acc, b) => acc + when(col(c) >= b, 1).otherwise(0))
      when(col(c).isNull, 0)
        .otherwise(least(lit(65535), floor(rank * scale).cast("int")))
    }
  }

  /** Linear-sorted comparison layout (single-dimension clustering). */
  def linearWrite(df: DataFrame, sortCol: String, path: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Distinct data files containing rows matching `predicate` — the
    * locality metric (at scale, with column stats, untouched files are
    * skipped outright).
    */
  def filesTouched(spark: SparkSession, path: String,
      predicate: Column): Long =
    spark.read.parquet(path).filter(predicate)
      .select(input_file_name()).distinct().count()

  // ------------------------------------------------------- stats skipping

  val statsDir = "_graft_stats"

  /** Canonical URI spelling of a RAW path string — input_file_name() and
    * DataFrame.inputFiles render the same file differently (file:/// vs
    * file:/). For raw spellings (manifest entries qualified through
    * Path) this is the identity up to scheme normalization.
    */
  private[graft] def canonFile(s: String): String =
    new Path(s).toString

  /** Canonical spelling of a URI-ENCODED file string. input_file_name(),
    * DataFrame.inputFiles and the sidecar manifests' persisted `file`
    * columns all render percent-ENCODED URIs — a literal '%' in a path
    * (e.g. an escaped partition dir `__gp=t%3A1`) arrives as "%25".
    * One strict decode lands on the spelling [[canonFile]] gives the
    * raw path; the two only diverge on URI-special chars, which is
    * exactly when mixing them up mis-keys a sidecar row or maps a
    * probed file back to no manifest entry (a delete/merge would
    * silently no-op). Strings that don't parse as URIs fall back raw.
    */
  private[graft] def canonUri(s: String): String =
    try new Path(new java.net.URI(s)).toString
    catch { case _: Exception => canonFile(s) }

  /** The per-file aggregate columns of a stats sidecar (one builder,
    * shared by write and incremental append so the layouts can never
    * diverge): the file's row count, then per column its NULL count and
    * [min, max] in the column's own type — exact and zone-free (a
    * timestamp bound is an instant, a decimal keeps its scale), ordered
    * by Spark's own min/max. The counts let COUNT(*)/COUNT(col) answer
    * from the sidecar, and the ORDER BY pruner needs exact non-null
    * cardinalities (nulls sort to one end). Sidecars from before the
    * counts leave them NULL, and every consumer refuses then.
    */
  private def statsAggs(cols: Seq[String]): Seq[Column] =
    count(lit(1L)).as("__count") +: cols.flatMap(c => Seq(
      min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
      (count(lit(1L)) - count(col(c))).as(s"${c}__nulls")))

  private def statsSupported(t: DataType): Boolean = t match {
    case _: NumericType | StringType | DateType | TimestampType => true
    case _ => false
  }

  /** Stats columns the sidecar at `path` tracks (from its schema), None
    * when the table has none — how maintenance extends a sidecar
    * without being told its columns. Read through [[sidecarRows]], so
    * the build that usually follows reuses the rows.
    */
  def statsManifestCols(spark: SparkSession,
      path: String): Option[Seq[String]] =
    sidecarRows(spark, new Path(path, statsDir)).map(s => trackedCols(s._1))

  private def trackedCols(sidecar: StructType): Seq[String] =
    sidecar.fieldNames.toSeq.collect {
      case n if n.endsWith("__min") => n.stripSuffix("__min") }

  /** The columns of a sidecar whose bounds are sound for `schema` (each
    * column's type by physical name; None: the sidecar's own types
    * stand), each with that type: the bounds' type must up-cast to it,
    * as a file written before a widening does. The double and string
    * encodings of older sidecars do not, so those columns drop out.
    */
  private def trackedTypes(sidecar: StructType,
      schema: Option[StructType]): Map[String, DataType] =
    trackedCols(sidecar).flatMap { c =>
      val from = sidecar(s"${c}__min").dataType
      val to = schema.flatMap(_.find(_.name == c)).fold(from)(_.dataType)
      if (Cast.canUpCast(from, to)) Some(c -> to) else None
    }.toMap

  /** Per-FILE column min/max manifest — the table-format stats idea
    * (Delta add-file stats, Iceberg manifest ranges) without adopting
    * the format: one scan collects (file, min, max) per stats column
    * into a `_graft_stats` sidecar (underscore → invisible to data
    * readers), so a range query prunes the FILE LIST driver-side before
    * Spark opens a single footer. Parquet row-group skipping still needs
    * every footer read and a task per file; at 100 TB with millions of
    * files, manifest-level pruning is what keeps listing + planning
    * cost proportional to the data actually selected. Z-order writes
    * ([[zorderWrite]]) make the per-file ranges tight in BOTH
    * dimensions, which is exactly what makes this pruning bite. A
    * sidecar that already tracks `statsCols` soundly keeps its rows for
    * files still present.
    */
  def writeStatsManifest(spark: SparkSession, path: String,
      statsCols: Seq[String], files: Option[Seq[String]] = None): Unit = {
    require(statsCols.nonEmpty)
    require(files.forall(_.nonEmpty), "explicit file list must be non-empty")
    tableStats(spark, path, statsCols, files, None)
  }

  /** Incrementally extend the stats manifest to the data files it does
    * not cover yet — the steady-state maintenance of a table under
    * streaming accretion: appended files are readable immediately (the
    * pruned reader always includes unmanifested files) but unprunable
    * until this runs, and it scans ONLY the missing files, never the
    * table. A manifest a column's bounds are unsound in ([[trackedTypes]]
    * against `schema`, by default the table's) is rewritten whole.
    * Returns how many files were added.
    */
  def appendStatsManifest(spark: SparkSession, path: String,
      files: Option[Seq[String]] = None,
      schema: Option[StructType] = None): Int =
    statsManifestCols(spark, path).fold(0)(
      tableStats(spark, path, _, files, schema))

  /** The stats sidecar of the parquet table at `path` over its live
    * files — `files` (raw paths; a clone's foreign refs among them) or
    * else the directory's — read straight from their footers; bounds
    * are sound for `schema`, by default the table's (None for an
    * explicit list: the sidecar's own types stand).
    */
  private def tableStats(spark: SparkSession, path: String,
      cols: Seq[String], files: Option[Seq[String]],
      schema: Option[StructType]): Int = {
    lazy val table = spark.read.parquet(path)
    val live = files.map(_.map(canonFile))
      .getOrElse(table.inputFiles.map(canonUri).toSeq)
    extendStatsSidecar(spark, path, cols, live, schema.orElse(
        files.fold[Option[StructType]](Some(table.schema))(_ => None))) {
      // no basePath for explicit lists: a clone's foreign refs share no
      // base with the table's own data dir
      case missing if files.isDefined => spark.read.parquet(missing: _*)
      case missing if missing.size == live.size => table
      case missing => spark.read.option("basePath", path).parquet(missing: _*)
    }
  }

  /** The stats caller of [[buildSidecar]]: the `_graft_stats` sidecar
    * under `path` made to cover the `live` files (canonical URIs) on
    * `cols`, the uncovered ones framed by `read`. Rows stay only while
    * the sidecar tracks exactly `cols` with bounds sound for `types`
    * ([[trackedTypes]]); otherwise every row drops and the sidecar is
    * built anew. Returns how many files were added.
    */
  private[graft] def extendStatsSidecar(spark: SparkSession, path: String,
      cols: Seq[String], live: Seq[String], types: => Option[StructType])(
      read: Seq[String] => DataFrame): Int =
    buildSidecar(spark, new Path(path, statsDir), live, { s =>
      val sound = trackedTypes(s, types).keySet == cols.toSet
      _ => sound
    }, statsAggs(cols)) { missing =>
      val df = read(missing)
      // orderable types only: a boolean/binary/array column has no
      // useful file range, and an all-NULL or meaningless row would mean
      // "prunes nothing" at best — reject loudly instead
      cols.foreach { c =>
        val t = df.schema(c).dataType
        require(statsSupported(t),
          s"stats column $c is ${t.simpleString}; per-file min/max stats " +
            "require a numeric, string, date or timestamp column")
      }
      df
    }

  // (sidecar dir → (fingerprint, schema, uri → row)): ONE collect of a
  // file-skipping sidecar (`_graft_stats`, a `_graft_bloom_<col>`)
  // serves every planning consumer of a scan and every commit attempt —
  // file skipping, limit truncation, topN prune, metadata aggregates and
  // row-count stats each probe the same rows; re-collecting per probe
  // would multiply driver planning IO. Fingerprint = the sidecar files'
  // (name, len, mtime), so any rewrite/append invalidates; bounded,
  // cleared wholesale past the cap (correctness never depends on a hit).
  private val sidecarCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, StructType, Map[String, Row])]

  /** One listing of sidecar dir `p`: its fingerprint, the files'
    * (name, length, mtime), and its parquet parts — not `_SUCCESS` or a
    * dot file, so a read of them logs no "All paths were ignored". None
    * when there is no sidecar.
    */
  private def listSidecar(spark: SparkSession,
      p: Path): Option[(String, Seq[String])] =
    try {
      val sts = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).filter(_.isFile).toSeq
      Some((sts.map(st => s"${st.getPath.getName}:${st.getLen}:" +
          s"${st.getModificationTime}").sorted.mkString(";"),
        sts.map(_.getPath).filterNot(f => f.getName.startsWith("_") ||
          f.getName.startsWith(".")).map(_.toString)))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Spec hook: drop the cached rows of sidecar dir `p`, so the next
    * read of it is a cold one (as in a JVM that never saw it).
    */
  private[graft] def forgetSidecar(p: Path): Unit =
    sidecarCache.remove(p.toString)

  /** Cache `rows` as the content of sidecar dir `p` at fingerprint `fp`. */
  private def cacheSidecar(p: Path, fp: String, s: StructType,
      rows: Seq[Row]): (StructType, Map[String, Row]) = {
    val m = rows.map(r => canonUri(r.getAs[String]("file")) -> r).toMap
    if (sidecarCache.size > 256) sidecarCache.clear()
    sidecarCache.put(p.toString, (fp, s, m))
    (s, m)
  }

  /** The whole sidecar at dir `p`: its schema and one row per covered
    * file, keyed by canonical `input_file_name()` URI (its `file`
    * column). One listing of the dir per call; the parquet read of its
    * parts and the collect (two Spark jobs) run only when the sidecar
    * changed since the last call. None when there is no sidecar.
    */
  private[graft] def sidecarRows(spark: SparkSession,
      p: Path): Option[(StructType, Map[String, Row])] =
    listSidecar(spark, p).map { case (fp, parts) =>
      sidecarCache.get(p.toString) match {
        case Some((`fp`, s, m)) => (s, m)
        case _ =>
          val sidecar = spark.read.parquet(parts: _*)
          cacheSidecar(p, fp, sidecar.schema, sidecar.collect().toSeq)
      }
    }

  /** The one builder of a per-file index sidecar (`_graft_stats`, a
    * `_graft_bloom_<col>`): it builds, extends and expires the sidecar
    * at dir `p` so it holds a row for each file of `live` (canonical
    * URIs) that has a row. Existing rows come from [[sidecarRows]]; a
    * row stays while its file is live and `current` (given the
    * sidecar's schema) accepts it. Only the live files no kept row
    * covers are read, as `read` frames them, and aggregated per
    * `input_file_name()` (the `file` column) by `aggs`; kept rows from
    * before a column widened widen with the union. The sidecar is
    * rewritten — one file, and the cache then holds the rows written,
    * so the next read or build runs no Spark job — only when a row was
    * added or dropped. Returns the number of rows added.
    */
  private[graft] def buildSidecar(spark: SparkSession, p: Path,
      live: Seq[String], current: StructType => Row => Boolean,
      aggs: Seq[Column])(read: Seq[String] => DataFrame): Int = {
    val old = sidecarRows(spark, p)
    val kept = old.fold(Map.empty[String, Row]) { case (s, rows) =>
      val (isLive, ok) = (live.toSet, current(s))
      rows.filter { case (f, r) => isLive(f) && ok(r) }
    }
    val missing = live.distinct.filterNot(kept.contains)
    def frame(s: StructType, rows: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)
    val (schema, rows) =
      if (missing.isEmpty) (old.fold(new StructType)(_._1), kept.values.toSeq)
      else {
        val fresh = read(missing).groupBy(input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*)
        val all = if (kept.isEmpty) fresh else frame(old.get._1,
          kept.values.toSeq).unionByName(fresh, allowMissingColumns = true)
        (StructType(all.schema.map(_.copy(nullable = true))),
          graft.GraftSession.named(spark, "graft sidecar build")(
            all.collect().toSeq))
      }
    val added = rows.size - kept.size
    // nothing added or dropped: an existing sidecar stands, and with no
    // sidecar and no live file there is nothing to write
    if (added == 0 && old.forall(_._2.size == kept.size) &&
        (old.isDefined || missing.isEmpty)) return 0
    graft.GraftSession.named(spark, "graft sidecar build")(
      frame(schema, rows).coalesce(1).write.mode("overwrite").parquet(p.toString))
    listSidecar(spark, p).foreach(l => cacheSidecar(p, l._1, schema, rows))
    added
  }

  /** One tracked column of one file: its NULL count (None on a row
    * from before null counts) and [min, max] as Catalyst values of the
    * column's type, null when the file holds no non-null value.
    */
  private[graft] final case class ColumnStats(nulls: Option[Long],
      min: Any, max: Any)

  /** One file's sidecar row: its row count (None on a row from before
    * row counts) and its tracked columns by physical name.
    */
  private[graft] final case class FileStats(rows: Option[Long],
      columns: Map[String, ColumnStats])

  /** Typed stats of a file list, aligned with it (None for a file the
    * sidecar does not cover); `types` maps each tracked column to the
    * type its bounds hold.
    */
  private[graft] final case class Stats(types: Map[String, DataType],
      files: Seq[Option[FileStats]]) {
    /** Every file's stats; None when any file is uncovered. */
    def covered: Option[Seq[FileStats]] =
      if (files.contains(None)) None else Some(files.flatten)
    /** Every file's row count; None when any is unknown. */
    def rowCounts: Option[Seq[Long]] = all(_.rows)
    /** Every file's non-null count of column `c`; None when any is
      * unknown or `c` is untracked.
      */
    def nonNulls(c: String): Option[Seq[Long]] = all(f => for {
      n <- f.rows; s <- f.columns.get(c); u <- s.nulls } yield n - u)
    private def all(v: FileStats => Option[Long]): Option[Seq[Long]] =
      covered.map(_.map(v)).filter(_.forall(_.isDefined)).map(_.flatten)
  }

  /** The stats sidecar at `path`, typed, for the canonical file URIs
    * `files` (built only when a sidecar exists): the one reader every
    * consumer of `_graft_stats` goes through — file skipping, LIMIT and
    * TopN pruning, metadata aggregates and row-count estimates. Bounds
    * hold the column's type from `schema` (by physical name; None: the
    * sidecar's own types): bounds written before a widening cast up,
    * and a column whose bounds cannot ([[trackedTypes]]) is untracked,
    * so it prunes nothing and answers nothing. None when there is no
    * sidecar.
    */
  private[graft] def stats(spark: SparkSession,
      path: String, schema: Option[StructType],
      files: => Seq[String]): Option[Stats] =
    sidecarRows(spark, new Path(path, statsDir)).map {
      case (s, byFile) =>
        val types = trackedTypes(s, schema)
        val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
        def long(n: String): Row => Option[Long] =
          if (!s.fieldNames.contains(n)) _ => None
          else {
            val i = s.fieldIndex(n)
            r => Option(r.get(i)).map(_.asInstanceOf[Long])
          }
        def bound(n: String, to: DataType): Row => Any = {
          val i = s.fieldIndex(n)
          val from = s(i).dataType
          val toCatalyst =
            CatalystTypeConverters.createToCatalystConverter(from)
          r => if (r.isNullAt(i) || from == to) toCatalyst(r.get(i))
            else Cast(Literal(toCatalyst(r.get(i)), from), to, tz).eval()
        }
        val cols = types.map { case (c, dt) => (c, long(s"${c}__nulls"),
          bound(s"${c}__min", dt), bound(s"${c}__max", dt)) }
        val rows = long("__count")
        Stats(types, files.map(byFile.get(_).map(r => FileStats(rows(r),
          cols.map { case (c, nulls, lo, hi) =>
            c -> ColumnStats(nulls(r), lo(r), hi(r)) }.toMap))))
    }

  /** Spec hook: (files read, files total) of the last stats-pruned read;
    * None when no manifest was found (full scan).
    */
  @volatile var lastStatsPruned: Option[(Int, Int)] = None

  /** Subset of `candidates` (canonical file URIs) that the stats
    * sidecar at `path` cannot rule out: the one stats selector, shared
    * by every file-skipping caller ([[graft.warehouse.FileSkipping]] for
    * snapshot tables, [[statsPrunedRead]] for flat ones). `conds` gets
    * the tracked columns' types ([[stats]], typed by `schema`) and pairs
    * a column with a keep test over its `(min, max)` bounds; a file
    * survives when every test holds. Tests compare under Spark's own
    * ordering and type coercion, and conditions on untracked columns are
    * ignored. NULL bounds (an all-null file) mean "cannot prune", and
    * files the sidecar does not cover are always kept. The tests run
    * over the bounds as a local relation, so the selection itself runs
    * no Spark job, and `candidates` is built only when a sidecar exists.
    * None when there is no sidecar.
    */
  private[graft] def selectByStats(spark: SparkSession,
      path: String, schema: Option[StructType],
      conds: Map[String, DataType] => Seq[(String, (Column, Column) => Column)],
      candidates: => Seq[String]): Option[Seq[String]] = {
    lazy val live = candidates
    stats(spark, path, schema, live).map { st =>
      val tests = conds(st.types).filter(c => st.types.contains(c._1))
      val cs = tests.map(_._1).distinct
      val covered = st.files.zipWithIndex.collect { case (Some(f), i) =>
        InternalRow.fromSeq(i +: cs.flatMap(c =>
          Seq(f.columns(c).min, f.columns(c).max)))
      }
      if (tests.isEmpty || covered.isEmpty) live
      else {
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        val attrs = AttributeReference("i", IntegerType)() +:
          cs.zipWithIndex.flatMap { case (c, j) => Seq(
            AttributeReference(s"lo$j", st.types(c))(),
            AttributeReference(s"hi$j", st.types(c))()) }
        val keep = tests.map { case (c, test) =>
          val j = cs.indexOf(c)
          val (lo, hi) = (col(s"lo$j"), col(s"hi$j"))
          test(lo, hi) || lo.isNull || hi.isNull
        }.reduce(_ && _)
        val kept = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
              attrs, covered))
          .filter(keep).collect().map(_.getInt(0)).toSet
        live.zip(st.files).zipWithIndex.collect {
          case ((f, s), i) if kept(i) || s.isEmpty => f }
      }
    }
  }

  /** Read `path` pruned by the stats manifest to files whose [min, max]
    * ranges intersect EVERY `(col, lo, hi)` box side (inclusive). Rows
    * outside the selected files cannot satisfy the box, so
    * `statsPrunedRead(...).filter(box)` ≡ full-scan filter — the caller
    * still applies the row-level predicate. Safety under drift:
    *   - data files NOT in the manifest (appended after the manifest was
    *     written) are always included — no stats, no skipping;
    *   - manifest entries whose file is gone (compacted away) are
    *     dropped — never a read of a dead path.
    * Falls back to the plain read when no manifest exists.
    */
  def statsPrunedRead(spark: SparkSession, path: String,
      ranges: Seq[(String, Any, Any)]): DataFrame = {
    val all = spark.read.parquet(path)
    val live = all.inputFiles.map(canonUri).toSeq
    val box = ranges.map { case (c, lo, hi) =>
      c -> ((mn: Column, mx: Column) => mx >= lit(lo) && mn <= lit(hi)) }
    val chosen = selectByStats(spark, path, Some(all.schema), _ => box, live)
    lastStatsPruned = chosen.map(c => (c.length, live.length))
    chosen match {
      case None => all
      case Some(Seq()) => all.limit(0) // preserve schema on an empty selection
      // basePath keeps Hive partition columns (p_date=...) in the
      // schema — leaf-file reads would silently drop them
      case Some(c) =>
        spark.read.option("basePath", path).parquet(c.toIndexedSeq: _*)
    }
  }
}
