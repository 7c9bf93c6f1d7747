package graft.warehouse

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, types}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
import org.apache.spark.sql.sources._

import graft.operators.Layout

/** Driver-side file skipping for snapshot tables: the one path every
  * read, probe and DML takes to shrink a version's file list before a
  * scan opens a footer. Three indexes answer, each sound by
  * construction (a file may be kept needlessly, never dropped while it
  * can hold a matching row):
  *   - partition directories: the declared transform's `__gp=` values;
  *     flat, foreign and NULL-partition entries always survive;
  *   - the `_graft_stats` sidecar: per-file min/max in the column's own
  *     type, read once per call by
  *     [[graft.operators.Layout.selectByStats]]; files it does not
  *     cover, NULL stats, and values that do not compare with the
  *     column in its order ([[comparable]]) always survive;
  *   - per-file Bloom sidecars (`_graft_bloom_<col>`): equality and IN
  *     probes on an indexed column, no false negatives by the Bloom
  *     contract; uncovered files, and files hashed under another type
  *     than the column's declared one, always survive.
  *
  * Conditions arrive as V1 `sources.Filter`s, the algebra Spark's own
  * pushdown speaks: the catalog hands over its pushed conjuncts, a DML
  * predicate is translated by [[predicateFilters]], and key lists
  * become `In` (a key frame through [[pruneByKeys]]). Top-level
  * conjuncts prune; OR, NOT and every other shape keep their files.
  * Filters speak logical column names; the sidecars key physical ones.
  */
private[graft] object FileSkipping
    extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  /** Past this many distinct IN values the stats leg tests the values'
    * [min, max] envelope instead of each point (looser, still sound),
    * and a key frame is not collected past it.
    */
  val MaxPruneKeys = 4096

  /** The entries one [[prune]] kept, in input order, and whether the
    * stats sidecar and a Bloom sidecar on a probed column existed —
    * what the read paths' spec hooks report.
    */
  final case class Pruned(kept: Seq[String], statsRead: Boolean,
      bloomRead: Boolean)

  /** The subset of `names` (a version's manifest entries: bare data-file
    * names, or qualified URIs for a clone's foreign refs) that may hold
    * a row matching every filter. `schema` is the version's declared
    * logical schema (None for a legacy header-less table: no Bloom
    * probe, and stats bounds keep the sidecar's own type); `colmap` maps
    * renamed columns to their physical names; `partition` is the
    * declared transform.
    */
  def prune(spark: SparkSession, dataDir: Path, names: Seq[String],
      schema: Option[types.StructType], filters: Seq[Filter],
      colmap: Map[String, String],
      partition: Seq[(String, String)]): Pruned = {
    val conjuncts = filters.flatMap(conjunctsOf)
    val ranges: Seq[(String, Option[Any], Option[Any])] = conjuncts.collect {
      case GreaterThan(a, v) => (a, Option(v), None)
      case GreaterThanOrEqual(a, v) => (a, Option(v), None)
      case LessThan(a, v) => (a, None, Option(v))
      case LessThanOrEqual(a, v) => (a, None, Option(v))
      // LIKE 'p%' is the range [p, nextPrefix(p)): every match is ≥ p
      // and below the prefix with its last char bumped
      case StringStartsWith(a, p) if p.nonEmpty =>
        (a, Some(p), prefixUpperBound(p))
    }
    // point sets: NULL members match nothing under `=`/IN, and an empty
    // set prunes nothing (never "no file")
    val points: Seq[(String, Seq[Any])] = conjuncts.collect {
      case EqualTo(a, v) => (a, Seq(v))
      case EqualNullSafe(a, v) => (a, Seq(v))
      case In(a, vs) => (a, vs.toSeq)
    }.map { case (a, vs) => (a, vs.filter(_ != null).distinct) }
      .filter(_._2.nonEmpty)
    if (ranges.isEmpty && points.isEmpty) return Pruned(names, false, false)
    def phys(c: String) = colmap.getOrElse(c, c)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    var live = partitionLeg(partition, schema, ranges, points, names, tz)
    // sidecars key canonical qualified URIs
    lazy val canonOf = names.zip(canonical(spark, dataDir, names)._1).toMap
    // STATS leg: every condition of the call in one selection, each
    // value compared with the column's stats in the column's type
    def conds(tracked: Map[String, types.DataType]) = {
      def ok(c: String)(v: Any) =
        tracked.get(phys(c)).exists(comparable(_, v, tz))
      ranges.flatMap { case (c, lo, hi) =>
        statsRange(phys(c), lo.filter(ok(c)), hi.filter(ok(c)))
      } ++ points.collect { case (c, vs) if vs.forall(ok(c)) =>
        statsAnyOf(phys(c), vs, tz) }.flatten
    }
    val stats = Layout.selectByStats(spark, dataDir.toString,
      schema.map(Snapshots.physSchema(_, colmap)), conds, live.map(canonOf))
    stats.map(_.toSet).foreach(k => live = live.filter(n => k(canonOf(n))))
    // BLOOM leg: one sidecar read per point-probed column, and each
    // live file's filter deserialized once per call
    var bloomRead = false
    points.map(_._1).distinct.foreach { c =>
      bloomSidecar(spark, dataDir, schema, colmap, c).foreach {
        case (dt, byFile) =>
          bloomRead = true
          val filters = live.flatMap(n => byFile.get(canonOf(n)).map(b =>
            n -> org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(b)))).toMap
          points.filter(_._1 == c).foreach { case (_, vs) =>
            hashesOf(vs, dt, tz).foreach { hs =>
              live = live.filter(n =>
                filters.get(n).forall(bf => hs.exists(bf.mightContainLong)))
            }
          }
      }
    }
    Pruned(live, stats.isDefined, bloomRead)
  }

  /** Whether any index can prune on logical column `column`: the
    * declared partition transform, the stats sidecar or a Bloom sidecar
    * [[prune]] would probe.
    */
  private def coveredBy(spark: SparkSession, dataDir: Path,
      schema: Option[types.StructType], colmap: Map[String, String],
      partition: Seq[(String, String)], column: String): Boolean =
    partition.exists(_._1 == column) ||
      Layout.statsManifestCols(spark, dataDir.toString)
        .exists(_.contains(colmap.getOrElse(column, column))) ||
      bloomSidecar(spark, dataDir, schema, colmap, column).isDefined

  /** The Bloom sidecar a probe on logical column `c` uses: the column's
    * declared type and each covered file's serialized filter, keyed by
    * canonical URI, read through [[Layout.sidecarRows]]'s cache. Only
    * rows whose recorded build `type` is the declared type count: a
    * file hashed before an ALTER widened the column (int to bigint,
    * float to double, a decimal's precision) holds other hashes for the
    * same values, and a probe of it could drop a file holding the key.
    * None without a declared type (legacy table) or a sidecar.
    */
  private def bloomSidecar(spark: SparkSession, dataDir: Path,
      schema: Option[types.StructType], colmap: Map[String, String],
      c: String): Option[(types.DataType, Map[String, Array[Byte]])] =
    schema.flatMap(_.fields.find(_.name == c)).flatMap { f =>
      Layout.sidecarRows(spark, bloomDir(dataDir, colmap.getOrElse(c, c)))
        .map { case (s, rows) =>
          val t = bloomType(f.dataType)
          f.dataType -> (if (!s.fieldNames.contains("type")) Map.empty
            else rows.collect { case (u, r) if r.getAs[String]("type") == t =>
              u -> r.getAs[Array[Byte]]("bloom") })
        }
    }

  /** How a Bloom sidecar row records the type its keys were hashed as. */
  private[warehouse] def bloomType(dt: types.DataType): String =
    dt.catalogString

  /** [[prune]] for the keys of a one-column frame (a change set's
    * touched keys) on table column `column`. The
    * frame is collected only when an index covers the column: at most
    * [[MaxPruneKeys]] + 1 distinct keys in one job, or one min/max
    * aggregate past that — never an unbounded key list on the driver.
    */
  def pruneByKeys(spark: SparkSession, dataDir: Path, names: Seq[String],
      schema: Option[types.StructType], column: String, keys: DataFrame,
      colmap: Map[String, String],
      partition: Seq[(String, String)]): Pruned = {
    import org.apache.spark.sql.functions.{col, max, min}
    if (names.isEmpty ||
        !coveredBy(spark, dataDir, schema, colmap, partition, column))
      return Pruned(names, false, false)
    val k = keys.na.drop()
    val vals = Snapshots.distinctRows(k, MaxPruneKeys).map(_.get(0))
    val filters =
      if (vals.size <= MaxPruneKeys) Seq(In(column, vals.toArray))
      else {
        // the collected sample is TRUNCATED: the envelope must come
        // from the whole frame, or pruning would be unsound
        val kc = col(k.columns.head)
        val mm = k.agg(min(kc), max(kc)).head()
        Seq(GreaterThanOrEqual(column, mm.get(0)),
          LessThanOrEqual(column, mm.get(1)))
      }
    prune(spark, dataDir, names, schema, filters, colmap, partition)
  }

  /** A DML predicate as the filters [[prune]] understands: resolved
    * against the declared `schema`, optimized (constant-folded casts,
    * `NOT` pushed in, `LIKE 'p%'` as a prefix test, long IN-lists as a
    * set), split into top-level conjuncts and translated by Spark's own
    * pushdown translator — the one the catalog scan uses. The predicate
    * sits over an empty RDD-backed relation: building and optimizing it
    * runs no Spark job, and the optimizer cannot fold the filter away
    * as it would over an empty `LocalRelation`. Untranslatable conjuncts
    * drop out (they keep every file); a predicate that does not resolve,
    * or a legacy version with no declared schema, yields none.
    */
  def predicateFilters(spark: SparkSession, predicate: Column,
      schema: Option[types.StructType]): Seq[Filter] = Try {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => FilterNode}
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema.get)
      .filter(predicate).queryExecution.optimizedPlan
      .collect { case f: FilterNode => splitConjunctivePredicates(f.condition) }
      .flatten
      .flatMap(org.apache.spark.sql.graft.ColumnBridge.translateFilter)
  }.getOrElse(Nil)

  /** (qualified canonical URIs, URI → entry) of a list of manifest
    * entries: the sidecars key files by `input_file_name()` URI, while
    * manifests carry bare names (and qualified URIs for foreign refs).
    */
  def canonical(spark: SparkSession, dataDir: Path,
      names: Seq[String]): (Seq[String], Map[String, String]) = {
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val canon = names.map(n => Layout.canonFile(
      fs.makeQualified(new Path(dataDir, n)).toString) -> n)
    (canon.map(_._1), canon.toMap)
  }

  private[warehouse] def bloomDir(dataDir: Path, column: String): Path =
    new Path(dataDir, s"_graft_bloom_$column")

  private def conjunctsOf(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  /** Whether probe value `v` compares with a tracked column of type `dt`
    * in the order the column's values sort: Spark's coercion then casts
    * only the value, or widens both sides monotonically. A number never
    * compares with a string (that cast does not keep order), and a
    * string probes a date or timestamp column only when it casts to one
    * (in the session zone `tz`).
    */
  private def comparable(dt: types.DataType, v: Any, tz: String): Boolean =
    Try {
      val l = Literal(v)
      (dt, l.dataType) match {
        case (_: types.NumericType, _: types.NumericType) => true
        case (_: types.StringType, _: types.StringType) => true
        case (types.DateType | types.TimestampType,
          types.DateType | types.TimestampType) => true
        case (types.DateType | types.TimestampType, _: types.StringType) =>
          Cast(l, dt, Some(tz)).eval() != null
      }
    }.getOrElse(false)

  private type StatsCond = (String, (Column, Column) => Column)

  private def statsRange(c: String, lo: Option[Any],
      hi: Option[Any]): Option[StatsCond] =
    if (lo.isEmpty && hi.isEmpty) None
    else Some(c -> { (min: Column, max: Column) =>
      import org.apache.spark.sql.functions.lit
      (lo.map(max >= lit(_)).toSeq ++ hi.map(min <= lit(_))).reduce(_ && _)
    })

  /** A point set on `c`: one member is a closed range, more test every
    * point with ONE typed array literal (the members cast to their
    * common type, in the session zone) — `exists` per sidecar row,
    * never an n-term OR — and past [[MaxPruneKeys]] its `array_min`/
    * `array_max` envelope. Members with no common type prune nothing.
    */
  private def statsAnyOf(c: String, vs: Seq[Any],
      tz: String): Option[StatsCond] = {
    import org.apache.spark.sql.functions.{array_max, array_min, exists}
    if (vs.size == 1) statsRange(c, vs.headOption, vs.headOption)
    else Try {
      val ls = vs.map(Literal(_))
      val t = org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findWiderCommonType(ls.map(_.dataType)).get
      org.apache.spark.sql.graft.ColumnBridge.column(Literal(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          ls.map(Cast(_, t, Some(tz)).eval())), types.ArrayType(t)))
    }.toOption.map(arr => c -> ((min: Column, max: Column) =>
      if (vs.size > MaxPruneKeys)
        min <= array_max(arr) && max >= array_min(arr)
      else exists(arr, v => min <= v && max >= v)))
  }

  /** Inclusive upper bound for the `LIKE 'p%'` range: the prefix with
    * its last bumpable char incremented and the tail dropped — every
    * string starting with `p` sorts strictly below it. None (unbounded)
    * when any char sits at or above the surrogate range, where a UTF-16
    * unit bump is not the code-point successor.
    */
  private def prefixUpperBound(p: String): Option[String] = {
    if (p.exists(_ >= 0xD800.toChar)) return None
    val i = p.lastIndexWhere(_ < 0xD7FF.toChar)
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** The probe keys hashed EXACTLY like the Bloom build, which runs
    * `xxhash64` over the column's declared type: each key is a typed
    * literal cast to `dt` (in the session zone), never a string round
    * trip — `java.sql.Timestamp.toString` renders in the JVM's zone and
    * would hash another instant. None when a key does not cast: the
    * set then prunes nothing.
    */
  private def hashesOf(keys: Seq[Any], dt: types.DataType,
      tz: String): Option[Seq[Long]] = Try(keys.map { k =>
    val c = Cast(Literal(k), dt, Some(tz))
    require(c.eval() != null)
    XxHash64(Seq(c), 42L).eval().asInstanceOf[Long] // xxhash64()'s seed
  }).toOption

  /** An external probe value's class hashes IDENTICALLY to the bucket
    * column's internal encoding — the guard that keeps bucket rendering
    * type-strict: an Integer probe murmur3s through hashInt while a
    * LongType column's dirs hashed hashLong, so the same NUMBER lands a
    * different bucket and an unchecked prune would drop matching rows.
    * The value's literal type must be the declared type; no declared
    * type (legacy header-less table) → never prune.
    */
  private def bucketProbeTypeOk(dt: Option[types.DataType],
      v: Any): Boolean =
    dt.exists(d => Try(Literal(v).dataType).toOption.contains(d))

  /** The DIRECTORY leg: entries the declared transform rules out.
    * Composite layouts intersect the levels' verdicts — each level
    * prunes on its own column — and an entry survives only if no level
    * can rule it out. A point set keeps the dirs its members render to;
    * a range keeps dirs within its rendered bounds (date/month
    * truncation is monotone, so `col >= lo` implies `trunc(col) >=
    * trunc(lo)` in ISO string order; a date/month dir outside years
    * 0000–9999 is always read). Bucket dirs carry no order, so
    * only point sets whose classes match the declared type prune them;
    * a member that does not render prunes nothing.
    */
  private def partitionLeg(partition: Seq[(String, String)],
      schema: Option[types.StructType],
      ranges: Seq[(String, Option[Any], Option[Any])],
      points: Seq[(String, Seq[Any])], entries: Seq[String],
      tz: String): Seq[String] =
    partition.zipWithIndex.foldLeft(entries) {
      case (live, ((pc, kind), level)) =>
        val bucket = Snapshots.bucketModulus(kind).isDefined
        val dt = schema.flatMap(_.fields.find(_.name == pc)).map(_.dataType)
        // identity dirs hold the value's string form, which orders and
        // matches like the value only for a string column
        val renders = kind != "identity" ||
          dt.forall(_.isInstanceOf[types.StringType])
        val sets = points.filter(p => renders && p._1 == pc).flatMap {
          case (_, vs) =>
            val rendered = vs.map(partRenderings(kind, _, dt, tz))
            if ((bucket && !vs.forall(bucketProbeTypeOk(dt, _))) ||
                !rendered.forall(_.isDefined)) None
            else Some(rendered.flatten.flatten.toSet)
        }
        // a date/month value outside ISO string order bounds nothing
        def bound(v: Option[Any], pick: Seq[String] => String) = v
          .flatMap(partRenderings(kind, _, dt, tz)).map(pick)
          .filter(b => kind == "identity" || StagedFiles.isoOrdered(b))
        val bounds =
          if (bucket || !renders) Nil
          else ranges.filter(_._1 == pc).map { case (_, lo, hi) =>
            (bound(lo, _.min), bound(hi, _.max))
          }
        if (live.isEmpty || (sets.isEmpty && bounds.isEmpty)) live
        else live.filter { e =>
          Snapshots.partValueAt(e, level) match {
            case None => true // flat/foreign/pre-transform: always read
            case Some(Snapshots.NullPartition) => true // no order, no value
            // a date/month dir outside years 0000-9999 neither orders nor,
            // if staged before the renderings were unified, matches
            case Some(v) if (kind == "date" || kind == "month") &&
              !StagedFiles.isoOrdered(v) => true
            case Some(v) => sets.forall(_(v)) && bounds.forall {
              case (lo, hi) => lo.forall(v >= _) && hi.forall(v <= _)
            }
          }
        }
    }

  /** Every dir name a probe value `v` on a partition column of type
    * `dt` may render to. A date or month dir of a TIMESTAMP column holds
    * the file's rows truncated in the time zone of the session that
    * staged it, which the manifest does not record; zone offsets stay
    * within ±18 h, so the value's instant falls on its UTC date ±1 day
    * in every zone, and all three render. Other values render once
    * ([[partProbeValue]]). None when `v` does not render.
    */
  private def partRenderings(kind: String, v: Any,
      dt: Option[types.DataType], tz: String): Option[Seq[String]] = {
    val zoned = dt.contains(types.TimestampType) || (dt.isEmpty &&
      (v.isInstanceOf[java.sql.Timestamp] || v.isInstanceOf[java.time.Instant]))
    if (!zoned || (kind != "date" && kind != "month"))
      partProbeValue(kind, v, tz).map(Seq(_))
    else Try {
      val day = Cast(Cast(Literal(v), types.TimestampType, Some(tz)),
        types.DateType, Some("UTC")).eval() match { case d: Int => d }
      (day - 1 to day + 1).map(d =>
        partProbeValue(kind, java.time.LocalDate.ofEpochDay(d), tz).get)
    }.toOption
  }

  /** The transform's rendering of a driver-side probe value
    * ([[StagedFiles.render]], the form the staging writers put in dir
    * names) — None when the value's rendering is not exact (prune
    * nothing, never wrongly). Timestamps truncate to a date in the
    * session zone `tz`.
    */
  private[warehouse] def partProbeValue(kind: String, v: Any,
      tz: String): Option[String] = Try {
    val l = Literal(v)
    require(kind match {
      // strings only: a numeric rendering would compare
      // lexicographically ("10" < "9") — prune nothing instead
      case "identity" => v.isInstanceOf[String]
      // a date as Spark casts the value (a string parses, a timestamp
      // truncates in `tz`); an uncastable class renders nothing
      case "date" | "month" => Cast.canCast(l.dataType, types.DateType)
      // EQUALITY-ONLY semantics: the rendering is the probed value's
      // bucket id — meaningful for = / IN membership, never for ranges
      // (partitionLeg guards). It hashes like the column's values only
      // when its type is the declared one ([[bucketProbeTypeOk]]).
      case _ => true
    })
    StagedFiles.render(kind, l, Some(tz)).eval().toString
  }.toOption
}
