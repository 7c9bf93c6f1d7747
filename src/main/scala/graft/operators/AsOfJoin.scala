package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join: for each left row, attach the most recent right
  * row with `rightTs <= leftTs` within the same key — the operator behind
  * "state of the world at event time" joins (latest weather observation
  * at pickup, last order before a session, point-in-time feature lookup).
  *
  * Spark has no built-in as-of join. The naive formulations are a range
  * join (O(n·m) BroadcastNestedLoop) or a per-left-row subquery; both
  * collapse at scale. This implementation uses the union + running-window
  * trick:
  *
  *   1. tag and union both inputs (one pass, no join);
  *   2. one window over (key) ordered by (ts, tag) carries
  *      `last(right-payload, ignoreNulls)` forward — right rows sort
  *      before left rows on ties, so the match is inclusive;
  *   3. keep left rows.
  *
  * Cost: ONE shuffle of |L|+|R| rows on the key (same as a plain
  * equi-join) and a linear window pass — scales to 100 TB wherever a
  * groupBy on the key does. Right-side expiry markers are not needed because
  * the window never looks forward.
  */
object AsOfJoin {

  /** @param left      probe side (events)
    * @param right     reference side (state changes)
    * @param key       equi-key column name present on both sides
    * @param leftTs    event-time column on `left`
    * @param rightTs   event-time column on `right`
    * @param rightCols right payload columns to attach (null when no right
    *                  row precedes the left row)
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String]): DataFrame = {

    val leftTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__isLeft", lit(1))
      .withColumn("__payload", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(rightCols.map(col): _*).schema.fields)))
    val rightTagged = right
      .select((col(key) +: col(rightTs).as("__ts") +:
        Seq(struct(rightCols.map(col): _*).as("__payload"))): _*)
      .withColumn("__isLeft", lit(0))

    val leftSlim = leftTagged.select(
      (col(key) +: col("__ts") +: col("__isLeft") +: col("__payload") +:
        left.columns.filter(_ != key).map(col)): _*)
    val unioned = leftSlim.unionByName(rightTagged, allowMissingColumns = true)

    // right rows (tag 0) sort before left rows (tag 1) at equal ts → the
    // carried state includes right rows AT the left timestamp (inclusive)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__isLeft"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = unioned.withColumn("__state",
      last(col("__payload"), ignoreNulls = true).over(w))

    val out = carried.filter(col("__isLeft") === 1)
      .drop("__payload", "__isLeft", "__ts")
    rightCols.foldLeft(out) { (df, c) =>
      df.withColumn(c, col(s"__state.$c"))
    }.drop("__state")
  }

  /** Nearest-neighbor as-of join: attach the right row whose timestamp is
    * CLOSEST to the left row's, in either direction (pandas
    * merge_asof(direction='nearest') / kdb `aj` nearest). Equal-distance
    * ties resolve BACKWARD (state-of-the-world preference). Adds
    * `asof_dir` ('backward'/'forward', null when keyless) and
    * `asof_dist_us` (micros) alongside the right payload columns.
    *
    * Same union + window shape as [[join]], run in both directions over
    * ONE sort: the backward frame carries `last(payload) ignoreNulls`
    * up to the current row; the forward frame `first(payload)
    * ignoreNulls` from the current row on. Right rows at the left's
    * exact timestamp sort before it (tag order), so they enter through
    * the inclusive backward frame — which is also the tie preference —
    * and never double-match forward. Still one shuffle of |L|+|R| on
    * the key; the second frame reuses the same sorted partition.
    *
    * Contract: (key, rightTs) has no duplicate timestamps per key (the
    * carried `last`/`first` at an equal-ts run would otherwise be
    * sort-order-dependent) — same assumption as [[join]] documents.
    */
  def joinNearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String]): DataFrame = {

    val payloadType = org.apache.spark.sql.types.StructType(
      right.select((col(rightTs).as("__rts") +: rightCols.map(col)): _*)
        .schema.fields)
    val leftTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__isLeft", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
    val rightTagged = right
      .select((col(key) +: col(rightTs).as("__ts") +:
        Seq(struct((col(rightTs).as("__rts") +: rightCols.map(col)): _*)
          .as("__payload"))): _*)
      .withColumn("__isLeft", lit(0))

    val leftSlim = leftTagged.select(
      (col(key) +: col("__ts") +: col("__isLeft") +: col("__payload") +:
        left.columns.filter(_ != key).map(col)): _*)
    val unioned = leftSlim.unionByName(rightTagged, allowMissingColumns = true)

    val ord = Window.partitionBy(col(key)).orderBy(col("__ts"), col("__isLeft"))
    val back = ord.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = ord.rowsBetween(0, Window.unboundedFollowing)
    val carried = unioned
      .withColumn("__back", last(col("__payload"), ignoreNulls = true).over(back))
      .withColumn("__fwd", first(col("__payload"), ignoreNulls = true).over(fwd))

    val distB = unix_micros(col("__ts")) - unix_micros(col("__back.__rts"))
    val distF = unix_micros(col("__fwd.__rts")) - unix_micros(col("__ts"))
    val pickBack = col("__fwd").isNull ||
      (col("__back").isNotNull && distB <= distF)
    val out = carried.filter(col("__isLeft") === 1)
      .withColumn("__state", when(pickBack, col("__back")).otherwise(col("__fwd")))
      .withColumn("asof_dir",
        when(col("__state").isNull, lit(null).cast("string"))
          .when(pickBack, lit("backward")).otherwise(lit("forward")))
      .withColumn("asof_dist_us",
        when(col("__state").isNull, lit(null).cast("long"))
          .when(pickBack, distB).otherwise(distF))
      .drop("__payload", "__isLeft", "__ts", "__back", "__fwd")
    rightCols.foldLeft(out) { (df, c) =>
      df.withColumn(c, col(s"__state.$c"))
    }.drop("__state")
  }
}
