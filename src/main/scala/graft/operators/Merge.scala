package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE semantics as composable DataFrame operators — the general
  * Snowflake/ANSI MERGE the reference only uses the insert-only slice of
  * (etl_spark_historical.py:350-378): `WHEN MATCHED THEN UPDATE` +
  * `WHEN NOT MATCHED THEN INSERT`, plus the CDC variant with a delete
  * flag. The insert-only path stays in `Warehouse.mergeInsertOnly`
  * (partition-pruned probe); these operators produce the post-merge
  * TABLE STATE of plain DataFrames. (`warehouse.Snapshots.commitMerge`
  * does not rebuild that state: it marks the matched rows dead by
  * deletion vector and stages only the batch.)
  *
  * Scale design: one join keyed on the merge keys. The changed batch is
  * small in every real merge (CDC ticks, late corrections), so Catalyst
  * broadcasts it and the target never shuffles; a genuinely large source
  * degrades to a shuffle join on the keys — still one pass. At 100 TB
  * the target side additionally partition-prunes: only partitions whose
  * key range intersects the batch need rewriting (the manifest commit in
  * Snapshots republishes untouched files as-is).
  */
object Merge {

  private def requireSameColumns(target: DataFrame, source: DataFrame): Unit =
    require(target.columns.sorted.sameElements(source.columns.sorted),
      s"merge requires identical schemas; target=${target.columns.mkString(",")} " +
        s"source=${source.columns.mkString(",")}")

  /** WHEN MATCHED UPDATE SET * + WHEN NOT MATCHED INSERT *: every source
    * row lands (updates win over the target's version of the key); target
    * rows with no source match survive unchanged. `source` must be unique
    * per key (the caller dedups CDC batches first — see `latestPerKey`).
    */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    requireSameColumns(target, source)
    target.join(source.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(source)
  }

  /** Full CDC merge: rows flagged `deleteCol` remove the key, all other
    * source rows upsert — Delta/Iceberg `MERGE` with a delete branch,
    * expressed as ONE anti join against all touched keys + a union of the
    * surviving upserts.
    */
  def applyChanges(target: DataFrame, changes: DataFrame, keys: Seq[String],
      deleteCol: String = "_deleted"): DataFrame = {
    require(changes.columns.contains(deleteCol),
      s"changes must carry a $deleteCol flag")
    val upserts = changes.filter(!col(deleteCol)).drop(deleteCol)
    requireSameColumns(target, upserts)
    target.join(changes.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(upserts)
  }

  /** Collapse a CDC batch to its latest row per key (by `orderCol`,
    * larger = newer, ties broken towards the larger value being kept
    * deterministic via max_by) — the pre-pass that makes `upsert`'s
    * unique-key contract hold for multi-tick batches.
    */
  def latestPerKey(changes: DataFrame, keys: Seq[String],
      orderCol: String): DataFrame = {
    val others = changes.columns.filterNot(keys.contains)
    changes.groupBy(keys.map(col): _*)
      .agg(
        max_by(struct(others.map(col): _*), col(orderCol)).as("_latest"))
      .select(keys.map(col) ++ others.map(c => col(s"_latest.$c")): _*)
  }
}
