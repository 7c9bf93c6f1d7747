package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics as pure dataflow — PageRank and triangle counting
  * expressed as iterated joins/aggregations so they inherit Spark's
  * distribution model (no graph library, no driver-side adjacency).
  *
  * The reference's warehouse has no graph layer; these cover the
  * link-analysis half of a training-data pipeline (domain authority
  * weighting, co-occurrence mining) the way GraphX/Pregel papers
  * describe it, but on DataFrames so Catalyst still optimizes each
  * superstep.
  *
  * At 100 TB: the edge table is the big operand and stays partitioned
  * by join key across supersteps; the rank vector is O(|V|) and is the
  * only thing that iterates. Per-iteration deterministic rounding (see
  * `pageRank`) keeps results reproducible across cluster sizes and
  * engines — drift from float summation order is clipped every step.
  */
object Graph {

  /** Weighted PageRank via `iterations` synchronous supersteps.
    *
    * @param edges (src, dst, w) directed weighted edges, w > 0
    * @param iterations fixed superstep count (deterministic by contract —
    *                   convergence-threshold loops are data-dependent and
    *                   unverifiable cross-engine)
    * @param damping    teleport complement (0.85 classic)
    * @param iterDp     per-iteration decimal rounding of the rank vector:
    *                   each superstep's input is then bit-identical on any
    *                   engine/partitioning, so float-sum order can never
    *                   compound across iterations
    *
    * Contribution term is evaluated as (r * w) / ow — the same
    * left-associated shape the oracle SQL uses — so per-term IEEE results
    * are bit-identical and only the ≤deg-term summation order varies,
    * which the iteration rounding absorbs (sum error ~1e-16 vs 5e-11 grid).
    *
    * Scale shape: `edges`+`outw` are computed once and reused every
    * superstep (cache-worthy); each superstep is one shuffle on dst of
    * the (small) rank-joined edge set. Ranks are |V|-sized — for web-scale
    * V they stay a shuffle join; for dimension-sized V Catalyst broadcasts.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      damping: Double = 0.85,
      iterDp: Int = 10,
      cacheTag: String = "default"): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // generation-bounded caches (graft.ScopedCache): the edge set (|E|)
    // plus nodes (|V|) and the out-weight-joined edges, all reused every
    // superstep and far smaller than the joins that build them. EDGES
    // MUST BE CACHED FIRST: nodes (distinct), outw (groupBy) and ew
    // (join) each re-reference the edge frame, so an uncached `edges`
    // re-ran its entire upstream build (a 4-way fact join for the trade
    // graph, the full pair census for TextRank) three times per call —
    // measured 2-3× of the whole query's cost (guide §1.2: don't
    // compute things twice before tuning anything else)
    // cache keys carry the CALLER's tag: two operators ranking different
    // graphs (the trade graph, the TextRank co-occurrence graph) are two
    // different cached artifacts — one shared key made them evict each
    // other on every alternation, so neither ever kept its edge set warm
    val edgesC = graft.ScopedCache.replace(s"pagerank.$cacheTag.edges", edges)
    // endpoints via ONE explode scan, not union(select src, select dst):
    // a union's two branches scan the cached edges concurrently, and on
    // the FIRST materialization that race computes every partition of
    // the (expensive) edge build twice
    val nodes = graft.ScopedCache.replace(s"pagerank.$cacheTag.nodes",
      edgesC.select(explode(array(col("src"), col("dst"))).as("node"))
        .distinct())
    val n = nodes.count().toDouble
    val outw = edgesC.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // (src, dst, w, ow) — reused every superstep
    val ew = graft.ScopedCache.replace(s"pagerank.$cacheTag.ew",
      edgesC.join(outw, "src"))

    val teleport = (1.0 - damping) / n
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = ew.join(ranks, ew("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(col("r") * col("w") / col("ow")).as("inflow"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          round(lit(teleport) + lit(damping) * coalesce(col("inflow"), lit(0.0)), iterDp).as("r"))
    }
    ranks
  }

  /** Undirected co-occurrence edges from item groups: every unordered
    * pair of distinct `itemCol` values sharing a `groupCol` value, with
    * the co-occurrence count as weight — the market-basket primitive.
    *
    * Shape: ONE exchange (the group-key aggregation), then the pairs
    * explode out of each group's sorted item array — position pairs
    * i < j with w(i) < w(j) are exactly the self-join's row pairs
    * (sortedness puts every copy of the smaller value first, so a value
    * pair {x < y} contributes cnt(x)·cnt(y) either way; equal values
    * are excluded by the strict `<` in both forms). The previous
    * self-join form shuffled the input TWICE (both join legs) plus the
    * pair aggregation's exchange, and materialized the join machinery
    * per row; groups are order-sized (bounded), so the per-group pair
    * explode is cheap codegen (guide §2.4: remove shuffles outright).
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String): DataFrame = {
    val it = col("it")
    // a NULL group shares nothing: the self-join form equi-joined on the
    // group, and NULL = NULL never matched
    df.filter(col(groupCol).isNotNull).groupBy(col(groupCol).as("g"))
      .agg(sort_array(collect_list(col(itemCol))).as("it"))
      .select(explode(flatten(transform(it, (x, i) =>
        transform(filter(slice(it, i + lit(2), size(it)), y => y > x),
          y => struct(x.as("pa"), y.as("pb")))))).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("w"))
  }

  /** Degree-ordered orientation: each undirected edge {a,b} becomes the
    * single directed edge from the (degree, id)-smaller endpoint to the
    * larger. Out-degrees are then O(sqrt(|E|)) (Schank-Wagner node
    * iterator), which bounds the wedge join below — THE published trick
    * that makes exact triangle counting feasible on power-law graphs.
    */
  def orientByDegree(edges: DataFrame): DataFrame =
    orientByDegree(edges, degrees(edges))

  /** Degree table of an undirected (pa, pb) edge set. Endpoints via ONE
    * explode scan, not union(select pa, select pb) — a union's two
    * branches scan the (cached) edge frame twice, racing to compute
    * every partition twice on the first materialization (the same
    * lesson as pageRank's nodes).
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("pa"), col("pb"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))

  /** Orientation against a precomputed degree table (so callers that
    * also publish the degree census compute it once). Degrees are
    * |V|-sized — both joins broadcast.
    */
  def orientByDegree(edges: DataFrame, deg: DataFrame): DataFrame = {
    val da = deg.select(col("p").as("pa"), col("deg").as("dega"))
    val db = deg.select(col("p").as("pb"), col("deg").as("degb"))
    val keyLess = (col("dega") < col("degb")) ||
      (col("dega") === col("degb") && col("pa") < col("pb"))
    edges.join(broadcast(da), "pa").join(broadcast(db), "pb")
      .select(
        when(keyLess, col("pa")).otherwise(col("pb")).as("u"),
        when(keyLess, col("pb")).otherwise(col("pa")).as("v"))
  }

  /** Exact triangle count over a degree-oriented edge set, in the
    * edge-iterator form: each edge u→v contributes |N⁺(u) ∩ N⁺(v)|
    * (closing nodes), so each triangle is counted exactly once at its
    * lowest-ordered edge. The out-adjacency table is |V|-sized with
    * O(sqrt(|E|))-bounded lists (thanks to the orientation), broadcast
    * onto both endpoints — the Σ-wedge intermediate (|E|^1.5 rows in
    * the join form, ~80M at sf0.1) is never materialized; the whole
    * count is one codegen pass of per-row array intersections over
    * |E| rows. 4× faster than the wedge-join form at sf0.1 (1.3s vs
    * 5.5s warm). Returns one (n_triangles) row.
    *
    * SCALE FALLBACK (auto-selected): the broadcast adjacency is
    * |V|·O(sqrt |E|) and outgrows an executor around 100× the sf0.1
    * edge count — past `maxBroadcastEdges` oriented edges (one count
    * of the caller-cached frame, a metadata-cheap decision) the SAME
    * plan shape runs with SHUFFLED hash joins on u then v instead of
    * broadcast hints: identical census, bounded per-task memory, two
    * exchanges. GraphSpec pins both selections to identical output.
    */
  def triangleCount(oriented: DataFrame,
      maxBroadcastEdges: Long = 4000000L,
      cacheTag: String = "default"): DataFrame = {
    // ONE cached adjacency build: au/av are the same |V|-row table under
    // two aliases, and without the cache each leg ran its own
    // collect_list aggregation over |E| edges and built its own
    // broadcast (two ObjectHashAggregates + two exchanges in the
    // executed plan). sort_array makes the lists ascending —
    // deterministic, and the contract the merge-count probe needs.
    // The cache key carries the CALLER's tag like pageRank's does: two
    // callers counting different graphs must not evict each other's
    // adjacency on every alternation.
    val adj = graft.ScopedCache.replace(s"triangles.$cacheTag.adj",
      oriented.groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs")))
    val au = adj.select(col("u").as("ju"), col("nbrs").as("nu"))
    val av = adj.select(col("u").as("jv"), col("nbrs").as("nv"))
    val broadcastable = oriented.count() <= maxBroadcastEdges
    def side(df: DataFrame): DataFrame =
      if (broadcastable) broadcast(df)
      // shuffle-hash over sort-merge: the adjacency side builds a hash
      // table per partition instead of sorting |E| wedge rows
      else df.hint("shuffle_hash")
    // closing-node count as an allocation-free sorted merge — the
    // size(array_intersect(...)) form allocated a hash set + result
    // array per probed edge (see plans/IntersectCountExpression.scala);
    // counts are identical on the sorted duplicate-free lists
    val closing = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.SortedIntersectCount(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("nu")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("nv"))))
    // inner join on v drops edges whose head has no out-neighbors —
    // those close no triangle, so the sum is unaffected
    oriented
      .join(side(au), col("u") === col("ju"))
      .join(side(av), col("v") === col("jv"))
      .agg(coalesce(sum(closing), lit(0L)).as("n_triangles"))
  }
}
