package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

/** Invariants for the graph-analytics operators (operators/Graph.scala).
  * Value-level parity with DuckDB is the oracle's job (g1_pagerank,
  * g2_triangles); these pin the mathematical structure on hand-built
  * graphs where the answers are known in closed form.
  */
class GraphSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  // ------------------------------------------------------------ pageRank

  test("pageRank: rank mass is conserved (sums to 1) on a graph with no dangling nodes") {
    val edges = Seq(
      ("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("a", "c", 2.0), ("c", "b", 1.0), ("b", "a", 3.0)
    ).toDF("src", "dst", "w")
    val total = Graph.pageRank(edges, iterations = 3)
      .agg(sum("r")).head.getDouble(0)
    // every node has out-edges, so no mass leaks; 10dp iteration rounding
    // bounds the drift at ~n * 5e-11
    assert(math.abs(total - 1.0) < 1e-8, s"rank mass $total")
  }

  test("pageRank: symmetric cycle stays exactly uniform at every iteration count") {
    val cycle = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "w")
    for (iters <- Seq(1, 3)) {
      val ranks = Graph.pageRank(cycle, iterations = iters)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // uniform is the fixed point: 1/3 in, 1/3 out, teleport symmetric
      ranks.foreach { case (n, r) =>
        assert(math.abs(r - 1.0 / 3) < 1e-9, s"node $n drifted to $r")
      }
    }
  }

  test("pageRank: a sink-heavy star concentrates rank on the hub, teleport floors the leaves") {
    // leaves l1..l4 each point at hub; hub points back at l1 only
    val star = Seq(
      ("l1", "hub", 1.0), ("l2", "hub", 1.0), ("l3", "hub", 1.0),
      ("l4", "hub", 1.0), ("hub", "l1", 1.0)
    ).toDF("src", "dst", "w")
    val ranks = Graph.pageRank(star, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val floor = 0.15 / 5
    assert(ranks("hub") > ranks("l1"), "hub must outrank the fed leaf")
    assert(ranks("l1") > ranks("l2"), "fed leaf must outrank starved leaves")
    Seq("l2", "l3", "l4").foreach { l =>
      assert(math.abs(ranks(l) - floor) < 1e-9,
        s"starved leaf $l must sit exactly on the teleport floor, got ${ranks(l)}")
    }
  }

  // ----------------------------------------------- orientation + triangles

  test("triangleCount: K4 has exactly 4 triangles and clustering coefficient 1") {
    val k4 = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
      .toDF("pa", "pb").withColumn("w", lit(1L))
    val oriented = Graph.orientByDegree(k4)
    assert(oriented.count() == 6, "orientation must preserve edge count")
    // orientation is a proper DAG ordering: no edge appears both ways
    val both = oriented.as("x").join(oriented.as("y"),
      col("x.u") === col("y.v") && col("x.v") === col("y.u")).count()
    assert(both == 0, "degree orientation produced a 2-cycle")
    assert(Graph.triangleCount(oriented).head.getLong(0) == 4L)
  }

  test("triangleCount: pendant edges join no triangle") {
    // one triangle {1,2,3} plus a pendant path 3-4-5
    val g = Seq((1, 2), (1, 3), (2, 3), (3, 4), (4, 5))
      .toDF("pa", "pb").withColumn("w", lit(1L))
    assert(Graph.triangleCount(Graph.orientByDegree(g)).head.getLong(0) == 1L)
  }

  test("coOccurrenceEdges: pairs are ordered, deduplicated, and weighted by multiplicity") {
    val df = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), // order 10: parts 1,2,3 -> 3 pairs
      (11L, 1L), (11L, 2L),            // order 11: repeats pair (1,2)
      (12L, 7L)                        // singleton order: no pairs
    ).toDF("g", "item")
    val e = Graph.coOccurrenceEdges(df, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(e == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("coOccurrenceEdges: a NULL group shares nothing, as in the equi-join form") {
    val df = Seq[(Option[Long], Long)](
      (None, 1L), (None, 2L), (None, 3L), // NULL group: no pairs
      (Some(10L), 1L), (Some(10L), 2L)
    ).toDF("g", "item")
    val e = Graph.coOccurrenceEdges(df, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(e == Map((1L, 2L) -> 1L))
  }

  test("sorted_intersect_count accepts nullable-element arrays and fails on a null element") {
    import org.apache.spark.sql.graft.ColumnBridge
    def sic(a: String, b: String) = ColumnBridge.column(
      graft.plans.SortedIntersectCount(ColumnBridge.expression(col(a)),
        ColumnBridge.expression(col(b))))
    val dir = java.nio.file.Files.createTempDirectory("graft_sic").toString
    Seq((Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 7L)), (Seq(2L), Seq.empty[Long]))
      .toDF("a", "b").write.parquet(s"$dir/ok")
    val ok = spark.read.parquet(s"$dir/ok")
    assert(ok.schema("a").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true),
      "parquet round-trip is expected to yield containsNull = true")
    assert(ok.select(sic("a", "b")).collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 0L))
    Seq((Seq(Some(1L), None), Seq(Some(1L)))).toDF("a", "b")
      .write.parquet(s"$dir/bad")
    val bad = spark.read.parquet(s"$dir/bad")
    // generated code with and without whole-stage fusion; eval() below
    Seq("true", "false").foreach { wholeStage =>
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val e = intercept[Exception](bad.select(sic("a", "b")).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(
            _.contains("null array element"))), s"codegen=$wholeStage: $e")
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array[Any](1L, null)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1L)))
    val nullable = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = true)
    val e2 = intercept[IllegalArgumentException](
      graft.plans.SortedIntersectCount(
        org.apache.spark.sql.catalyst.expressions.BoundReference(0, nullable, true),
        org.apache.spark.sql.catalyst.expressions.BoundReference(1, nullable, true))
        .eval(row))
    assert(e2.getMessage.contains("null array element"))
  }

  // -------------------------------------------------- registered queries

  test("g1_pagerank: one rank per nation, mass conserved, all above teleport floor") {
    val rows = SparkEntry.queries("g1_pagerank")(spark, sf).collect()
    assert(rows.length == rows.map(_.getString(0)).distinct.length)
    val total = rows.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-4, s"rank mass $total")
    val floor = 0.15 / rows.length
    rows.foreach(r => assert(r.getDouble(1) >= floor - 1e-9,
      s"${r.getString(0)} below teleport floor"))
  }

  test("tx_textrank_keywords: mass conserved on the symmetrized graph, hubs outrank leaves") {
    val rows = SparkEntry.queries("tx_textrank_keywords")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    // symmetrization leaves no dangling nodes → PageRank mass conserved
    val total = rows.map(_._2).sum
    assert(math.abs(total - 1.0) < 1e-3, s"rank mass $total")
    // centrality, not frequency: every score strictly above the teleport
    // floor means every token participates in the graph
    val floor = 0.15 / rows.length
    rows.foreach { case (t, r) => assert(r > floor - 1e-9, s"$t below floor") }
  }

  test("g2_triangles: census is internally consistent") {
    val r = SparkEntry.queries("g2_triangles")(spark, sf).head
    val (nodes, edges, wedges, tris, coeff) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    assert(nodes > 0 && edges > 0 && wedges > 0 && tris > 0)
    assert(edges <= nodes.toLong * (nodes - 1) / 2, "more edges than a clique")
    // the published wedge bound the census row now makes auditable:
    // every triangle closes 3 wedges, so 3T ≤ wedges
    assert(3 * tris <= wedges, s"3·$tris triangles exceed $wedges wedges")
    assert(coeff > 0.0 && coeff <= 1.0, s"clustering coefficient $coeff out of range")
  }

  test("repeated invocations do not accumulate cached generations") {
    // the q7 leak class: a lazy QueryDef can never unpersist its own
    // cache, so repeats must REPLACE the previous generation, not stack
    SparkEntry.queries("g2_triangles")(spark, sf).collect()
    val live0 = ScopedCache.liveCount
    SparkEntry.queries("g2_triangles")(spark, sf).collect()
    SparkEntry.queries("g2_triangles")(spark, sf).collect()
    assert(ScopedCache.liveCount == live0,
      s"cache generations grew: $live0 -> ${ScopedCache.liveCount}")
  }

  test("triangleCount: shuffled-join fallback matches the broadcast census exactly") {
    import org.apache.spark.sql.functions.col
    // K4 plus pendant edges plus a disjoint triangle: 5 triangles
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (7L, 8L), (7L, 9L), (8L, 9L))
      .toDF("pa", "pb")
    val oriented = Graph.orientByDegree(edges, Graph.degrees(edges))
      .localCheckpoint(true)
    val viaBroadcast = Graph.triangleCount(oriented)
    val viaShuffle = Graph.triangleCount(oriented, maxBroadcastEdges = 0L)
    assert(viaBroadcast.head.getLong(0) == 5L)
    assert(viaShuffle.head.getLong(0) == 5L,
      "the shuffled fallback must produce the identical census")
    // the threshold actually changes the physical strategy
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val shuffledPlan = viaShuffle.queryExecution.executedPlan.toString
    assert(!shuffledPlan.contains("BroadcastHashJoin"),
      s"fallback still broadcasts:\n${shuffledPlan.take(600)}")
  }
}
