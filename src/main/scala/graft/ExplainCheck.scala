package graft

/** Plan-inspection gate (dev tool): asserts the physical-plan properties
  * the 100 TB design depends on — column pruning and predicate pushdown
  * reaching the parquet scan, dimension joins broadcast, partial
  * aggregation, top-k as TakeOrderedAndProject, similarity hot path
  * inside whole-stage codegen. `sbt "runMain graft.ExplainCheck"`.
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, "explain")
    val dir = "/root/testdata/sf0.01"
    var bad = 0
    def check(name: String, desc: String)(ok: String => Boolean): Unit = {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val pass = ok(plan)
      if (!pass) bad += 1
      println(f"$name%-24s ${if (pass) "PLAN_OK " else "PLAN_BAD"} $desc")
      if (!pass) println(plan.take(2500))
    }
    // column pruning: scan reads exactly the 5 referenced columns
    check("s3_scan_project", "scan prunes to 5 columns") { p =>
      val scan = p.linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
      scan.contains("l_returnflag") && !scan.contains("l_shipdate") &&
        !scan.contains("l_partkey")
    }
    // predicate pushdown into the parquet reader
    check("p3_positive_filter", "filters pushed to scan")(
      _.contains("PushedFilters: [IsNotNull"))
    // dimension joins must broadcast (no fact shuffle)
    check("j3_broadcast_dim", "broadcast hash join")(_.contains("BroadcastHashJoin"))
    check("j1_left_join_residual", "broadcast join w/ residual")(
      _.contains("BroadcastHashJoin"))
    check("a14_entity_daily", "broadcast dim in agg query")(
      _.contains("BroadcastHashJoin"))
    // hash aggregation with map-side partial aggregation
    check("a4_daily_agg", "partial hash agg")(p =>
      p.contains("HashAggregate") && p.contains("partial_"))
    // anti-join dedup resolves to a real join strategy
    check("j5_merge_insert_only", "anti join planned") { p =>
      p.contains("LeftAnti") &&
        (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"))
    }
    // top-k never sorts the full dataset
    check("o2_top_k", "TakeOrderedAndProject")(_.contains("TakeOrderedAndProject"))
    // corpus bigram top-20: the k-heap reduction must run BEFORE any window
    // (no single-partition Exchange over the full distinct-bigram table)
    check("tx_top_bigrams", "top-k before rank window")(
      _.contains("TakeOrderedAndProject"))
    // range join: the bucketized formulation must plan as an equi-join —
    // a BroadcastNestedLoopJoin would mean O(|points|·|intervals|) compares
    check("jx_range_join", "bucketized equi-join, no BNLJ") { p =>
      !p.contains("BroadcastNestedLoopJoin") &&
        (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("BroadcastHashJoin"))
    }
    // interval overlap join: same contract on both exploded sides
    check("jx_interval_overlap", "bucketized overlap equi-join, no BNLJ") { p =>
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") &&
        (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("BroadcastHashJoin"))
    }
    // ppjoin: document frequency must come from a (partial-agg) groupBy +
    // join, never a window partitioned by the shingle hash — a window
    // would funnel each hot shingle's posting list through one reducer.
    // POSITIVE form (a rename can't make it vacuous): every window in the
    // plan partitions on the per-doc id (the rank-by-df and per-doc-size
    // windows, duplicated by the self-join); none partitions on the
    // shingle hash, so no hot posting list ever serializes one reducer.
    check("dd_ppjoin", "all windows partition on doc id") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "id")
    }
    // shard packing: the per-doc prefix-sum window must be PARTITIONED by
    // the coarse bucket (never a global window over the corpus), and the
    // O(#buckets) offset table must come back via broadcast
    check("pipe_pack_shards", "bucket-partitioned prefix sum + broadcast offsets") { p =>
      val docWindow = "windowspecdefinition\\(bucket#\\d+L?, doc_id#".r
      docWindow.findFirstIn(p).nonEmpty &&
        p.contains("BroadcastHashJoin [bucket#")
    }
    // per-source quota runs on the custom two-phase TopKPerKey operator
    check("smp_source_quota", "TopKPerKey two-phase plan") { p =>
      p.linesIterator.count(_.contains("TopKPerKey")) == 2
    }
    // IVF ANN: probe→cell assignment is a map-only projection (explode of a
    // literal-centroid ranking) — no driver collect / LocalTableScan leg
    check("sim_knn_ivf", "distributed probe cell assignment") { p =>
      p.contains("Generate") && !p.contains("LocalTableScan")
    }
    // grouped OLS: a million models is ONE grouped partial aggregation of
    // sufficient statistics — no join, no window, no per-group subplan
    check("ml_grouped_ols", "sufficient-statistic partial agg only") { p =>
      p.contains("partial_") && !p.contains("Join") && !p.contains("Window")
    }
    // nearest as-of: the dual-frame window form — one shuffle on the key,
    // both frames over the same sort, never a lateral/range/nested-loop join
    check("jx_asof_nearest", "dual-frame window, no nested-loop join") { p =>
      p.contains("Window") && !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct")
    }
    // burstiness: the top-20 by VMR is a bounded heap, not a full sort
    check("tx_burstiness", "top-20 via TakeOrderedAndProject")(
      _.contains("TakeOrderedAndProject"))
    // water-filling: the level search runs on #sources rows — the only
    // corpus-scale stage is the token census (one partial agg); the level
    // rides back as a 1-row broadcast
    check("pipe_token_waterfill", "1-row level broadcast, partial-agg census") { p =>
      p.contains("BroadcastNestedLoopJoin") && p.contains("partial_")
    }
    // Zipf fit: the top-1000 rank reduction must be TakeOrderedAndProject
    // (bounded heap), never a full sort of the vocabulary
    check("tx_zipf_slope", "top-1000 via TakeOrderedAndProject")(
      _.contains("TakeOrderedAndProject"))
    // dedup weights ride the LSH pair stream — no all-pairs join anywhere
    check("dd_dedup_weights", "no cartesian in the cluster-weight path") { p =>
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")
    }
    // Bloom-pruned semi join: the might_contain predicate must sit in the
    // fact-side filter AHEAD of the exact semi join (the runtime-filter
    // shape — fact rows drop before the join shuffle)
    check("j9_bloom_semi", "might_contain before exact semi join") { p =>
      p.contains("might_contain") &&
        (p.contains("LeftSemi") || p.contains("left_semi"))
    }
    // salted skew join: the small side is replicated via explode (Generate)
    // and the join key carries the salt column — no single-reducer hot key
    check("j10_salted_skew", "salt replication via explode") { p =>
      p.contains("__salt") && p.contains("Generate")
    }
    // window funnel: every stage table broadcasts back onto events — the
    // raw event stream is never shuffle-joined
    check("t8_window_funnel", "stage tables broadcast, events never SMJ'd")(
      p => !p.contains("SortMergeJoin"))
    // PQ ANN hot path is fully native: encoding and ADC scoring are the
    // codegen'd expressions (no interpreted zip_with/aggregate lambdas in
    // the probes×corpus stage), and the shortlist join broadcasts the
    // probe side
    check("sim_knn_pq", "native pq_encode + adc_score, broadcast probes") { p =>
      p.contains("pq_encode") && p.contains("adc_score") &&
        p.contains("BroadcastNestedLoopJoin")
    }
    // native cosine expression present in a codegen'd context: either a
    // whole-stage span or a broadcast join's generated predicate (BNLJ
    // conditions compile through GeneratePredicate → our doGenCode)
    check("dd_embedding_neardup", "codegen'd cosine path") { p =>
      p.contains("cosine_sim") && p.linesIterator.exists(l =>
        l.contains("cosine_sim") &&
          (l.contains("*(") || l.contains("BroadcastNestedLoopJoin")))
    }
    // window functions still leave surrounding stages codegen'd
    check("w4_top1_per_key", "window + codegen")(p =>
      p.contains("RunningWindowFunction") || p.contains("Window"))
    // decontamination: the corpus-side gram join must be a BROADCAST of
    // the (benchmark-sized) eval gram set — a SortMergeJoin here would
    // shuffle every corpus gram; and nothing may plan as a cartesian.
    check("pipe_decontaminate", "eval grams broadcast, no corpus shuffle join") { p =>
      p.contains("BroadcastHashJoin [gram#") &&
        !p.contains("SortMergeJoin [gram#") &&
        !p.contains("CartesianProduct")
    }
    // mixture reweighting: thresholds are driver-computed literals, so the
    // census pass is scan → project → partial agg — no join anywhere
    check("smp_mixture_reweight", "join-free single-scan census") { p =>
      !p.contains("Join") && p.contains("HashAggregate") && p.contains("partial_")
    }
    // quality deciles: ntile partitions by source (parallel over domains,
    // never a global sort), aggregation is partial
    check("w6_quality_ntile", "source-partitioned ntile window") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "source") && p.contains("partial_")
    }
    // chunking: pure explode over the scan — literally zero Exchange in
    // the plan (the no-shuffle claim, asserted)
    check("tx_chunks", "shuffle-free explode chunking") { p =>
      p.contains("Generate explode") && !p.contains("Exchange")
    }
    // bm25: the k-heap reduction (never a global sort), the corpus-stats
    // broadcast, and the only ordered window bounded at the k rows
    check("tx_bm25", "stats broadcast + TakeOrderedAndProject") { p =>
      p.contains("TakeOrderedAndProject") && p.contains("BroadcastNestedLoopJoin") &&
        p.indexOf("TakeOrderedAndProject") > p.indexOf("Window")
    }
    // bigram-LM scoring: both count tables reach the scorer as broadcasts —
    // the 100 TB text stream must join model-side, not shuffle doc-side
    check("tx_lm_perplexity", "count tables broadcast to scoring join") { p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 2 &&
        !p.contains("SortMergeJoin")
    }
    // trigram LM: all four count-table lookups reach the scorer as
    // broadcasts (same contract as the bigram scorer — the 100 TB text
    // stream joins model-side, never shuffles doc-side)
    check("tx_lm_trigram", "four count tables broadcast to scoring join") { p =>
      "BroadcastHashJoin".r.findAllIn(p).size >= 4 &&
        !p.contains("SortMergeJoin")
    }
    // nearest-centroid assignment: the #labels-row prototype table ships
    // broadcast (cross join = BNLJ over a tiny build side, by design);
    // the argmax window partitions on vec_id, never a global window
    check("sim_centroid_assign", "broadcast prototypes + per-vector window") { p =>
      p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin") &&
        "windowspecdefinition\\(vec_id#".r.findFirstIn(p).nonEmpty
    }
    // semantic dedup: the self-join meets on the block key via a real
    // equi-join (blocking bounds the pair space; nothing all-pairs)
    check("dd_semantic", "block-keyed equi self-join, no BNLJ") { p =>
      !p.contains("BroadcastNestedLoopJoin") &&
        (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("BroadcastHashJoin"))
    }
    // winsorized means: the 5-row percentile-bounds table must broadcast —
    // the fact side is re-scanned but never shuffled for the clamp join
    check("a21_winsorized", "percentile bounds broadcast to clamp join") { p =>
      p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")
    }
    // tf-idf: term-count aggregates are map-side partial, and the only
    // windows partition on doc_id (per-doc top-k, never a global rank)
    check("tx_tfidf_terms", "partial aggs + doc-partitioned top-k window") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      p.contains("partial_") && parts.nonEmpty && parts.forall(_ == "doc_id")
    }
    // cluster representative: ONE partial-aggregable max_by per component —
    // no window, no per-cluster sort, no cartesian anywhere
    check("dd_cluster_rep", "partial max_by, window-free, no cartesian") { p =>
      p.contains("partial_") && p.contains("max_by") &&
        !p.contains("windowspecdefinition") && !p.contains("CartesianProduct")
    }
    // weighted sampling: the k-largest-keys reduction must be per-partition
    // heaps (TakeOrderedAndProject), never a global sort of the corpus
    check("smp_weighted_k", "weighted reservoir as TakeOrderedAndProject") { p =>
      p.contains("TakeOrderedAndProject") && !p.contains("Exchange rangepartitioning")
    }
    // share-of-total: the only window partitions on day (parallel over
    // days, input already aggregated)
    check("w8_share_of_day", "day-partitioned ratio window") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "day") && p.contains("partial_")
    }
    // transition matrix: the lag window partitions on user_id (scales
    // with users), final agg map-side partial
    check("w9_transition_matrix", "user-partitioned lag window + partial agg") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "user_id") && p.contains("partial_")
    }
    // cohort retention: first-seen join is a real equi-join (never a
    // cartesian), aggregates map-side partial
    check("a22_cohort_retention", "equi-join cohorts, no cartesian") { p =>
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
        p.contains("partial_")
    }
    // n-gram diversity: window-free — one explode, partial aggregation
    check("tx_ngram_diversity", "window-free partial-agg diversity") { p =>
      !p.contains("windowspecdefinition") && p.contains("partial_") &&
        p.contains("Generate explode")
    }
    // snapshot diff: a full-outer SHUFFLE join is the minimal exact diff
    // (both versions of each key must co-locate); a broadcast would mean
    // one whole snapshot fits in memory — wrong at reconciliation scale
    check("j8_table_diff", "full-outer shuffle join, partial-agg report") { p =>
      p.contains("FullOuter") &&
        (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) &&
        p.contains("partial_")
    }
    // streaks: both windows partition by user — no global ordering anywhere
    check("w11_streaks", "per-user windows only") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "user_id")
    }
    // CDC chunking: chunk-index window partitions by doc (per-doc state),
    // and no join anywhere — chunk assembly is pure agg
    check("dd_cdc_chunks", "doc-partitioned window, join-free") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "doc_id") &&
        !p.contains("Join") && p.contains("partial_")
    }
    // graded contamination: the eval gram set must broadcast (benchmark-
    // sized); the train-side gram stream never shuffles for the semijoin
    check("pipe_contamination_rate", "eval grams broadcast")(
      _.contains("BroadcastHashJoin"))
    // contrastive pairs: one source-partitioned window, no self-join —
    // the lead() formulation halves the naive rank-join plan
    check("smp_balanced_pairs", "single window, no self-join") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "source") && !p.contains("Join")
    }
    // exact OLS: the fit and stddev scalars come back as 1-row broadcasts;
    // the series never shuffles for a join (BNLJ on a 1-row build side is
    // the degenerate-and-correct cross join)
    check("ml_ols_residuals", "1-row coefficient broadcasts only") { p =>
      !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
        p.contains("BroadcastNestedLoopJoin")
    }
    // PageRank superstep: both nation dims broadcast onto the fact scan
    // (the edge build never shuffles the fact on a dim key), and the
    // rank-contribution aggregation keeps map-side partials
    check("g1_pagerank", "dims broadcast + partial agg in supersteps") { p =>
      p.contains("BroadcastHashJoin") && p.contains("partial_")
    }
    // triangle census: the adjacency-intersection probes plan as joins
    // (broadcast at fixture scale by the operator's hints) and the census
    // aggregations keep map-side partials
    check("g2_triangles", "edge joins planned + partial agg census") { p =>
      (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin")) && p.contains("partial_")
    }
    // k-means supersteps: the centroid table broadcasts onto the point
    // stream (points never shuffle for the distance join) and both the
    // distance and update aggregations keep map-side partials
    check("ml_kmeans", "centroids broadcast + partial aggs") { p =>
      p.contains("BroadcastHashJoin") && p.contains("partial_")
    }
    // attribution: two RANGE-frame windows and no join of any kind —
    // the struct min/max IS the argmin, so the plan must be join-free
    check("w16_attribution", "windows only, join-free") { p =>
      p.contains("Window") && !p.contains("Join")
    }
    // histogram: the one-row bounds frame broadcasts onto the scan and
    // the bucket census keeps map-side partials
    check("a24_histogram", "broadcast bounds + partial agg") { p =>
      p.contains("BroadcastNestedLoopJoin") && p.contains("partial_")
    }
    // correlation matrix: all 15 sufficient statistics come from ONE
    // lineitem scan (a 6-way unioned per-pair plan would scan it 6×)
    check("a26_corr_matrix", "single lineitem scan + partial agg") { p =>
      p.linesIterator.count(_.contains("FileScan parquet")) == 1 &&
        p.contains("partial_")
    }
    // duplicated-window census: cross-doc test is a partial-aggregable
    // min/max over hashes (never countDistinct), flag rides back on a
    // real equi-join — window-free, nothing all-pairs
    check("dd_dup_ngram_spans", "partial min/max census, join-free of windows") { p =>
      p.contains("partial_min") && p.contains("partial_max") &&
        !p.contains("windowspecdefinition") && !p.contains("CartesianProduct")
    }
    // span trim: same hash-census core plus the per-doc rebuild — still
    // no cartesian, no global window; per-doc state only
    check("dd_trim_dup_spans", "hash census + per-doc rebuild, no cartesian") { p =>
      p.contains("partial_") && !p.contains("CartesianProduct") &&
        !p.contains("windowspecdefinition")
    }
    // span-length histogram: the gaps-and-islands window must PARTITION
    // on doc_id (per-doc frames bounded by the doc's own token count) —
    // an unpartitioned window here is a full-corpus single-reducer sort
    check("dd_dup_span_hist", "islands window partitioned per doc") { p =>
      val parts = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toList
      parts.nonEmpty && parts.forall(_ == "doc_id") &&
        !p.contains("CartesianProduct")
    }
    // census normalizers: the temperature partition function and the
    // token total are window sums OVER the #sources census — a
    // crossJoin-broadcast normalizer re-executes the census lineage,
    // i.e. scans the 100 TB corpus twice for a 20-row frame
    check("smp_temperature", "single documents scan, join-free census") { p =>
      p.linesIterator.count(_.contains("FileScan parquet")) == 1 &&
        !p.contains("Join") && p.contains("partial_")
    }
    check("smp_token_budget", "single documents scan, join-free census") { p =>
      p.linesIterator.count(_.contains("FileScan parquet")) == 1 &&
        !p.contains("Join") && p.contains("partial_")
    }
    // bootstrap: the CPU-bound hash fan-out must be SPREAD across cores
    // before the 32-replica decode — the single-row-group fixture file
    // yields one input split, so dropping the round-robin repartition
    // silently serializes the whole fan-out (measured 11.7s vs 2s warm).
    // The query skips the spread by design when the scan already has
    // ≥ cores splits (multi-row-group fixture / low-core runner), so
    // gate the assertion on the query's own condition: spread expected
    // iff splits < cores, and a spread in the ≥-cores branch would be a
    // pointless shuffle — assert its ABSENCE there.
    val bootstrapSplits = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .rdd.getNumPartitions
    val bootstrapNeedsSpread =
      bootstrapSplits < spark.sparkContext.defaultParallelism
    check("smp_bootstrap",
      if (bootstrapNeedsSpread) "hash fan-out spread across cores"
      else "no redundant spread (scan already parallel)") { p =>
      p.contains("RoundRobinPartitioning") == bootstrapNeedsSpread &&
        p.contains("partial_")
    }
    // PII redaction is a pure per-row rewrite: the plan must be map-only
    // (no Exchange) so the pass pipelines into the scan at 100 TB
    check("tx_pii_redact", "map-only redaction, no Exchange")(
      !_.contains("Exchange"))
    // shallow clone: foreign-URI file references must not cost pushdown —
    // the scan over a clone is the same explicit-file-list parquet scan
    // as the source's own read, PushedFilters intact and map-only
    locally {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_clone").toString
      val src = root + "/src"
      graft.warehouse.Snapshots.commitAppend(spark,
        (1L to 100L).map(i => (i, i * 2L)).toDF("id", "x"), src)
      graft.warehouse.Snapshots.cloneTable(spark, src, root + "/fork")
      val plan = graft.warehouse.Snapshots.read(spark, root + "/fork")
        .filter($"id" > 50L).select("x")
        .queryExecution.executedPlan.toString
      val pass = plan.contains("GreaterThan(id,50)") &&
        plan.contains("FileScan parquet") && !plan.contains("Exchange")
      if (!pass) { bad += 1; println(plan.take(2500)) }
      println(f"snap_clone_scan          ${if (pass) "PLAN_OK " else "PLAN_BAD"} pushdown through foreign refs, map-only")
    }
    // salted-join drive: skewed key split across salt reducers, results exact
    locally {
      import spark.implicits._
      val large = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
      val small = Seq((1L, "hot"), (950L, "tail")).toDF("k", "name")
      val salted = graft.operators.Scale.saltedJoin(large, small, "k", 8)
      val n = salted.count()
      val plain = large.join(small, Seq("k")).count()
      val pass = n == plain
      if (!pass) bad += 1
      println(f"salted_join              ${if (pass) "PLAN_OK " else "PLAN_BAD"} rows=$n (plain=$plain)")
    }
    // catalog-SQL file-skipping: the sidecar prune fires during filter
    // pushdown (driver-side, before the scan exists), filters STILL push
    // into the parquet scan, and the hook records a strict subset
    locally {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_cskip").toString
      val t = root + "/t"
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 8000).toDF("id")
          .repartitionByRange(8, org.apache.spark.sql.functions.col("id")), t)
      graft.warehouse.Snapshots.extendStats(spark, t, Seq("id"))
      spark.conf.set("spark.sql.catalog.gexpl",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexpl.root", root)
      val df = spark.sql("SELECT id FROM gexpl.t WHERE id < 500")
      val n = df.count()
      val plan = df.queryExecution.executedPlan.toString
      val pruned = graft.warehouse.Snapshots.lastCatalogPruned
      val pass = n == 500L && plan.contains("PushedFilters") &&
        plan.contains("LessThan(id,500") &&
        pruned.exists(pr => pr._1 < pr._2)
      if (!pass) { bad += 1; println(s"pruned=$pruned\n" + plan.take(2000)) }
      println(f"snap_catalog_prune       ${if (pass) "PLAN_OK " else "PLAN_BAD"} sidecar file-skip + pushdown intact (${pruned.getOrElse((-1, -1))})")
    }
    // column mapping through the catalog: the physical scan re-labels to
    // logical names, pushdown on an UNRENAMED column is untouched, and
    // the renamed column reads its values (never all-NULL)
    locally {
      import spark.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_ren").toString
      val t = root + "/t"
      graft.warehouse.Snapshots.commitAppend(spark,
        (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), t)
      graft.warehouse.Snapshots.commitRenameColumn(spark, t, "v", "label")
      spark.conf.set("spark.sql.catalog.gexpr",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexpr.root", root)
      val df = spark.sql(
        "SELECT label FROM gexpr.t WHERE id = 7 AND label IS NOT NULL")
      val rows = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val pass = rows.map(_.getString(0)).toSeq == Seq("v7") &&
        plan.contains("EqualTo(id,7")
      if (!pass) { bad += 1; println(plan.take(2000)) }
      println(f"snap_colmap_scan         ${if (pass) "PLAN_OK " else "PLAN_BAD"} logical names served, unrenamed pushdown intact")
    }
    // declared partition transform: a pushed date bound skips whole
    // __gp= directories before the scan is constructed
    locally {
      import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_part").toString
      val t = root + "/t"
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 1).toDF("id")
          .withColumn("d", to_date(lit("2024-06-01"))), t)
      graft.warehouse.Snapshots.commitSetPartition(spark, t, "d", "date")
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 800).toDF("id")
          .withColumn("d", date_add(to_date(lit("2024-06-01")),
            (col("id") % 8).cast("int"))), t)
      spark.conf.set("spark.sql.catalog.gexpp",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexpp.root", root)
      val df = spark.sql(
        "SELECT count(*) FROM gexpp.t WHERE d = DATE '2024-06-05'")
      val n = df.head.getLong(0)
      val pruned = graft.warehouse.Snapshots.lastCatalogPruned
      val pass = n == 100L && pruned.exists(pr => pr._1 < pr._2)
      if (!pass) { bad += 1; println(s"n=$n pruned=$pruned") }
      println(f"snap_partition_prune     ${if (pass) "PLAN_OK " else "PLAN_BAD"} directory skip before the scan (${pruned.getOrElse((-1, -1))})")
    }
    // runtime join-key file skipping: with NO literal fact predicate,
    // the broadcast dim's key set re-prunes the fact scan at execution
    // (SupportsRuntimeV2Filtering) — the plan carries the dynamic
    // pruning expression and the runtime hook shows a strict subset
    locally {
      import org.apache.spark.sql.functions.col
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_rt").toString
      val t = root + "/fact"
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 8000).toDF("k")
          .repartitionByRange(8, col("k")), t)
      graft.warehouse.Snapshots.extendStats(spark, t, Seq("k"))
      spark.conf.set("spark.sql.catalog.gexrt",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexrt.root", root)
      spark.range(0, 8000, 500).toDF("k")
        .withColumn("seg", (col("k") / 500 % 4).cast("int"))
        .createOrReplaceTempView("gexrt_dim")
      graft.warehouse.Snapshots.lastRuntimePruned = None
      val df = spark.sql(
        """SELECT f.k FROM gexrt.fact f
          |JOIN gexrt_dim d ON f.k = d.k WHERE d.seg = 1""".stripMargin)
      val rows = df.collect().map(_.getLong(0)).toSet
      val plan = df.queryExecution.executedPlan.toString
      val pruned = graft.warehouse.Snapshots.lastRuntimePruned
      val pass = rows == Set(500L, 2500L, 4500L, 6500L) &&
        (plan.contains("dynamicpruning") ||
          plan.contains("RuntimeFilters")) &&
        pruned.exists(pr => pr._1 < pr._2)
      if (!pass) { bad += 1; println(s"rows=$rows pruned=$pruned\n" +
        plan.take(2000)) }
      println(f"snap_runtime_skip        ${if (pass) "PLAN_OK " else "PLAN_BAD"} broadcast key set re-prunes at execution (${pruned.getOrElse((-1, -1))})")
    }
    // declared identity transform reported as a storage partitioning
    // (SupportsReportPartitioning + HasPartitionKey): a group-by on the
    // partition column plans with NO Exchange — the table's hottest
    // aggregation shuffle, gone
    locally {
      import org.apache.spark.sql.functions.col
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_kg").toString
      val t = root + "/t"
      graft.warehouse.Snapshots.commitCreate(spark, t,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cat",
            org.apache.spark.sql.types.StringType))),
        Seq(("cat", "identity")))
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 4000).toDF("id")
          .withColumn("cat", org.apache.spark.sql.functions
            .concat(org.apache.spark.sql.functions.lit("c"),
              (col("id") % 8).cast("string"))), t)
      spark.conf.set("spark.sql.catalog.gexkg",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexkg.root", root)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val df = spark.sql(
          "SELECT cat, count(*) AS n FROM gexkg.t GROUP BY cat")
        val rows = df.collect().map(r => r.getString(0) -> r.getLong(1))
          .toMap
        val plan = df.queryExecution.executedPlan.toString
        val pass = rows.size == 8 && rows.values.forall(_ == 500L) &&
          !plan.contains("Exchange")
        if (!pass) { bad += 1; println(s"rows=$rows\n" + plan.take(2000)) }
        println(f"snap_keygroup_agg        ${if (pass) "PLAN_OK " else "PLAN_BAD"} partition-column group-by plans Exchange-free")
      } finally
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    // metadata-only aggregates: COUNT/MIN/MAX on a stats-indexed table
    // answered from the sidecar — the plan carries the zero-IO scan
    // node, never a parquet scan
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_magg").toString
      val t = root + "/t"
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 5000).toDF("id")
          .repartitionByRange(8, org.apache.spark.sql.functions.col("id")),
        t)
      graft.warehouse.Snapshots.extendStats(spark, t, Seq("id"))
      spark.conf.set("spark.sql.catalog.gexma",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexma.root", root)
      val df = spark.sql(
        "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM gexma.t")
      val r = df.collect()(0)
      val plan = df.queryExecution.executedPlan.toString
      val pass = r.getLong(0) == 5000L && r.getLong(1) == 0L &&
        r.getLong(2) == 4999L && plan.contains("GraftStatsAggScan") &&
        !plan.contains("ParquetScan") &&
        graft.warehouse.Snapshots.lastAggAnswered.contains(3)
      if (!pass) { bad += 1; println(s"row=$r\n" + plan.take(1500)) }
      println(f"snap_stats_agg           ${if (pass) "PLAN_OK " else "PLAN_BAD"} census answered from the sidecar, zero files opened")
    }
    // LIMIT/TopN file-list pruning: a bare LIMIT keeps a count-covering
    // file prefix; ORDER BY ... LIMIT keeps only files the sidecar
    // cannot rule out of the global top-k — both partial pushdowns, so
    // Spark's own Limit/TakeOrdered still guards semantics above
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_topn").toString
      val t = root + "/t"
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 8000).toDF("id")
          .repartitionByRange(16, org.apache.spark.sql.functions.col("id")),
        t)
      graft.warehouse.Snapshots.extendStats(spark, t, Seq("id"))
      spark.conf.set("spark.sql.catalog.gexlt",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexlt.root", root)
      val lim = spark.sql("SELECT * FROM gexlt.t LIMIT 700")
      val nLim = lim.count()
      val limPruned = graft.warehouse.Snapshots.lastLimitPruned
      val top = spark.sql("SELECT id FROM gexlt.t ORDER BY id DESC LIMIT 5")
      val topRows = top.collect().map(_.getLong(0)).toSeq
      val topPruned = graft.warehouse.Snapshots.lastTopNPruned
      val topPlan = top.queryExecution.executedPlan.toString
      val pass = nLim == 700L &&
        limPruned.exists { case (k, n) => n == 16 && k <= 2 } &&
        topRows == Seq(7999L, 7998L, 7997L, 7996L, 7995L) &&
        topPruned.exists { case (k, n) => n == 16 && k <= 2 } &&
        topPlan.contains("TakeOrderedAndProject")
      if (!pass) { bad += 1
        println(s"nLim=$nLim lim=$limPruned top=$topRows topPruned=" +
          s"$topPruned\n" + topPlan.take(1200)) }
      println(f"snap_limit_topn_skip     ${if (pass) "PLAN_OK " else "PLAN_BAD"} LIMIT reads a file prefix, ORDER BY+LIMIT reads the tail files")
    }
    // storage-partitioned join over bucket transforms: two tables
    // bucketed bucket(8, k) join on k with NO Exchange on either side —
    // the catalog's FunctionCatalog face resolves the bucket function
    // the planner matches across the scans
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_spj").toString
      spark.conf.set("spark.sql.catalog.gexspj",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexspj.root", root)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        import org.apache.spark.sql.types._
        graft.warehouse.Snapshots.commitCreate(spark, root + "/a",
          StructType(Seq(StructField("k", LongType),
            StructField("v", LongType))), Seq(("k", "bucket8")))
        graft.warehouse.Snapshots.commitCreate(spark, root + "/b",
          StructType(Seq(StructField("k", LongType),
            StructField("w", LongType))), Seq(("k", "bucket8")))
        graft.warehouse.Snapshots.commitAppend(spark,
          spark.range(0, 4000).selectExpr("id % 500 AS k", "id AS v"),
          root + "/a")
        graft.warehouse.Snapshots.commitAppend(spark,
          spark.range(0, 500).selectExpr("id AS k", "id * 10 AS w"),
          root + "/b")
        val j = spark.sql(
          "SELECT a.k, a.v, b.w FROM gexspj.a a JOIN gexspj.b b " +
            "ON a.k = b.k")
        val n = j.count()
        val plan = j.queryExecution.executedPlan.toString
        val pass = n == 4000L && !plan.contains("Exchange")
        if (!pass) { bad += 1; println(s"n=$n\n" + plan.take(2500)) }
        println(f"snap_bucket_spj          ${if (pass) "PLAN_OK " else "PLAN_BAD"} bucket(8,k)-clustered join plans Exchange-free")
      } finally {
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        spark.conf.unset(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    // stock row-level SQL commits by deletion vector: an UPDATE whose
    // condition the stats sidecar can prune kills the matched rows in
    // place — every original file still holding an untouched row
    // carries BY NAME, the partly-updated one with a vector, and only
    // the new row versions are staged
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_rl").toString
      val t = root + "/t"
      // eight files of 500 consecutive ids each
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 4000, 1, 8).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        t)
      graft.warehouse.Snapshots.extendStats(spark, t, Seq("id"))
      spark.conf.set("spark.sql.catalog.gexrl",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.gexrl.root", root)
      val before = graft.warehouse.Snapshots.filesAt(spark, t, 1L)
      def ids(f: String) = spark.read.parquet(s"$t/data/$f")
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head
      val untouched = before.filter(f => ids(f).getLong(1) >= 700L)
      val partly = before.filter { f =>
        val r = ids(f); r.getLong(0) < 700L && r.getLong(1) >= 700L
      }
      spark.sql("UPDATE gexrl.t SET v = v + 10000 WHERE id < 700")
      val after = graft.warehouse.Snapshots.filesAt(spark, t, 2L)
      val vectored = graft.warehouse.Snapshots.deadRowsAt(spark, t, 2L)
      val staged = after.filterNot(before.contains)
      val stagedRows = staged.map(f =>
        spark.read.parquet(s"$t/data/$f").count()).sum
      val r = spark.sql(
        "SELECT count(*) AS n, sum(CASE WHEN v >= 10000 THEN 1 ELSE 0 " +
          "END) AS bumped FROM gexrl.t").collect()(0)
      val pass = before.size == 8 && untouched.size == 7 &&
        partly.size == 1 && untouched.forall(after.contains) &&
        vectored.keySet == partly.toSet && stagedRows == 700L &&
        r.getLong(0) == 4000L && r.getLong(1) == 700L
      if (!pass) { bad += 1
        println(s"before=${before.size} untouched=${untouched.size} " +
          s"partly=$partly carried=${untouched.count(after.contains)} " +
          s"vectored=${vectored.keySet} staged rows=$stagedRows r=$r") }
      println(f"snap_rowlevel_dv         ${if (pass) "PLAN_OK " else "PLAN_BAD"} stock UPDATE kills rows by deletion vector: untouched rows' files carry, only new versions staged")
    }
    // quoted-path DML is Spark's own row-level plan over the snapshot
    // catalog's path identifier: a WriteDelta whose scan is the snapshot
    // scan, never an engine command with a second parse of the statement
    locally {
      val t = java.nio.file.Files
        .createTempDirectory("graft_explain_path").toString + "/t"
      graft.warehouse.Snapshots.commitAppend(spark,
        spark.range(0, 100, 1, 2).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        t)
      val df = spark.sql(s"UPDATE '$t' SET v = v + 1 WHERE id < 10")
      val (logical, physical) = df.queryExecution.analyzed match {
        case c: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
          (c.commandLogicalPlan, c.commandPhysicalPlan)
        case p => (p, df.queryExecution.executedPlan)
      }
      val pass = logical.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.WriteDelta] &&
        physical.toString.contains("WriteDelta") &&
        physical.toString.contains(
          s"BatchScan ${graft.sources.SnapshotCatalog.PathCatalog}.$t@v1") &&
        graft.warehouse.Snapshots.currentVersion(spark, t) == 2L
      if (!pass) { bad += 1; println(logical.toString.take(1500))
        println(physical.toString.take(2500)) }
      println(f"snap_path_rowlevel       ${if (pass) "PLAN_OK " else "PLAN_BAD"} quoted-path UPDATE plans a WriteDelta over the snapshot scan")
    }
    // registry-wide lambda lint (the dev gate TextFns/Text scaladoc points
    // at): no registered query's optimized plan may re-tokenize per array
    // element inside a HOF lambda — the O(len²) class that shipped twice.
    locally {
      val dirty = SparkEntry.registry.flatMap { q =>
        val plan = q.fn(spark, dir).queryExecution.optimizedPlan.toString
        val v = graft.plans.LambdaLint.violations(plan)
        if (v.isEmpty) Nil
        else Seq(s"  ${q.name}: ${v.map { case (b, p) => s"$p in [${b.take(80)}]" }.mkString("; ")}")
      }
      val pass = dirty.isEmpty
      if (!pass) bad += 1
      println(f"lambda_lint              ${if (pass) "PLAN_OK " else "PLAN_BAD"} ${SparkEntry.registry.size} registered plans scanned")
      dirty.foreach(println)
    }
    println(if (bad == 0) "ALL_PLANS_OK" else s"$bad PLAN CHECKS FAILED")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
