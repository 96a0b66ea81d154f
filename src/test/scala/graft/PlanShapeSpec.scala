package graft

import org.apache.spark.sql.DataFrame
import graft.core.GraftSession

/** Plan-shape invariants for scale-critical registry queries — the
  * properties that make them survive a 100× scale-up, asserted against
  * the optimized physical plan so a refactor can't silently regress
  * them (e.g. a lost broadcast hint turning a bucketed pipeline into a
  * cartesian product). */
class PlanShapeSpec extends SparkSpecBase {

  private def planOf(name: String): String = {
    GraftSession.tune(spark)
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  /** Its 32×2-bit geometry cannot prune (RhpLsh.bandingPrunes), so the
    * gate is exact all-pairs by design: the one nested-loop join pairs
    * each vector with id-range blocks (the collect_list aggregate) and
    * the kernel scores a whole block per joined row. The banded path's
    * no-NLJ guard lives on in the dedup_embedding_prod test. */
  test("dedup_embedding (exact blocked path) joins vectors to blocks, not vectors") {
    val p = planOf("dedup_embedding")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.split("BroadcastNestedLoopJoin").length == 2, s"one nested loop expected:\n$p")
    assert(p.contains("collect_list") && p.contains("block_cosine"), s"no block join in:\n$p")
    assert(!p.contains("posexplode"), s"band stage in:\n$p")
  }

  test("dedup_embedding_prod (production τ=0.9 geometry) has no cartesian/nested-loop join") {
    val p = planOf("dedup_embedding_prod")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$p")
  }

  test("dedup_minhash_lsh has no cartesian/nested-loop join") {
    val p = planOf("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("er_fuzzy_match pairs via the block-key equi-join, never all-pairs") {
    val p = planOf("er_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match degenerated to all-pairs:\n$p")
  }

  test("sim_sparse_cosine pairs via the shingle inverted-index equi-join, never all-pairs") {
    val p = planOf("sim_sparse_cosine")
    assert(!p.contains("CartesianProduct"),
      s"sparse cosine degenerated to all-pairs:\n$p")
    // nested-loop joins are expected ONLY as the 1-row corpus-count
    // broadcast folded into the idf weights (the Collocations totals
    // idiom — it replaced a docs.count() driver action). The weighted
    // frame is referenced four times (wa, wb, na, nb), so the plan
    // TEXT re-expands that cross up to four times; at runtime the
    // identical BroadcastExchange is reused. The pair join itself
    // must stay the hash equi-join on the term.
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 4, s"$nlj nested-loop joins (only the re-expanded 1-row totals cross is allowed):\n$p")
  }

  test("dedup_containment pairs via the shingle inverted-index equi-join, never all-pairs") {
    val p = planOf("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment degenerated to all-pairs:\n$p")
  }

  test("graph_triangles closes wedges with equi-joins, never all-pairs") {
    val p = planOf("graph_triangles")
    assert(!p.contains("CartesianProduct"),
      s"triangle counting degenerated to all-pairs:\n$p")
    // exactly ONE nested-loop join is expected: the final 1-row × 1-row
    // cross of the triangle count with the wedge total — the wedge and
    // closure joins themselves must stay hash equi-joins
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 1, s"$nlj nested-loop joins (only the 1x1 stats cross is allowed):\n$p")
  }

  /** The gate above reads the materialized closed-triangle fixture, so
    * its plan holds no wedge or closure join; this pins them where they
    * run, on the enumeration's executed plan. */
  test("Triangles.closed closes wedges with equi-joins, never all-pairs") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val closed = graft.graph.Triangles.closed(und, graft.graph.Undirected.degrees(und))
    assert(closed.collect().length == 2)
    val p = closed.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true") && p.contains("HashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration degenerated to all-pairs:\n$p")
  }

  test("x_range_join_binned matches points to intervals via the month-bucket equi-join, never a nested-loop BETWEEN") {
    val p = planOf("x_range_join_binned")
    // the whole point of the binned decomposition: the BETWEEN lands as
    // a residual FILTER on a hash equi-join's output, not as a
    // nested-loop join condition
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to nested-loop:\n$p")
  }

  test("x_bootstrap_ci is explode + keyed aggregation — no window, no global sort") {
    val p = planOf("x_bootstrap_ci")
    assert(!p.contains("Window"), s"unexpected window in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("graph_hits iterates with hash equi-joins, never all-pairs") {
    val p = planOf("graph_hits")
    // BroadcastNestedLoopJoins are expected ONLY as the 1-row L1-total
    // crosses (one per normalize half-step); the score/edge joins must
    // stay hash equi-joins
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q1 scan prunes to the referenced lineitem columns") {
    val p = planOf("q1_pricing_summary")
    // the pricing summary touches 7 of 16 lineitem columns; a full-width
    // ReadSchema means projection pushdown broke
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_shipmode"),
      s"unpruned scan: $read")
  }

  test("curate_decontam probes a broadcast (corpus side never shuffles pre-join)") {
    val p = planOf("curate_decontam")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"benchmark side got shuffled:\n$p")
  }

  test("no pre-explode filter recomputes the shingle expression (InferFiltersFromGenerate excluded)") {
    val p = planOf("curate_decontam")
    // with the rule excluded, no Filter node should contain the shingle
    // transform (the expensive array expression appears exactly once,
    // in the Project feeding Generate)
    val filterLines = p.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq ++
      p.linesIterator.filter(_.trim.startsWith(":- Filter")).toSeq
    assert(!filterLines.exists(_.contains("array_distinct")),
      s"shingle expression recomputed in a filter:\n${filterLines.mkString("\n")}")
  }

  test("text_pmi pairs expand map-side; count joins broadcast (no corpus SMJ)") {
    val p = planOf("text_pmi")
    // a positional self-join of the exploded token stream would show
    // as a SortMergeJoin of the corpus; the array expansion keeps the
    // only joins vocabulary-sized broadcasts
    assert(!p.contains("SortMergeJoin"), s"corpus-sized join in:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"count joins not broadcast:\n$p")
  }

  test("text_inverted_index partially aggregates the posting buffer") {
    val p = planOf("text_inverted_index")
    assert(p.contains("partial_min_k_distinct"),
      s"posting buffer lost its map-side combine:\n$p")
  }

  test("ts_resample_ffill sorts per key, never globally (one fill window)") {
    val p = planOf("ts_resample_ffill")
    // the fill is a per-key window; the only global sort allowed is
    // the gate's final orderBy over the 150-row summary
    assert(p.contains("Window"), s"fill window missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid join degenerated:\n$p")
  }

  test("curate_winsorize clips via a broadcast of the bounds") {
    val p = planOf("curate_winsorize")
    assert(p.contains("BroadcastHashJoin"), s"bounds join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus reshuffled for the clip:\n$p")
  }

  test("q21 decorrelates EXISTS/NOT-EXISTS into keyed semi/anti joins") {
    val p = planOf("q21_waiting_suppliers")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"correlated subquery fell back to a nested loop:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"semi/anti join pair missing:\n$p")
  }

  test("sim_ivf_topk joins on buckets, not all pairs") {
    val p = planOf("sim_ivf_topk")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("dedup_incremental_bloom probes the native bloom expression, no UDF") {
    val p = planOf("dedup_incremental_bloom")
    assert(p.contains("might_contain"), s"native bloom probe missing:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF("),
      s"UDF in bloom path:\n$p")
  }

  test("dedup_semantic pairs only inside kmeans buckets (no cartesian)") {
    val p = planOf("dedup_semantic")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("dedup_semantic_capped keeps the bucket-size guard in the plan") {
    val p = planOf("dedup_semantic_capped")
    // (a BroadcastNestedLoopJoin IS expected: Ivf.assign crosses the
    // corpus with the broadcast k-row centroid set — same as
    // dedup_semantic)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the RHP sub-split kernel must gate pair formation
    assert(p.contains("rhp_sig"), s"secondary-band split missing:\n$p")
  }

  test("dedup_spans joins key on the window fingerprint (no cartesian/NLJ)") {
    val p = planOf("dedup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in:\n$p")
  }

  test("mm_phash_neardup candidates come from the banded bucket join") {
    val p = planOf("mm_phash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in:\n$p")
  }

  test("x_topk_per_group combines the top-k heap map-side (no window sort)") {
    val p = planOf("x_topk_per_group")
    assert(p.contains("partial_bounded_top_k"),
      s"map-side combine lost for bounded_top_k:\n$p")
    assert(!p.contains("Window"), s"fell back to a window sort:\n$p")
  }

  test("sim top-k paths rank via the heap aggregate, not a window sort") {
    Seq("sim_bruteforce_topk", "sim_ivf_topk", "sim_quantized_topk").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q fell back to a window sort:\n$p")
      assert(p.contains("partial_bounded_top_k"),
        s"$q lost the map-side heap combine:\n$p")
    }
  }

  test("text_tfidf ranks per-doc terms via the heap aggregate, not a window sort") {
    val p = planOf("text_tfidf")
    assert(!p.contains("Window"), s"fell back to a window sort:\n$p")
    assert(p.contains("partial_bounded_top_k"),
      s"lost the map-side heap combine:\n$p")
  }

  test("sketch_kmv_distinct partially aggregates the BoundedMinK state") {
    val p = planOf("sketch_kmv_distinct")
    // ObjectHashAggregate must run in partial then merge mode: the
    // exchange carries k longs per group, never the raw rows
    assert(p.contains("ObjectHashAggregate"), s"typed agg missing:\n$p")
    assert(p.contains("partial_min_k_distinct"),
      s"map-side combine lost for min_k_distinct:\n$p")
  }

  test("sketch_corpus_overlap shrinks corpora map-side; pairing broadcasts sketches") {
    val p = planOf("sketch_corpus_overlap")
    // each corpus must collapse to O(k) state before any exchange,
    // and the all-pairs comparison must join the tiny sketch table
    // via broadcast — the raw bigram stream never reaches the pairing
    assert(p.contains("partial_min_k_distinct"),
      s"map-side combine lost for kmv state:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"sketch pairing is not a broadcast join:\n$p")
  }

  test("text_normalize / text_html_extract are single-scan codegen projections") {
    Seq("text_normalize", "text_html_extract").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange") || p.indexOf("Exchange") == p.lastIndexOf("Exchange"),
        s"$q shuffles more than the final sort:\n$p")
      assert(!p.contains("CodegenFallback"), s"$q fell out of codegen:\n$p")
    }
  }

  test("text_bm25 scores in one scan: no join anywhere in the plan") {
    val p = planOf("text_bm25")
    assert(!p.contains("Join"), s"bm25 grew a join:\n$p")
  }

  test("x_window_funcs serves all five functions from one exchange + one sort") {
    val p = planOf("x_window_funcs")
    // partitionBy(user_id) hash exchange + the final presentation sort
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"extra exchanges ($exchanges):\n$p")
    val windows = p.linesIterator.count(_.trim.matches(".*\\bWindow\\b.*"))
    assert(windows <= 2, s"window ops did not share a sort spec ($windows):\n$p")
  }

  test("etl_promote_wide analytics scan prunes 64 columns to the aggregated 8") {
    // the gate's read side aggregates 8 of the 64 promoted columns —
    // ReadSchema must show the pruned set, not the full row (at 100 TB
    // a full-width read of a 64-column table for an 8-column agg is
    // the difference between scanning 1/8 of the bytes and all of them)
    val p = planOf("etl_promote_wide")
    val read = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(read.contains("persid") && read.contains("num26"),
      s"aggregated columns missing from scan: $read")
    assert(!read.contains("summary") && !read.contains("string20") &&
      !read.contains("num25"),
      s"unpruned wide scan: $read")
  }

  test("chunkers are zero-shuffle per-row programs (only the gate orderBy exchanges)") {
    // Chunker.slidingChunks / sentencePack must stay pure array
    // programs: one scan, one Generate (the explode fan-out), and the
    // ONLY exchange in the gate plan is the rangepartitioning of the
    // deterministic orderBy — at 100 TB the chunking itself never
    // moves a byte between executors. No join, no aggregate.
    for (name <- Seq("text_chunk_sliding", "text_chunk_pack")) {
      val p = planOf(name)
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
        s"$name should shuffle only for the gate sort:\n$p")
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$name grew a join/aggregate:\n$p")
    }
  }

  test("s11 ORC read pushes the quantity filter into the scan") {
    val p = planOf("s11_orc_roundtrip")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan orc") && l.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("GreaterThan(l_quantity"), s"filter not pushed: $scan")
  }

  test("asof_nearest stays a keyed union-window plan (no join at all)") {
    val p = planOf("asof_nearest")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"asof_nearest grew an all-pairs join:\n$p")
    // both carry frames must be ROWS-RUNNING windows — a shrinking
    // (currentRow, unboundedFollowing) frame is re-aggregated per row
    // by Spark (the measured O(n²) Resample pitfall)
    assert(!p.contains("unboundedfollowing"),
      s"asof_nearest uses a shrinking forward frame:\n$p")
  }

  test("x_market_basket pairs via the orderkey equi-join; only the 1-row totals cross is nested-loop") {
    val p = planOf("x_market_basket")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 1, s"$nlj nested-loop joins (only the 1-row n_orders cross allowed):\n$p")
  }

  test("sim_pq_adc answers from the code table + broadcast LUT (no cartesian)") {
    val p = planOf("sim_pq_adc")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the ADC scoring join must be the broadcast hash equi-join on
    // (sub, code) — a plain SortMergeJoin there would shuffle the
    // corpus-sized code table against a 640-row LUT
    assert(p.contains("BroadcastHashJoin"), s"LUT join lost its broadcast:\n$p")
  }

  test("event-history windows are all entity-partitioned (no single-task window)") {
    for (name <- Seq("ts_merge_intervals", "scd2_build", "x_longest_streak",
        "ts_ewma", "x_next_event_markov")) {
      val p = planOf(name)
      val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(windows.nonEmpty, s"$name lost its window operators:\n$p")
      windows.foreach { w =>
        assert(w.contains("user_id") || w.contains("from_type"),
          s"$name has an unpartitioned window (100 TB single-task funnel):\n$w")
      }
    }
  }

  test("moment statistics are pure keyed aggregations: no window at all") {
    // HHI, category entropy, Welch t, assortativity, seasonal index,
    // stickiness: each commutes with partial aggregation by design —
    // a window sneaking in would mean someone rewrote the identity
    // back into the per-row-share form that needs a second pass.
    for (name <- Seq("x_hhi_concentration", "x_category_entropy",
        "x_welch_ttest", "graph_assortativity", "ts_seasonal_index",
        "x_stickiness")) {
      val p = planOf(name)
      assert(!p.contains("windowspecdefinition"),
        s"$name grew a window operator:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
    }
  }

  test("binned rank statistics window over the bin table, not the fact table") {
    // AUC / KS prefix sums run AFTER the fixed-width-bin aggregation:
    // the window's input must already be the binned HashAggregate, so
    // the single-task window only ever sees range-bounded rows.
    for (name <- Seq("x_auc_roc", "x_ks_binned")) {
      val p = planOf(name)
      assert(p.contains("windowspecdefinition"), s"$name lost its prefix sum:\n$p")
      val winIdx = p.indexOf("Window")
      val aggBelow = p.indexOf("HashAggregate", winIdx)
      assert(aggBelow > 0,
        s"$name windows raw rows (no binned aggregate below the window):\n$p")
    }
  }

  test("x_gap_islands is an anti-join census: no window, no cartesian") {
    val p = planOf("x_gap_islands")
    assert(!p.contains("windowspecdefinition"), s"window crept in:\n$p")
    assert(p.contains("LeftAnti"), s"island starts lost the anti-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sim_radius_search scans the corpus once against a broadcast query side") {
    val p = planOf("sim_radius_search")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the deliberate broadcast-query scan plans as ONE nested-loop
    // against the small side; a second one would mean the corpus got
    // replicated instead
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj == 1, s"$nlj nested-loop joins (want exactly the broadcast query scan):\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus got shuffled for a sort-merge join:\n$p")
  }

  test("sim_ivf_pq candidates come from probed buckets + code equi-joins") {
    val p = planOf("sim_ivf_pq")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the LUT and candidate joins must be hash equi-joins
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"code/candidate equi-joins missing:\n$p")
  }

  test("x_cohort_ltv cumulative window is cohort-partitioned") {
    val p = planOf("x_cohort_ltv")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"lost the cumulative window:\n$p")
    windows.foreach { w =>
      assert(w.contains("cohort"),
        s"cohort LTV has an unpartitioned window:\n$w")
    }
  }

  test("x_churn_rate finds churners by anti-join, not per-user windows") {
    val p = planOf("x_churn_rate")
    assert(p.contains("LeftAnti"), s"churn lost the anti-join:\n$p")
    assert(!p.contains("windowspecdefinition"), s"window crept in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("x_repeat_purchase_interval lag window is customer-partitioned") {
    val p = planOf("x_repeat_purchase_interval")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"lost the lag window:\n$p")
    windows.foreach { w =>
      assert(w.contains("o_custkey"),
        s"repeat-purchase has an unpartitioned window:\n$w")
    }
  }

  test("curate_filter_funnel and text_prefix_clusters are single-scan aggregations") {
    for (name <- Seq("curate_filter_funnel", "text_prefix_clusters")) {
      val p = planOf(name)
      assert(!p.contains("windowspecdefinition"), s"$name grew a window:\n$p")
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
    }
  }

  test("x_pareto_curve windows the bin table with totals broadcast") {
    val p = planOf("x_pareto_curve")
    assert(p.contains("windowspecdefinition"), s"lost the prefix sums:\n$p")
    val winIdx = p.indexOf("Window")
    assert(p.indexOf("HashAggregate", winIdx) > 0,
      s"pareto windows raw rows (no binned aggregate below the window):\n$p")
  }

  test("sim_gram_matrix is mapPartitions + one keyed reduction: no join, no window") {
    val p = planOf("sim_gram_matrix")
    assert(!p.contains("Join"), s"gram matrix grew a join:\n$p")
    assert(!p.contains("windowspecdefinition"), s"gram grew a window:\n$p")
    assert(p.contains("MapPartitions"),
      s"lost the partition-local accumulation:\n$p")
  }

  test("round-12 stats gates do pairwise work on bounded tables only") {
    // the fact-sized pass must stay a keyed aggregation; the pairwise
    // (rank / BH / midrank) self-joins run on bin-bounded reductions,
    // so any nested-loop join in the plan must sit ABOVE an aggregate
    // (never against a raw scan) and a cartesian is banned outright
    for (name <- Seq("x_kendall_tau", "x_spearman_binned", "x_fdr_bh",
        "x_anova_f", "x_mutual_info")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name went cartesian:\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$name windows the fact table:\n$p")
    }
  }

  test("x_psi / x_calibration_bins / ts_sax / curate_shuffle_shards are window-free keyed plans") {
    for (name <- Seq("x_psi", "x_calibration_bins", "ts_sax",
        "curate_shuffle_shards")) {
      val p = planOf(name)
      assert(!p.contains("windowspecdefinition"), s"$name grew a window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name went cartesian:\n$p")
    }
    assert(!planOf("curate_shuffle_shards").contains("Join"),
      "shuffle-shard assignment must stay zero-join (a map-side hash)")
  }

  test("geo gates: cell-bucketed broadcast joins, never all-pairs, no window") {
    for (name <- Seq("geo_radius_join", "geo_knn_cells")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name went cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name lost the cell equi-join:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name should broadcast the probe ring:\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$name sorts the point side:\n$p")
    }
    assert(!planOf("geo_cell_stats").contains("windowspecdefinition"),
      "cell stats must stay a keyed aggregation")
  }

  test("featurization gates are keyed aggregations; fact side never windowed") {
    for (name <- Seq("feat_hashing_trick", "feat_target_encode",
        "feat_phonetic_blocking", "priv_k_anonymity", "priv_dp_counts")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name went cartesian:\n$p")
      assert(!p.contains("windowspecdefinition"), s"$name grew a window:\n$p")
    }
  }

  test("round-13 robust stats do pairwise work on the bounded monthly/bin tables") {
    // same doctrine as the round-12 pin: cartesian banned, no window
    // over the fact table; the ≤3.5k-pair self-joins sit above
    // aggregates of the calendar-bounded monthly table
    for (name <- Seq("x_theil_sen", "x_mann_kendall", "x_isotonic")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name went cartesian:\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$name windows the fact table:\n$p")
    }
  }
}
