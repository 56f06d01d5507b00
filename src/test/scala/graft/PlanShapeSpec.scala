package graft

/** Plan-shape regression: the scale-critical physical-plan properties
  * (SCALE.md) must not silently regress. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("join_fk broadcasts the dimension while it fits (stats-driven, unhinted)") {
    // deliberately NO broadcast() hint in the query: customer scales
    // with the corpus, so the broadcast must come from size stats/AQE
    // (it does at every test SF) and degrade to a shuffled join at
    // 100 TB instead of OOMing on a pinned hint
    assert(plan("join_fk").contains("BroadcastHashJoin"))
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    assert(plan("topk").contains("TakeOrderedAndProject"))
  }

  test("semi_exists plans a semi join (no right payload)") {
    val p = plan("semi_exists")
    assert(p.contains("LeftSemi"))
  }

  test("filter_eq pushes the predicate into the parquet scan") {
    assert(plan("filter_eq").contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]"))
  }

  test("window_rank prunes with WindowGroupLimit before the shuffle") {
    assert(plan("window_rank").contains("WindowGroupLimit"))
  }

  test("agg_group does partial+final aggregation") {
    val p = plan("agg_group")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("bucketed join has no exchange before the join") {
    val p = plan("join_bucketed")
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx > 0)
    // the only Exchange allowed is AFTER the join (final ORDER BY)
    val beforeJoin = p.substring(joinIdx)
    assert(!beforeJoin.contains("Exchange hashpartitioning"),
      s"unexpected exchange below the join:\n$p")
  }

  test("sim_range_search broadcasts the 1-row query vector, never the corpus") {
    val p = plan("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject")) // the limit(1) query row
    assert(!p.contains("CartesianProduct"))
  }

  test("sql_recursive_cte aggregates the fact table before joining the spine") {
    val p = plan("sql_recursive_cte")
    // orders must reach the join pre-aggregated via an equi join; a
    // BNLJ here would mean the fact table is being broadcast
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("text_tfidf joins document frequencies with a broadcast hash join") {
    assert(plan("text_tfidf").contains("BroadcastHashJoin"))
  }

  test("join_hinted honors the shuffle_hash hint over broadcast") {
    assert(plan("join_hinted").contains("ShuffledHashJoin"))
  }

  test("scd2 window passes share one exchange on the entity key") {
    // the raw event shuffle on user_id must appear exactly once; the
    // later exchanges operate on collapsed version rows only
    val p = plan("scd2_intervals")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected exchange count in:\n$p")
  }

  test("funnel never self-joins the raw event log at event granularity") {
    // both join inputs are aggregates: every SMJ/SHJ/BHJ sits above a
    // HashAggregate on at least one side — cheap proxy: aggregate count
    val p = plan("funnel_conversion")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val p = SparkEntry.queries("topk")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"))
  }

  test("binned range join is an equi-join on bin, never a nested loop") {
    val p = plan("join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("bitmap distinct count does partial+final on both aggregation levels") {
    val p = plan("agg_bitmap_distinct")
    // (group,bucket) bitmap build, then per-group bit-count sum — each
    // level partial+final around its exchange
    assert("Aggregate".r.findAllIn(p).size >= 4, p)
  }

  test("incremental merge reuses each leg's aggregation partitioning for the join") {
    val p = plan("pipeline_incremental")
    // 2 aggregation exchanges (one per leg) + the oracle ORDER BY range
    // exchange; the full-outer join itself must NOT add exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("join_dpp injects a dynamic partition-pruning filter on the fact scan") {
    val p = plan("join_dpp")
    assert(p.contains("dynamicpruning"), s"no DPP filter in:\n$p")
  }

  test("join_bloom_filtered probes a runtime bloom filter before the shuffle") {
    val p = plan("join_bloom_filtered")
    assert(p.contains("might_contain"), s"no runtime bloom filter in:\n$p")
  }

  test("agg_distinct_salted keeps the distinct state 64-way parallel per group") {
    val p = plan("agg_distinct_salted")
    // phase-1 cells aggregate on (group, salt), phase-2 on group alone;
    // the alias is inlined, so match the salt expression and the
    // salted shuffle key
    assert(p.contains("pmod(xxhash64"), p)
    assert("hashpartitioning\\(l_returnflag[^)]*_groupingexpression".r
      .findFirstIn(p).isDefined, p)
  }

  test("AQE coalesces shuffle partitions at runtime") {
    val df = SparkEntry.queries("agg_group")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("AQEShuffleRead"), p)
  }

  test("multi-grain rollup is ONE pass (Expand, not a scan per grain)") {
    val p = plan("ts_multigrain")
    assert(p.contains("Expand"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("NOT IN plans the null-aware anti join; NOT EXISTS the plain one") {
    val p = plan("sql_not_in_nulls")
    // trailing flag on BroadcastHashJoin is isNullAwareAntiJoin
    assert(p.contains("LeftAnti, BuildRight, true"), p)
    assert(p.contains("LeftAnti, BuildRight, false"), p)
  }

  test("one-hot encoding never shuffles on a hash key (map-side CASE only)") {
    val p = plan("feature_onehot")
    // the only exchange is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("quantile bucketing broadcasts the cut points, never sorts the fact") {
    val p = plan("feature_quantile_bucket")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row thresholds
    assert(!p.contains("SortMergeJoin"), p)
    // the cut points come from exactQuantilesDisc: its window must be
    // range-partitioned, never a global ntile/sort. Since the r16
    // targeted-range selection the running sum windows ONLY the ranges
    // holding the quantile targets, partitioned by the sketch-derived
    // range id (__rng) — same invariant (no single-partition sort over
    // the value domain), new spelling.
    assert(!p.contains("ntile"), p)
    assert(p.contains("windowspecdefinition(__rng"), p)
    assert(!"windowspecdefinition\\(cents[,)]".r.findFirstIn(p).isDefined, p)
    // and the tie-proof reduction must precede the ranking. Since r16
    // the query materializes the distinct (cents, cnt) relation ONCE
    // (localCheckpoint) and both the cuts and the per-bucket report
    // read it — the reduction shuffle happens at checkpoint time, so
    // the pin is the checkpointed reduced scan feeding the plan (no
    // raw-cents window can exist over it; a heavy tied value is one
    // row by construction) and the report aggregating its counts.
    assert("Scan ExistingRDD\\[cents#\\d+L,cnt#".r.findFirstIn(p).isDefined, p)
    assert(p.contains("sum(cnt#"), p)
  }

  test("ohlc is one aggregation pass — no window, no self-join") {
    val p = plan("ts_ohlc")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // struct min/max is ordering-based → SortAggregate; what matters is
    // the map-side combine (partial_) before the single exchange
    assert(p.contains("partial_min") && p.contains("partial_max"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("haversine is a pure scan pipeline (zero hash exchange)") {
    val p = plan("geo_haversine")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("correlated lateral join decorrelates to a ranked window, not N probes") {
    val p = plan("sql_lateral_correlated")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("REBALANCE hint plans a rebalance exchange") {
    assert(plan("sql_rebalance_hint").contains("REBALANCE_PARTITIONS_BY_COL"))
  }

  test("dead-letter routing is a pure scan pipeline (no exchange at all)") {
    // the final ORDER BY plans a range exchange; nothing else may shuffle
    val p = plan("pipeline_dead_letter")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("target encoding broadcasts the per-segment sums back to the fact") {
    val p = plan("feature_target_encode")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("existence mark plans ExistenceJoin, not an outer join + distinct") {
    val p = SparkEntry.queries("join_existence_mark")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("ExistenceJoin"), p)
  }

  test("sma crossover runs all frames and the lag on ONE customer-key exchange") {
    val p = plan("ts_sma_crossover")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("late-dim resolution broadcasts the filtered dimension") {
    val p = plan("join_late_dim")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftOuter"), p)
  }

  test("psi buckets by broadcast thresholds — no global window on the fact") {
    val p = plan("dq_psi")
    // cutpoints now come from exactQuantilesDisc: only its range-
    // partitioned __ck0 window may appear; never a global ntile/sort
    assert(!p.contains("ntile"), p)
    assert(!"windowspecdefinition\\(cents[,)]".r.findFirstIn(p).isDefined, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row cutpoints
  }

  // ScaleRank's sketch/count passes run EAGERLY at plan-build time
  // (cutpoints and offsets are literals/local tables in the final plan
  // — no approx_percentile node, no exchange-reuse dependency), so the
  // pins below assert the partitioned rank window on the __ck cell
  // column and the broadcast offset join.

  test("deciles rank under range-partitioned windows, not a global ntile") {
    val p = plan("agg_deciles")
    assert(p.contains("windowspecdefinition(__ck0"), p) // partitioned rank
    assert(p.contains("BroadcastHashJoin"), p) // tiny offsets table
    assert(!p.contains("ntile(10)"), p)
  }

  test("rfm quintiles rank under range-partitioned windows (three of them)") {
    val p = plan("analytics_rfm")
    assert(!p.contains("ntile(5)"), p)
    assert("windowspecdefinition\\(__ck\\d".r.findAllIn(p).size >= 3, p)
  }

  test("pareto running sum is range-partitioned, not a global sort window") {
    val p = plan("analytics_pareto")
    assert(p.contains("windowspecdefinition(__ck0"), p)
    assert(!p.contains("row_number() windowspecdefinition(cents"), p)
  }

  test("id-gap lag is bucket-partitioned; global window only on the tiny aggregate") {
    val p = plan("dq_id_gaps")
    assert(p.contains("windowspecdefinition(bkt"), p)
  }

  test("sequence packing windows partition on (source, doc-bucket), not source alone") {
    assert(plan("text_pack_bins").contains("__bkt"))
    assert(plan("pipeline_training_corpus").contains("__bkt"))
  }

  test("knn graph blocks on the label equi-key — no cartesian product") {
    val p = plan("sim_knn_graph")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // per-vector rank is a partitioned window
    assert(p.contains("windowspecdefinition(ia"), p)
  }

  test("curriculum phases come from range-partitioned ranks, not global ntile") {
    val p = plan("corpus_curriculum")
    assert(!p.contains("ntile(4)"), p)
    assert(p.contains("windowspecdefinition(__ck0"), p)
  }

  test("rank statistics fold per distinct value under partitioned windows") {
    val mw = plan("stat_mann_whitney")
    assert(!mw.contains("rank() windowspecdefinition(v"), mw)
    assert(mw.contains("windowspecdefinition(__ck0"), mw)
    val ks = plan("stat_ks_test")
    assert(ks.contains("windowspecdefinition(__ck0"), ks)
  }

  test("13-gram decontamination broadcasts the benchmark n-gram set") {
    val p = plan("dedup_decontaminate13")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bootstrap is windowless: explode + two aggregations, no sort of the fact") {
    val p = plan("stat_bootstrap_ci")
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("rolling WAU explodes the reduced activity set, never joins raw events") {
    val p = plan("analytics_rolling_wau")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("welch t / cohen's d broadcast the 1-row segment aggregates") {
    for (name <- Seq("stat_ttest_welch", "stat_cohens_d")) {
      val p = plan(name)
      assert(p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("interval sweep and merge window on their entity keys only") {
    val mc = plan("ts_max_concurrent")
    assert(mc.contains("windowspecdefinition(pk"), mc)
    val im = plan("ts_interval_merge")
    assert(im.contains("windowspecdefinition(sk"), im)
  }

  test("semantic dedup pairs on the bucket key; the only nested-loop " +
      "joins carry the broadcast centroid/seed frames") {
    // the pair join must be a shuffled equi-join on the (cell, band,
    // mask) key — never a cartesian over the corpus; the kmeans
    // subtree's BroadcastNestedLoopJoins carry the fixed-cardinality
    // (≤ k-row) centroid frames by POLICY and are the only ones
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  // ---- headline-15 pins (verdict r10 task #5): every serially-timed
  // bench headliner gets its load-bearing physical properties pinned,
  // so a plan regression fails HERE before it shows up as a bench
  // artifact. Already pinned above: agg_group (partial+final, AQE),
  // join_fk (stats-driven broadcast), topk (TakeOrderedAndProject +
  // 2-column ReadSchema), text_tfidf (broadcast df join),
  // pipeline_training_corpus (__bkt-partitioned packing windows).
  // stream_window_agg is excluded by nature — its fn runs the stream
  // and returns a memory sink scan; its load-bearing property (bounded
  // watermark state) is pinned behaviorally in StreamStateStoreSpec
  // and the SERIAL.md state-eviction plateau tables instead.

  test("agg_cube is ONE pass: Expand + partial+final agg, single scan") {
    val p = plan("agg_cube")
    assert(p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("join_asof is the union trick: no join node, ONE user-key " +
      "exchange, window partitioned on the entity") {
    val p = plan("join_asof")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("windowspecdefinition(k#"), p) // the union entity key
  }

  test("dedup_minhash runs the native signature into capped buckets — " +
      "equi-joins only") {
    val p = plan("dedup_minhash")
    assert(p.contains("minhash_signature"), p) // codegen'd native expr
    assert(p.contains("capped_collect_longs"), p) // hard-capped buckets
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_clusters consumes the pair relation from ONE checkpointed " +
      "materialization — equi-joins only") {
    val p = plan("dedup_clusters")
    assert(p.contains("Scan ExistingRDD"), p) // the localCheckpoint
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_topk_brute broadcasts the 1-row query vector and takes " +
      "top-k without a global sort, on the native cosine") {
    val p = plan("sim_topk_brute")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("cosine_sim"), p) // native codegen'd kernel
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row broadcast
    assert(!p.contains("CartesianProduct"), p)
  }

  test("batched top-k broadcasts the query batch and ranks in bounded " +
      "(query, partition) cells — no per-query corpus sort") {
    val p = plan("sim_topk_batch")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // ≤n-row query batch
    assert(!p.contains("CartesianProduct"), p)
    // phase-1 window must partition on the materialized partition id,
    // so no window cell ever holds a whole query's corpus
    assert(p.contains("windowspecdefinition(q_id") && p.contains("__pid"), p)
  }

  test("src_parquet is a bare scan + the ORDER BY range exchange — " +
      "nothing else") {
    val p = plan("src_parquet")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("sim_topk_ivf_kmeans scans only the probed cells: broadcast " +
      "cell routing + top-k, never a corpus cartesian") {
    val p = plan("sim_topk_ivf_kmeans")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p) // ≤nprobe-row cells join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("cosine_sim"), p)
  }

  test("dedup_incremental probes the persisted index with pushed " +
      "filters and equi-joins only") {
    val p = plan("dedup_incremental")
    assert(p.contains("PushedFilters: [") , p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pipeline_full_etl's read-back is a bare csv scan + the ORDER " +
      "BY range exchange (the transform happened at the CSV boundary)") {
    def bare(p: String, scan: String): Unit = {
      assert(p.contains(scan), p)
      assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"), p)
    }
    // past the driver-path cutoff (here: the cutoff off) the read-back
    // is Spark's csv scan; within it the processed file is read on the
    // driver, and the read-back is the local relation it became
    graft.io.LocalWrite.distributedOnly(bare(plan("pipeline_full_etl"), "FileScan csv"))
    bare(plan("pipeline_full_etl"), "LocalTableScan")
  }

  test("stratified sample prunes each stratum with WindowGroupLimit " +
      "under a broadcast quota join") {
    val p = plan("corpus_stratified_sample")
    // the literal rk <= budget bound must plan the group-limit (the
    // column-bound quota filter alone would buffer whole strata)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p) // |sources|-row quotas
  }

  test("banded ε-pair kernel joins on the band key — never cartesian " +
      "(shared by dedup_embedding_banded and cluster_dbscan)") {
    // cluster_dbscan's final plan hides the pair stage behind a
    // localCheckpoint scan, so the pin goes on the shared kernel
    // itself: candidate pairing must be an equi-join on bk. At
    // sf0.001 stats legitimately BROADCAST the tiny guarded side, so
    // the pin is "hash equi-join machinery, no nested loop" — the
    // strategy choice (broadcast vs shuffle) is left to stats/AQE by
    // the r9 hint policy
    // pin the UNCACHED builder — exactly the plan the session memo
    // wraps — so the assertion is independent of memo/cache state
    val p = graft.sim.Similarity.bandedCandidateStatsUncached(
        graft.io.Tables.embeddings(spark, sf0001), 100, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("sim_recall_pq: both ANN sides are TakeOrderedAndProject " +
      "(no global sort) and the only nested loops are 1-row-broadcast") {
    val p = plan("sim_recall_pq")
    // the gold-standard scan and the ADC scan each end in a top-k,
    // never a full Sort of corpus-sized data (Sort nodes inside the
    // codebook's per-(vec,sub) SortAggregates are group-local, fine)
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // the 10∩10 intersection must not be a nested loop over anything
    // corpus-sized: every BroadcastNestedLoopJoin in this plan is the
    // 1-row query-vector cross join
    assert(!p.contains("GlobalLimit"), p) // both limits fused into TOP
  }

  test("pq_index_query serves from the persisted artifact: the ranked " +
      "scan reads codes/codebook parquet, raw embeddings appear only " +
      "as the 1-row query and the label lookup") {
    val df = SparkEntry.queries("pq_index_query")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // no training aggregation in the serve plan: the codebook is a
    // persisted ≤256-row broadcast, so the only aggregates are the
    // M×K query table and the per-vector lookup-sum — never the
    // Lloyd-update groupBy over corpus dims
    // sparkPlan, not executedPlan: the AQE wrapper hides leaf scans
    // from collect until the plan finalizes
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val idxScans = scans.filter(_.relation.location.rootPaths
      .exists(pp => pp.toString.contains("/codes") ||
        pp.toString.contains("/codebook")))
    assert(idxScans.nonEmpty, p)
    // embeddings-table scans are column-pruned to the query/lookup
    // roles (id, label, the query vector's embedding) — never a wide
    // read; and nothing corpus-sized meets a merge join (every join
    // side here is a broadcast: codebook, query table, top-10)
    val embScans = scans.filterNot(idxScans.contains(_))
    assert(embScans.nonEmpty && embScans.forall(
      _.requiredSchema.fieldNames.toSet
        .subsetOf(Set("vec_id", "label", "embedding"))), p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
