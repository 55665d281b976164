package graft

import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main: dump `explain("formatted")` for the headline queries to
  * stdout (tools/run.sh graft.PlanDump [sfDir] > PLANS.md). These are the
  * plans the scale arguments in README/SURVEY rest on — regenerate after
  * any operator change.
  */
object PlanDump {
  private val keys: Seq[(String, String)] = Seq(
    "join_star_5way" ->
      "fact-fact shuffle on orderkey only; every dim a BroadcastHashJoin",
    "join_bucketed_colocated" ->
      "bucketed-sorted layout: SortMergeJoin with no Exchange on either fact side",
    "join_dpp_prune" ->
      "dynamicpruning subquery in the fact scan's PartitionFilters",
    "join_skew_salted" ->
      "deterministic salt + build-side replication under a forced shuffle join",
    "agg_hash_groupby" ->
      "partial_sum map-side combine, single shuffle, whole-stage codegen",
    "win_row_number_topk" ->
      "partitioned window, no global sort",
    "sort_topk_limit" ->
      "TakeOrderedAndProject (per-partition heaps)",
    "sim_cosine_knn" ->
      "broadcast probes x corpus, codegen'd vec_dot, per-probe top-k window",
    "txt_ngrams" ->
      "codegen'd token_ngrams explode -> hash agg -> TakeOrdered",
    "scan_json_struct" ->
      "one from_json feeding all projected fields",
    "scan_parquet_project" ->
      "pruned ReadSchema: only the 4 projected columns reach the scan",
    "serve_point_lookup" ->
      "IN-list in PushedFilters (row-group skip via min/max stats)",
    "sim_simhash_bands" ->
      "band-pair equi-join over sketches (hash join, no nested loop), lowest-band dedup filter",
    "win_rank_distributed" ->
      "two-pass global rank: range partitioning + per-pid window + broadcast offsets, no SinglePartition exchange",
    "sql_q3_shipping_priority" ->
      "composite flagship: broadcast dim filter, pushed date filters on both fact scans, TakeOrderedAndProject top-10",
    "serve_hybrid_search" ->
      "both index paths pruned: token IN-list in postings PushedFilters, broadcast 1-row query vector, TakeOrdered candidate cut, 50-row RRF windows",
    "serve_prefix_autocomplete" ->
      "StringStartsWith disjunction in postings PushedFilters, map-side df combine, bounded per-prefix top-5 window",
    "serve_more_like_this" ->
      "Lucene MLT serving, dumped plan is the CANDIDATES leg: In(token, [5 terms]) in the postings scan's PushedFilters (row-group skip on the token-clustered layout), idf as a 5-branch literal CASE (no join on the scoring side), integer ppm coordinate scoring, TakeOrderedAndProject top-10; the probe term vector (one EqualTo point lookup, COLLECTED -- the serve_doc_snippet serving-decision idiom) and the dfreq leg (dumped separately below) run before this plan exists",
    "serve_facet_counts" ->
      "facet counts by pure bitmap algebra over two gated indexes (the Druid/Pinot segment-filter pattern): term EqualTo pushed into the postings scan, query bitmap (matching docs/63 words) BROADCAST onto the facet bitmap index, codegen'd bit_count(q & f) popcount agg -- output bounded by |facets|, corpus text never read",
    "serve_doc_snippet" ->
      "dumped plan is the SECOND hop only: 20-element doc_id IN-list in the corpus scan's PushedFilters (row-group skip) + narrow locate/substr projection; the FIRST hop (term EqualTo pushdown into the token-clustered postings, top-20 ids COLLECTED) is the serving decision -- serve_point_lookup's contract -- and runs before this plan exists",
    "txt_pack_sequences" ->
      "two-pass distributed prefix sum: bounded bucket sums -> broadcast prefix join -> within-bucket window over <=2^16-row partitions",
    "txt_bpe_encode" ->
      "narrow merge-rewrite chain over the scan (no join back to the corpus), |sources|-row final agg",
    "join_bloom_reduce" ->
      "bloom sketch pre-filter on the fact side BELOW the shuffle join",
    "graph_pagerank" ->
      "3 unrolled Pregel rounds: per-round shuffle join + partial_sum combine on the vertex key",
    "evt_sessions_secondary_sort" ->
      "secondary sort: one hash exchange, partition-local Sort, MapPartitions streaming scan",
    "join_broadcast_nested_loop" ->
      "pure non-equi join: BroadcastNestedLoopJoin, fact side streams with no Exchange below the join",
    "qc_column_profile" ->
      "whole profile in ONE parquet scan: wide agg + multi-distinct Expand + stack unpivot",
    "sql_q5_local_supplier" ->
      "Q5 topology: broadcast nation chain, pushed date filter, one orderkey fact-fact shuffle, unhinted AQE joins for the growing dims",
    "win_topk_heap" ->
      "custom whole-operator: TopKPerKey(Exec) bounded-heap per-key top-k -- one hash exchange, no WindowExec, no sort below the operator",
    "emb_srp_ann" ->
      "integer SRP sketches per-row (no shuffle), band-pair equi-join candidates, survivor join-back for the exact dot",
    "ml_feature_pit" ->
      "point-in-time features: three RANGE-frame windows sharing ONE user_id exchange, no join",
    "sim_containment_pairs" ->
      "checkpointed shingle relation: four consumers read blocks, zero parquet re-scans",
    "agg_kmv_distinct" ->
      "codegen'd md5fold48 hash, TopKPerKey bottom-k heaps per type, TakeOrdered union merge",
    "ml_ndcg_at_k" ->
      "twin TopKPerKey heaps (score-ranked and relevance-ranked) over one scored relation whose lang exchange both heaps reuse",
    "sim_prefix_filter_join" ->
      "PPJoin: df-ordered prefixes + length filter in the join condition + positional ubound aggregate -- candidates pruned before the exact verify",
    "mm_audio_energy" ->
      "typed frame loop: SerializeFromObject/MapPartitions, payloads never shuffle",
    "ml_ks_drift" ->
      "drift CDFs: value histogram first, cum windows over the histogram, struct-argmax agg -- the corpus is never sorted",
    "qc_cusum_drift" ->
      "stacked prefix-sum/prefix-min windows over the ~30-row daily aggregate (agg-before-window)",
    "txt_bigram_logprob" ->
      "LM-count topology: pair/context counts joined back by their own keys, decimal-summed score, TakeOrdered top-20",
    "scan_custom_dsv2" ->
      "custom DSv2 connector: BatchScan with PushedFilters evaluated in the readers + pruned ReadSchema, 8 range slices",
    "scan_dsv2_agg_pushdown" ->
      "connector aggregate offload: PushedAggregates [count,min,max], scan emits one partial row per slice, final agg merges 8 rows",
    "graph_hits" ->
      "two integer mutual-reinforcement rounds: per-side edge-key shuffle + map-side-combined sums, 1-row broadcast renorm scalars",
    "ml_gain_lift_deciles" ->
      "gains deciles from the histogram: one score-histogram exchange shared by the totals and the boundary window, window over <=11 rows, no corpus NTILE sort",
    "scan_jdbc_pushdown" ->
      "JDBCRelation scan: both predicates compiled into the remote WHERE (PushedFilters) + numPartitions=4 range split -- the DB filters, the network carries survivors",
    "sink_jdbc_predictions" ->
      "write leg runs eagerly (4 partitions = 4 connections, 50-row prepared-statement batches); the dumped plan is the read-back: 4-partition JDBCRelation scan + hash agg",
    "sim_minhash_det" ->
      "deterministic MinHash LSH: one groupBy signature pass over the checkpointed token relation, band explode + equi-join candidates, exact-Jaccard verify on candidates only",
    "sim_simhash_shingle_bands" ->
      "bigram-shingle banded simhash (the scale path): per-doc integer sketch with no shuffle, 4-band equi-join candidates, bit_count hamming verify on candidates only",
    "agg_quantiles_hist_det" ->
      "deterministic sketch quantiles: ONE map-combinable histogram groupBy over the log; cum windows + probability explode run on sketch-sized rows",
    "txt_dsir_weight" ->
      "DSIR importance scoring: codegen'd bigram explode, 4096-bucket profile BROADCAST back onto the bigram stream, map-side-combined per-doc dot products -- shuffle volume is docs, never bigrams",
    "agg_countmin_freq_det" ->
      "exact 4x256 Count-Min grid: one vocab-bounded token agg, <=1024-row grid BROADCAST back for the estimate lookup -- no second corpus scan",
    "txt_hashing_tf_det" ->
      "md5-bucket HashingTF twin: narrow tokenize-explode, map-side-combined (doc, bucket) agg -- shuffle is docs x <=64 buckets, never raw tokens",
    "join_spatial_grid_eps" ->
      "epsilon distance self-join: 3x3 cell-neighborhood replication then ONE equi-join on the cell key -- candidate work O(n x local density), never a CartesianProduct/BroadcastNestedLoopJoin",
    "evt_cuped_lift" ->
      "CUPED: the only data-sized exchange is the map-side-combined user rollup; the five exact-integer moments reduce in one constant-width global agg",
    "ml_conformal_interval" ->
      "split-conformal: 5-row model BROADCAST back onto the corpus, both score histograms built in one map-side-combined pass, the cumsum window runs on the bounded histogram",
    "ml_poisson_bootstrap_ci" ->
      "Poisson bootstrap: the x64 replicate explode collapses map-side into 64 rows -- one corpus pass, no resampling shuffles",
    "txt_rake_keywords" ->
      "RAKE: ONE corpus-sized posexplode+window pass materialized as a LAZY MEMORY_AND_DISK columnar cache (InMemoryRelation) feeding both consumers -- the r17 A/B beat the old eager localCheckpoint 3.8x at sf10 (4.5 s vs 17.4 s; rescan 20.3 s), see Text.scala -- everything downstream of the cache is phrase/vocab-sized",
    "evt_srm_check" ->
      "SRM guardrail: map-side-combined per-user rollup, then the 4-bucket chi-square reduces in one constant-width global agg -- no second corpus pass",
    "evt_seasonal_ma_decompose" ->
      "seasonal MA decomposition: agg-before-window -- the centered-MA and seasonal-mean windows run over the ~30-row daily aggregate, never the event log",
    "evt_group_sequential_obf" ->
      "O'Brien-Fleming monitoring: map-side-combined per-(look,variant) explode collapses to <=10 rows before the cumulative windows and z-boundary compare",
    "txt_cdc_chunks" ->
      "content-defined chunking: gear cuts + chunk md5s are per-position-parallel list arithmetic below the first Exchange -- only 16-byte hashes shuffle, text never moves",
    "sim_ivf_knn_det" ->
      "fully-oracled IVF probe chain (anchors the exempt sim_ivf_knn): quantizer relations cached (InMemoryRelation: unpivoted xu + round-2 centroids -- rounds never re-derive the build), centroids/probe-lists BroadcastHashJoined so the corpus side of assign never shuffles to meet them, exact cosine re-rank an equi-join bounded by the probed lists' candidates (no cartesian), only the float re-rank legs read parquet live")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder(cpus = "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("# PLANS -- explain(\"formatted\") of the headline queries")
    println()
    println(s"Generated by `tools/run.sh graft.PlanDump $sfDir` -- the physical")
    println("plans the scale arguments in README/SURVEY rest on. PlanShapeSpec")
    println("asserts the load-bearing properties so they cannot silently rot.")
    for ((k, note) <- keys) {
      println(s"\n## $k\n")
      println(s"_${note}_\n")
      println("```")
      println(ops.Registry.queries(k)(spark, sfDir)
        .queryExecution.explainString(FormattedMode).trim)
      println("```")
    }

    // serve_more_like_this's FIRST index hop: the registered key's dumped
    // plan above is the candidates leg only — the dfreq leg runs eagerly
    // before that plan exists (its output picks the 5 winning terms), so
    // its pushdown is dumped here against the probe's real vocabulary.
    println("\n## serve_more_like_this -- dfreq leg (runs before the candidates plan above)\n")
    println("_the probe document's term vector is driver-collected (one EqualTo")
    println("point lookup -- the serve_doc_snippet serving-decision idiom); document")
    println("frequencies then come from the postings index restricted to that token")
    println("set: In(token, ...) in PushedFilters, min/max row-group skip on the")
    println("token-clustered layout -- postings rows READ are proportional to one")
    println("document's vocabulary, never the corpus._\n")
    locally {
      import org.apache.spark.sql.functions._
      val probeToks = ops.T.documents(spark, sfDir)
        .filter(col("doc_id") === 1L)
        .select(explode(split(col("text"), " ")).as("token"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      println("```")
      println(ops.Similarity.mltDfreqLeg(spark, sfDir, probeToks)
        .queryExecution.explainString(FormattedMode).trim)
      println("```")
    }
    // Executed TopKPerKey under forced spills: the numSpills/spillBytes
    // SQLMetrics are live accumulators (what the Spark UI shows when
    // production memory pressure spills the heaps). AQE off so the exec
    // node is reachable under AdaptiveSparkPlanExec-free collectFirst.
    println("\n## win_topk_heap -- executed with forced spills (live SQLMetrics)\n")
    println("_spark.graft.topk.forceSpillRows=500 over the sf0.01 orders table")
    println("(~1,125 held heap rows per partition) forces the spill-merge path; the same")
    println("metrics record real memory-pressure spills in production._\n")
    val priorAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    val priorForce = spark.conf.getOption("spark.graft.topk.forceSpillRows")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.graft.topk.forceSpillRows", "500")
    try {
      val df = ops.Registry.queries("win_topk_heap")(spark, sfDir)
      // collect(), not count(): count() plans a NEW QueryExecution whose
      // metrics are separate — only executing df's own plan fills these
      val n = df.collect().length
      val exec = df.queryExecution.executedPlan.collectFirst {
        case t: graft.plans.TopKPerKeyExec => t
      }.getOrElse(sys.error(
        "TopKPerKeyExec not found in the executed plan — is AQE off and the exec node unwrapped?"))
      println("```")
      println(s"rows emitted = $n")
      println(s"numSpills    = ${exec.metrics("numSpills").value}")
      println(s"spillBytes   = ${exec.metrics("spillBytes").value}")
      println("```")
    } finally {
      // restore the pre-existing values, not the session defaults
      priorForce.fold(spark.conf.unset("spark.graft.topk.forceSpillRows"))(
        spark.conf.set("spark.graft.topk.forceSpillRows", _))
      priorAqe.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
        spark.conf.set("spark.sql.adaptive.enabled", _))
    }

    // join_skew_salted's engine-native twin, EXECUTED: the same unsalted
    // skewed join PlanShapeSpec pins, dumped here so the runtime re-plan
    // is visible in PLANS.md — the executed SMJ carries skew=true and its
    // shuffle reads are AQEShuffleRead skewed (the hot partition split
    // across tasks instead of landing on one). Thresholds are
    // fixture-scaled; production uses the 256 MB defaults.
    println("\n## join_skew_salted -- engine-native AQE twin, executed (OptimizeSkewedJoin fired)\n")
    println("_the UNSALTED join on the same hot key under test-scaled skew thresholds:")
    println("the executed SortMergeJoin must carry `skew=true` + `AQEShuffleRead skewed`,")
    println("proving the runtime split is live -- the manual salt op is the portable")
    println("recipe, this is what AQE does natively at 100 TB._\n")
    locally {
      import org.apache.spark.sql.functions.{col, count, lit, when}
      val c = spark.conf
      val skewKeys = Seq(
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.shuffle.partitions")
      val saved = skewKeys.map(k => k -> c.getOption(k))
      try {
        c.set("spark.sql.adaptive.enabled", "true")
        c.set("spark.sql.adaptive.skewJoin.enabled", "true")
        c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1k")
        c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512")
        c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        c.set("spark.sql.shuffle.partitions", "64")
        def keyed = ops.T.events(spark, sfDir)
          .repartition(8, col("event_id"))
          .withColumn("k",
            when(col("event_type") === "view", lit(-1L)).otherwise(col("user_id")))
        val dim = keyed.groupBy(col("k")).agg(count(lit(1)).as("k_weight"))
          .localCheckpoint(true)
        val joined = keyed.join(dim.hint("merge"), Seq("k"))
          .select(col("k"), col("k_weight"), col("value"))
        joined.collect()
        println("```")
        println(joined.queryExecution.executedPlan.toString.trim)
        println("```")
      } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
    }
    spark.stop()
  }
}
