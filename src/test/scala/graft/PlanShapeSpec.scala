package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Registry

/** Cheap guards that we stay on Catalyst's fast paths — these are the
  * 100 TB assertions the oracle can't see: filters reach the parquet scan,
  * projections prune columns, small dims broadcast, top-k never globally
  * sorts, and the hot similarity path is inside whole-stage codegen.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSession._

  /** Executed-plan string for an op. NOT side-effect-free for every op:
    * ops that localCheckpoint mid-build (txt_domain_mix_balance,
    * sim_containment_pairs) run those eager Spark jobs during plan
    * construction and may leave checkpoint blocks persisted for the
    * session — acceptable in a test JVM; Verify/Bench free them via
    * GraftBridge/GraftSession.sweep.
    */
  private def plan(name: String): String =
    Registry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Indentation-aware live-scan count: the plan STRING embeds each
    * InMemoryRelation's build plan (scan included), which is NOT executed
    * on a cache hit — skip those subtrees and count only scans the live
    * tree would actually run. Returns (liveScans, cacheSeen).
    */
  private def liveScanStats(p: String): (Int, Boolean) = {
    def indent(l: String) = l.indexWhere(c => !(" :+-".contains(c)))
    var skipBelow = -1
    var liveScans = 0
    var cacheSeen = false
    for (l <- p.linesIterator; i = indent(l); if i >= 0) {
      if (skipBelow >= 0 && i <= skipBelow) skipBelow = -1
      if (skipBelow < 0) {
        if (l.contains("InMemoryRelation")) { skipBelow = i; cacheSeen = true }
        else if (l.contains("Scan parquet")) liveScans += 1
      }
    }
    (liveScans, cacheSeen)
  }

  test("filter_pred_simple pushes predicates into the parquet scan") {
    val p = plan("filter_pred_simple")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
  }

  test("scan_parquet_project prunes to the 4 selected columns") {
    val p = plan("scan_parquet_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_shipdate"), read)
    assert(!read.contains("l_extendedprice"), s"column pruning failed: $read")
  }

  test("join_broadcast_inner plans a BroadcastHashJoin") {
    assert(plan("join_broadcast_inner").contains("BroadcastHashJoin"))
  }

  test("join_star_5way broadcasts all dimension joins") {
    val p = plan("join_star_5way")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3, p)
  }

  test("sort_topk_limit plans TakeOrderedAndProject (never global sort)") {
    assert(plan("sort_topk_limit").contains("TakeOrderedAndProject"))
  }

  test("join_interval_overlap broadcasts the calendar side") {
    assert(plan("join_interval_overlap").contains("BroadcastNestedLoopJoin"))
  }

  test("sim_embed_dedup uses the native vec_dot expression") {
    assert(plan("sim_embed_dedup").contains("vec_dot"))
  }

  test("serve_point_lookup pushes the IN-list to the scan") {
    val p = plan("serve_point_lookup")
    assert(p.contains("PushedFilters: [In(doc_id"), p)
  }

  test("serve_hybrid_search: postings IN-pushdown, broadcast probe, bounded RRF merge") {
    val p = plan("serve_hybrid_search")
    // lexical leg: the 3-term IN-list reaches the token-clustered postings
    // scan (read ∝ document frequency, never the corpus)
    assert(p.contains("PushedFilters: [In(token"), s"postings IN not pushed: $p")
    // semantic leg: the 1-row query vector broadcasts; the candidate cut
    // is a distributed TakeOrdered, never a global sort
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-50 cut is not TakeOrdered: $p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("txt_pack_sequences: the corpus-scale prefix sum never collapses to one partition") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val qe = Registry.queries("txt_pack_sequences")(spark, sf).queryExecution
    val p = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    // no SinglePartition exchange anywhere: the naive form of this op is a
    // one-task-per-source window, which is exactly what the two-pass
    // bucket decomposition exists to avoid
    assert(!p.toString.contains("SinglePartition"),
      s"prefix sum collapsed to a single partition: $p")
    // the doc-level cumsum window must be partitioned by (source, bkt) —
    // i.e. ≤ 2^16 rows per partition by construction; only the tiny
    // bucket-table prefix window may partition by source alone
    val docWindows = p.collect {
      case w: WindowExec if w.child.output.exists(_.name == "doc_id") => w
    }
    assert(docWindows.nonEmpty, s"doc-level window missing: $p")
    docWindows.foreach { w =>
      val parts = w.partitionSpec.map(_.toString).mkString(",")
      assert(parts.contains("source") && parts.contains("bkt"),
        s"doc-level window not bucketed: $parts")
    }
  }

  test("serve_prefix_autocomplete pushes the StartsWith disjunction to the postings scan") {
    val p = plan("serve_prefix_autocomplete")
    assert(p.contains("StringStartsWith(token"), s"prefix filter not pushed: $p")
  }

  test("serve_doc_snippet's second hop pushes the doc_id IN-list into the corpus scan") {
    val p = plan("serve_doc_snippet")
    assert(p.contains("In(doc_id"), s"IN-list not pushed to the corpus scan: $p")
    assert(p.contains("substr("), s"snippet projection missing: $p")
  }

  test("serve_more_like_this: IN-lists pushed into BOTH postings scans, TakeOrdered top-10") {
    // r18 (the r17 weak-mark fix): both index legs must row-group-skip on
    // the token-clustered layout — the dfreq leg via the probe-vocabulary
    // IN-list, the candidates leg via the 5 winning terms — and the final
    // top-10 must be a bounded heap, not a global window.
    val p = plan("serve_more_like_this")
    assert(p.contains("In(token"),
      s"top-5 term IN-list not pushed into the candidates postings scan: $p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-10 must be a bounded TakeOrdered: $p")
    assert(!p.contains("BroadcastHashJoin"),
      s"scoring side should carry no join at all (literal CASE idf): $p")
    val dfreq = graft.ops.Similarity
      .mltDfreqLeg(spark, sf, Seq("filter", "join", "window"))
      .queryExecution.executedPlan.toString
    assert(dfreq.contains("In(token"),
      s"probe-vocabulary IN-list not pushed into the dfreq postings scan: $dfreq")
  }

  test("serve_facet_counts: postings pushdown + broadcast query bitmap + bitmap AND") {
    val p = plan("serve_facet_counts")
    assert(p.contains("EqualTo(token,filter)"),
      s"term filter not pushed into the postings scan: $p")
    assert(p.contains("BroadcastHashJoin"),
      s"query bitmap not broadcast onto the facet index: $p")
    assert(p.contains("bit_count") && p.contains("&"),
      s"bitmap AND+popcount missing: $p")
  }

  test("graph_label_propagation: one build exchange, partition-local dedup, rounds reuse the cache") {
    // r17 sf100 spill work: the edge build must shuffle ONCE (the explicit
    // src repartition) with dropDuplicates(src, dst) riding that exchange
    // partition-locally — hashpartitioning(src) satisfies the (src, dst)
    // clustering, so a second (src, dst) exchange anywhere is a
    // regression that re-adds ~4 GB to the sf100 peak.
    val p = plan("graph_label_propagation")
    val srcExchanges = p.linesIterator.filter(
      _.contains("Exchange hashpartitioning(src#")).toSeq
    // Positive pin first: the src-only build exchange must actually be
    // present (an assertion keyed on a plan-string form that vanished
    // would otherwise pass vacuously).
    assert(srcExchanges.count(!_.contains("dst#")) >= 1,
      s"the src-only build exchange is missing from the cached plan: $p")
    assert(srcExchanges.count(_.contains("dst#")) == 0,
      s"dedup added its own (src, dst) exchange: $p")
    assert(p.contains("InMemoryRelation"),
      s"edge relation not cached — rounds would re-derive the build: $p")
  }

  test("sink_partitioned_prune reads only the filtered partition") {
    val p = plan("sink_partitioned_prune")
    assert(p.contains("PartitionFilters: [") && p.contains("l_returnflag"), p)
  }

  test("scan_jdbc_pushdown: predicates compiled into the remote query, 4-way partitioned read") {
    val p = plan("scan_jdbc_pushdown")
    assert(p.contains("JDBCRelation"), p)
    assert(p.contains("numPartitions=4"), s"partitioned parallel read missing: $p")
    assert(p.contains("GreaterThan(c_acctbal,5000"),
      s"acctbal predicate not pushed to the database: $p")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING"),
      s"mktsegment predicate not pushed to the database: $p")
  }

  test("agg_hash_groupby: partial+final hash agg, codegen'd once AQE finalizes") {
    val df = Registry.queries("agg_hash_groupby")(spark, sf)
    val pre = df.queryExecution.executedPlan.toString
    assert(pre.contains("HashAggregate"), pre)
    assert(pre.contains("partial_sum"), s"map-side combine missing: $pre")
    df.collect() // AQE only finalizes codegen stages after execution
    val post = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan
    assert(post.contains("*(1)"), post)
  }

  test("txt_ngrams runs the native token_ngrams expression, no lambda") {
    val p = plan("txt_ngrams")
    assert(p.contains("token_ngrams"), p)
    assert(!p.contains("lambdafunction"), s"interpreted HOF survived: $p")
  }

  test("txt_lang_id runs the native char_ngrams expression, no lambda") {
    val p = plan("txt_lang_id")
    assert(p.contains("char_ngrams"), p)
    assert(!p.contains("lambdafunction"), s"interpreted HOF survived: $p")
  }

  test("scan_json_struct parses props ONCE per projected struct field set") {
    val p = plan("scan_json_struct")
    // one from_json for the struct (shared by k/k_mod/m_missing) and one
    // for the map read — not one per extracted field
    val n = p.sliding("from_json".length).count(_ == "from_json")
    assert(n <= 4, s"expected a shared from_json parse, saw $n occurrences: $p")
  }

  test("sim_ivf_knn broadcasts the probe-list side (corpus is never shuffled twice)") {
    val p = plan("sim_ivf_knn")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sim_simhash_bands joins on the band pair — a hash-partitioned equi-join, never all-pairs") {
    val p = plan("sim_simhash_bands")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"banded join not planned as an equi-join: $p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join survived — the band key is not driving the join: $p")
  }

  test("sim_simhash_bands candidate volume scales with true-dup structure, not N^2") {
    // the r3 geometry fix in numbers: candidate pairs from the 15-bit band
    // join must (a) be well below all-pairs and (b) track the verified
    // near-dup count — i.e. collisions come from the corpus's duplicate
    // clusters, not from saturated band buckets (the 4-bit-band pathology
    // put ~N/16 of the corpus in EVERY bucket)
    import org.apache.spark.sql.functions._
    GraftExtensions.install(spark)
    val docs = graft.ops.T.documents(spark, sf)
    val n = docs.count()
    val sh = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("token")).as("toks"))
      .select(col("doc_id"), call_function("simhash60", col("toks")).as("simhash"))
    val banded = sh
      .select(col("doc_id"), col("simhash"), explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("band_val", expr("(simhash div CAST(pow(2, 15 * band) AS BIGINT)) % 32768"))
    val nCand = banded.select(col("doc_id").as("a"), col("band"), col("band_val"))
      .join(banded.select(col("doc_id").as("b"), col("band").as("band_b"),
          col("band_val").as("bv_b")),
        col("band") === col("band_b") && col("band_val") === col("bv_b") &&
          col("a") < col("b"))
      .select(col("a"), col("b")).distinct().count()
    val nVerified = Registry.queries("sim_simhash_bands")(spark, sf).count()
    val allPairs = n * (n - 1) / 2
    assert(nCand * 3 < allPairs,
      s"band join generated $nCand of $allPairs pairs — banding isn't pruning")
    assert(nCand < 15 * (nVerified + n),
      s"$nCand candidates vs $nVerified verified near-dup pairs over $n docs — " +
        "collisions are bucket saturation, not duplicate structure")
  }

  test("qc_benford_check broadcasts the 9-row constant table") {
    val p = plan("qc_benford_check")
    assert(p.contains("BroadcastHashJoin"),
      s"the Benford expected-ppm lookup must broadcast, not shuffle: $p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("agg_weighted_median aggregates to a histogram before any window") {
    val p = plan("agg_weighted_median")
    // plans print top-down, so "below the window" = printed AFTER it: the
    // bottom-most HashAggregate (the value histogram) must sit under the
    // cumsum window — the window may never consume raw lineitem rows
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"window must consume the histogram aggregate, not raw rows: $p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ml_roc_auc never sorts the corpus — only the score histogram") {
    val p = plan("ml_roc_auc")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"rank-sum window must consume the score histogram, not raw docs: $p")
  }

  test("qc_cusum_drift never sorts the event log — only the daily histogram") {
    val p = plan("qc_cusum_drift")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"cusum windows must consume the ~30-row daily aggregate, not raw events: $p")
  }

  test("ml_psi_stability windows ride the 10-bin table, never the event log") {
    val p = plan("ml_psi_stability")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"PSI totals must consume the bin histogram, not raw events: $p")
  }

  test("txt_bigram_logprob joins count tables by key — no all-pairs product") {
    val p = plan("txt_bigram_logprob")
    assert(!p.contains("CartesianProduct"),
      s"LM-count joins must be equi-joins on (prev, cur)/(prev): $p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort: $p")
  }

  test("qc_theil_sen_trend pairs the daily table, never the event log") {
    val p = plan("qc_theil_sen_trend")
    // the pairwise self-join must consume per-day aggregates: every join
    // sits above the first (deepest-printed) HashAggregate of the daily
    // rollup, so the joined relations are |days|-sized, not |events|
    val aggIdx = p.lastIndexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && aggIdx > joinIdx,
      s"pairwise slopes must ride the daily aggregate: $p")
  }

  test("evt_lifecycle_states windows the activity matrix, not the log") {
    val p = plan("evt_lifecycle_states")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"lag/lead must consume the distinct (user, week) matrix: $p")
  }

  for ((k, what) <- Seq(
      "ml_ks_drift" -> "CDF windows must ride the value histogram",
      "win_bollinger_bands" -> "trailing windows must ride the daily aggregate",
      "win_drawdown" -> "prefix windows must ride the daily aggregate",
      "txt_heaps_law" -> "prefix windows must ride the log2 bucket table",
      "evt_dow_seasonality" -> "rank windows must ride the daily aggregate"))
    test(s"$k aggregates before it windows") {
      val p = plan(k)
      val aggIdx = p.lastIndexOf("HashAggregate")
      val winIdx = p.indexOf("Window")
      assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx, s"$what: $p")
    }

  test("sim_containment_pairs: shingle equi-join only, no all-pairs fallback") {
    val p = plan("sim_containment_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment candidates must come from the shingle inverted-index " +
        s"equi-join, never an all-pairs product: $p")
  }

  test("sim_prefix_filter_join prunes losslessly: candidates << all-pairs, equi-join only") {
    val p = plan("sim_prefix_filter_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join survived — the prefix shingle is not driving the join: $p")
    // the candidate rule must actually bite: candidate pairs from the
    // prefix join are a small fraction of n*(n-1)/2 (losslessness is
    // proven separately by the DuckDB oracle, which computes the exact
    // result with no pruning at all)
    import org.apache.spark.sql.functions._
    GraftExtensions.install(spark)
    val docs = graft.ops.T.documents(spark, sf)
    val n = docs.count()
    val sh = docs.select(col("doc_id"), explode(
        call_function("token_ngrams", split(col("text"), " "), lit(3))).as("shingle"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
    val pref = sh.join(freq, "shingle").join(sizes, "doc_id")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("f"), col("shingle"))))
      .filter(col("pos") <= col("n") - expr("(n * 4 + 4) div 5") + 1)
      .select(col("doc_id"), col("shingle"))
    val nCand = pref.select(col("doc_id").as("a"), col("shingle"))
      .join(pref.select(col("doc_id").as("b"), col("shingle").as("s2")),
        col("shingle") === col("s2") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct().count()
    val allPairs = n * (n - 1) / 2
    assert(nCand * 10 < allPairs,
      s"prefix filter generated $nCand of $allPairs pairs — pruning isn't biting")
  }

  test("txt_substring_dedup hashes windows before any shuffle — text never moves") {
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // traverse the pre-AQE physical plan: every projection that computes
    // the window md5 must sit directly on the scan side — zero shuffles
    // below it, so the only bytes that ever cross the wire are 16-byte
    // hashes, never document text
    val p = Registry.queries("txt_substring_dedup")(spark, sf)
      .queryExecution.sparkPlan
    val md5Projects = p.collect {
      case pr: ProjectExec
        if pr.projectList.exists(_.toString.toLowerCase.contains("md5")) => pr
    }
    assert(md5Projects.nonEmpty, s"no md5 projection found: $p")
    md5Projects.foreach { pr =>
      assert(pr.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"shuffle below the window-hash projection — text is crossing the wire: $pr")
    }
  }

  test("sql_q7_volume_shipping broadcasts both nation roles — one fact-fact shuffle only") {
    val p = plan("sql_q7_volume_shipping")
    // both dimension roles (nation→supplier onto lineitem, nation→customer
    // →orders onto the order side) must ride broadcasts; the only
    // shuffle-side join allowed is lineitem⋈orders on l_orderkey
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      s"expected both dimension roles broadcast: $p")
    val shuffleJoins =
      p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") +
        p.sliding("ShuffledHashJoin".length).count(_ == "ShuffledHashJoin")
    assert(shuffleJoins <= 1, s"more than one shuffle join ($shuffleJoins): $p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("emb_srp_ann joins on the band pair — an equi-join, never all-pairs") {
    val p = plan("emb_srp_ann")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"banded join not planned as an equi-join: $p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join survived — the band key is not driving the join: $p")
  }

  test("win_topk_heap runs the custom TopKPerKeyExec — no WindowExec, no sort below it") {
    // SparkPlan.nodeName strips the Exec suffix — the node prints as
    // "TopKPerKey"; a `!` prefix would mean broken attribute accounting
    val p = plan("win_topk_heap")
    assert(p.contains("TopKPerKey "), s"custom strategy did not plan the node: $p")
    assert(!p.contains("!TopKPerKey"), s"node has missing-input marker: $p")
    assert(!p.contains("Window"), s"fell back to the window form: $p")
    // the only sort allowed is the final presentation orderBy ABOVE the
    // operator; below it the heap replaces sorting entirely
    val below = p.substring(p.indexOf("TopKPerKey "))
    assert(!below.contains("Sort "), s"sort below the heap operator: $below")
  }

  test("win_rank_distributed never collapses to a single partition") {
    val p = plan("win_rank_distributed")
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"global-window shuffle to one partition survived: $p")
  }

  test("txt_unigram_logprob never collapses to a single partition (TwoPassRank quartiles)") {
    val p = plan("txt_unigram_logprob")
    assert(!p.contains("SinglePartition"),
      s"global-window shuffle to one partition survived: $p")
  }

  test("evt_active_users_rolling: explode-decomposition, never a cartesian/range join") {
    val p = plan("evt_active_users_rolling")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"trailing-window distinct fell back to an unbounded join: $p")
  }

  test("txt_domain_mix_balance: both subtrees ride ONE per-source aggregate exchange") {
    // r19: the eager checkpoint is gone (A/B: 0.42 -> 0.31 s) — the output
    // and totals subtrees each show the per-source aggregate statically
    // (2 scans), but their exchanges are canonically identical (same
    // child, same hashpartitioning(source)), so the corpus is scanned
    // once at runtime via shuffle-stage reuse. Pin: no third evaluation,
    // and the shared exchange really is keyed on source in both subtrees.
    val p = plan("txt_domain_mix_balance")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 2, s"expected the two stage-reuse-twin subtrees ($scans scans):\n$p")
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(source")) == 2,
      s"both subtrees must exchange on source (stage-reuse twins):\n$p")
  }

  test("sim_containment_pairs never re-scans the corpus (checkpointed shingle relation)") {
    // the corpus is read exactly once, inside the sh0 checkpoint job; the
    // final plan's four shingle consumers must all read blocks, never parquet
    val p = plan("sim_containment_pairs")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 0, s"shingle subtree re-scans the corpus ($scans scans):\n$p")
  }

  test("join_range_binned plans the interval join as an equi-join on the bin key") {
    val p = plan("join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to nested loop — binning is not driving the join: $p")
  }

  test("sql_q3_shipping_priority: dim broadcast, date filters pushed, top-10 via TakeOrdered") {
    val p = plan("sql_q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-10 became a global sort: $p")
    assert(p.contains("GreaterThan(l_shipdate"), s"l_shipdate filter not pushed: $p")
  }

  test("join_bloom_reduce filters the fact side BEFORE the shuffle join") {
    val p = plan("join_bloom_reduce")
    assert(p.contains("ShuffledHashJoin"), s"shuffle_hash hint ignored: $p")
    val joinAt = p.indexOf("ShuffledHashJoin")
    val filterAt = p.indexOf("bloom_might_contain")
    assert(filterAt > joinAt,
      s"bloom filter is not below the join in the plan tree: $p")
  }

  test("evt_retention_cohorts shuffles the distinct user-week matrix, not the log") {
    val p = plan("evt_retention_cohorts")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("evt_sessions_secondary_sort plans a partition-local sort, never a global one") {
    val p = plan("evt_sessions_secondary_sort")
    assert(p.contains("MapPartitions"), p)
    // sortWithinPartitions prints as `Sort [...], false, 0` (global=false);
    // the only global sort allowed is the final orderBy presentation
    val sorts = p.linesIterator.filter(_.trim.startsWith("+- Sort ")).toList
    assert(sorts.exists(_.contains("false, 0")), s"local sort missing: $p")
  }

  test("txt_chunk_dedup keeps chunking narrow: no shuffle before the hash aggregation") {
    val p = plan("txt_chunk_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the explode+slice chunker must sit under the first Exchange (scan side)
    assert(p.contains("Generate explode"), p)
  }

  test("txt_cdc_chunks: gear cuts and chunk md5s are computed below the first shuffle") {
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the content-defined chunker's SURVEY claim: per-position-parallel
    // list arithmetic with no sequential state — every projection that
    // computes a chunk md5 sits on the scan side with zero shuffles below
    // it, so only 16-byte hashes ever cross the wire, never text.
    // MUST inspect the EXECUTED plan: exchanges are inserted by
    // EnsureRequirements there — queryExecution.sparkPlan has none yet,
    // so a guard over it can never fail (r15 advisor). Under AQE the root
    // is an AdaptiveSparkPlanExec leaf; unwrap to its current physical
    // plan so collect() actually traverses the exchange-bearing tree.
    val qe = Registry.queries("txt_cdc_chunks")(spark, sf).queryExecution
    val p: SparkPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    assert(p.toString.contains("Generate explode"), s"chunk explode missing: $p")
    // guard the guard: the plan must contain at least one shuffle overall
    // (the chunk-hash groupBy), or the below-projection assertion is vacuous
    assert(p.collect { case e: ShuffleExchangeLike => e }.nonEmpty,
      s"no shuffle anywhere — guard would be vacuous: $p")
    val md5Projects = p.collect {
      case pr: ProjectExec
        if pr.projectList.exists(_.toString.toLowerCase.contains("md5(")) => pr
    }
    assert(md5Projects.nonEmpty, s"no chunk-md5 projection found: $p")
    md5Projects.foreach { pr =>
      assert(pr.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"shuffle below the chunk-hash projection — text is crossing the wire: $pr")
    }
  }

  test("join_dpp_prune injects a dynamic partition pruning filter into the fact scan") {
    val p = plan("join_dpp_prune")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning PartitionFilter: $p")
  }

  test("join_broadcast_nested_loop broadcasts the tier table, never shuffles the fact side") {
    val p = plan("join_broadcast_nested_loop")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // below the join sit only its two inputs: the customer scan streams in
    // directly, so the ONLY exchange under the BNLJ line is the broadcast
    // of the 5-row tier table (plans print top-down: parents first)
    val below = p.linesIterator.dropWhile(!_.contains("BroadcastNestedLoopJoin")).drop(1)
    val exch = below.filter(_.contains("Exchange")).toList
    assert(exch.forall(_.contains("BroadcastExchange")),
      s"stream side shuffled below BNLJ: $p")
  }

  test("qc_column_profile profiles all columns in ONE scan of orders") {
    val p = plan("qc_column_profile")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"profile should read orders exactly once: $p")
  }

  test("serve_inverted_index pushes the term IN-list into the postings scan") {
    val p = plan("serve_inverted_index")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toList
    assert(pushed.nonEmpty && pushed.forall(_.contains("token")),
      s"term filter not pushed to the postings scan: $pushed")
    // the serve path must read the index, not the documents corpus
    val scans = p.linesIterator.filter(_.contains("Scan parquet")).size
    assert(!p.contains("documents.parquet"),
      s"query path rescanned the corpus ($scans scans): $p")
  }

  test("dim_scd2_merge is ONE snapshot join (the MERGE INTO shape), not one per branch") {
    val p = plan("dim_scd2_merge")
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
      l.contains("ShuffledHashJoin"))
    // closed + current branches both derive from the same join; plan may
    // reuse or duplicate the subtree per union branch, but no branch may
    // introduce additional join depth
    assert(joins <= 2, s"expected at most one join per union branch: $p")
  }

  test("dt_gap_fill_spine broadcasts the aggregated daily side") {
    assert(plan("dt_gap_fill_spine").contains("BroadcastHashJoin"), "daily side not broadcast")
  }

  test("sql_q5_local_supplier: date filter pushed, nation chain broadcast, one fact-fact shuffle") {
    val p = plan("sql_q5_local_supplier")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"o_orderdate filter not pushed: $p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sql_q10_returned_items: returnflag pushed to the lineitem scan, top-20 via TakeOrdered") {
    val p = plan("sql_q10_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"), s"l_returnflag filter not pushed: $p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 became a global sort: $p")
  }

  test("txt_pii_redact: redaction stays narrow — exactly one exchange (the source rollup)") {
    val p = plan("txt_pii_redact")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    // partial agg + final agg = 1 shuffle exchange; the sort after adds one more
    assert(exchanges <= 2, s"regex scrub should not shuffle the corpus: $p")
  }

  test("ml_feature_pit: all three feature windows share ONE user_id shuffle") {
    val p = plan("ml_feature_pit")
    // 1 = the user_id hash exchange feeding the shared Window sort; the
    // final presentation orderBy adds a range exchange. A third exchange
    // would mean the RANGE frames stopped sharing their partitioning and
    // each feature pays its own shuffle — the naive per-feature-join shape
    // this op exists to beat.
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"PIT features must share one user_id shuffle: $p")
    assert(!p.contains("Join"), s"PIT op is window-only, no join: $p")
  }

  test("ml_pr_auc: the cumsum windows consume the score histogram, never raw docs") {
    val p = plan("ml_pr_auc")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"window must sit above the histogram aggregate: $p")
  }

  test("txt_zipf_slope: the rank window consumes the vocab histogram, never the corpus") {
    val p = plan("txt_zipf_slope")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"rank window must sit above the token histogram: $p")
  }

  test("emb_matryoshka_trunc scores both dims from the checkpointed quantized relation") {
    // the quantized probe set is localCheckpointed once; the pair join and
    // both rank windows must read blocks, never re-scan the parquet corpus
    val p = plan("emb_matryoshka_trunc")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 0, s"pair scoring re-scans the corpus ($scans scans):\n$p")
  }

  test("evt_sequence_pattern: ordered collapse + rollup is two exchanges, no join") {
    val p = plan("evt_sequence_pattern")
    assert(!p.contains("Join"), s"sequence mining is join-free: $p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"(user,day) agg + global rollup = 2 exchanges, got $exchanges: $p")
  }

  test("mm_audio_energy: the frame loop is partition-local — one presentation exchange only") {
    val p = plan("mm_audio_energy")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"frame energies must not shuffle payloads: $p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"typed frame loop missing from plan: $p")
  }

  test("sql_q6_forecast_revenue: every predicate pushed, zero join, minimal exchanges") {
    val p = plan("sql_q6_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"date filter not pushed: $p")
    assert(p.contains("LessThan(l_quantity"), s"quantity filter not pushed: $p")
    assert(p.contains("GreaterThanOrEqual(l_discount"), s"discount filter not pushed: $p")
    assert(!p.contains("Join"), s"Q6 must not join: $p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"Q6 is one partial+final agg, got $exchanges exchanges: $p")
  }

  test("sql_q4_priority_exists: derived lateness bound pushed to the lineitem scan") {
    val p = plan("sql_q4_priority_exists")
    assert(p.contains("GreaterThan(l_shipdate"), s"derived l_shipdate bound not pushed: $p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"quarter filter not pushed: $p")
    assert(p.contains("LeftSemi"), s"EXISTS should plan a semi-join: $p")
  }

  test("sql_q8_market_share: dims all broadcast — the only shuffle join is lineitem⋈orders") {
    val p = plan("sql_q8_market_share")
    val bhj = p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
    assert(bhj >= 3, s"part/supplier-nation/customer-region chains should broadcast (got $bhj): $p")
    assert(p.contains("EqualTo(p_type,STANDARD)"), s"part type filter not pushed: $p")
  }

  test("sql_q14_promo_revenue: month filter pushed, part dim broadcast") {
    val p = plan("sql_q14_promo_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"month filter not pushed: $p")
    assert(p.contains("BroadcastHashJoin"), s"part dim should broadcast: $p")
  }

  test("txt_repetition_ratio: native token_ngrams, bigram count is map-side combined") {
    val p = plan("txt_repetition_ratio")
    assert(p.contains("token_ngrams"), s"should use the native codegen'd ngram expression: $p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"bigram count should partial-aggregate before the shuffle: $p")
  }

  test("dedup_blocked_fuzzy pairs only within blocks — equi-joins, never a cross join") {
    val p = plan("dedup_blocked_fuzzy")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must keep pairing an equi-join: $p")
    assert(p.contains("levenshtein"), p)
    // the shuffle_hash hint on the kept-blocks side, once per side of the
    // pair self-join
    assert(p.linesIterator.count(_.contains("ShuffledHashJoin")) == 2,
      s"the block prune must be a ShuffledHashJoin: $p")
  }

  test("join_bucketed_colocated joins without shuffling either fact side") {
    def exchanges(p: String): Int =
      p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    // each plan() invocation rewrites the bucketed tables — capture once
    val bucketedPlan = plan("join_bucketed_colocated")
    val bucketed = exchanges(bucketedPlan)
    val plain = exchanges(plan("join_shuffle_inner"))
    assert(bucketed < plain,
      s"bucketed join should carry fewer exchanges (bucketed=$bucketed, plain=$plain)")
    assert(bucketedPlan.contains("SortMergeJoin"))
  }

  test("graph_common_neighbors: support table checkpointed — no re-scan, threshold broadcast") {
    // r18 note: a lazy-cache variant was A/B'd (1.6 s → 3.6-4.9 s at
    // sf0.1) and REVERTED — the eager checkpoint stays, so the plan must
    // show zero parquet scans (lineage truncated at the support table).
    val p = plan("graph_common_neighbors")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0,
      s"the order-pair self-join must run once (checkpoint), found $scans parquet scans: $p")
    assert(p.contains("Broadcast"), s"percentile threshold must broadcast: $p")
  }

  test("ml_target_encode: customer dim broadcast, ppm windows above the contingency agg") {
    val p = plan("ml_target_encode")
    assert(p.contains("BroadcastHashJoin"), p)
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"windows must ride the contingency aggregate, never raw orders: $p")
  }

  test("agg_kmv_distinct: bottom-k runs on TopKPerKeyExec; pair subtrees are distinct-exchange twins") {
    // r19: the pairs checkpoint is gone (A/B: 1.15 -> 1.06 s, and the
    // |pairs|-sized eager write was the scale-negative leg) — the
    // consumers re-state the (type, user) distinct, whose canonically
    // identical exchange is computed once at runtime via stage reuse.
    val p = plan("agg_kmv_distinct")
    assert(p.contains("TopKPerKey "), s"custom strategy did not plan the node: $p")
    // one events scan per consumer subtree: (1) the per-type bottom-k
    // (TopKPerKey over the (type, hash) distinct), (2) the per-type exact
    // count over the (type, user) distinct, (3) the merged sketch (the
    // same TopKPerKey subtree as (1), then TakeOrdered) and (4) the merged
    // exact count over the user distinct
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 4,
      s"pair consumers must re-state the shared distinct, not checkpoint ($scans): $p")
  }

  test("ml_chi2_feature_select: distinct-exchange twins, broadcast scalars, TakeOrdered") {
    // r19: the eager checkpoint of the corpus-sized (doc, token, y)
    // distinct is gone (A/B: 0.91 -> 0.77 s; at 100 TB that write was the
    // expensive leg) — both consumers re-state the distinct and share its
    // exchange at runtime.
    val p = plan("ml_chi2_feature_select")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"the two consumers must be stage-reuse twins of ONE distinct: $p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be a bounded heap: $p")
  }

  test("ml_kmeans_lloyd: final round reads only cached relations") {
    // r17: the reused relations are MEMORY_AND_DISK caches (the A/B beat
    // localCheckpoint ~1.8x). The plan STRING embeds each cache's build
    // plan (including its parquet scan), so a raw "Scan parquet" count
    // would miscount; skip everything indented under an InMemoryRelation
    // (the cached build plan, not executed on a hit) and require the
    // remaining live tree to read caches and never a file.
    val p = plan("ml_kmeans_lloyd")
    val (liveScans, cacheSeen) = liveScanStats(p)
    assert(cacheSeen, s"expected cache reads in the final round: $p")
    assert(liveScans == 0,
      s"final round re-scans parquet instead of the cache: $p")
  }

  test("sim_ivf_knn_det: cached quantizer relations, broadcast centroids/probe-lists, no cartesian") {
    // The scale claims its scaladoc makes (r17 verdict item 3): centroids
    // are tiny broadcast relations (assign is a broadcast join + map-side
    // argmin — the corpus side never shuffles to meet them), the reused
    // relations (unpivoted xu, round-2 centroids) are MEMORY_AND_DISK
    // caches, and the only live parquet reads are the float re-rank legs
    // (probe vectors + candidate vectors) — the exact rerank is bounded
    // by candidates, never a cartesian over the corpus.
    val p = plan("sim_ivf_knn_det")
    val (liveScans, cacheSeen) = liveScanStats(p)
    assert(cacheSeen, s"quantizer relations must be cached (InMemoryRelation): $p")
    // Live scans = the two float re-rank legs plus InjectRuntimeFilter's
    // bloom-build legs (vec_id-only, probe-filtered, 10 rows — runtime
    // filters are a win, not a leak). The pin that matters for 100 TB:
    // no more than TWO live scans carry the corpus-sized embedding
    // payload; the quantizer never re-derives from parquet.
    assert(liveScans <= 4, s"unexpected live parquet scans ($liveScans): $p")
    val payloadScans = {
      def indent(l: String) = l.indexWhere(c => !(" :+-".contains(c)))
      var skipBelow = -1
      var n = 0
      for (l <- p.linesIterator; i = indent(l); if i >= 0) {
        if (skipBelow >= 0 && i <= skipBelow) skipBelow = -1
        if (skipBelow < 0) {
          if (l.contains("InMemoryRelation")) skipBelow = i
          else if (l.contains("Scan parquet") && l.contains("embedding#")) n += 1
        }
      }
      n
    }
    assert(payloadScans <= 2,
      s"only the float re-rank legs may read the embedding payload live, found $payloadScans: $p")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid/probe-list joins must broadcast: $p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"re-rank must stay an equi-join over probed lists: $p")
  }

  test("txt_code_detect: one corpus scan, map-side-combined rollup") {
    val p = plan("txt_code_detect")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"rollup must partial-aggregate before the exchange: $p")
  }

  test("evt_transition_entropy: entropy windows ride the transition matrix, one events scan") {
    val p = plan("evt_transition_entropy")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("sql_q1_pricing_summary: one scan, shipdate pushed, map-side combined") {
    val p = plan("sql_q1_pricing_summary")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(p.contains("PushedFilters: [") && p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"wide agg must partial-aggregate before the exchange: $p")
  }

  test("dedup_survivorship_merge: one shuffle, no window, no per-key sort") {
    val p = plan("dedup_survivorship_merge")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"survivorship must be pure aggregation, never a rank window: $p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("txt_source_overlap: one shingle aggregation, no self-join, cached shingles, no re-scan") {
    // r18: pair generation is a collect_set + pair explode over ONE
    // shingle-keyed aggregation — the old df-window + shingle self-join
    // (three shingle exchanges) must not come back, and the shingle
    // relation is a lazy cache (live scans counted cache-aware).
    val p = plan("txt_source_overlap")
    val (liveScans, cacheSeen) = liveScanStats(p)
    assert(cacheSeen, s"shingle relation must be cached: $p")
    assert(liveScans == 0,
      s"the corpus scans once into the cached shingle relation: $p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the df window is gone — size(collect_set) carries the cap: $p")
    assert(!p.contains("SortMergeJoin [shingle") && !p.contains("ShuffledHashJoin [shingle"),
      s"the shingle self-join must not come back: $p")
    assert(p.contains("TakeOrderedAndProject"), s"top-15 must be a bounded heap: $p")
  }

  test("emb_dim_variance_rank: rank/share windows ride the 64-row dim aggregate") {
    val p = plan("emb_dim_variance_rank")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"windows must consume the per-dim aggregate, never raw vectors: $p")
  }

  test("evt_forecast_backtest: the lag window rides the daily aggregate, one events scan") {
    val p = plan("evt_forecast_backtest")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"the forecast lag must ride the daily aggregate, never raw events: $p")
  }

  test("qc_freshness_lag: horizon window above the per-type aggregate, one events scan") {
    val p = plan("qc_freshness_lag")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"the horizon window must ride the type aggregate: $p")
  }

  test("join_view_delta_maintain: dimension deltas broadcast, base read from the gate") {
    val p = plan("join_view_delta_maintain")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3,
      s"all three delta branches must broadcast the dimension side: $p")
    assert(p.contains("ivm_base"), s"the materialized base must be read back: $p")
  }

  test("ml_auc_by_segment: cumulative windows ride the (lang, score) histogram") {
    val p = plan("ml_auc_by_segment")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"windows must consume the histogram aggregate, never raw docs: $p")
  }

  test("ml_ndcg_at_k: both top-10s are TopKPerKey heaps; no rank window") {
    // r19: the scored checkpoint is gone (A/B: 0.43 -> 0.36 s) — the two
    // heaps re-state the scan+score projection (cheap, map-only) and the
    // lang exchanges reuse at runtime.
    val p = plan("ml_ndcg_at_k")
    assert(p.sliding("TopKPerKey ".length).count(_ == "TopKPerKey ") == 2,
      s"both rankings must plan the bounded-heap operator: $p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"each heap re-states the one scored scan (stage-reuse twins): $p")
    assert(!p.contains("WindowExec"), s"no rank window may replace the heaps: $p")
  }

  test("scan_custom_dsv2: predicates and pruning reach the custom connector") {
    val p = plan("scan_custom_dsv2")
    assert(p.contains("RangeLedger"), s"the DSv2 scan must plan: $p")
    // both query predicates accepted by pushFilters and visible in the
    // scan description — evaluated in the partition readers
    assert(p.contains("EqualTo(bucket,7)"), s"bucket filter not pushed: $p")
    assert(p.contains("LessThan(day,100)"), s"day filter not pushed: $p")
    // column pruning: id and units… units+day survive, id must not
    val desc = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(desc.contains("day") && desc.contains("units") && !desc.contains("id:"),
      s"read schema must prune to the referenced columns: $desc")
  }

  test("txt_boilerplate_coverage: the positioned grams are checkpointed once") {
    val p = plan("txt_boilerplate_coverage")
    // grams feed the df agg AND the coverage join from blocks; only the
    // per-doc n_tok branch re-touches parquet
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 1,
      s"gram subtree must not recompute from parquet: $p")
  }

  test("ml_gain_lift_deciles: windows ride the histogram aggregate, never the corpus") {
    // r19: the histogram checkpoint is gone (A/B: 0.66 -> 0.59 s) — the
    // boundary window and the totals scalar each re-state the groupBy(s)
    // histogram, whose identical exchange is computed once at runtime.
    val p = plan("ml_gain_lift_deciles")
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"windows must consume the histogram aggregate, never raw docs: $p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 2,
      s"only the histogram twins may touch parquet: $p")
  }

  test("evt_gini_concentration: the window consumes the count-of-counts aggregate") {
    val p = plan("evt_gini_concentration")
    val aggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"cumulative window must run over the histogram, never per-user rows: $p")
  }

  test("scan_dsv2_agg_pushdown: COUNT/MIN/MAX collapse into the connector") {
    val p = plan("scan_dsv2_agg_pushdown")
    assert(p.contains("PushedAggregates: [count(id), min(id), max(id)]"),
      s"aggregates not pushed into the source: $p")
    // the scan's output is the 3-column agg row, not ledger rows
    val desc = p.linesIterator.find(_.contains("PushedAggregates")).getOrElse("")
    assert(desc.contains("agg_0") && desc.contains("agg_2"),
      s"scan must read the collapsed agg schema: $desc")
  }

  test("join_dsv2_stats_broadcast: connector statistics produce an unhinted broadcast") {
    val p = plan("join_dsv2_stats_broadcast")
    assert(p.contains("BroadcastHashJoin"),
      s"the stats-reported small side must broadcast: $p")
    assert(p.contains("RangeLedger"), s"connector scan must plan: $p")
    // the BroadcastExchange must sit on the ledger subtree, not lineitem
    val bx = p.indexOf("BroadcastExchange")
    assert(bx >= 0 && p.indexOf("RangeLedger", bx) >= 0,
      s"broadcast must wrap the connector side: $p")
    assert(!p.contains("SortMergeJoin"), s"stats must avert the sort-merge: $p")
  }

  // --- r12 pins for the three r11 sf10 scale fixes: a refactor back to any
  // pre-fix shape must fail `sbt test`, not the next sf10 sweep. ---

  test("sim_knn_classify: top-5 is the bounded TopK aggregator — no window/sort under it") {
    val p = plan("sim_knn_classify")
    // the map-side-combinable aggregator must plan (pre-fix: a row_number
    // window that shuffled AND SORTED the |corpus|×|probes| score relation)
    val aggIdx = p.toLowerCase.indexOf("topk")
    assert(aggIdx >= 0, s"Udfs.TopK aggregator missing from the plan: $p")
    // everything printed after the TopK aggregate is its subtree (the score
    // relation): no Window and no Sort may touch raw scores down there —
    // the only windows allowed ride the ≤|labels|² confusion matrix ABOVE
    val below = p.substring(aggIdx)
    assert(!below.contains("Window"), s"window below the TopK agg — the sort-the-corpus shape is back: $below")
    assert(!below.contains("Sort "), s"sort below the TopK agg: $below")
  }

  test("join_nullsafe_eq: both <=> join children are aggregates (count-product rewrite)") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    // pre-fix: the join streamed every matched ROW pair (quadratic in the
    // NULL group); the rewrite joins two pre-aggregated count tables, so
    // each child subtree must contain an aggregate and no further join
    val sp = Registry.queries("join_nullsafe_eq")(spark, sf).queryExecution.sparkPlan
    val joins = sp.collect { case j: BaseJoinExec => j }
    assert(joins.size == 1, s"expected exactly the one <=> join, got ${joins.size}: $sp")
    joins.head.children.zipWithIndex.foreach { case (child, i) =>
      val aggs = child.collect {
        case a: HashAggregateExec => a
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }
      assert(aggs.nonEmpty,
        s"join child $i is not pre-aggregated — the row-level quadratic shape is back: $child")
    }
  }

  test("txt_boilerplate_coverage: interval-union sweep — no explode, no distinct in the coverage branch") {
    val p = plan("txt_boilerplate_coverage")
    // pre-fix: a 5×|flagged-grams| position Generate(explode) + global
    // distinct (≈1.25 B rows at sf10). The grams relation is checkpointed,
    // so the final plan must carry NO Generate at all; the sweep's lag
    // window (per-doc, narrow) must be present instead.
    assert(!p.contains("Generate"),
      s"a Generate survived above the checkpoint — the position-explode shape is back: $p")
    assert(p.contains("Window"), s"the interval-union lag window is missing: $p")
  }

  test("join_skew_salted's engine-native twin: AQE OptimizeSkewedJoin splits the hot key") {
    // the manual-salting op is the portable recipe; the engine-native
    // answer at 100 TB is spark.sql.adaptive.skewJoin. This twin runs the
    // UNSALTED join (same skewed key: every 'view' event collapses onto
    // k=-1) with test-scaled skew thresholds and pins that the runtime
    // re-plan actually fires — the executed SMJ must carry the skew=true
    // marker, i.e. the hot partition was split instead of landing on one
    // task. Completes the skew story the way the DSv2 runtime-filter pin
    // completed the connector story.
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.adaptive.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // fixture-scaled thresholds (the hot partition is KBs here, not the
      // production 256 MB default), and 64 shuffle partitions so the cold
      // user_ids spread thin — with 4, every partition holds ~25% of the
      // table and the hot one never clears the factor×median test (the
      // exact detection geometry production tuning faces)
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1k")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.set("spark.sql.shuffle.partitions", "64")
      // sf0.01 (10k events): at sf0.001 the hot partition compresses below
      // any settable threshold and the detector can never fire. The
      // repartition matters too: skew splits happen at MAPPER boundaries,
      // and the single-file single-row-group fixture scan is one map task
      // (unsplittable — the degenerate case; production scans have
      // thousands of mappers), so give the join exchange 8 mappers.
      def keyed = graft.ops.T.events(spark, "/root/testdata/sf0.01")
        .repartition(8, col("event_id"))
        .withColumn("k",
          when(col("event_type") === "view", lit(-1L)).otherwise(col("user_id")))
      // checkpointed: OptimizeSkewedJoin's pattern needs BOTH SMJ children
      // to be Sort directly over a ShuffleQueryStage — an aggregate in
      // between (the uncheckpointed dim) makes the rule unable to match
      val dim = keyed.groupBy(col("k")).agg(count(lit(1)).as("k_weight"))
        .localCheckpoint(true)
      // no groupBy(k) downstream: a parent that reuses the join's hash
      // partitioning makes AQE skip the split (it would add a shuffle)
      val joined = keyed.join(dim.hint("merge"), Seq("k"))
        .select(col("k"), col("k_weight"), col("value"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"merge hint ignored: $p")
      assert(p.contains("skew=true") && p.contains("AQEShuffleRead skewed"),
        s"OptimizeSkewedJoin did not split the hot partition — " +
          s"the engine-native skew path is not demonstrably live: $p")
    } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("agg_countmin_freq_det broadcasts the grid join and partial-aggregates the log scan") {
    val p = plan("agg_countmin_freq_det")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤1024-row grid must broadcast at ANY corpus scale: $p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join here shuffles the counts table by (i,b) for nothing: $p")
    // the event-log groupBy sits BEHIND the localCheckpoint (materialized
    // eagerly, so this dump starts at Scan ExistingRDD) — what must stay
    // map-side combined in the visible plan is the grid-cell sum
    assert(p.contains("partial_sum"),
      s"the grid-cell aggregate must map-side combine (≤1024 cells): $p")
  }

  test("txt_hashing_tf_det partial-aggregates below the shuffle — token explode stays narrow") {
    val p = plan("txt_hashing_tf_det")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"the bucket groupBy must map-side combine (docs×64 shuffle, never raw tokens): $p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoop"),
      s"no join belongs in this plan: $p")
  }

  test("txt_dsir_weight broadcasts the 4096-bucket profile — no sort-merge join") {
    val p = plan("txt_dsir_weight")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-profile join must broadcast (4096 rows at ANY corpus scale): $p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join here shuffles every bigram instance by hash bucket: $p")
  }

  test("scan_custom_dsv2: the source plans its 8 range slices") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.RangeLedger")
      .option("rows", "1000000").option("slices", "8").load()
      .select(col("id"))
    assert(df.rdd.getNumPartitions == 8,
      s"expected 8 input partitions, got ${df.rdd.getNumPartitions}")
  }

  test("join_spatial_grid_eps: cell equi-join, never a nested-loop/cartesian candidate pass") {
    // the whole point of the grid is turning an O(n²) distance join into
    // an equi-join on cell ids — if the cell key ever falls out of the
    // join condition Spark silently plans BroadcastNestedLoopJoin /
    // CartesianProduct and the op stops scaling
    val p = plan("join_spatial_grid_eps")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"candidate generation must be the (cx,cy) equi-join: $p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join on the cell key: $p")
  }

  test("ml_conformal_interval: 5-row model broadcasts; histograms map-side combine") {
    val p = plan("ml_conformal_interval")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-type model (≤5 rows at ANY scale) must broadcast: $p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join would shuffle the corpus by event_type for nothing: $p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the score histogram must map-side combine: $p")
  }

  test("ml_poisson_bootstrap_ci / evt_group_sequential_obf: replicate explode map-side combines") {
    // both keys multiply the scan (×64 replicates / ×5 looks) and must
    // collapse to replicate- or look-sized rows BEFORE the shuffle — a
    // raw-row exchange here is the difference between one pass and
    // shipping 64× the log
    for (k <- Seq("ml_poisson_bootstrap_ci", "evt_group_sequential_obf")) {
      val p = plan(k)
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$k: the post-explode aggregate must map-side combine: $p")
      assert(!p.contains("CartesianProduct"),
        s"$k: no cartesian belongs in this plan: $p")
    }
  }

  test("evt_cuped_lift / ml_propensity_strat_ate: user rollup map-side combines") {
    // both causal keys hinge on the SAME scale shape: the only data-sized
    // exchange is the user-keyed aggregate, which must partial-aggregate
    // before the shuffle (per-user event counts are tiny; raw-row shuffles
    // are not)
    for (k <- Seq("evt_cuped_lift", "ml_propensity_strat_ate", "evt_srm_check")) {
      val p = plan(k)
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$k: the user-keyed aggregate must map-side combine: $p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$k: no join belongs in this plan: $p")
    }
  }
}
