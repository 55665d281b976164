package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.4 Aggregations. All hash aggregations with map-side partial agg (Spark
  * plans partial+final automatically). Averages are emitted as
  * round6(decimal-sum / count) rather than engine-native AVG so both engines
  * compute the identical double. Distinct counts use the Expand-based exact
  * path; the scalable twin is `agg_approx_hll` (HLL++, constant memory).
  */
object Aggs {

  /** TPC-H Q1 shape: 4-wide agg over lineitem by (returnflag, linestatus). */
  val aggHashGroupby = Op(
    "agg_hash_groupby",
    (s, d) =>
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Det.sumDec(col("l_quantity")).as("sum_qty"),
          Det.sumDec(col("l_extendedprice")).as("sum_base_price"),
          Det.sumDec(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(Det.sumDec(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(Det.sumDec(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
             ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """)
  )

  /** Global (no groupBy) single-row aggregate. */
  val aggGlobalNogroup = Op(
    "agg_global_nogroup",
    (s, d) =>
      T.lineitem(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          Det.sumDec(col("l_extendedprice")).as("sum_price"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          countDistinct(col("l_orderkey")).as("n_orders")),
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             MIN(l_shipdate) AS min_ship,
             MAX(l_shipdate) AS max_ship,
             COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem
    """)
  )

  val aggCountDistinct = Op(
    "agg_count_distinct",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type
    """)
  )

  /** Two distinct aggregates in one pass → Spark's Expand operator. */
  val aggMultiDistinct = Op(
    "agg_multi_distinct",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(to_date(col("ts"))).as("n_days"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             COUNT(DISTINCT user_id) AS n_users,
             COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
             COUNT(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type
    """)
  )

  /** HLL++ approximate distinct — the 100 TB path (constant memory per group
    * vs Expand's per-value state). Oracle-exempt (engine-specific sketches);
    * AggSpec bounds rel-error < 5% vs exact.
    */
  val aggApproxHll = Op(
    "agg_approx_hll",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy(col("event_type")),
    None
  )

  /** Mergeable sketch TABLE — the pre-aggregated-rollup pattern that makes
    * 100 TB distinct-counting incremental: build one Datasketches HLL
    * sketch per (day, event_type) partition, persist the sketch bytes as an
    * ordinary parquet column, then answer the coarser query (distinct users
    * per event_type across all days) by UNIONING the stored sketches —
    * never rescanning the raw events. This is what approx_count_distinct
    * alone cannot do: its sketch dies inside the aggregation, while
    * hll_sketch_agg's binary survives storage and merges associatively, so
    * each new day appends one partition of sketches and every re-query
    * reads kilobytes, not terabytes. Oracle-exempt (sketch bytes are
    * engine-specific); ExemptSpec proves the merged estimate is within 5%
    * of exact AND equals the estimate from a direct whole-table sketch
    * (merge associativity — the property the pattern rests on).
    */
  val aggHllPartitionedMerge = Op(
    "agg_hll_partitioned_merge",
    (s, d) => {
      val tmp = T.scratch("hll_daily")
      T.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy(col("event_type"))
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_users"),
          count(lit(1)).as("n_sketches"))
        .orderBy(col("event_type"))
    },
    None
  )

  /** Count-Min-Sketch frequency estimation (r5) — the FREQUENCY twin of the
    * HLL cardinality tier (Cormode & Muthukrishnan 2005): a fixed
    * depth×width counter grid answers "how often does value v occur?" with
    * one-sided error (estimate ≥ true, overshoot ≤ eps·N w.p. confidence) —
    * at 100 TB the heavy-hitter / frequency question without a per-value
    * groupBy state. Built with the codegen'd count_min_sketch aggregate
    * (eps 0.01, conf 0.99, fixed seed) two ways: one direct whole-table
    * sketch, and per-day sketches merged DISTRIBUTED via treeAggregate —
    * CMS counters are plain sums, so the merged grid is BIT-IDENTICAL to
    * the direct one (the associativity that makes the sketch table
    * incremental: each new day ships kilobytes). The executors pairwise-
    * merge the KB-sized grids up a 2-level tree; the driver merges only a
    * handful of tree-reduced partials (~ceil(sqrt(P)) post-tree
    * partitions), never row data and never the per-day sketch set — at a
    * decade of daily partitions (~3650 sketches) nothing per-day
    * accumulates driver-side. Oracle-exempt
    * (sketch binary is engine-specific); ExemptSpec proves est ≥ exact,
    * overshoot ≤ eps·N, merged == direct exactly, and determinism.
    */
  val aggCountminFreq = Op(
    "agg_countmin_freq",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.util.sketch.CountMinSketch
      def de(b: Array[Byte]): CountMinSketch =
        CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))
      // the distinct-type list rides the SAME aggregation as the direct
      // sketch — two scans total (direct+types, per-day), never a third
      val head = T.events(s, d)
        .agg(
          count_min_sketch(col("event_type"), lit(0.01d), lit(0.99d), lit(42)).as("sk"),
          sort_array(collect_set(col("event_type"))).as("types"))
        .head
      val direct = de(head.getAs[Array[Byte]](0))
      val types = head.getSeq[String](1)
      // distributed sketch merge: executors pairwise-merge per-day grids
      // up the tree; the driver folds only the few post-tree partials
      val empty = CountMinSketch.create(0.01d, 0.99d, 42)
      val merged = T.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy(col("day"))
        .agg(count_min_sketch(col("event_type"), lit(0.01d), lit(0.99d), lit(42)).as("sk"))
        .select(col("sk")).as[Array[Byte]].rdd
        .treeAggregate(empty)(
          (acc, b) => { acc.mergeInPlace(de(b)); acc },
          (x, y) => { x.mergeInPlace(y); x },
          depth = 2)
      types.map(t => (t, direct.estimateCount(t), merged.estimateCount(t)))
        .toDF("event_type", "est_direct", "est_merged")
    },
    None
  )

  /** Exact Count-Min grid (r13) — the fully-oracled deterministic twin of
    * [[aggCountminFreq]] (the `agg_quantiles_hist_det` recipe applied to
    * the frequency-sketch family, closing the last sketch member without
    * an oracle-backed exact anchor): the SAME algorithm — a depth×width
    * counter grid (4×256), estimate(v) = min over rows of the cells v
    * hashes into — but with SQL-expressible hashes (bucket = the first
    * md5 hex pair of `value#row`, the txt_fingerprint parity idiom), so
    * the grid, the estimates, and the one-sided overshoot are exact
    * integers DuckDB reproduces bit-for-bit. Because CMS cells are plain
    * sums, the grid built FROM the exact counts table equals the grid
    * built from the raw stream — so the op scans the event log exactly
    * once: a map-side-combined groupBy bounded by the event-type
    * vocabulary, then a ×4 depth-explode, the ≤1024-row grid aggregate,
    * and a BROADCAST join back for the min — nothing after the first
    * aggregate ever touches corpus-sized data at 100 TB. ExemptSpec ties
    * the probabilistic CMS to this twin: the sketch's estimate must be
    * ≥ this op's exact count per type, so a CountMinSketch regression
    * breaks an ORACLED key's sibling pin.
    */
  val aggCountminFreqDet = Op(
    "agg_countmin_freq_det",
    (s, d) => {
      val counts = T.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val cells = counts
        .select(col("event_type"), col("cnt"),
          explode(expr("sequence(0, 3)")).as("i"))
        .withColumn("b",
          substring(md5(concat_ws("#", col("event_type"), col("i"))), 1, 2))
      val grid = cells.groupBy(col("i"), col("b")).agg(sum(col("cnt")).as("cell"))
      cells.join(broadcast(grid), Seq("i", "b"))
        .groupBy(col("event_type"), col("cnt"))
        .agg(min(col("cell")).as("est_cms"))
        .select(col("event_type"), col("cnt").as("exact_cnt"),
          col("est_cms"), (col("est_cms") - col("cnt")).as("overshoot"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH counts AS (
        SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1),
      cells AS (
        SELECT event_type, cnt, i,
               substr(md5(event_type || '#' || i), 1, 2) AS b
        FROM counts, (SELECT unnest(range(0, 4)) AS i)),
      grid AS (SELECT i, b, SUM(cnt) AS cell FROM cells GROUP BY i, b)
      SELECT c.event_type, c.cnt AS exact_cnt,
             CAST(MIN(g.cell) AS BIGINT) AS est_cms,
             CAST(MIN(g.cell) - c.cnt AS BIGINT) AS overshoot
      FROM cells c JOIN grid g ON c.i = g.i AND c.b = g.b
      GROUP BY c.event_type, c.cnt
      ORDER BY c.event_type
    """)
  )

  /** Sliding-window distinct counting from STORED sketches — "distinct
    * users in the trailing 24 h, every hour": exactly is infeasible at
    * scale (distinct doesn't decompose over overlapping windows; the naive
    * form re-scans 24 h of raw log per hour). The sketch-table form: one
    * HLL sketch per hour persisted (|hours| rows, built in one pass over
    * the log), then each hour's answer is hll_union_agg over its trailing
    * 24 sketch rows via a bounded self-join on the hour key — the query
    * touches kilobytes of sketches, never the log, and both steps are
    * associative merges. This is the streaming-analytics rolling-cardinality
    * pattern; the same stored table answers ANY window multiple of an
    * hour. Oracle-exempt (sketch bytes engine-specific); ExemptSpec proves
    * every hour's estimate within 5% of the exact trailing distinct.
    */
  val winSlidingDistinctHll = Op(
    "win_sliding_distinct_hll",
    (s, d) => {
      val tmp = T.scratch("hll_hourly")
      T.events(s, d)
        .withColumn("hr", expr("unix_timestamp(ts) div 3600"))
        .groupBy(col("hr"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
        .write.mode("overwrite").parquet(tmp)
      val sk = s.read.parquet(tmp)
      sk.select(col("hr"))
        .join(sk.select(col("hr").as("h2"), col("sketch")),
          col("h2") >= col("hr") - 23 && col("h2") <= col("hr"))
        .groupBy(col("hr"))
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_users_24h"),
          count(lit(1)).as("n_sketches"))
        .orderBy(col("hr"))
    },
    None
  )

  /** Exact sliding-window distinct (r12) — the fully-oracled deterministic
    * twin of [[winSlidingDistinctHll]] (the `agg_quantiles_hist_det` /
    * `txt_freq_tokens_det` precedent): distinct users in the trailing
    * 24 h, every hour, computed EXACTLY from the distinct (hour, user)
    * activity matrix. The matrix is the scale trick: it is bounded by
    * |hours|×|users| regardless of log volume (one map-side-combined
    * distinct over the log), and the 24-hour replication explode then
    * costs 24×|matrix| rows — NOT 24× the log. Each (hr, user) activity
    * contributes to target hours [hr, hr+23]; a semi-join against the
    * hours actually present keeps the output domain identical to the
    * sketch twin's. ExemptSpec's 5% pin for the HLL op now reads its
    * exact side from THIS DuckDB-verified key. At 100 TB the sketch twin
    * remains the cheap path (kilobytes of sketches vs 24×matrix shuffle);
    * this op is the exact readout when the matrix fits — and it does,
    * because it grows with users×hours, not events.
    */
  val winSlidingDistinctDet = Op(
    "win_sliding_distinct_det",
    (s, d) => {
      val pairs = T.events(s, d)
        .select(expr("unix_timestamp(ts) div 3600").as("hr"), col("user_id"))
        .distinct()
      val hours = pairs.select(col("hr")).distinct()
      pairs
        .select(explode(expr("sequence(hr, hr + 23)")).as("hr_t"), col("user_id"))
        .join(hours.withColumnRenamed("hr", "hr_t"), Seq("hr_t"), "left_semi")
        .groupBy(col("hr_t"))
        .agg(countDistinct(col("user_id")).as("exact_users_24h"))
        .select(col("hr_t").as("hr"), col("exact_users_24h"))
        .orderBy(col("hr"))
    },
    Some("""
      WITH pairs AS (
        SELECT DISTINCT CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT) // 3600 AS hr,
               user_id
        FROM events),
      hours AS (SELECT DISTINCT hr FROM pairs)
      SELECT h.hr, COUNT(DISTINCT p.user_id) AS exact_users_24h
      FROM hours h JOIN pairs p ON p.hr BETWEEN h.hr - 23 AND h.hr
      GROUP BY h.hr ORDER BY h.hr
    """)
  )

  /** Approximate quantiles via the GK/KLL-style percentile_approx sketch —
    * the 100 TB path for order statistics (bounded sketch per group, merges
    * associatively) vs an exact percentile's full per-group sort. Accuracy
    * parameter 10000 → rank error <= n/10000. Oracle-exempt (sketch is
    * engine-specific); ExemptSpec bounds the error vs the exact quantiles
    * and pins determinism across runs. Scalars are posexploded out of the
    * quantile array (comparator cannot hash array cells).
    */
  val aggApproxQuantiles = Op(
    "agg_approx_quantiles",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(percentile_approx(
          col("value"), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("qs"))
        .select(col("event_type"), posexplode(col("qs")).as(Seq("pos", "q")))
        .select(col("event_type"),
          element_at(array(lit(0.5), lit(0.95), lit(0.99)), col("pos") + 1).as("p"),
          col("q"))
        .orderBy(col("event_type"), col("p")),
    None
  )

  /** Deterministic histogram-sketch quantiles (r11; VERDICT r10 task 7 —
    * the oracled twin shrinking the exempt surface, the sim_minhash_det
    * precedent applied to `agg_approx_quantiles`): the SAME sketch-not-sort
    * scale shape — bounded per-group state, associatively mergeable — but
    * with percentile_approx's engine-internal GK summary replaced by a
    * fixed-width value histogram (width 1.0 → ≤ ~500 bins per group on
    * this value domain), so every step is integer-deterministic and
    * hash-matched against an identical DuckDB construction. q_p = lower
    * edge of the first bin whose cumulative count reaches ceil(p·n),
    * within one bin width of the exact discrete quantile by construction
    * (the histogram bin containing rank ceil(p·n) IS that bin); ExemptSpec
    * ties percentile_approx's answer to this twin under the combined
    * bin-width + rank-error bound. At 100 TB: ONE map-combinable groupBy
    * folds the log into histograms (state = bins, not rows); the
    * cumulative window and the 3-probability explode run on sketch-sized
    * data (|groups| × |bins| rows), never touching the log again.
    */
  val aggQuantilesHistDet = Op(
    "agg_quantiles_hist_det",
    (s, d) => {
      val h = T.events(s, d)
        .select(col("event_type"), floor(col("value")).cast("long").as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("c"))
      h
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("event_type")).orderBy(col("bin"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
        .withColumn("p", explode(array(lit(0.5), lit(0.95), lit(0.99))))
        .filter(col("cum") >= ceil(col("p") * col("n")))
        .groupBy(col("event_type"), col("p"))
        .agg(min(col("bin")).cast("double").as("q_hist"))
        .orderBy(col("event_type"), col("p"))
    },
    Some("""
      WITH h AS (
        SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bin, COUNT(*) AS c
        FROM events GROUP BY event_type, bin),
      cum AS (
        SELECT event_type, bin,
               SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM h),
      e AS (
        SELECT event_type, bin, cum, n,
               unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p
        FROM cum)
      SELECT event_type, p, CAST(MIN(bin) AS DOUBLE) AS q_hist
      FROM e WHERE cum >= CEIL(p * n)
      GROUP BY event_type, p ORDER BY event_type, p
    """)
  )

  /** Exact global median WITHOUT a global sort and WITHOUT the built-in
    * exact percentile aggregate (which buffers every value of the group in
    * one reducer's memory — the thing that dies first at 100 TB). Same
    * two-pass machinery as win_rank_distributed: range-partition by
    * (value, event_id) — the id tiebreak makes ranks well-defined under
    * ties — count per partition (P driver rows), convert the two middle
    * ranks to (partition, local offset), and surface ONLY the rows at
    * those global ranks with a per-partition window; the median is their
    * mean. Every pass is a narrow scan + one bounded shuffle; no executor
    * ever holds more than its partition slice. Oracled against DuckDB's
    * exact median (which averages the two middle values for even n,
    * exactly as computed here).
    */
  val aggExactMedianDistributed = Op(
    "agg_exact_median_distributed",
    (s, d) => {
      val vals = T.events(s, d).select(col("value"), col("event_id"))
      val st = TwoPassRank.stage(vals, 8, Seq(col("value"), col("event_id")))
      val n = st.n
      val (r1, r2) = ((n + 1) / 2, n / 2 + 1) // equal when n is odd
      // partitions that can contain the target ranks — at 100 TB this
      // prunes the final window to <= 2 of the P partitions
      val hot = st.meta.collect {
        case (pid, off, cnt) if r2 > off && r1 <= off + cnt => pid
      }
      import s.implicits._
      val offDf = st.meta.map { case (pid, off, _) => (pid, off) }.toDF("pid", "off")
      val wLocal = Window.partitionBy(col("pid"))
        .orderBy(col("value"), col("event_id"))
      st.parts.filter(col("pid").isin(hot: _*))
        .withColumn("lrn", row_number().over(wLocal).cast("long"))
        .join(broadcast(offDf), "pid")
        .withColumn("grn", col("lrn") + col("off"))
        .filter(col("grn") === r1 || col("grn") === r2)
        .agg(
          max(lit(n)).as("n_rows"),
          avg(col("value")).as("median"))
    },
    Some("""
      SELECT COUNT(*) AS n_rows, median(value) AS median FROM events
    """)
  )

  /** Boolean aggregates: group-wide ALL/ANY predicates (bool_and /
    * bool_or) — the idiomatic form of "does every/any row satisfy P" that
    * beats count-based reformulations (short-circuitable, no count
    * compare).
    */
  val aggBoolAnyAll = Op(
    "agg_bool_any_all",
    (s, d) =>
      T.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"))
        .orderBy(col("o_orderpriority")),
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             bool_and(o_totalprice > 1000) AS all_over_1k,
             bool_or(o_totalprice > 400000) AS any_over_400k
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)
  )

  /** Bivariate statistics per group: Pearson correlation and sample/
    * population covariance of (acctbal, suppkey) per nation. Small groups +
    * ROUND 6 keep FP merge error far below the rounding grain (same
    * argument as agg_stats_moments, proven at sf0.1).
    */
  val aggCorrCovar = Op(
    "agg_corr_covar",
    (s, d) =>
      T.supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(
          count(lit(1)).as("n_sup"),
          round(corr(col("s_acctbal"), col("s_suppkey").cast("double")), 6).as("r"),
          round(covar_samp(col("s_acctbal"), col("s_suppkey").cast("double")), 6).as("cov_s"),
          round(covar_pop(col("s_acctbal"), col("s_suppkey").cast("double")), 6).as("cov_p"))
        .orderBy(col("s_nationkey")),
    Some("""
      SELECT s_nationkey, COUNT(*) AS n_sup,
             ROUND(corr(s_acctbal, CAST(s_suppkey AS DOUBLE)), 6) AS r,
             ROUND(covar_samp(s_acctbal, CAST(s_suppkey AS DOUBLE)), 6) AS cov_s,
             ROUND(covar_pop(s_acctbal, CAST(s_suppkey AS DOUBLE)), 6) AS cov_p
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """)
  )

  private def ordersNation(s: org.apache.spark.sql.SparkSession, d: String) =
    T.orders(s, d)
      .join(broadcast(T.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))

  val aggRollup = Op(
    "agg_rollup",
    (s, d) =>
      ordersNation(s, d)
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(Det.sumDec(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment")),
    Some("""
      SELECT n_name, c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP(n_name, c_mktsegment)
      ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
    """)
  )

  val aggCube = Op(
    "agg_cube",
    (s, d) =>
      ordersNation(s, d)
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(Det.sumDec(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment")),
    Some("""
      SELECT n_name, c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY CUBE(n_name, c_mktsegment)
      ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
    """)
  )

  /** Explicit GROUPING SETS via Spark SQL over temp views. */
  val aggGroupingSets = Op(
    "agg_grouping_sets",
    (s, d) => {
      ordersNation(s, d).createOrReplaceTempView("graft_on")
      s.sql("""
        SELECT n_name, c_mktsegment,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM graft_on
        GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())
        ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
      """)
    },
    Some("""
      SELECT n_name, c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())
      ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
    """)
  )

  /** Conditional aggregation — sum/count FILTER twins via when(). */
  val aggFilterClause = Op(
    "agg_filter_clause",
    (s, d) =>
      T.events(s, d)
        .groupBy((col("user_id") % 10).as("bucket"))
        .agg(
          sum(Det.dec(when(col("event_type") === "purchase", col("value"))))
            .cast("double").as("purchase_value"),
          count(when(col("event_type") === "view", lit(1))).as("n_views"),
          count(lit(1)).as("n_events"))
        .orderBy(col("bucket")),
    Some("""
      SELECT user_id % 10 AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase_value,
             COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
             COUNT(*) AS n_events
      FROM events GROUP BY 1 ORDER BY 1
    """)
  )

  /** Deterministic collect: array_sort(collect_list) then slice — Appendix
    * A-6 (never emit unsorted collections). The sorted slice is posexploded
    * to (event_type, pos, low_value) rows because the driver's comparator
    * cannot hash array-typed cells (r1 FAIL was a comparator crash, not a
    * value mismatch); the collect/sort/slice surface is still exercised
    * upstream of the explode.
    */
  val aggCollectSorted = Op(
    "agg_collect_sorted",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(slice(array_sort(collect_list(col("value"))), 1, 5).as("low5"))
        .select(col("event_type"), posexplode(col("low5")).as(Seq("pos", "low_value")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("pos"), col("low_value"))
        .orderBy(col("event_type"), col("pos")),
    Some("""
      SELECT event_type, generate_subscripts(low5, 1) AS pos, unnest(low5) AS low_value
      FROM (SELECT event_type, list_sort(list(value))[1:5] AS low5
            FROM events GROUP BY event_type)
      ORDER BY event_type, pos
    """)
  )

  /** Sample stddev/variance per nation over supplier balances, round6 (small
    * groups keep FP merge error far below the rounding grain).
    */
  val aggStatsMoments = Op(
    "agg_stats_moments",
    (s, d) =>
      T.supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(
          count(lit(1)).as("n_sup"),
          round(stddev_samp(col("s_acctbal")), 6).as("sd_bal"),
          round(var_samp(col("s_acctbal")), 6).as("var_bal"),
          round(min(col("s_acctbal")), 6).as("min_bal"),
          round(max(col("s_acctbal")), 6).as("max_bal"))
        .orderBy(col("s_nationkey")),
    Some("""
      SELECT s_nationkey, COUNT(*) AS n_sup,
             ROUND(STDDEV_SAMP(s_acctbal), 6) AS sd_bal,
             ROUND(VAR_SAMP(s_acctbal), 6) AS var_bal,
             ROUND(MIN(s_acctbal), 6) AS min_bal,
             ROUND(MAX(s_acctbal), 6) AS max_bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """)
  )

  /** Fixed-bin numeric histogram: 20 bins of width 25 with a capped top
    * bin — one map-side-combined groupBy over a derived int key, the
    * constant-memory distribution profile (vs exact percentiles' sort).
    * floor(double/double) and least() are identical IEEE ops in both
    * engines, so the binning is hash-exact.
    */
  val aggHistogramFixedBins = Op(
    "agg_histogram_fixed_bins",
    (s, d) =>
      T.events(s, d)
        .withColumn("bin", least(floor(col("value") / lit(25.0)), lit(19.0)).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"))
        .orderBy(col("bin")),
    Some("""
      SELECT CAST(LEAST(FLOOR(value / 25.0), 19.0) AS INT) AS bin,
             COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
      FROM events GROUP BY 1 ORDER BY bin
    """)
  )

  /** Exact per-group median via the rank formulation (row_number over a
    * deterministic (value, event_id) order + the two middle ranks), NOT a
    * sort-to-driver or percentile_approx: the window partitions by group,
    * so no global sort, and the two picked rows per group are exact. The
    * global-median scale path (partition pruning) is
    * agg_exact_median_distributed; this is its per-group window twin.
    */
  val aggMedianByGroup = Op(
    "agg_median_by_group",
    (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      T.events(s, d).select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
        .groupBy(col("event_type"))
        // Appendix A-2 discipline even though ≤2 rows make raw-double avg
        // commutative-safe here: average through DECIMAL(18,4) so a future
        // widening of the picked set can never become shuffle-order-dependent
        .agg(max(col("n")).as("n_rows"), avg(Det.dec(col("value"))).cast("double").as("median"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type, MAX(n) AS n_rows,
             CAST(AVG(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS median
      FROM ranked WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
      GROUP BY event_type ORDER BY event_type
    """)
  )

  /** Statistical mode per group with a DETERMINISTIC tie-break (smallest
    * value wins) — the built-in `mode()` leaves ties engine/order-dependent,
    * which would never hash-match an oracle. Formulation: count per
    * (group, value) — a map-side-combined groupBy that collapses the table
    * to at most |group|×|distinct value| rows — then row_number over
    * (count DESC, value ASC) picks one winner per group. Both shuffles key
    * on bounded-cardinality columns, so this holds at any input volume.
    */
  val aggModePerGroup = Op(
    "agg_mode_per_group",
    (s, d) => {
      val counts = T.part(s, d)
        .groupBy(col("p_size"), col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("p_size"))
        .orderBy(col("cnt").desc, col("p_brand"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_size"), col("p_brand").as("mode_brand"), col("cnt").as("n_occ"))
        .orderBy(col("p_size"))
    },
    Some("""
      WITH counts AS (
        SELECT p_size, p_brand, COUNT(*) AS cnt
        FROM part GROUP BY p_size, p_brand),
      ranked AS (
        SELECT p_size, p_brand, cnt,
               ROW_NUMBER() OVER (PARTITION BY p_size
                                  ORDER BY cnt DESC, p_brand) AS rn
        FROM counts)
      SELECT p_size, p_brand AS mode_brand, cnt AS n_occ
      FROM ranked WHERE rn = 1 ORDER BY p_size
    """)
  )

  /** Exact interpolated and discontinuous percentiles per group —
    * percentile_cont (linear interpolation between the two straddling
    * order statistics) and percentile_disc (smallest value at-or-above the
    * quantile position). Both buffer the group in one reducer (the
    * documented built-in limitation); per-group this is bounded by group
    * size, and the GLOBAL scale path that never buffers is
    * agg_exact_median_distributed. Interpolated values round6'd — the two
    * engines interpolate with algebraically-equal but differently-ordered
    * fp expressions.
    */
  val aggPercentileContDisc = Op(
    "agg_percentile_cont_disc",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25_cont"),
          round(expr("percentile(value, 0.75)"), 6).as("p75_cont"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50_disc"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             ROUND(quantile_cont(value, 0.25), 6) AS p25_cont,
             ROUND(quantile_cont(value, 0.75), 6) AS p75_cont,
             quantile_disc(value, 0.5) AS p50_disc
      FROM events GROUP BY event_type ORDER BY event_type
    """)
  )

  /** Incremental aggregate-view maintenance (r3d) — the materialized-rollup
    * refresh every warehouse runs nightly: generation 1 (history) is
    * aggregated ONCE into a persisted partial-state table (count + decimal
    * sum per key — both ALGEBRAIC: merging partials equals recomputing,
    * exactly, because decimal addition is associative); when generation 2
    * lands, only the NEW slice is aggregated and the two partial states
    * merge by key (union + re-sum). The full history is never rescanned —
    * at 100 TB that is the difference between touching one day and touching
    * three years. Derived metrics (avg) come LAST, from the merged sums —
    * deriving before the merge would make them non-mergeable. The oracle
    * recomputes from the full table, which is exactly the equivalence the
    * op claims (merge(partials) == recompute(all)).
    */
  val aggIncrementalRollup = Op(
    "agg_incremental_rollup",
    (s, d) => {
      val state = T.scratch("rollup_state")
      val ord = T.orders(s, d).select(
        date_trunc("month", col("o_orderdate")).as("month"),
        col("o_orderpriority").as("priority"),
        col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1999-01-01").cast("timestamp")
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("month"), col("priority"))
          .agg(count(lit(1)).as("cnt"), sum(Det.dec(col("o_totalprice"))).as("tot"))
      partial(ord.filter(col("o_orderdate") < cut))
        .write.mode("overwrite").parquet(state)
      s.read.parquet(state)
        .unionByName(partial(ord.filter(col("o_orderdate") >= cut)))
        .groupBy(col("month"), col("priority"))
        .agg(sum(col("cnt")).as("n_orders"), sum(col("tot")).as("t"))
        .select(col("month"), col("priority"), col("n_orders"),
          col("t").cast("double").as("total"),
          round(col("t").cast("double") / col("n_orders"), 6).as("avg_price"))
        .orderBy(col("month"), col("priority"))
    },
    Some("""
      SELECT date_trunc('month', o_orderdate) AS month,
             o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_price
      FROM orders
      GROUP BY 1, 2
      ORDER BY month, priority
    """)
  )

  /** Exact weighted median (r5) — the weight-aware quantile the unweighted
    * `agg_median_by_group` can't express: "the price below which half the
    * QUANTITY sits", the shape of every revenue/traffic-weighted SLA or
    * price-point question. Computed the scale-correct way: first collapse
    * the corpus to a per-(group, value) weight HISTOGRAM (map-side combine;
    * cardinality bounded by distinct values, not rows), then a cumulative
    * sum over the value-sorted histogram picks the lowest value whose
    * cumulative weight reaches half the total. The per-group window runs
    * over histogram rows, not raw rows — at 100 TB the raw 10^12 lineitems
    * collapse to |distinct prices| rows per group before anything sorts;
    * for groups whose distinct-value count itself explodes, the two-pass
    * `win_rank_distributed` kernel is the documented unbounded twin. All
    * weights are exact longs (quantities are integer-valued; the fixture
    * has zero fractional quantities), the median is a PICKED value, never
    * arithmetic on doubles — fully hash-oracled.
    */
  private val aggWeightedMedian = Op(
    "agg_weighted_median",
    (s, d) => {
      val h = T.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      val byV = Window.partitionBy(col("flag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("flag"))
      h.withColumn("cw", sum(col("w")).over(byV))
        .withColumn("tw", sum(col("w")).over(all))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("flag"), col("tw"))
        .agg(min(col("v")).as("w_median"))
        .select(col("flag"), col("tw").as("total_w"), col("w_median"))
        .orderBy(col("flag"))
    },
    Some("""
      WITH h AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
                        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
                 FROM lineitem GROUP BY 1, 2),
      c AS (SELECT flag, v, w,
                   CAST(SUM(w) OVER (PARTITION BY flag ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                   CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
            FROM h)
      SELECT flag, tw AS total_w, MIN(v) AS w_median
      FROM c WHERE cw * 2 >= tw
      GROUP BY flag, tw ORDER BY flag
    """)
  )

  /** KMV (k-minimum-values) distinct-count sketch (r7; Bar-Yossef et al.
    * 2002 — the mergeable theta-sketch family's simplest member, and unlike
    * `agg_approx_hll` fully DETERMINISTIC here, hence hash-oracled rather
    * than exempt): hash each user to 48 uniform bits (the md5 fold of
    * `qc_dataset_fingerprint`), keep the k=128 smallest distinct hashes per
    * event_type, estimate n̂ = (k−1)·2^48 div (h_k + 1) (the +1 guards the
    * h_k=0 division identically in both engines; when a scope holds fewer
    * than k hashes the sketch IS the exact set). The per-type bottom-k runs
    * on the custom TopKPerKey operator — k-row bounded heaps per key, never
    * a per-type sort — over the distinct (type, hash) pairs, whose
    * exchange both sketch consumers share at runtime, and the
    * cross-type merge is the textbook KMV union: k smallest of the unioned
    * sketch rows (k-min of k-min sets = k-min of the union), a TakeOrdered
    * over ≤ |types|·k rows. Emits per-scope exact vs estimate with error
    * in integer ppm — the exact twin exists to EXHIBIT the error; the
    * production path ships only the k-row sketches, which is what makes
    * distinct-count cheap and mergeable across 100 TB partitions.
    */
  val aggKmvDistinct = Op(
    "agg_kmv_distinct",
    (s, d) => {
      import org.apache.spark.sql.catalyst.expressions.Ascending
      val pairs = T.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
      val hashes = pairs
        .select(col("event_type"),
          call_function("md5fold48", col("user_id").cast("string")).as("h"))
        .distinct()
      // NOT checkpointed: the per-type and merged consumers each restate
      // this subtree, and Spark's stage reuse computes its canonically
      // identical distinct exchange once; the TopKPerKey node stays
      // visible in the executed plan for the guard
      val topk = graft.plans.TopKPerKey.of(hashes, 128, Seq("event_type"), Seq("h" -> Ascending))
        .select(col("event_type"), col("h"))
      val perType = topk.groupBy(col("event_type").as("scope"))
        .agg(count(lit(1)).as("sketch_n"), max(col("h")).as("kth_h"))
        .join(pairs.groupBy(col("event_type").as("scope"))
          .agg(count(lit(1)).as("n_exact")), Seq("scope"))
      val merged = topk.select(col("h")).distinct()
        .orderBy(col("h")).limit(128)
        .agg(count(lit(1)).as("sketch_n"), max(col("h")).as("kth_h"))
        .withColumn("scope", lit("__merged__"))
        .crossJoin(broadcast(
          pairs.select(col("user_id")).distinct()
            .agg(count(lit(1)).as("n_exact"))))
      perType.select(col("scope"), col("n_exact"), col("sketch_n"), col("kth_h"))
        .unionByName(
          merged.select(col("scope"), col("n_exact"), col("sketch_n"), col("kth_h")))
        .withColumn("est", expr(
          "CASE WHEN sketch_n < 128 THEN sketch_n " +
            "ELSE 35747322042253312 div (kth_h + 1) END"))
        .withColumn("err_ppm", expr("abs(est - n_exact) * 1000000 div n_exact"))
        .orderBy(col("scope"))
    },
    Some("""
      WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
      hs AS (
        SELECT DISTINCT event_type,
               list_reduce(
                 list_transform(range(1, 13),
                   i -> CAST(strpos('0123456789abcdef',
                          substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
                 (acc, v) -> acc * 16 + v) AS h
        FROM pairs),
      r AS (SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hs),
      topk AS (SELECT event_type, h FROM r WHERE rn <= 128),
      per AS (
        SELECT t.event_type AS scope, e.n_exact,
               COUNT(*) AS sketch_n, MAX(t.h) AS kth_h
        FROM topk t
        JOIN (SELECT event_type, COUNT(*) AS n_exact FROM pairs GROUP BY 1) e
          ON e.event_type = t.event_type
        GROUP BY 1, 2),
      mr AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
             FROM (SELECT DISTINCT h FROM topk)),
      m AS (
        SELECT '__merged__' AS scope,
               (SELECT COUNT(DISTINCT user_id) FROM pairs) AS n_exact,
               COUNT(*) AS sketch_n, MAX(h) AS kth_h
        FROM mr WHERE rn <= 128),
      u AS (SELECT * FROM per UNION ALL SELECT * FROM m)
      SELECT scope, n_exact, sketch_n, kth_h,
             CAST(CASE WHEN sketch_n < 128 THEN sketch_n
                  ELSE 35747322042253312 // (kth_h + 1) END AS BIGINT) AS est,
             CAST(abs((CASE WHEN sketch_n < 128 THEN sketch_n
                  ELSE 35747322042253312 // (kth_h + 1) END) - n_exact)
                  * 1000000 // n_exact AS BIGINT) AS err_ppm
      FROM u ORDER BY scope
    """)
  )

  /** KMV sketch INTERSECTION (r8; the theta-sketch set operation, Dasgupta
    * et al. 2016) — "how many users did both X and Y" answered from two
    * 128-row sketches instead of a user-level join, the rollup-table set
    * algebra at 100 TB. θ of a sketch = its k-th minimum (or 2^48−1 when
    * the sketch holds the whole set), θ* = min(θ_A, θ_B), and
    * est = |{h ∈ S_A ∩ S_B : h ≤ θ*}| · 2^48 div (θ*+1) — which
    * degenerates to the EXACT intersection when both sets fit their
    * sketches (sub-k is exact by construction, same as agg_kmv_distinct).
    * Deterministic md5fold48 hashes make the whole estimator
    * hash-oracled, unlike HLL intersection by inclusion-exclusion. Both
    * bottom-k sketches ride the custom TopKPerKey operator over the
    * once-checkpointed (type, user) pairs; exact truth via one self-join
    * for the error column production would not compute.
    */
  val aggKmvIntersect = Op(
    "agg_kmv_intersect",
    (s, d) => {
      import org.apache.spark.sql.catalyst.expressions.Ascending
      val pairs = T.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), col("user_id")).distinct()
        // r19 ladder A/B: dropping this checkpoint measured 0.75 -> 0.82 s
        // (kept; the sibling agg_kmv_distinct's drop won and landed)
        .localCheckpoint(true)
      val hashes = pairs.select(col("event_type"),
        call_function("md5fold48", col("user_id").cast("string")).as("h"))
      val topk = graft.plans.TopKPerKey.of(hashes, 128, Seq("event_type"), Seq("h" -> Ascending))
        .select(col("event_type"), col("h"))
        .localCheckpoint(true)
      val stats = topk.groupBy(col("event_type"))
        .agg(count(lit(1)).as("sketch_n"), max(col("h")).as("kth_h"))
        .withColumn("theta",
          when(col("sketch_n") < 128, lit(281474976710655L)).otherwise(col("kth_h")))
      val tstar = stats.agg(min(col("theta")).as("theta_star"),
        sum(when(col("event_type") === "click", col("sketch_n")).otherwise(0L))
          .as("sk_a"),
        sum(when(col("event_type") === "purchase", col("sketch_n")).otherwise(0L))
          .as("sk_b"))
      val common = topk.filter(col("event_type") === "click").select(col("h"))
        .join(topk.filter(col("event_type") === "purchase").select(col("h")), "h")
        .crossJoin(broadcast(tstar))
        .filter(col("h") <= col("theta_star"))
        .groupBy(col("theta_star"), col("sk_a"), col("sk_b"))
        .agg(count(lit(1)).as("common"))
      val exact = pairs.groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("nt"))
        .filter(col("nt") === 2)
        .agg(count(lit(1)).as("exact_inter"))
      common.crossJoin(broadcast(exact))
        .select(col("sk_a"), col("sk_b"), col("exact_inter"), col("common"),
          expr("common * 281474976710656 div (theta_star + 1)").as("est"),
          expr("abs(common * 281474976710656 div (theta_star + 1) - exact_inter) " +
            "* 1000000 div nullif(exact_inter, 0)").as("err_ppm"))
    },
    Some("""
      WITH pairs AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE event_type IN ('click', 'purchase')),
      hs AS (
        SELECT event_type,
               list_reduce(
                 list_transform(range(1, 13),
                   i -> CAST(strpos('0123456789abcdef',
                          substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
                 (acc, v) -> acc * 16 + v) AS h
        FROM pairs),
      r AS (SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hs),
      topk AS (SELECT event_type, h FROM r WHERE rn <= 128),
      stats AS (
        SELECT event_type, COUNT(*) AS sketch_n, MAX(h) AS kth_h,
               CASE WHEN COUNT(*) < 128 THEN 281474976710655 ELSE MAX(h) END AS theta
        FROM topk GROUP BY event_type),
      ts AS (
        SELECT MIN(theta) AS theta_star,
               CAST(SUM(CASE WHEN event_type = 'click' THEN sketch_n ELSE 0 END) AS BIGINT) AS sk_a,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN sketch_n ELSE 0 END) AS BIGINT) AS sk_b
        FROM stats),
      cm AS (
        SELECT ts.theta_star, ts.sk_a, ts.sk_b, COUNT(*) AS common
        FROM (SELECT h FROM topk WHERE event_type = 'click') a
        JOIN (SELECT h FROM topk WHERE event_type = 'purchase') b USING (h)
        CROSS JOIN ts
        WHERE h <= ts.theta_star
        GROUP BY 1, 2, 3),
      ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
          SELECT user_id FROM pairs GROUP BY user_id
          HAVING COUNT(DISTINCT event_type) = 2))
      SELECT sk_a, sk_b, exact_inter, common,
             common * 281474976710656 // (theta_star + 1) AS est,
             abs(common * 281474976710656 // (theta_star + 1) - exact_inter)
               * 1000000 // NULLIF(exact_inter, 0) AS err_ppm
      FROM cm, ex
    """)
  )

  /** Pareto coverage points (r8) — "how many parts carry 80% of revenue",
    * the catalog-planning number the Gini scalar doesn't give: per-part
    * revenue in exact 1e-4 units, ranked descending, and for each target
    * (50/80/90/95%) the smallest k whose cumulative mass reaches it. The
    * cumulative window runs over the per-part AGGREGATE, the four targets
    * resolve via one conditional min each — never a per-target pass; ties
    * broken (mass, key) so k is exact and engine-stable. Coverage
    * thresholds compare cum·100 ≥ target·total in integers — no
    * percentage division at all. The ordered window is global over
    * |parts| rows — fine to ~1e7 aggregated keys; past that, swap in the
    * win_rank_distributed two-pass offset form (identical arithmetic,
    * range-partitioned), which is why ties carry the full (mass, key)
    * order the two-pass form needs.
    */
  val aggParetoCoverage = Op(
    "agg_pareto_coverage",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val per = T.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT)")
          .as("mass"))
      val w = Window.orderBy(col("mass").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = per
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("cum", sum(col("mass")).over(w))
        .withColumn("total", sum(col("mass")).over(all))
        .withColumn("n_parts", count(lit(1)).over(all))
      ranked.agg(
          max(col("n_parts")).as("n_parts"),
          min(when(col("cum") * 100 >= col("total") * 50, col("k"))).as("k50"),
          min(when(col("cum") * 100 >= col("total") * 80, col("k"))).as("k80"),
          min(when(col("cum") * 100 >= col("total") * 90, col("k"))).as("k90"),
          min(when(col("cum") * 100 >= col("total") * 95, col("k"))).as("k95"))
        .select(col("n_parts"), col("k50"), col("k80"), col("k90"), col("k95"),
          expr("k80 * 1000000 div n_parts").as("k80_share_ppm"))
    },
    Some("""
      WITH per AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS mass
        FROM lineitem GROUP BY l_partkey),
      ranked AS (
        SELECT mass,
               CAST(COUNT(*) OVER (ORDER BY mass DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS k,
               CAST(SUM(mass) OVER (ORDER BY mass DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(SUM(mass) OVER () AS BIGINT) AS total,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_parts
        FROM per)
      SELECT MAX(n_parts) AS n_parts,
             MIN(CASE WHEN cum * 100 >= total * 50 THEN k END) AS k50,
             MIN(CASE WHEN cum * 100 >= total * 80 THEN k END) AS k80,
             MIN(CASE WHEN cum * 100 >= total * 90 THEN k END) AS k90,
             MIN(CASE WHEN cum * 100 >= total * 95 THEN k END) AS k95,
             MIN(CASE WHEN cum * 100 >= total * 80 THEN k END) * 1000000
               // MAX(n_parts) AS k80_share_ppm
      FROM ranked
    """)
  )

  val ops: Vector[Op] = Vector(
    aggKmvDistinct, aggKmvIntersect, aggParetoCoverage,
    aggIncrementalRollup,
    aggHashGroupby, aggGlobalNogroup, aggCountDistinct, aggMultiDistinct,
    aggApproxHll, aggHllPartitionedMerge, aggApproxQuantiles,
    aggQuantilesHistDet,
    aggExactMedianDistributed, aggBoolAnyAll, aggCorrCovar, aggRollup, aggCube,
    aggGroupingSets, aggFilterClause, aggCollectSorted, aggStatsMoments,
    aggHistogramFixedBins, aggMedianByGroup, aggModePerGroup,
    aggPercentileContDisc, winSlidingDistinctHll, winSlidingDistinctDet,
    aggCountminFreq, aggCountminFreqDet,
    aggWeightedMedian)
}
