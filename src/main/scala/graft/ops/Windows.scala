package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.5 Window functions. Each window partitions by a real key (user_id /
  * customer / brand) so state is distributed; the only global windows
  * (ntile/percent_rank over customers) are single-partition by semantics —
  * win_rank_distributed implements the 100 TB form (two-pass
  * range-partitioned rank) and hash-matches the single-partition oracle.
  */
object Windows {

  val winRowNumberTopk = Op(
    "win_row_number_topk",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""
      SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, rn
    """)
  )

  val winRankDense = Op(
    "win_rank_dense",
    (s, d) => {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc)
      T.part(s, d)
        .select(
          col("p_brand"), col("p_partkey"), col("p_retailprice"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .orderBy(col("p_brand"), col("p_partkey"))
    },
    Some("""
      SELECT p_brand, p_partkey, p_retailprice,
             RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
             DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
      FROM part
      ORDER BY p_brand, p_partkey
    """)
  )

  val winLagLead = Op(
    "win_lag_lead",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .select(
          col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, value,
             LAG(value, 1) OVER w AS prev_value,
             LEAD(value, 1) OVER w AS next_value,
             value - LAG(value, 1) OVER w AS delta
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id
    """)
  )

  val winMovingRows = Op(
    "win_moving_rows",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      T.events(s, d)
        .select(
          col("event_id"), col("user_id"),
          sum(Det.dec(col("value"))).over(w).cast("double").as("moving7"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving7
      FROM events
      ORDER BY event_id
    """)
  )

  /** Time-range frame: trailing 1 hour per user on integer epoch seconds. */
  val winRangeTime = Op(
    "win_range_time",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600, Window.currentRow)
      T.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(
          col("event_id"), col("user_id"), col("sec"),
          sum(Det.dec(col("value"))).over(w).cast("double").as("trailing_1h"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, sec,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_1h
      FROM (SELECT *, CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT) AS sec FROM events)
      ORDER BY event_id
    """)
  )

  /** Global ntile/percent_rank, single-partition reference form; the scale
    * path is win_rank_distributed (two-pass range-partitioned rank), which
    * hash-matches this op's oracle. Tiebreak on custkey keeps ntile
    * deterministic.
    */
  val winNtilePctrank = Op(
    "win_ntile_pctrank",
    (s, d) => {
      val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
      T.customer(s, d)
        .select(
          col("c_custkey"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_acctbal,
             NTILE(4) OVER w AS quartile,
             ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
      FROM customer
      WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey
    """)
  )

  /** first/last over an explicit unbounded frame, collapsed to one row per
    * user (DISTINCT is safe: the windowed values are constant per user).
    */
  val winFirstLast = Op(
    "win_first_last",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.events(s, d)
        .select(
          col("user_id"),
          first(col("event_type")).over(w).as("first_type"),
          last(col("event_type")).over(w).as("last_type"))
        .distinct()
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT DISTINCT user_id,
             FIRST_VALUE(event_type) OVER w AS first_type,
             LAST_VALUE(event_type) OVER w AS last_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY user_id
    """)
  )

  val winCumulative = Op(
    "win_cumulative",
    (s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.orders(s, d)
        .select(
          col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"),
          sum(Det.dec(col("o_totalprice"))).over(w).cast("double").as("cum_revenue"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_orderdate,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
      FROM orders
      ORDER BY o_orderkey
    """)
  )

  /** Numeric RANGE frame: peers within ±500.0 of the current balance (a
    * value-defined frame over a DOUBLE order key — win_range_time is the
    * time-valued twin). RANGE frames include all ties, so the result is
    * deterministic regardless of tie order; the decimal cast makes the
    * in-frame sum order-exact.
    */
  val winRangeNumeric = Op(
    "win_range_numeric",
    (s, d) =>
      T.supplier(s, d)
        .selectExpr(
          "s_suppkey", "s_nationkey", "s_acctbal",
          """CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) OVER (
             PARTITION BY s_nationkey ORDER BY s_acctbal
             RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS DOUBLE) AS near_sum""",
          """COUNT(*) OVER (
             PARTITION BY s_nationkey ORDER BY s_acctbal
             RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS near_n""")
        .orderBy(col("s_suppkey")),
    Some("""
      SELECT s_suppkey, s_nationkey, s_acctbal,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) OVER (
               PARTITION BY s_nationkey ORDER BY s_acctbal
               RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS DOUBLE) AS near_sum,
             COUNT(*) OVER (
               PARTITION BY s_nationkey ORDER BY s_acctbal
               RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS near_n
      FROM supplier ORDER BY s_suppkey
    """)
  )

  /** Two-pass distributed global rank — the 100 TB form of
    * win_ntile_pctrank, same output, NO single-partition window:
    *   pass 1: range-partition on the sort key (sampled boundaries), rank
    *           locally per partition (row_number over spark_partition_id);
    *   pass 2: per-partition counts (P tiny rows) → cumulative offsets,
    *           broadcast-joined back; global_rank = local_rank + offset.
    * RangePartitioner guarantees every key in partition i sorts before
    * every key in partition j>i, so local rank + offset IS the global
    * rank — and the output is independent of where the sampled boundaries
    * land. ntile(4)/percent_rank are then closed-form in (rank, n): the
    * order key (c_acctbal, c_custkey) is unique, so rank == row_number and
    * percent_rank = (rank-1)/(n-1) exactly as the window function computes
    * it. Oracle: the very same SQL as win_ntile_pctrank — the driver
    * hash-proves the two-pass form equals the single-partition form;
    * PlanShapeSpec asserts no Exchange SinglePartition in the plan.
    */
  val winRankDistributed = Op(
    "win_rank_distributed",
    (s, d) => {
      val base = T.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      // boundary pinning + pass-2 offset metadata live in TwoPassRank (the
      // shared kernel with agg_exact_median_distributed)
      val st = TwoPassRank.stage(base, 8, Seq(col("c_acctbal"), col("c_custkey")))
      val n = st.n
      val wLocal = Window.partitionBy(col("pid"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val local = st.parts.withColumn("lrn", row_number().over(wLocal).cast("long"))
      import s.implicits._
      val offDf = st.meta.map { case (pid, off, _) => (pid, off) }.toDF("pid", "off")
      val base4 = n / 4
      val rem = n % 4
      local.join(broadcast(offDf), "pid")
        .withColumn("grn", col("lrn") + col("off"))
        .withColumn("quartile", expr(
          s"CAST(CASE WHEN grn <= ${rem * (base4 + 1)} THEN (grn - 1) div ${base4 + 1} " +
          s"ELSE $rem + ((grn - 1) - ${rem * (base4 + 1)}) div $base4 END AS INT) + 1"))
        .withColumn("pct_rank",
          round((col("grn") - 1).cast("double") / lit((n - 1).toDouble), 6))
        .select(col("c_custkey"), col("c_acctbal"), col("quartile"), col("pct_rank"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_acctbal,
             NTILE(4) OVER w AS quartile,
             ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
      FROM customer
      WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey
    """)
  )

  /** Gaps-and-islands: maximal runs of consecutive active hours per user —
    * the classic "island = key - row_number" trick, which turns run
    * detection into a plain groupBy (no self-join, no iterative logic).
    * The distinct (user, hour) projection collapses the log before the
    * window, and the window partitions by user — both bounded at any scale.
    */
  val winGapIslands = Op(
    "win_gap_islands",
    (s, d) => {
      val act = T.events(s, d)
        .select(col("user_id"), expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600").as("hr"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      act.withColumn("island", col("hr") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("hr")).as("start_hr"), max(col("hr")).as("end_hr"),
          count(lit(1)).as("n_hours"))
        .select(col("user_id"), col("start_hr"), col("end_hr"), col("n_hours"))
        .orderBy(col("user_id"), col("start_hr"))
    },
    Some("""
      WITH act AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT) // 3600 AS hr
        FROM events),
      isl AS (
        SELECT user_id, hr,
               hr - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hr) AS island
        FROM act)
      SELECT user_id, MIN(hr) AS start_hr, MAX(hr) AS end_hr, COUNT(*) AS n_hours
      FROM isl GROUP BY user_id, island
      ORDER BY user_id, start_hr
    """)
  )

  /** Forward-fill (last-observation-carried-forward): gaps in a per-user
    * metric stream are filled with the most recent non-null value. The
    * fixtures have no NULLs (FIXTURES.md), so a deterministic null pattern
    * is injected (every 3rd event by id) and then repaired with
    * last(ignoreNulls) over a running frame — one shuffle on user_id, the
    * window never materializes more than a partition stripe. This is the
    * standard sensor/feature-imputation shape for training pipelines.
    */
  val winFillForward = Op(
    "win_fill_forward",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.events(s, d)
        .withColumn("val_gap",
          when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")))
        .withColumn("val_filled", last(col("val_gap"), ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("val_gap"), col("val_filled"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS val_gap,
             LAST_VALUE(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val_filled
      FROM events ORDER BY event_id
    """)
  )

  /** nth_value + cume_dist — the two ranking-family functions the other
    * window ops don't cover: per nation, every supplier sees the 2nd-richest
    * supplier's name (full-partition frame) and its own cumulative
    * distribution. Same single shuffle on the partition key as any window.
    */
  val winNthCume = Op(
    "win_nth_cume",
    (s, d) => {
      val ord = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.supplier(s, d)
        .select(
          col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          nth_value(col("s_name"), 2).over(full).as("runner_up"),
          round(cume_dist().over(ord), 6).as("cdist"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      SELECT s_suppkey, s_nationkey, s_acctbal,
             NTH_VALUE(s_name, 2) OVER (
               PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS runner_up,
             ROUND(CUME_DIST() OVER (
               PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey), 6) AS cdist
      FROM supplier ORDER BY s_suppkey
    """)
  )

  /** Rolling least-squares slope (r3c) — the per-user trend feature of a
    * behavioral-features pipeline: over each user's trailing 5 events, the
    * closed-form OLS slope of value vs time. Every windowed sum is exact —
    * x is whole seconds since 2024-01-01 (BIGINT, so Σx and Σx² never
    * round), y runs through DECIMAL(18,2) (scaled magnitudes stay under
    * 2^53, so the decimal→double casts on BOTH engines are exact) — and the
    * final slope arithmetic is the same IEEE ops on the same exact operands,
    * so the unrounded doubles hash-match. Zero-variance windows (all 5
    * events in the same second) emit NULL via the integer-exact denominator
    * test. One shuffle on user_id; the window state is 5 rows.
    */
  val winRollingSlope = Op(
    "win_rolling_slope",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      T.events(s, d)
        .withColumn("x",
          (unix_timestamp(col("ts")) - unix_timestamp(lit("2024-01-01").cast("timestamp"))))
        .withColumn("y", col("value").cast("decimal(18,2)"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sy", sum(col("y")).over(w).cast("double"))
        .withColumn("sxy",
          sum(col("x").cast("decimal(18,2)") * col("y")).over(w).cast("double"))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("slope",
          when(col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
            .otherwise(
              (col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")) /
                (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
        .select(col("event_id"), col("user_id"), col("n"), col("slope"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, n,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
      FROM (
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n,
               CAST(SUM(x) OVER w AS BIGINT) AS sx,
               CAST(SUM(y) OVER w AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(18,2)) * y) OVER w AS DOUBLE) AS sxy,
               CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
        FROM (
          SELECT event_id, user_id, ts,
                 epoch_us(ts) // 1000000 - epoch_us(TIMESTAMP '2024-01-01') // 1000000 AS x,
                 CAST(value AS DECIMAL(18,2)) AS y
          FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      ORDER BY event_id
    """)
  )

  /** Trailing EWMA (r3c, α = 0.5) — the recency-weighted activity feature.
    * A recursive recurrence has no single window function, but over a
    * BOUNDED trailing frame it is a fold: collect the last 8 values in
    * frame order and fold acc*0.5 + x*0.5 left-to-right, seeded with the
    * oldest element (list_reduce semantics, mirrored exactly by seeding
    * Spark's `aggregate` with element 1 and folding the rest). Fold order
    * is frame order in both engines and every step is the same two IEEE
    * ops, so the unrounded doubles hash-match. The frame bound (8) caps
    * per-row state; one shuffle on user_id.
    */
  val winEwmaTrailing = Op(
    "win_ewma_trailing",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-7, Window.currentRow)
      T.events(s, d)
        .withColumn("arr", collect_list(col("value")).over(w))
        .withColumn("ewma",
          expr("aggregate(slice(arr, 2, size(arr) - 1), arr[0], (acc, x) -> acc * 0.5D + x * 0.5D)"))
        .select(col("event_id"), col("user_id"), col("value"), col("ewma"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, value,
             list_reduce(arr, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
      FROM (
        SELECT event_id, user_id, value,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
        FROM events)
      ORDER BY event_id
    """)
  )

  /** Top-3 orders per customer through the custom [[graft.plans.TopKPerKey]]
    * whole-operator extension (logical node → SparkStrategy →
    * bounded-heap SparkPlan; full rationale in its scaladoc): the same
    * semantics as win_row_number_topk's window form, but with per-key
    * k-bounded heap state instead of WindowExec's full partition sort —
    * hash-checked against the identical ROW_NUMBER oracle, so the custom
    * operator is held to the exact same correctness bar as the built-ins.
    * The strategy comes from GraftExtensions: `Registry.queries`
    * installs it on the session before the op runs.
    */
  val winTopkHeap = Op(
    "win_topk_heap",
    (s, d) => {
      import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
      val orders = T.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      // total order: price desc, orderkey asc tiebreak — bounded eviction
      // under a partial order would be nondeterministic
      graft.plans.TopKPerKey.of(orders, 3, Seq("o_custkey"),
          Seq("o_totalprice" -> Descending, "o_orderkey" -> Ascending))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, rn
    """)
  )

  /** Rolling MEDIAN (r5) — the robust smoother the moving AVERAGE
    * (`win_moving_rows`) can't be: one outlier drags a mean for the whole
    * frame but moves a median at most one order statistic, which is why
    * monitoring pipelines smooth with medians (cf. the Hampel gate in
    * `qc_anomaly_mad`). Exact per-row 7-row centered median per supplier.
    * The frame order is (shipdate, orderkey, linenumber, qty):
    * (l_orderkey, l_linenumber) is NOT unique in the fixtures (see
    * scan_parquet_pushdown's note), so qty joins the sort — rows still
    * tied after all four keys are identical in every column this op
    * reads, making any engine's permutation of them produce the same
    * frame MULTISET and therefore the same median. Inputs are cast to long;
    * even-count frames interpolate to an exact .5 half — both engines
    * average the two middle longs in double, bit-identical. Partitioned by
    * supplier: frames never cross partition bounds, so the window
    * parallelizes across the key like every other per-group window here.
    */
  private val winMedianSliding = Op(
    "win_median_sliding",
    (s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("qty"))
        .rowsBetween(-3, 3)
      T.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"), col("l_shipdate"))
        .withColumn("med7", expr("percentile(qty, 0.5D)").over(w))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("qty"), col("med7"))
        // med7 joins the output sort: duplicate (okey, ln, qty) rows can
        // legitimately carry different medians (different frame centers),
        // and without it the two engines could emit them in either order
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("qty"), col("med7"))
    },
    Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty,
             median(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                        CAST(l_quantity AS BIGINT)
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS med7
      FROM lineitem
      ORDER BY l_suppkey, l_orderkey, l_linenumber, qty, med7
    """)
  )

  /** Bollinger-band volatility ladder over the trailing-7-day window,
    * with the usual ±kσ test made EXACT by never taking the square root:
    * |x − s/n| > k·σ with σ² = (n·Σx² − s²)/n² is algebraically
    * (x·n − s)² > k²·(n·Σx² − s²), so the whole classifier is integer
    * comparisons. The sums run in DECIMAL(38,0) on the Spark side and
    * ride DuckDB's native HUGEINT on the oracle side — daily µ-unit
    * masses square to ~1e24, far past BIGINT, and a silently wrapping
    * long here would "pass" at sf0.1 and diverge exactly at the 10×
    * sweep this repo actually runs. Severity ladder 0 / 2 / 3 = inside /
    * beyond 2σ / beyond 3σ. One shuffle on event_type; windows are
    * per-type over the ~30-row daily series (histogram-first as always).
    * The float-free counterpart to win_rolling_slope's IEEE OLS.
    */
  val winBollingerBands = Op(
    "win_bollinger_bands",
    (s, d) => {
      val daily = T.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("mass_u"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      daily
        .withColumn("x", col("mass_u").cast("decimal(38,0)"))
        .withColumn("n", count(lit(1)).over(w).cast("decimal(38,0)"))
        .withColumn("sw", sum(col("x")).over(w).cast("decimal(38,0)"))
        .withColumn("ssw", sum(col("x") * col("x")).over(w).cast("decimal(38,0)"))
        .withColumn("lhs",
          (col("x") * col("n") - col("sw")) * (col("x") * col("n") - col("sw")))
        .withColumn("vars", col("n") * col("ssw") - col("sw") * col("sw"))
        .select(col("event_type"), col("day"), col("mass_u"),
          col("n").cast("long").as("n_win"),
          when(col("lhs") > col("vars") * 9, lit(3L))
            .when(col("lhs") > col("vars") * 4, lit(2L))
            .otherwise(lit(0L)).as("severity"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS mass_u
        FROM events GROUP BY 1, 2),
      win AS (
        SELECT event_type, day, mass_u,
               CAST(mass_u AS HUGEINT) AS x,
               CAST(COUNT(*) OVER tw AS HUGEINT) AS n,
               CAST(SUM(CAST(mass_u AS HUGEINT)) OVER tw AS HUGEINT) AS sw,
               CAST(SUM(CAST(mass_u AS HUGEINT) * CAST(mass_u AS HUGEINT)) OVER tw AS HUGEINT) AS ssw
        FROM daily
        WINDOW tw AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT event_type, day, CAST(mass_u AS BIGINT) AS mass_u,
             CAST(n AS BIGINT) AS n_win,
             CAST(CASE
               WHEN (x * n - sw) * (x * n - sw) > (n * ssw - sw * sw) * 9 THEN 3
               WHEN (x * n - sw) * (x * n - sw) > (n * ssw - sw * sw) * 4 THEN 2
               ELSE 0 END AS BIGINT) AS severity
      FROM win ORDER BY event_type, day
    """)
  )

  /** Maximum drawdown of the cumulative per-type value series — the
    * running-max window pattern (peak-to-trough loss in finance; in a
    * pipeline: worst cumulative shortfall of actual vs booked volume).
    * Pure prefix algebra on the integer µ-unit timeline: cum = prefix sum,
    * peak = running max(cum), drawdown = peak − cum, and the answer is the
    * per-type argmax with the EARLIEST day winning ties via one
    * map-side-combinable max(struct(dd, −epoch_day)) — the LPA argmax
    * idiom, no second window, no sort. Windows ride the per-type ~30-row
    * daily table (agg-before-window); value mass in plain BIGINT is safe
    * here (no squaring — contrast win_bollinger_bands).
    */
  val winDrawdown = Op(
    "win_drawdown",
    (s, d) => {
      val daily = T.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("mass_u"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      daily
        .withColumn("cum", sum(col("mass_u")).over(w))
        .withColumn("peak", max(col("cum")).over(w))
        .withColumn("dd", col("peak") - col("cum"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_days"),
          max(col("dd")).as("max_drawdown_u"),
          max(struct(col("dd"), (-datediff(col("day"),
            lit("2024-01-01").cast("date")).cast("long")).as("nd"))).as("m"))
        .select(col("event_type"), col("n_days"), col("max_drawdown_u"),
          (-col("m.nd")).as("at_day_number"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS mass_u
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT event_type, day,
               CAST(SUM(mass_u) OVER tw AS BIGINT) AS cum
        FROM daily
        WINDOW tw AS (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)),
      dd AS (
        SELECT event_type, day,
               MAX(cum) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) - cum AS dd
        FROM cum)
      SELECT event_type, COUNT(*) AS n_days,
             CAST(MAX(dd) AS BIGINT) AS max_drawdown_u,
             CAST(MIN(date_diff('day', DATE '2024-01-01', day)) FILTER (
               WHERE dd = (SELECT MAX(d2.dd) FROM dd d2
                           WHERE d2.event_type = dd.event_type)) AS BIGINT)
               AS at_day_number
      FROM dd GROUP BY event_type ORDER BY event_type
    """)
  )

  /** Rolling Pearson correlation (r8) — "are revenue and volume moving
    * together this week?", the co-movement diagnostic `agg_corr_covar`
    * answers only globally. Per-nation daily (revenue, quantity) series
    * in exact 1e-4 integer units; all five power sums (Σx, Σy, Σxy, Σxx,
    * Σyy) over a 7-row trailing frame in DECIMAL(38,0) (products reach
    * ~1e20 — past a long, inside both decimal38 and HUGEINT), so every
    * input to the correlation is EXACT; the only floating steps are the
    * final casts, one divide, and one sqrt (correctly rounded in both
    * engines — the ml_feature_standardize precedent), rounded to 6.
    * NULLIF guards zero-variance windows. Partial leading windows are
    * dropped (n = 7 only). One nation-key shuffle shared by the daily
    * rollup and the windows.
    */
  val winRollingCorr = Op(
    "win_rolling_corr",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = T.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1995 && col("l_suppkey") < 50)
        .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("day"))
        .agg(
          expr("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT)")
            .as("xu"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) * 10000 AS BIGINT)").as("yu"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      daily
        .withColumn("x", col("xu").cast("decimal(38,0)"))
        .withColumn("y", col("yu").cast("decimal(38,0)"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sxy", sum(col("x") * col("y")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("syy", sum(col("y") * col("y")).over(w))
        .filter(col("n") === 7)
        .select(col("l_suppkey"), col("day"),
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), lit(0.0)),
            6).as("corr7"))
        .orderBy(col("l_suppkey"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS xu,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) * 10000 AS BIGINT) AS yu
        FROM lineitem
        WHERE year(l_shipdate) = 1995 AND l_suppkey < 50
        GROUP BY 1, 2),
      win AS (
        SELECT l_suppkey, day,
               COUNT(*) OVER w AS n,
               SUM(CAST(xu AS HUGEINT)) OVER w AS sx,
               SUM(CAST(yu AS HUGEINT)) OVER w AS sy,
               SUM(CAST(xu AS HUGEINT) * yu) OVER w AS sxy,
               SUM(CAST(xu AS HUGEINT) * xu) OVER w AS sxx,
               SUM(CAST(yu AS HUGEINT) * yu) OVER w AS syy
        FROM daily
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT l_suppkey, day,
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                   NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
                               CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 6) AS corr7
      FROM win WHERE n = 7
      ORDER BY l_suppkey, day
    """)
  )

  /** Hampel outlier filter (r8; Hampel 1974, the robust despiking filter
    * process monitoring uses where z-scores fail — one spike inflates a
    * mean AND its stddev, masking itself; the rolling median and MAD are
    * 50%-breakdown robust): per supplier-day revenue series, a CENTERED
    * 7-row frame collects into an array, and the exact median / MAD come
    * from sort_array + element_at — integer micro-units end to end, so
    * flagging is bit-exact (threshold: |x − med| > 3·1.4826·MAD, scaled
    * to avoid the float constant: 10000·|x−med| > 44478·MAD). The
    * collect-sort is O(w log w) per row with w = 7 — the right trade
    * below w ≈ 100; emits flagged spikes with their window stats.
    */
  val winHampelOutliers = Op(
    "win_hampel_outliers",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = T.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1995 && col("l_suppkey") < 80)
        .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("day"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT)")
          .as("xu"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      daily
        .withColumn("win", collect_list(col("xu")).over(w))
        .filter(size(col("win")) === 7)
        .withColumn("med", expr("element_at(array_sort(win), 4)"))
        .withColumn("mad", expr(
          "element_at(array_sort(transform(win, v -> abs(v - med))), 4)"))
        .filter(expr("10000 * abs(xu - med) > 44478 * mad"))
        .select(col("l_suppkey"), col("day"), col("xu"), col("med"), col("mad"))
        .orderBy(col("l_suppkey"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS xu
        FROM lineitem
        WHERE year(l_shipdate) = 1995 AND l_suppkey < 80
        GROUP BY 1, 2),
      win AS (
        SELECT l_suppkey, day, xu,
               list(xu) OVER (PARTITION BY l_suppkey ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
        FROM daily),
      st AS (
        SELECT l_suppkey, day, xu,
               list_sort(w)[4] AS med,
               list_sort(list_transform(w, v -> abs(v - list_sort(w)[4])))[4] AS mad
        FROM win WHERE len(w) = 7)
      SELECT l_suppkey, day, xu, med, mad
      FROM st
      WHERE 10000 * abs(xu - med) > 44478 * mad
      ORDER BY l_suppkey, day
    """)
  )

  val ops: Vector[Op] = Vector(
    winRowNumberTopk, winRankDense, winLagLead, winMovingRows,
    winRangeTime, winRangeNumeric, winNtilePctrank, winFirstLast,
    winCumulative, winRankDistributed, winGapIslands, winFillForward,
    winNthCume, winRollingSlope, winEwmaTrailing, winTopkHeap,
    winMedianSliding, winBollingerBands, winDrawdown, winRollingCorr,
    winHampelOutliers)
}
