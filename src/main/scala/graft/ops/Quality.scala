package graft.ops

import org.apache.spark.sql.functions._

/** §2.16 Data-quality operators — the validation pass a training-data
  * pipeline runs on every ingested batch before anything downstream trusts
  * it: per-column profiles (null/distinct/range) and referential-integrity
  * orphan counts.
  */
object Quality {

  /** Single-pass per-column profile of `orders`: for each profiled column,
    * row count, null count, exact distinct count, and min/max rendered as
    * strings (numerics through DECIMAL so both engines print identically).
    * ONE scan computes the whole wide aggregate (map-side partial agg; the
    * multi-distinct expands the same way agg_multi_distinct does), then
    * `stack` unpivots the 1-row result into one row per column — no
    * per-column re-scan, which is what makes profiling affordable at
    * 100 TB. Null counts are genuinely zero per the fixture invariant
    * (FIXTURES.md "No NULLs") — the profile is what PROVES that invariant
    * on each new batch.
    */
  val qcColumnProfile = Op(
    "qc_column_profile",
    (s, d) => {
      // numeric min/max computed on the numeric value, RENDERED via decimal
      // afterwards (min over the string form would be lexicographic)
      def decStr(c: org.apache.spark.sql.Column) =
        c.cast("decimal(18,2)").cast("string")
      T.orders(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("nn_ck"),
          countDistinct(col("o_custkey")).as("nd_ck"),
          decStr(min(col("o_custkey"))).as("mn_ck"),
          decStr(max(col("o_custkey"))).as("mx_ck"),
          count(col("o_totalprice")).as("nn_tp"),
          countDistinct(col("o_totalprice")).as("nd_tp"),
          decStr(min(col("o_totalprice"))).as("mn_tp"),
          decStr(max(col("o_totalprice"))).as("mx_tp"),
          count(col("o_orderstatus")).as("nn_os"),
          countDistinct(col("o_orderstatus")).as("nd_os"),
          min(col("o_orderstatus")).as("mn_os"), max(col("o_orderstatus")).as("mx_os"),
          count(col("o_orderpriority")).as("nn_op"),
          countDistinct(col("o_orderpriority")).as("nd_op"),
          min(col("o_orderpriority")).as("mn_op"), max(col("o_orderpriority")).as("mx_op"))
        .selectExpr(
          """stack(4,
               'o_custkey',      n_rows, n_rows - nn_ck, nd_ck, mn_ck, mx_ck,
               'o_totalprice',   n_rows, n_rows - nn_tp, nd_tp, mn_tp, mx_tp,
               'o_orderstatus',  n_rows, n_rows - nn_os, nd_os, mn_os, mx_os,
               'o_orderpriority',n_rows, n_rows - nn_op, nd_op, mn_op, mx_op
             ) AS (col_name, n_rows, n_null, n_distinct, min_val, max_val)""")
        .orderBy(col("col_name"))
    },
    Some("""
      WITH w AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(o_custkey) AS nn_ck, COUNT(DISTINCT o_custkey) AS nd_ck,
               CAST(CAST(MIN(o_custkey) AS DECIMAL(18,2)) AS VARCHAR) AS mn_ck,
               CAST(CAST(MAX(o_custkey) AS DECIMAL(18,2)) AS VARCHAR) AS mx_ck,
               COUNT(o_totalprice) AS nn_tp, COUNT(DISTINCT o_totalprice) AS nd_tp,
               CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn_tp,
               CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx_tp,
               COUNT(o_orderstatus) AS nn_os, COUNT(DISTINCT o_orderstatus) AS nd_os,
               MIN(o_orderstatus) AS mn_os, MAX(o_orderstatus) AS mx_os,
               COUNT(o_orderpriority) AS nn_op, COUNT(DISTINCT o_orderpriority) AS nd_op,
               MIN(o_orderpriority) AS mn_op, MAX(o_orderpriority) AS mx_op
        FROM orders)
      SELECT 'o_custkey' AS col_name, n_rows, n_rows - nn_ck AS n_null,
             nd_ck AS n_distinct, mn_ck AS min_val, mx_ck AS max_val FROM w
      UNION ALL
      SELECT 'o_totalprice', n_rows, n_rows - nn_tp, nd_tp, mn_tp, mx_tp FROM w
      UNION ALL
      SELECT 'o_orderstatus', n_rows, n_rows - nn_os, nd_os, mn_os, mx_os FROM w
      UNION ALL
      SELECT 'o_orderpriority', n_rows, n_rows - nn_op, nd_op, mn_op, mx_op FROM w
      ORDER BY col_name
    """)
  )

  /** Referential-integrity check across the star schema's two core FKs:
    * count of orphan child rows (FK value absent from the parent) for
    * lineitem→orders and orders→customer, plus the child-side row counts
    * for context. Each check is ONE pass: a left join against the
    * parent's key column (parents are PKs, so no row multiplication) with
    * both the row count and the null-parent count taken from the same
    * map-side-combinable aggregate — child and parent each scanned
    * exactly once per FK, and the whole op stays lazy like every other
    * Op. Healthy fixtures report 0 orphans — the op is the proof, run
    * per ingested batch.
    */
  val qcFkOrphans = Op(
    "qc_fk_orphans",
    (s, d) => {
      def fkCheck(name: String, child: org.apache.spark.sql.DataFrame,
                  fk: String, parent: org.apache.spark.sql.DataFrame,
                  pk: String) =
        child.select(col(fk))
          .join(parent.select(col(pk)), col(fk) === col(pk), "left")
          .agg(
            count(lit(1)).as("n_child_rows"),
            sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("fk"), col("n_child_rows"), col("n_orphans"))
      fkCheck("lineitem->orders", T.lineitem(s, d), "l_orderkey",
          T.orders(s, d), "o_orderkey")
        .unionAll(fkCheck("orders->customer", T.orders(s, d), "o_custkey",
          T.customer(s, d), "c_custkey"))
        .orderBy(col("fk"))
    },
    Some("""
      SELECT 'lineitem->orders' AS fk,
             (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      UNION ALL
      SELECT 'orders->customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      ORDER BY fk
    """)
  )

  /** Zero-extra-pass pipeline metrics via the Observation API — the
    * production monitoring pattern: a write pipeline carries `observe`d
    * aggregates (row count, decimal-exact quantity mass, business-rule
    * counter) that are computed BY THE SAME JOB that writes the data, as
    * accumulator-style metrics — no second scan, no race with a separate
    * QC query reading the table it audits. The op runs the write, then
    * emits the observed metrics row; the oracle recomputes them directly,
    * proving observe() metrics equal a dedicated aggregation.
    */
  val qcObserveMetrics = Op(
    "qc_observe_metrics",
    (s, d) => {
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation()
      T.lineitem(s, d)
        .filter(col("l_quantity") > 10.0)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          Det.sumDec(col("l_quantity")).as("sum_qty"),
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_discounted"))
        .write.mode("overwrite").parquet(T.scratch("observed_sink"))
      val m = obs.get
      // sum over zero rows is null; a bare asInstanceOf[Double] would
      // silently unbox it to 0.0 and diverge from the oracle's NULL
      Seq((m("n_rows").asInstanceOf[Long],
           Option(m("sum_qty")).map(_.asInstanceOf[Double]),
           Option(m("n_discounted")).map(_.asInstanceOf[Long])))
        .toDF("n_rows", "sum_qty", "n_discounted")
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_discounted
      FROM lineitem WHERE l_quantity > 10.0
    """)
  )

  /** Distribution-drift audit (r3c) — "did this batch's event mix shift?":
    * the event log is split at mid-month into a baseline and a current
    * half, each half's per-type frequency is compared against the GLOBAL
    * frequency, and the per-type deviation plus each half's total-variation
    * distance is emitted. ALL math is integer parts-per-million (x*1e6 div
    * n — the micro-unit trick from sim_label_centroids/graph_pagerank):
    * no doubles, no logs, so the result is bit-exact under any shuffle
    * order and fully hash-oracle-able — unlike a float PSI whose ln()
    * differs between engines. Shape: one scan, one tiny groupBy
    * (halves × types = 10 rows), window sums over the 10-row grid — scan
    * cost dominates at 100 TB, exactly what a per-batch QC gate needs.
    */
  val qcDistributionDrift = Op(
    "qc_distribution_drift",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val grid = T.events(s, d)
        .withColumn("half",
          when(col("ts") < lit("2024-01-16").cast("timestamp"), "baseline")
            .otherwise("current"))
        .groupBy(col("half"), col("event_type"))
        .agg(count(lit(1)).as("o"))
      val wHalf = Window.partitionBy(col("half"))
      val wType = Window.partitionBy(col("event_type"))
      grid
        .withColumn("n_half", sum(col("o")).over(wHalf))
        .withColumn("n_type", sum(col("o")).over(wType))
        .withColumn("n_total", sum(col("o")).over(Window.partitionBy()))
        .withColumn("ppm_obs", expr("o * 1000000L div n_half"))
        .withColumn("ppm_exp", expr("n_type * 1000000L div n_total"))
        .withColumn("ppm_delta", abs(col("ppm_obs") - col("ppm_exp")))
        .withColumn("tvd_ppm",
          expr("sum(ppm_delta) over (partition by half) div 2"))
        .select(col("half"), col("event_type"), col("o"),
          col("ppm_obs"), col("ppm_exp"), col("ppm_delta"), col("tvd_ppm"))
        .orderBy(col("half"), col("event_type"))
    },
    Some("""
      WITH grid AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'baseline'
                    ELSE 'current' END AS half,
               event_type, COUNT(*) AS o
        FROM events GROUP BY 1, 2),
      ppm AS (
        SELECT half, event_type, o,
               CAST(o * 1000000 // SUM(o) OVER (PARTITION BY half) AS BIGINT) AS ppm_obs,
               CAST(SUM(o) OVER (PARTITION BY event_type) * 1000000 // SUM(o) OVER () AS BIGINT) AS ppm_exp
        FROM grid)
      SELECT half, event_type, o, ppm_obs, ppm_exp,
             abs(ppm_obs - ppm_exp) AS ppm_delta,
             CAST(SUM(abs(ppm_obs - ppm_exp)) OVER (PARTITION BY half) // 2 AS BIGINT) AS tvd_ppm
      FROM ppm
      ORDER BY half, event_type
    """)
  )

  /** Expectation suite (r3c) — the declarative per-batch assertion pass
    * (the Great Expectations pattern as a query): each rule is a row with
    * its checked/violation counts and verdict. ONE wide aggregate per
    * scanned table computes every per-table rule (domain, range,
    * uniqueness — same single-pass shape as qc_column_profile), plus one
    * key-projected join for the cross-table temporal rule; `stack`
    * unpivots to the rule grid. Note the ship-before-order rule REALLY
    * fires on this corpus (~half the lineitems) — the suite demonstrably
    * catches a data defect rather than rubber-stamping. At 100 TB: two
    * scans + one FK join, rule count adds columns, not passes.
    */
  val qcExpectationSuite = Op(
    "qc_expectation_suite",
    (s, d) => {
      val o = T.orders(s, d).agg(
        count(lit(1)).as("o_n"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("v_status"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dupkey"))
      val l = T.lineitem(s, d).agg(
        count(lit(1)).as("l_n"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("v_disc"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("v_qty"))
      val x = T.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        .join(T.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .agg(
          count(lit(1)).as("x_n"),
          sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("v_ship"))
      o.crossJoin(l).crossJoin(x)
        .selectExpr(
          """stack(6,
               'orders.totalprice_positive',  o_n, v_price,
               'orders.status_in_domain',     o_n, v_status,
               'orders.orderkey_unique',      o_n, v_dupkey,
               'lineitem.discount_in_[0,1]',  l_n, v_disc,
               'lineitem.quantity_in_[1,50]', l_n, v_qty,
               'lineitem.ship_after_order',   x_n, v_ship
             ) AS (rule, n_checked, n_violations)""")
        .withColumn("pass", col("n_violations") === 0)
        .orderBy(col("rule"))
    },
    Some("""
      WITH o AS (
        SELECT COUNT(*) AS o_n,
               CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dupkey
        FROM orders),
      l AS (
        SELECT COUNT(*) AS l_n,
               CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
               CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty
        FROM lineitem),
      x AS (
        SELECT COUNT(*) AS x_n,
               CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
      FROM (
        SELECT 'orders.totalprice_positive' AS rule, o_n AS n_checked, v_price AS n_violations FROM o
        UNION ALL SELECT 'orders.status_in_domain', o_n, v_status FROM o
        UNION ALL SELECT 'orders.orderkey_unique', o_n, v_dupkey FROM o
        UNION ALL SELECT 'lineitem.discount_in_[0,1]', l_n, v_disc FROM l
        UNION ALL SELECT 'lineitem.quantity_in_[1,50]', l_n, v_qty FROM l
        UNION ALL SELECT 'lineitem.ship_after_order', x_n, v_ship FROM x)
      ORDER BY rule
    """)
  )

  /** Order-independent dataset fingerprint (r3c) — "did two pipelines
    * produce the same dataset?" answered WITHOUT sorting anything: each
    * row canonicalizes to a string, md5s, and the first 12 hex chars fold
    * to a 48-bit integer (the fold is strpos-based so both engines parse
    * hex identically); the dataset digest is then bit_xor + modular sum +
    * count over those row hashes — all three commutative/associative, so
    * the digest is identical under ANY partitioning or shuffle order, and
    * a single differing/missing/duplicated row flips it. At 100 TB this
    * is one scan + a constant-size aggregate — the equality check that
    * replaces a full sort-merge diff. Emitted for documents and for a
    * derived "cleaned" view to show drift detection across pipeline
    * stages.
    */
  val qcDatasetFingerprint = Op(
    "qc_dataset_fingerprint",
    (s, d) => {
      // 48-bit md5 fold (digest's first 6 bytes big-endian) as the native
      // codegen'd expression; the oracle keeps the explicit strpos fold,
      // so equivalence is hash-checked right here
      def rowHash(canon: String) = s"md5fold48($canon)"
      val docs = T.documents(s, d)
        .withColumn("rh", expr(rowHash("concat_ws('|', doc_id, lang, source, text)")))
      val cleaned = T.documents(s, d)
        .filter(length(col("text")) >= 20)
        .withColumn("rh", expr(rowHash("concat_ws('|', doc_id, lang, trim(text))")))
      def digest(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(
          count(lit(1)).as("n_rows"),
          expr("bit_xor(rh)").as("xor_fp"),
          // residue 2^31-1, not 1e9+7: each term stays < 2^31, so the
          // non-ANSI BIGINT sum cannot wrap before ~4e9 rows — DuckDB
          // promotes the same sum to HUGEINT, and a wrapped Spark sum
          // would diverge exactly at the scale the op is documented for
          expr("sum(rh % 2147483647L) % 2147483647L").as("sum_fp"))
          .withColumn("dataset", lit(name))
      digest("documents", docs)
        .unionAll(digest("cleaned", cleaned))
        .select(col("dataset"), col("n_rows"), col("xor_fp"), col("sum_fp"))
        .orderBy(col("dataset"))
    },
    Some("""
      WITH h AS (
        SELECT list_reduce(
                 list_transform(range(1, 13),
                   i -> CAST(strpos('0123456789abcdef',
                          substring(md5(concat_ws('|', doc_id, lang, source, text)), i, 1)) - 1 AS BIGINT)),
                 (acc, v) -> acc * 16 + v) AS rh
        FROM documents),
      hc AS (
        SELECT list_reduce(
                 list_transform(range(1, 13),
                   i -> CAST(strpos('0123456789abcdef',
                          substring(md5(concat_ws('|', doc_id, lang, trim(text))), i, 1)) - 1 AS BIGINT)),
                 (acc, v) -> acc * 16 + v) AS rh
        FROM documents WHERE length(text) >= 20)
      SELECT dataset, n_rows, xor_fp, sum_fp FROM (
        SELECT 'documents' AS dataset, COUNT(*) AS n_rows,
               CAST(bit_xor(rh) AS BIGINT) AS xor_fp,
               CAST(SUM(rh % 2147483647) % 2147483647 AS BIGINT) AS sum_fp
        FROM h
        UNION ALL
        SELECT 'cleaned', COUNT(*),
               CAST(bit_xor(rh) AS BIGINT),
               CAST(SUM(rh % 2147483647) % 2147483647 AS BIGINT)
        FROM hc)
      ORDER BY dataset
    """)
  )

  /** Robust outlier gate — median absolute deviation (Hampel's rule:
    * flag |x − median| > k · 1.4826 · MAD) over the per-type daily volume
    * series, the robust complement to evt_hourly_anomaly's trailing-mean
    * ratio: mean/σ gates move WITH the outliers they're meant to catch
    * (one bad backfill day inflates σ and masks the next one); the
    * breakdown point of the median is 50%, so the gate holds even when a
    * third of the series is corrupt. Both medians are EXACT (Spark's
    * `percentile`, DuckDB's `median` — identical (a+b)/2 interpolation on
    * integer counts, so every med/mad is an exact .0/.5 double and the
    * Hampel product is the same IEEE multiply in both engines — no
    * stddev, whose accumulation order differs across engines).
    * Scale shape: the heavy step is the map-side-combined daily count;
    * the medians run over the tiny (type × day) series — exact medians
    * over the raw log would need the two-pass Det.median machinery, the
    * aggregate-then-robust-stats shape never does.
    */
  val qcAnomalyMad = Op(
    "qc_anomaly_mad",
    (s, d) => {
      val daily = T.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val med = daily.groupBy(col("event_type").as("et"))
        .agg(expr("percentile(n, 0.5D)").as("med"))
      val mad = daily.join(med, col("event_type") === col("et"))
        .withColumn("dev", abs(col("n") - col("med")))
        .groupBy(col("et"), col("med"))
        .agg(expr("percentile(dev, 0.5D)").as("mad"))
      daily.join(mad, col("event_type") === col("et"))
        .withColumn("dev", abs(col("n") - col("med")))
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("dev") > lit(2.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          max(col("dev")).as("max_dev"))
        .select(col("event_type"), col("n_days"), col("med"), col("mad"),
          col("n_outliers"), col("max_dev"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH daily AS (
        SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      med AS (SELECT event_type AS et, median(n) AS med FROM daily GROUP BY 1),
      mad AS (
        SELECT et, med, median(abs(n - med)) AS mad
        FROM daily JOIN med ON daily.event_type = med.et GROUP BY et, med)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, med, mad,
             CAST(SUM(CASE WHEN abs(n - med) > 2 * 1.4826 * mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             MAX(abs(n - med)) AS max_dev
      FROM daily d JOIN mad s ON d.event_type = s.et
      GROUP BY event_type, med, mad ORDER BY event_type
    """)
  )

  /** Keyed snapshot diff (r5) — "what changed between two versions of this
    * dataset, row by row?": the data-versioning audit behind every
    * incremental-pipeline validation (did the backfill touch only what it
    * should?). Two deterministic versions are derived from orders — OLD
    * drops keys ≡1 (mod 97), NEW drops keys ≡2 (mod 97) and bumps
    * o_totalprice by 1.0 on keys ≡0 (mod 13) — then ONE full-outer join on
    * the key classifies every row: added (new only), removed (old only),
    * changed (both, compared column differs), unchanged. The +1.0 on a
    * DOUBLE is an exact IEEE op on identical parquet-sourced bits, so the
    * equality compare is engine-portable with no decimal routing. Contrast
    * qc_dataset_fingerprint (one commutative digest answers equal-or-not
    * with no join); this op answers WHAT differs, at the cost of the
    * key-partitioned shuffle — still one join at 100 TB, and with both
    * versions bucketed by key it degrades to a zipper merge with no
    * shuffle at all. Emits per-(status, verdict) counts.
    */
  val qcSnapshotDiff = Op(
    "qc_snapshot_diff",
    (s, d) => {
      val o = T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val vOld = o.filter(col("o_orderkey") % 97 =!= 1)
        .select(col("o_orderkey"), col("o_orderstatus").as("st_a"),
          col("o_totalprice").as("p_a"))
      val vNew = o.filter(col("o_orderkey") % 97 =!= 2)
        .select(col("o_orderkey"), col("o_orderstatus").as("st_b"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")).as("p_b"))
      vOld.join(vNew, Seq("o_orderkey"), "full")
        .select(
          coalesce(col("st_a"), col("st_b")).as("o_orderstatus"),
          when(col("p_a").isNull, "added")
            .when(col("p_b").isNull, "removed")
            .when(col("p_a") =!= col("p_b"), "changed")
            .otherwise("unchanged").as("verdict"))
        .groupBy(col("o_orderstatus"), col("verdict"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderstatus"), col("verdict"))
    },
    Some("""
      WITH v_old AS (
        SELECT o_orderkey, o_orderstatus AS st_a, o_totalprice AS p_a
        FROM orders WHERE o_orderkey % 97 <> 1),
      v_new AS (
        SELECT o_orderkey, o_orderstatus AS st_b,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS p_b
        FROM orders WHERE o_orderkey % 97 <> 2)
      SELECT COALESCE(st_a, st_b) AS o_orderstatus,
             CASE WHEN p_a IS NULL THEN 'added'
                  WHEN p_b IS NULL THEN 'removed'
                  WHEN p_a <> p_b THEN 'changed'
                  ELSE 'unchanged' END AS verdict,
             COUNT(*) AS n_rows
      FROM v_old FULL JOIN v_new USING (o_orderkey)
      GROUP BY 1, 2 ORDER BY o_orderstatus, verdict
    """)
  )

  /** Embedding-distribution drift (r5) — qc_distribution_drift's twin for
    * the vector tier: did the embedding space move between two corpus
    * slices (re-embedded batch, new model version, new crawl)? Per
    * DIMENSION, the centroid of the even-id half vs the odd-id half and
    * the absolute delta — the coordinate-wise view that localizes drift to
    * specific dimensions (a whole-space cosine hides which axes moved).
    * Float values widen to double exactly in both engines, per-dim sums
    * route through DECIMAL(18,12) (order-free addition; |value| ≤ O(1),
    * corpus rows ≪ 10^6 per dim → no overflow), and each mean is ONE
    * double division of the decimal sum (oracle-parity rules, SURVEY
    * App. A). Shape: posexplode to (dim, value) rows — 64 rows per vector
    * of 8 bytes each, narrower than the vector itself — then map-side
    * combine onto 64 dim keys; one scan at any scale.
    */
  val qcEmbeddingDrift = Op(
    "qc_embedding_drift",
    (s, d) => {
      T.embeddings(s, d)
        .select((col("vec_id") % 2).as("half"), posexplode(col("embedding")))
        .select(col("half"), (col("pos") + 1).as("dim"),
          col("col").cast("double").cast("decimal(18,12)").as("v"))
        .groupBy(col("dim"))
        .agg(
          count(when(col("half") === 0, 1)).as("n_a"),
          sum(when(col("half") === 0, col("v"))).as("s_a"),
          count(when(col("half") === 1, 1)).as("n_b"),
          sum(when(col("half") === 1, col("v"))).as("s_b"))
        .select(
          col("dim"),
          col("n_a"), col("n_b"),
          round(col("s_a").cast("double") / col("n_a"), 6).as("mean_a"),
          round(col("s_b").cast("double") / col("n_b"), 6).as("mean_b"),
          round(abs(col("s_a").cast("double") / col("n_a")
            - col("s_b").cast("double") / col("n_b")), 6).as("abs_delta"))
        .orderBy(col("dim"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id % 2 AS half,
               generate_subscripts(embedding, 1) AS dim,
               CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,12)) AS v
        FROM embeddings)
      SELECT dim,
             COUNT(CASE WHEN half = 0 THEN 1 END) AS n_a,
             COUNT(CASE WHEN half = 1 THEN 1 END) AS n_b,
             ROUND(CAST(SUM(CASE WHEN half = 0 THEN v END) AS DOUBLE)
                   / COUNT(CASE WHEN half = 0 THEN 1 END), 6) AS mean_a,
             ROUND(CAST(SUM(CASE WHEN half = 1 THEN v END) AS DOUBLE)
                   / COUNT(CASE WHEN half = 1 THEN 1 END), 6) AS mean_b,
             ROUND(ABS(CAST(SUM(CASE WHEN half = 0 THEN v END) AS DOUBLE)
                       / COUNT(CASE WHEN half = 0 THEN 1 END)
                     - CAST(SUM(CASE WHEN half = 1 THEN v END) AS DOUBLE)
                       / COUNT(CASE WHEN half = 1 THEN 1 END)), 6) AS abs_delta
      FROM e GROUP BY dim ORDER BY dim
    """)
  )

  /** Benford first-digit audit (r5) — the classic fabricated-/synthetic-data
    * detector: naturally occurring multi-scale amounts follow
    * P(d) = log10(1 + 1/d); uniform or generated values don't, and a large
    * per-digit deviation flags the column for review. The expected ppm
    * values are precomputed integer constants (floor(log10(1+1/d)·1e6)),
    * observed shares are integer-ppm floor division against a windowed
    * total over the 9-row aggregate — the whole op is exact long math, no
    * float log anywhere, so it hash-oracles. One corpus scan, map-side
    * combine onto 9 digit keys, then a broadcast join against the 9-row
    * constant table: at 100 TB the only full-width cost is the scan itself.
    */
  private val qcBenfordCheck = Op(
    "qc_benford_check",
    (s, d) => {
      import s.implicits._
      val exp = Seq(1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L,
        5 -> 79181L, 6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)
        .toDF("digit", "exp_ppm")
      val obs = T.orders(s, d)
        .select(expr(
          "cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as int)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("obs_ppm", expr("n * 1000000 div sum(n) over ()"))
      obs.join(broadcast(exp), Seq("digit"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
        .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
          col("dev_ppm"))
        .orderBy(col("digit"))
    },
    Some("""
      WITH obs AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS digit,
               COUNT(*) AS n
        FROM orders GROUP BY 1),
      o2 AS (SELECT digit, n,
                    n * 1000000 // CAST(SUM(n) OVER () AS BIGINT) AS obs_ppm
             FROM obs),
      exp AS (SELECT * FROM (VALUES
        (1, CAST(301029 AS BIGINT)), (2, CAST(176091 AS BIGINT)),
        (3, CAST(124938 AS BIGINT)), (4, CAST(96910 AS BIGINT)),
        (5, CAST(79181 AS BIGINT)), (6, CAST(66946 AS BIGINT)),
        (7, CAST(57991 AS BIGINT)), (8, CAST(51152 AS BIGINT)),
        (9, CAST(45757 AS BIGINT))) AS t(digit, exp_ppm))
      SELECT o2.digit, n, obs_ppm, exp_ppm,
             abs(obs_ppm - exp_ppm) AS dev_ppm
      FROM o2 JOIN exp ON o2.digit = exp.digit
      ORDER BY o2.digit
    """)
  )

  /** Two-sided CUSUM drift detector over daily event volume (Page 1954) —
    * the SUSTAINED-shift complement to the repo's point detectors:
    * qc_anomaly_mad and evt_hourly_anomaly fire on single outlier
    * days/hours, but a 10% volume drift spread over a week never trips a
    * per-point threshold — cumulative sums accumulate exactly that. The
    * textbook recursion S_t = max(0, S_{t-1} + x_t − target − slack) is
    * not window-expressible, but its closed form is:
    * S_t = P_t − min(0, min_{j≤t} P_j) with P the plain prefix sum — so
    * both engines compute it with two stacked windows and zero recursion.
    * All integer: target = total div n_days, slack = target div 20 (5%),
    * alarm at 4× slack. The windows are unpartitioned BY DESIGN over the
    * ~30-row daily histogram (agg-before-window, the ml_roc_auc
    * discipline — PlanShapeSpec pins it): the event log itself is never
    * sorted, only the day table.
    */
  val qcCusumDrift = Op(
    "qc_cusum_drift",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = T.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"))
      val tgt = daily.agg(
        expr("sum(n_events) div count(1)").as("target"))
        .withColumn("slack", greatest(lit(1L), expr("target div 20")))
      val wp = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
      daily.crossJoin(broadcast(tgt))
        .withColumn("p_hi", sum(col("n_events") - col("target") - col("slack")).over(wp))
        .withColumn("p_lo", sum(col("target") - col("n_events") - col("slack")).over(wp))
        .withColumn("cusum_hi", col("p_hi") - least(lit(0L), min(col("p_hi")).over(wp)))
        .withColumn("cusum_lo", col("p_lo") - least(lit(0L), min(col("p_lo")).over(wp)))
        .select(col("day"), col("n_events"), col("cusum_hi"), col("cusum_lo"),
          (col("cusum_hi") > col("slack") * 4 || col("cusum_lo") > col("slack") * 4)
            .as("drift_flag"))
        .orderBy(col("day"))
    },
    Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
                     FROM events GROUP BY 1),
      tgt AS (SELECT SUM(n_events) // COUNT(*) AS target,
                     GREATEST(1, (SUM(n_events) // COUNT(*)) // 20) AS slack
              FROM daily),
      pre AS (
        SELECT day, n_events, target, slack,
               SUM(n_events - target - slack) OVER
                 (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p_hi,
               SUM(target - n_events - slack) OVER
                 (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p_lo
        FROM daily CROSS JOIN tgt),
      cus AS (
        SELECT day, n_events, slack,
               p_hi - LEAST(0, MIN(p_hi) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cusum_hi,
               p_lo - LEAST(0, MIN(p_lo) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cusum_lo
        FROM pre)
      SELECT day, n_events, CAST(cusum_hi AS BIGINT) AS cusum_hi,
             CAST(cusum_lo AS BIGINT) AS cusum_lo,
             (cusum_hi > slack * 4 OR cusum_lo > slack * 4) AS drift_flag
      FROM cus ORDER BY day
    """)
  )

  /** Theil-Sen robust trend estimator per event type (Theil 1950, Sen
    * 1968): the median of all pairwise day-to-day slopes — the trend-RATE
    * companion to qc_cusum_drift's shift DETECTOR, with a 29% breakdown
    * point (an ops incident that zeroes three days barely moves it, while
    * the OLS slope in win_rolling_slope chases every outlier). Exactness
    * discipline: daily value mass in floor µ-units (per-event floor, then
    * integer sum), per-pair slope as floor-div ppm/day, median as the
    * lower-median rank over the ~435-pair set (row_number with a full
    * tie-break — interpolated medians would reintroduce floats). The
    * pairwise self-join is over the DAILY table (≤ |days|²/2 rows per
    * type), never the event log — the same histogram-first rule as every
    * window in this tier; at a decade of daily partitions that is still
    * only ~6.7M pairs per type.
    */
  val qcTheilSenTrend = Op(
    "qc_theil_sen_trend",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = T.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("mass_u"))
        .withColumn("dn", datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
      val a = daily.select(col("event_type"), col("dn").as("d1"), col("mass_u").as("m1"))
      val b = daily.select(col("event_type"), col("dn").as("d2"), col("mass_u").as("m2"))
      val slopes = a.join(b, Seq("event_type"))
        .filter(col("d1") < col("d2"))
        .select(col("event_type"),
          expr("((m2 - m1) * 1000000) div (d2 - d1)").as("slope_ppm"))
      val wRank = Window.partitionBy(col("event_type"))
        .orderBy(col("slope_ppm"))
      val counted = slopes
        .withColumn("rn", row_number().over(wRank).cast("long"))
        .withColumn("n_pairs", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      counted
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("event_type"), col("n_pairs"),
          col("slope_ppm").as("trend_ppm_per_day"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS mass_u,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dn
        FROM events GROUP BY 1, 2, 4),
      slopes AS (
        SELECT a.event_type,
               ((b.mass_u - a.mass_u) * 1000000) // (b.dn - a.dn) AS slope_ppm
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.dn < b.dn),
      ranked AS (
        SELECT event_type, slope_ppm,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope_ppm) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
        FROM slopes)
      SELECT event_type, n_pairs, CAST(slope_ppm AS BIGINT) AS trend_ppm_per_day
      FROM ranked WHERE rn = (n_pairs + 1) // 2
      ORDER BY event_type
    """)
  )

  /** Per-stream freshness lag (r7) — the "is the feed still flowing" SLA
    * readout every ingestion dashboard leads with: each event type's last
    * arrival versus the corpus horizon (the freshest stream defines "now"
    * in a batch fixture; in production the wall clock takes its place via
    * one literal swap). One scan, one map-side-combined per-type aggregate;
    * the horizon is max-of-maxes via an unpartitioned window over the
    * ≤|types|-row aggregate (agg-before-window — bounded by the type
    * vocabulary, never the log), lag in exact integer minutes on the µs
    * timeline, stale = silent ≥ 120 min. Also emits per-stream span and
    * events/day-of-span — the context numbers an on-call reads next.
    */
  val qcFreshnessLag = Op(
    "qc_freshness_lag",
    (s, d) => {
      val per = T.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("max(unix_micros(ts))").as("max_us"),
          expr("min(unix_micros(ts))").as("min_us"))
      per
        .withColumn("horizon_us",
          max(col("max_us")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("lag_min", expr("(horizon_us - max_us) div 60000000"))
        .select(
          col("event_type"), col("n_events"),
          expr("timestamp_micros(max_us)").as("last_event_ts"),
          col("lag_min"),
          (col("lag_min") >= 120).as("stale"),
          expr("(max_us - min_us) div 86400000000").as("span_days"),
          expr("n_events div ((max_us - min_us) div 86400000000 + 1)")
            .as("events_per_day"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH per AS (
        SELECT event_type, COUNT(*) AS n_events,
               MAX(epoch_us(ts)) AS max_us, MIN(epoch_us(ts)) AS min_us
        FROM events GROUP BY 1),
      w AS (SELECT *, MAX(max_us) OVER () AS horizon_us FROM per)
      SELECT event_type, n_events,
             make_timestamp(max_us) AS last_event_ts,
             (horizon_us - max_us) // 60000000 AS lag_min,
             (horizon_us - max_us) // 60000000 >= 120 AS stale,
             (max_us - min_us) // 86400000000 AS span_days,
             n_events // ((max_us - min_us) // 86400000000 + 1) AS events_per_day
      FROM w ORDER BY event_type
    """)
  )

  /** Join-fanout audit (r7) — the pre-flight check before any big join:
    * output rows per key = n_left · n_right, so one hot key can turn a
    * "join two tables" into a row explosion that no cluster survives
    * (the accidental-many-to-many bug every data engineer has shipped).
    * Per-key multiplicities of orders⋈lineitem on the order key from two
    * map-side-combined counts, joined key-to-key (tiny vs the tables),
    * total expected output + the top-20 offender keys by product — read
    * BEFORE the join runs; `graph_degree_distribution` profiles one
    * side's skew, this profiles the JOIN's cost. The top-20 is a
    * TakeOrdered; the totals window rides the per-key aggregate.
    */
  val qcJoinFanout = Op(
    "qc_join_fanout",
    (s, d) => {
      val l = T.orders(s, d).groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("n_left"))
      val r = T.lineitem(s, d).groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("n_right"))
      // the multiplicity table feeds the global total AND the top-20. NOT
      // materialized (r18 A/B: checkpoint 1.02 s vs none 0.92 s at sf0.1):
      // the two aggregate inputs' shuffle stages reuse at runtime, and the
      // old eager checkpoint wrote an |orderkeys|-sized table to re-read —
      // at 100 TB that is the expensive leg, recomputing the cheap
      // post-shuffle join is not. An unpartitioned window here would
      // single-partition the UNBOUNDED per-key table (the
      // agg-before-window rule only covers vocabulary-bounded aggregates).
      // NO shuffle_hash hint (r19 A/B: inconclusive-to-worse, 1.05-1.59
      // unhinted vs 1.51-1.61 hinted): both aggregate inputs already
      // share their exchanges, and pinning the strategy forfeits AQE's
      // runtime choice for no measured gain
      val m = l.join(r, Seq("k"))
        .withColumn("out_rows", col("n_left") * col("n_right"))
      val tot = m.agg(sum(col("out_rows")).as("total_out"))
      m.crossJoin(broadcast(tot))
        .select(col("k"), col("n_left"), col("n_right"), col("out_rows"),
          col("total_out"))
        .orderBy(col("out_rows").desc, col("k"))
        .limit(20)
    },
    Some("""
      WITH l AS (SELECT o_orderkey AS k, COUNT(*) AS n_left
                 FROM orders GROUP BY 1),
      r AS (SELECT l_orderkey AS k, COUNT(*) AS n_right
            FROM lineitem GROUP BY 1),
      m AS (SELECT l.k, n_left, n_right, n_left * n_right AS out_rows
            FROM l JOIN r ON l.k = r.k)
      SELECT k, n_left, n_right, out_rows,
             CAST(SUM(out_rows) OVER () AS BIGINT) AS total_out
      FROM m ORDER BY out_rows DESC, k LIMIT 20
    """)
  )

  /** Quarantine split (r7) — the bad-row side-channel every production
    * ingest runs: rows violating contract rules go to a QUARANTINE sink
    * (kept for forensics and replay-after-fix), clean rows proceed, and
    * NOTHING is silently dropped — the conservation law `clean +
    * quarantined = input` is what distinguishes this from a filter, and
    * the read-back makes the op prove it against the oracle rather than
    * claim it. Rules fire by first match (severity order): value outlier
    * (> 300 — the fat-finger tail), then late arrival (final fixture day —
    * the beyond-horizon rows a watermark would drop silently). One pass
    * tags each row; both sinks write partitioned by nothing (row-level
    * routing, not partition pruning); output = per-(disposition, reason)
    * counts + decimal value mass read back FROM THE SINKS.
    */
  val qcQuarantineSplit = Op(
    "qc_quarantine_split",
    (s, d) => {
      val tagged = T.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
        .withColumn("reason",
          when(col("value") > 300.0, "value_outlier")
            .when(col("ts") >= lit("2024-01-30 00:00:00").cast("timestamp"),
              "late_arrival")
            .otherwise("ok"))
      val cleanDir = T.scratch("quarantine_clean")
      val quarDir = T.scratch("quarantine_bad")
      tagged.filter(col("reason") === "ok")
        .write.mode("overwrite").parquet(cleanDir)
      tagged.filter(col("reason") =!= "ok")
        .write.mode("overwrite").parquet(quarDir)
      val clean = s.read.parquet(cleanDir)
        .withColumn("disposition", lit("clean"))
      val quar = s.read.parquet(quarDir)
        .withColumn("disposition", lit("quarantined"))
      clean.unionByName(quar)
        .groupBy(col("disposition"), col("reason"))
        .agg(count(lit(1)).as("n_rows"),
          Det.sumDec(col("value")).as("value_mass"))
        .orderBy(col("disposition"), col("reason"))
    },
    Some("""
      WITH tagged AS (
        SELECT value,
               CASE WHEN value > 300.0 THEN 'value_outlier'
                    WHEN ts >= TIMESTAMP '2024-01-30 00:00:00' THEN 'late_arrival'
                    ELSE 'ok' END AS reason
        FROM events)
      SELECT CASE WHEN reason = 'ok' THEN 'clean' ELSE 'quarantined' END
               AS disposition,
             reason, COUNT(*) AS n_rows,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_mass
      FROM tagged
      GROUP BY 1, 2 ORDER BY disposition, reason
    """)
  )

  /** Candidate-key discovery (r7) — which column combinations actually
    * identify a row: every downstream MERGE, dedup, and CDC consumer
    * assumes a key, and an assumed-unique key that isn't is the classic
    * silent fanout (`qc_join_fanout` prices the blast; this finds the
    * fuse). Six combos' exact distinct counts in ONE aggregate (Spark
    * plans multi-distinct through one Expand — the `qc_column_profile`
    * idiom — so the table is read once however many combos are probed),
    * unpivoted to a row per combo with uniqueness ppm and the key verdict.
    */
  val qcUniquenessProfile = Op(
    "qc_uniqueness_profile",
    (s, d) => {
      T.events(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          expr("count(distinct event_id)").as("c1"),
          expr("count(distinct user_id)").as("c2"),
          expr("count(distinct user_id, ts)").as("c3"),
          expr("count(distinct user_id, event_type)").as("c4"),
          expr("count(distinct ts)").as("c5"),
          expr("count(distinct event_type, ts)").as("c6"))
        .select(expr(
          """stack(6,
               'event_id', c1, 'user_id', c2, 'user_id+ts', c3,
               'user_id+event_type', c4, 'ts', c5, 'event_type+ts', c6)
             AS (combo, n_distinct)"""), col("n_rows"))
        .withColumn("uniqueness_ppm", expr("n_distinct * 1000000 div n_rows"))
        .withColumn("is_candidate_key", col("n_distinct") === col("n_rows"))
        .orderBy(col("combo"))
    },
    Some("""
      WITH a AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT event_id) AS c1,
               COUNT(DISTINCT user_id) AS c2,
               COUNT(DISTINCT (user_id, ts)) AS c3,
               COUNT(DISTINCT (user_id, event_type)) AS c4,
               COUNT(DISTINCT ts) AS c5,
               COUNT(DISTINCT (event_type, ts)) AS c6
        FROM events)
      SELECT combo, n_distinct, n_rows,
             n_distinct * 1000000 // n_rows AS uniqueness_ppm,
             n_distinct = n_rows AS is_candidate_key
      FROM (
        SELECT 'event_id' AS combo, c1 AS n_distinct, n_rows FROM a
        UNION ALL SELECT 'user_id', c2, n_rows FROM a
        UNION ALL SELECT 'user_id+ts', c3, n_rows FROM a
        UNION ALL SELECT 'user_id+event_type', c4, n_rows FROM a
        UNION ALL SELECT 'ts', c5, n_rows FROM a
        UNION ALL SELECT 'event_type+ts', c6, n_rows FROM a)
      ORDER BY combo
    """)
  )

  val ops: Vector[Op] = Vector(
    qcColumnProfile, qcFkOrphans, qcObserveMetrics, qcDistributionDrift,
    qcExpectationSuite, qcDatasetFingerprint, qcAnomalyMad, qcSnapshotDiff,
    qcEmbeddingDrift, qcBenfordCheck, qcCusumDrift, qcTheilSenTrend,
    qcFreshnessLag, qcJoinFanout, qcQuarantineSplit, qcUniquenessProfile)
}
