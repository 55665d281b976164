package graft.ops

import org.apache.spark.sql.functions._

/** §2.11 MLlib pipeline tier — the reference's model surface (intent
  * taxonomy, feature pipeline, classifier) rebuilt on spark.ml, plus the
  * deterministic split. Training is oracle-exempt; MLSpec covers accuracy,
  * determinism across runs, and PipelineModel save/load.
  */
object MLPipeline {

  /** THE canonical intent rule — the single ground-truth labeler every op
    * in this tier shares (ml_intent_label, ml_logreg_intent's training
    * labels, ml_predictions_sink's scores, ml_eval_metrics' truth AND its
    * early-text approximation). One definition makes the coupling the
    * evaluator's docstring claims real: change the keywords here and every
    * dependent op — and every inline SQL twin, greppable by the keyword
    * strings — moves together or the oracle gate fails loudly.
    */
  private def intentRule(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(instr(t, "customer") > 0, "transactional")
      .when(instr(t, "scan") > 0, "navigational")
      .otherwise("informational")

  /** Deterministic keyword-rule intent labeling (the standard search-intent
    * taxonomy: transactional / navigational / informational). Pure CASE
    * chain — the rule-label generator for the classifier below.
    */
  val mlIntentLabel = Op(
    "ml_intent_label",
    (s, d) =>
      T.documents(s, d)
        .withColumn("intent", intentRule(col("text")))
        .groupBy(col("lang"), col("intent"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("intent")),
    Some("""
      SELECT lang,
             CASE WHEN strpos(text, 'customer') > 0 THEN 'transactional'
                  WHEN strpos(text, 'scan') > 0 THEN 'navigational'
                  ELSE 'informational' END AS intent,
             COUNT(*) AS n_docs
      FROM documents
      GROUP BY lang, intent ORDER BY lang, intent
    """)
  )

  /** Tokenizer → StopWordsRemover → HashingTF → IDF as an ml.Pipeline.
    * Emits (doc_id, nnz, l2 norm) of the tf-idf vector. Oracle-exempt;
    * MLSpec asserts nnz > 0, finite norms, and run-to-run determinism.
    */
  val mlFeaturePipeline = Op(
    "ml_feature_pipeline",
    (s, d) => {
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.feature.{HashingTF, IDF, StopWordsRemover, Tokenizer}
      import org.apache.spark.ml.linalg.Vector
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      val pipe = new Pipeline().setStages(Array(
        new Tokenizer().setInputCol("text").setOutputCol("toks"),
        new StopWordsRemover().setInputCol("toks").setOutputCol("clean"),
        new HashingTF().setInputCol("clean").setOutputCol("tf").setNumFeatures(1 << 12),
        new IDF().setInputCol("tf").setOutputCol("tfidf")))
      val out = pipe.fit(docs).transform(docs)
      val nnz = udf((v: Vector) => v.numNonzeros.toLong)
      val nrm = udf((v: Vector) => math.sqrt(v.toArray.map(x => x * x).sum))
      out.select(
          col("doc_id"),
          nnz(col("tfidf")).as("nnz"),
          round(nrm(col("tfidf")), 6).as("norm"))
        .orderBy(col("doc_id"))
    },
    None
  )

  /** LogisticRegression trained on the rule labels (fixed seed, fixed
    * iterations); emits per-class prediction counts. Oracle-exempt; MLSpec
    * asserts accuracy >= 0.9 on the rule-labeled data and save/load
    * round-trip stability.
    */
  val mlLogregIntent = Op(
    "ml_logreg_intent",
    (s, d) => {
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.feature.{HashingTF, StringIndexer, Tokenizer}
      val labeled = T.documents(s, d)
        .withColumn("intent", intentRule(col("text")))
      val featurize = new Pipeline().setStages(Array(
        new Tokenizer().setInputCol("text").setOutputCol("toks"),
        new HashingTF().setInputCol("toks").setOutputCol("features").setNumFeatures(1 << 10),
        new StringIndexer().setInputCol("intent").setOutputCol("label").setStringOrderType("alphabetDesc")))
      // Materialize features ONCE before the iterative solver: LBFGS makes
      // a pass per iteration, and an uncached lineage would re-run
      // read->tokenize->hash on every one of them. Repartition down to 4:
      // the feature frame is tiny, and at local[32] each of the ~15
      // iterations otherwise pays 32-task scheduler overhead per pass
      // (measured 144 s in the driver's local[32] bench vs ~5 s at
      // local[4] — the partition count, not the math, was the cost).
      val feat = featurize.fit(labeled).transform(labeled)
        .select(col("intent"), col("label"), col("features"))
        .repartition(4).cache()
      try {
        // maxIter 10, not 15: train accuracy on the rule labels plateaus
        // >= 0.97 by iteration 10 (MLSpec bound is 0.9 with margin), and
        // each extra LBFGS pass is a full scan of the cached features —
        // at a bench's local[32] that was the single heaviest batch key.
        val lr = new LogisticRegression().setMaxIter(10).setRegParam(0.01)
        val model = lr.fit(feat)
        model.transform(feat)
          .groupBy(col("intent"), col("prediction"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("intent"), col("prediction"))
          .localCheckpoint(true)
      } finally feat.unpersist()
    },
    None
  )

  /** Deterministic train/test split: xxhash64 bucketing, NOT randomSplit
    * (which is partition-order sensitive). 80/20 by construction, stable
    * across runs, cluster layouts, and data repartitioning.
    */
  val mlTrainTestSplit = Op(
    "ml_train_test_split",
    (s, d) =>
      T.documents(s, d)
        .withColumn("split",
          when(pmod(xxhash64(col("doc_id")), lit(10)) < 8, "train").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("doc_id")).as("n_distinct"))
        .orderBy(col("split")),
    None
  )

  /** Prediction write-back round trip (the reference's "score → store →
    * serve" loop, with parquet standing in for the KV store): label docs,
    * write the scored table, read it back, and aggregate — proving the
    * sink preserves rows/schema. Oracle computes the same aggregate
    * directly from the source.
    */
  val mlPredictionsSink = Op(
    "ml_predictions_sink",
    (s, d) => {
      val tmp = T.scratch("intent_predictions")
      T.documents(s, d)
        .withColumn("intent", intentRule(col("text")))
        .select(col("doc_id"), col("lang"), col("intent"))
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy(col("intent"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("doc_id")).as("n_distinct"))
        .orderBy(col("intent"))
    },
    Some("""
      SELECT CASE WHEN strpos(text, 'customer') > 0 THEN 'transactional'
                  WHEN strpos(text, 'scan') > 0 THEN 'navigational'
                  ELSE 'informational' END AS intent,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT doc_id) AS n_distinct
      FROM documents
      GROUP BY intent ORDER BY intent
    """)
  )

  /** External-store prediction write-back (r10; VERDICT r9 task 6 — the
    * reference writes per-keyword predictions BACK to its store and serves
    * them; r9's `scan_jdbc_pushdown` covered the read leg, this is the
    * write leg, completing the ingest→train→write-back loop through a real
    * external-store API). Scored docs go out via `df.write.jdbc` into the
    * same embedded Derby the scan op ingests from, then come back through
    * a 4-way range-partitioned `read.jdbc` (bounds from a 1-row remote MAX
    * probe — the scan_jdbc_pushdown idiom in reverse) and are aggregated;
    * the oracle computes the identical aggregate straight from `documents`,
    * so a row lost/duplicated/mangled anywhere in the DB round trip fails
    * the hash compare.
    *
    * The 100 TB mechanics under test:
    *   - **Distributed batched INSERTs**: each of the 4 write partitions
    *     opens its own connection and streams `batchsize`-row prepared-
    *     statement batches (50 here so even the smallest fixture's 500
    *     docs / 4 partitions = 125 rows per task need ≥3 batches — the
    *     default 1000 would fit a whole partition in one batch and leave
    *     the re-batching loop untested). At scale the
    *     partition count IS the connection cap: `repartition(n)` before
    *     the write bounds concurrent connections to what the store can
    *     take, the same way `numPartitions` bounds the read.
    *   - **Type mapping under overwrite**: mode("overwrite") drops and
    *     recreates the table each run, so `createTableColumnTypes` must
    *     re-apply every time (Derby's default string mapping is CLOB,
    *     which it refuses to GROUP BY or compare — the read-back
    *     aggregation would error remotely without it).
    * JdbcSinkSpec pins both: >1 batch per partition via the batchsize
    * arithmetic, VARCHAR (not CLOB) column types in the Derby catalog,
    * and the 4-way partitioned read-back plan.
    */
  val sinkJdbcPredictions = Op(
    "sink_jdbc_predictions",
    (s, d) => {
      // SERIAL-EXECUTION ASSUMPTION: the overwrite below drops/recreates
      // the shared per-fixture Derby's `predictions` table eagerly at
      // DataFrame-construction time, and the returned read-back is lazy —
      // so two concurrent invocations (or re-collecting an old invocation's
      // DataFrame across a new one's write) would race the drop. Every
      // harness that runs this op (Verify, Bench, sbt's forked test JVM)
      // executes ops serially, and no other op touches `predictions`;
      // a concurrent harness would need the jdbcEnsureLoaded memo idiom.
      val url = Scans.jdbcUrlFor(d)
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      T.documents(s, d)
        .withColumn("intent", intentRule(col("text")))
        .select(col("doc_id"), col("lang"), col("intent"))
        .repartition(4)
        .write.mode("overwrite")
        .option("createTableColumnTypes", "lang VARCHAR(8), intent VARCHAR(16)")
        .option("batchsize", "50")
        .jdbc(url, "predictions", props)
      val conn = java.sql.DriverManager.getConnection(url)
      val upper = try {
        val rs = conn.createStatement()
          .executeQuery("SELECT MAX(\"doc_id\") FROM predictions")
        rs.next(); rs.getLong(1)
      } finally conn.close()
      s.read.jdbc(url, "predictions",
          columnName = "doc_id", lowerBound = 0L,
          upperBound = math.max(upper, 1L), numPartitions = 4, props)
        .groupBy(col("lang"), col("intent"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("doc_id")).as("n_distinct"))
        .orderBy(col("lang"), col("intent"))
    },
    Some("""
      SELECT lang,
             CASE WHEN strpos(text, 'customer') > 0 THEN 'transactional'
                  WHEN strpos(text, 'scan') > 0 THEN 'navigational'
                  ELSE 'informational' END AS intent,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT doc_id) AS n_distinct
      FROM documents
      GROUP BY lang, intent ORDER BY lang, intent
    """)
  )

  /** Model-evaluation metrics (r5) — the evaluate step of the
    * train→score→serve loop as an oracled query: confusion counts,
    * per-class precision/recall/F1 and global accuracy. The model under
    * evaluation must be deterministic and engine-portable for the DuckDB
    * hash-compare, so it is the EARLY-TEXT approximation classifier (the
    * intent rule applied to the first 200 chars) scored against the
    * full-text rule labels (ml_intent_label's truth) — it genuinely errs
    * where a keyword appears late (55/500 docs at sf0.01; all 3 classes
    * predicted), so every cell of the metric kernel carries real mass.
    * The same kernel evaluates any scored table (swap `pred` for a model
    * output column). Shape: one corpus scan folds to a ≤|C|² confusion
    * matrix (checkpointed once — it feeds 5 subtrees), everything after
    * is |C|-row algebra. Ratios are exact BIGINT counts with ONE double
    * division each (F1 as 2·tp/(n_pred+support), never 2pr/(p+r) — float
    * composition would diverge across engines).
    */
  val mlEvalMetrics = Op(
    "ml_eval_metrics",
    (s, d) => {
      val t = T.documents(s, d).select(
        intentRule(col("text")).as("truth"),
        intentRule(substring(col("text"), 1, 200)).as("pred"))
      val cm = t.groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val classes = cm.select(col("truth").as("cls"))
        .unionByName(cm.select(col("pred").as("cls"))).distinct()
      val sup = cm.groupBy(col("truth")).agg(sum(col("n")).as("support"))
        .withColumnRenamed("truth", "cls")
      val pt = cm.groupBy(col("pred")).agg(sum(col("n")).as("n_pred"))
        .withColumnRenamed("pred", "cls")
      val tp = cm.filter(col("truth") === col("pred"))
        .select(col("truth").as("cls"), col("n").as("tp"))
      val tot = cm.agg(sum(col("n")).as("total"),
        sum(when(col("truth") === col("pred"), col("n")).otherwise(0L)).as("correct"))
      classes
        .join(sup, Seq("cls"), "left")
        .join(pt, Seq("cls"), "left")
        .join(tp, Seq("cls"), "left")
        .crossJoin(broadcast(tot))
        .select(
          col("cls"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fp"),
          (coalesce(col("support"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fn"),
          coalesce(col("support"), lit(0L)).as("support"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          round(coalesce(col("tp"), lit(0L)) / col("n_pred"), 6).as("precision"),
          round(coalesce(col("tp"), lit(0L)) / col("support"), 6).as("recall"),
          round(lit(2) * coalesce(col("tp"), lit(0L)) / (col("n_pred") + col("support")), 6).as("f1"),
          round(col("correct") / col("total"), 6).as("accuracy"))
        .orderBy(col("cls"))
    },
    Some("""
      WITH t AS (SELECT
          CASE WHEN strpos(text,'customer') > 0 THEN 'transactional'
               WHEN strpos(text,'scan') > 0 THEN 'navigational'
               ELSE 'informational' END AS truth,
          CASE WHEN strpos(substr(text,1,200),'customer') > 0 THEN 'transactional'
               WHEN strpos(substr(text,1,200),'scan') > 0 THEN 'navigational'
               ELSE 'informational' END AS pred
        FROM documents),
      cm AS (SELECT truth, pred, COUNT(*) AS n FROM t GROUP BY truth, pred),
      classes AS (SELECT DISTINCT truth AS cls FROM t UNION SELECT DISTINCT pred FROM t),
      sup AS (SELECT truth AS cls, CAST(SUM(n) AS BIGINT) AS support FROM cm GROUP BY truth),
      pt AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY pred),
      tpt AS (SELECT truth AS cls, n AS tp FROM cm WHERE truth = pred),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                     CAST(SUM(CASE WHEN truth = pred THEN n ELSE 0 END) AS BIGINT) AS correct FROM cm)
      SELECT c.cls,
        CAST(COALESCE(tp,0) AS BIGINT) AS tp,
        CAST(COALESCE(n_pred,0) - COALESCE(tp,0) AS BIGINT) AS fp,
        CAST(COALESCE(support,0) - COALESCE(tp,0) AS BIGINT) AS fn,
        CAST(COALESCE(support,0) AS BIGINT) AS support,
        CAST(COALESCE(n_pred,0) AS BIGINT) AS n_pred,
        ROUND(COALESCE(tp,0) / n_pred, 6) AS precision,
        ROUND(COALESCE(tp,0) / support, 6) AS recall,
        ROUND(2 * COALESCE(tp,0) / (n_pred + support), 6) AS f1,
        ROUND(correct / total, 6) AS accuracy
      FROM classes c
      LEFT JOIN sup USING (cls) LEFT JOIN pt USING (cls) LEFT JOIN tpt USING (cls)
      CROSS JOIN tot
      ORDER BY cls
    """)
  )

  /** Calibration / reliability bins (r5) — ml_eval_metrics' companion: for
    * a score in [0,1], does predicted probability match observed frequency
    * per score decile? The scored pair must be engine-portable, so the
    * score is an order's lineitem count normalized by the corpus max (a
    * deliberately WEAK real signal) and the outcome is "order contains a
    * returned item" — the bins carry a genuine, non-degenerate reliability
    * curve. Everything is integer ppm (score_ppm = n·1e6 div max, decile =
    * score_ppm·10 div 1e6 capped at 9, mean score and positive rate as
    * exact BIGINT divisions) so the table hash-matches bit-for-bit — float
    * calibration curves never can. Shape: one lineitem groupBy (map-side
    * combine on the order key), a broadcast max scalar, a 10-row rollup.
    * The same kernel calibrates any model's scored table at 100 TB.
    */
  val mlCalibrationBins = Op(
    "ml_calibration_bins",
    (s, d) => {
      val per = T.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_items"),
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returned"))
      val mx = per.agg(max(col("n_items")).as("max_items"))
      per.crossJoin(broadcast(mx))
        .withColumn("score_ppm", expr("n_items * 1000000 div max_items"))
        .withColumn("bin", least(lit(9L), expr("score_ppm * 10 div 1000000")))
        .groupBy(col("bin"))
        .agg(
          count(lit(1)).as("n_orders"),
          expr("sum(score_ppm) div count(1)").as("mean_score_ppm"),
          expr("sum(returned) * 1000000 div count(1)").as("positive_ppm"))
        .orderBy(col("bin"))
    },
    Some("""
      WITH per AS (
        SELECT l_orderkey, COUNT(*) AS n_items,
               MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS returned
        FROM lineitem GROUP BY l_orderkey),
      mx AS (SELECT MAX(n_items) AS max_items FROM per),
      scored AS (
        SELECT n_items * 1000000 // max_items AS score_ppm, returned
        FROM per CROSS JOIN mx)
      SELECT LEAST(9, score_ppm * 10 // 1000000) AS bin,
             COUNT(*) AS n_orders,
             CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
             CAST(SUM(returned) * 1000000 // COUNT(*) AS BIGINT) AS positive_ppm
      FROM scored
      GROUP BY 1 ORDER BY bin
    """)
  )

  /** Deterministic hash-bucket sampling — the REPRODUCIBLE corpus-sampling
    * pattern a training-data pipeline needs (rng-based sampling changes
    * under repartition; this never does): bucket = (doc_id * 2654435761)
    * mod 2^32 (multiplicative hashing, Knuth TAOCP vol. 3 §6.4 — pure integer math → identical in
    * any engine), keep bucket < 20% of the space. The same formula selects
    * the same docs on every run, every partitioning, every engine — which
    * is what makes the sample JOIN-STABLE across derived tables (features,
    * embeddings, labels computed in different jobs still line up). Emits
    * per-source sampled/total counts and the exact achieved rate.
    */
  val sampleHashBucket = Op(
    "sample_hash_bucket",
    (s, d) => {
      val bucket = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
      T.documents(s, d)
        .withColumn("in_sample", (bucket < lit(858993459L)).cast("int")) // floor(0.2 * 2^32)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("in_sample")).as("n_sampled"))
        .withColumn("rate", round(col("n_sampled") / col("n_docs"), 6))
        .orderBy(col("source"))
    },
    Some("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN (doc_id * 2654435761) % 4294967296 < 858993459
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             ROUND(SUM(CASE WHEN (doc_id * 2654435761) % 4294967296 < 858993459
                            THEN 1 ELSE 0 END) / COUNT(*), 6) AS rate
      FROM documents GROUP BY source ORDER BY source
    """)
  )

  /** Stratified deterministic sampling — per-stratum rates (en 50%, de 25%,
    * everything else 10%), the "rebalance the language mix" step of a
    * training-data pipeline. Same Knuth multiplicative hash bucket as
    * sample_hash_bucket (stable across engines, partitionings and runs —
    * unlike sampleBy, whose draw depends on row order), with the threshold
    * selected per stratum. Pure narrow map + one bounded groupBy; the
    * sampled SET is reproducible, so a re-run appends nothing new.
    */
  val sampleStratified = Op(
    "sample_stratified",
    (s, d) => {
      val bucket = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
      val threshold = when(col("lang") === "en", lit(2147483648L))  // 0.50 * 2^32
        .when(col("lang") === "de", lit(1073741824L))               // 0.25 * 2^32
        .otherwise(lit(429496729L))                                 // 0.10 * 2^32
      T.documents(s, d)
        .withColumn("in_sample", (bucket < threshold).cast("int"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("in_sample")).as("n_sampled"))
        .withColumn("rate", round(col("n_sampled") / col("n_docs"), 6))
        .orderBy(col("lang"))
    },
    Some("""
      WITH flagged AS (
        SELECT lang,
               CASE WHEN (doc_id * 2654435761) % 4294967296 <
                         CASE lang WHEN 'en' THEN 2147483648
                                   WHEN 'de' THEN 1073741824
                                   ELSE 429496729 END
                    THEN 1 ELSE 0 END AS in_sample
        FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(in_sample) AS BIGINT) AS n_sampled,
             ROUND(SUM(in_sample) / COUNT(*), 6) AS rate
      FROM flagged GROUP BY lang ORDER BY lang
    """)
  )

  /** Deterministic per-group sample (r5) — "show me k reproducible example
    * rows per category", the eyeball-sample every dataset card and debug
    * session needs: the k=5 rows per event_type with the SMALLEST portable
    * multiplicative hash of their id (Knuth, the sample_hash_bucket
    * formula) — a uniform-ish draw that is stable across runs, engines,
    * and partitionings, unlike TABLESAMPLE/rand(). Executed through the
    * custom TopKPerKey whole-operator (bounded per-key heaps, no full
    * partition sort — the second op composing it, proving the extension is
    * a reusable primitive, not a one-off): at 100 TB the heap state is
    * k rows per group, while the window form sorts every group's millions
    * of rows. Hash-oracled against the ROW_NUMBER twin.
    */
  val samplePerGroup = Op(
    "sample_per_group",
    (s, d) => {
      import org.apache.spark.sql.catalyst.expressions.Ascending
      val ev = T.events(s, d)
        .select(col("event_type"), col("event_id"), col("user_id"))
        .withColumn("h", pmod(col("event_id") * lit(2654435761L), lit(4294967296L)))
      graft.plans.TopKPerKey.of(ev, 5, Seq("event_type"),
          Seq("h" -> Ascending, "event_id" -> Ascending))
        .select(col("event_type"), col("rn").as("pick"),
          col("event_id"), col("user_id"))
        .orderBy(col("event_type"), col("pick"))
    },
    Some("""
      SELECT event_type, rn AS pick, event_id, user_id FROM (
        SELECT event_type, event_id, user_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY (event_id * 2654435761) % 4294967296, event_id) AS rn
        FROM events)
      WHERE rn <= 5
      ORDER BY event_type, pick
    """)
  )

  /** Deterministic k-fold cross-validation assignment — fold id from the
    * same engine-stable multiplicative hash as sample_hash_bucket (mod k),
    * so folds are reproducible under any partitioning, disjoint and
    * exhaustive by construction, and any worker can recompute membership
    * without a lookup table. Emits per-(fold, lang) counts — the class-
    * balance check you run BEFORE training k models. Contrast
    * ml_train_test_split (the 80/20 two-way form, oracle-exempt via
    * MLlib); the pure-integer fold formula is fully hash-oracled.
    */
  val mlKfoldAssign = Op(
    "ml_kfold_assign",
    (s, d) => {
      val fold = pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)), lit(5))
      T.documents(s, d)
        .withColumn("fold", fold.cast("int"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("fold"), col("lang"))
    },
    Some("""
      SELECT CAST(((doc_id * 2654435761) % 4294967296) % 5 AS INTEGER) AS fold,
             lang, COUNT(*) AS n_docs
      FROM documents GROUP BY 1, 2 ORDER BY fold, lang
    """)
  )

  /** PCA feature reduction (r3c): project the 64-dim embeddings onto their
    * top-8 principal components — the standard pre-clustering /
    * pre-indexing compression (half of the IVF-PQ recipe; pairs with
    * emb_quantize_int8 which compresses per-dimension). The fit is a
    * distributed Gramian eigendecomposition (one treeAggregate over the
    * corpus, k×d model on the driver — the same "tiny model, big data"
    * shape as the IVF quantizer); transform is a broadcast matrix multiply,
    * scan-speed at 100 TB. Oracle-exempt (eigenvector sign and float
    * summation order are engine-specific); MLSpec asserts the variance
    * ordering, the dominance of the leading components, and projection
    * shape.
    */
  val mlPcaFeatures = Op(
    "ml_pca_features",
    (s, d) => {
      import org.apache.spark.ml.feature.PCA
      import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
      val feat = T.embeddings(s, d)
        .select(col("vec_id"),
          array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))
      val model = new PCA().setInputCol("features").setOutputCol("pca").setK(8).fit(feat)
      model.transform(feat)
        .select(col("vec_id"), vector_to_array(col("pca")).as("p"))
        .select(col("vec_id") +:
          (0 until 8).map(i => round(col("p").getItem(i), 4).as(s"pc$i")): _*)
        .orderBy(col("vec_id"))
    },
    None
  )

  /** Exact ROC AUC (r5) — the ranking metric that completes the evaluation
    * tier (`ml_eval_metrics` grades hard predictions, `ml_calibration_bins`
    * grades probabilities; AUC grades the SCORE ORDERING). Computed as the
    * tie-corrected Mann-Whitney rank sum: collapse docs to a per-score
    * histogram (map-side combine; cardinality = distinct scores, not docs),
    * cumulative count before each score group gives every tied doc its
    * average rank — kept integer by tracking 2·ranksum = Σ nPos_g·(2·C_g +
    * n_g + 1) — then AUC = (2R⁺ − nPos(nPos+1)) / (2·nPos·nNeg) emitted as
    * ppm floor division. The cumsum window is global but runs over the
    * score HISTOGRAM (bounded by |distinct scores|, ~dozens here), not the
    * corpus. Long math holds to ~3e9 docs per evaluation slice (2R ~ n²);
    * past that, widen the rank sums to DECIMAL(38,0) — eval sets are
    * sampled well below that in practice. Score deliberately excludes the
    * label keyword ('customer'), so the AUC is a real discrimination
    * measure (~0.64), not a degenerate 1.0.
    */
  private val mlRocAuc = Op(
    "ml_roc_auc",
    (s, d) => {
      val scored = T.documents(s, d).select(
        when(instr(col("text"), "customer") > 0, 1).otherwise(0).as("y"),
        expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
              + (length(text) - length(replace(text, 'pack', ''))) div 4
              + (length(text) - length(replace(text, 'ship', ''))) div 4
              as bigint)""").as("s"))
      val h = scored.groupBy(col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      val before = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      h.withColumn("cum_before", coalesce(sum(col("n")).over(before), lit(0L)))
        .agg(
          sum(col("npos") * (lit(2) * col("cum_before") + col("n") + lit(1)))
            .cast("long").as("two_r_pos"),
          sum(col("npos")).cast("long").as("n_pos"),
          sum(col("n") - col("npos")).cast("long").as("n_neg"))
        .withColumn("auc_ppm",
          expr("(two_r_pos - n_pos * (n_pos + 1)) * 500000 div (n_pos * n_neg)"))
        .select(col("n_pos"), col("n_neg"), col("two_r_pos"), col("auc_ppm"))
    },
    Some("""
      WITH d AS (
        SELECT CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s
        FROM documents),
      h AS (SELECT s, COUNT(*) AS n, SUM(y) AS npos FROM d GROUP BY s),
      c AS (SELECT s, n, npos,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_before
            FROM h),
      agg AS (SELECT CAST(SUM(npos * (2 * cum_before + n + 1)) AS BIGINT) AS two_r_pos,
                     CAST(SUM(npos) AS BIGINT) AS n_pos,
                     CAST(SUM(n - npos) AS BIGINT) AS n_neg
              FROM c)
      SELECT n_pos, n_neg, two_r_pos,
             (two_r_pos - n_pos * (n_pos + 1)) * 500000 // (n_pos * n_neg) AS auc_ppm
      FROM agg
    """)
  )

  /** Precision/recall/F1 vs threshold (r7) — the PR curve that completes
    * the evaluation tier alongside `ml_roc_auc` (same scored corpus, same
    * per-score histogram; ROC grades the ordering globally, PR grades each
    * operating point you could deploy at). One row per distinct score s:
    * predict positive when score ≥ s. The descending cumsum over the score
    * HISTOGRAM (cardinality = |distinct scores|, ~dozens — never the corpus)
    * yields tp and predicted-positive counts; fp/fn follow by subtraction
    * against the histogram totals (an unbounded frame over the same tiny
    * histogram, not a second scan). Every metric is exact integer ppm floor
    * division — precision = tp·1e6 div pp, recall = tp·1e6 div P, and F1
    * uses the identity 2tp + fp + fn = pp + P so it too is one exact
    * division — making the whole table bit-stable where float PR curves
    * are not. Long math holds to ~9e12 docs (tp·1e6 < 2^63).
    */
  private val mlPrAuc = Op(
    "ml_pr_auc",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = T.documents(s, d).select(
        when(instr(col("text"), "customer") > 0, 1).otherwise(0).as("y"),
        expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
              + (length(text) - length(replace(text, 'pack', ''))) div 4
              + (length(text) - length(replace(text, 'ship', ''))) div 4
              as bigint)""").as("s"))
      val h = scored.groupBy(col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      val desc = Window.orderBy(col("s").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy(col("s").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      h.withColumn("tp", sum(col("npos")).over(desc).cast("long"))
        .withColumn("pp", sum(col("n")).over(desc).cast("long"))
        .withColumn("p_tot", sum(col("npos")).over(all).cast("long"))
        .select(
          col("s").as("thr"), col("tp"),
          (col("pp") - col("tp")).as("fp"),
          (col("p_tot") - col("tp")).as("fn"),
          expr("tp * 1000000 div pp").as("precision_ppm"),
          expr("tp * 1000000 div p_tot").as("recall_ppm"),
          expr("2 * tp * 1000000 div (pp + p_tot)").as("f1_ppm"))
        .orderBy(col("thr").desc)
    },
    Some("""
      WITH d AS (
        SELECT CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s
        FROM documents),
      h AS (SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS npos
            FROM d GROUP BY s),
      c AS (SELECT s,
                   CAST(SUM(npos) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS tp,
                   CAST(SUM(n) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS pp,
                   CAST(SUM(npos) OVER () AS BIGINT) AS p_tot
            FROM h)
      SELECT s AS thr, tp, pp - tp AS fp, p_tot - tp AS fn,
             tp * 1000000 // pp AS precision_ppm,
             tp * 1000000 // p_tot AS recall_ppm,
             2 * tp * 1000000 // (pp + p_tot) AS f1_ppm
      FROM c
      ORDER BY thr DESC
    """)
  )

  /** Point-in-time-correct feature join (r7) — the feature-store pattern:
    * training labels live on a spine (user, event_time) and every feature
    * must be computed from data STRICTLY BEFORE that row's own time, or
    * the model trains on information it won't have at serving (label
    * leakage — the classic silent feature-store bug). Spine = purchases;
    * features = trailing 7-day click count, trailing 30-day view count,
    * and seconds since the last prior click. All three come from ONE pass:
    * a single shuffle on user_id, then value-based RANGE frames over the
    * integer µs timeline anchored at every event — [t−7d, t) and
    * [t−30d, t) counts and a strictly-prior running max — so the
    * exclusive upper bound IS the point-in-time rule, enforced by the
    * frame itself rather than by a join predicate. Value-based frames are
    * tie-insensitive by construction, and (user_id, ts) is collision-free
    * in the fixtures, so the table is deterministic. At 100 TB this is
    * the shape that beats the naive per-feature interval join: state is
    * linear in the per-user window, no row ever pairs with more than its
    * own trailing window, and adding a feature adds a column, not a pass.
    */
  private val mlFeaturePit = Op(
    "ml_feature_pit",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val day = 86400000000L
      val ev = T.events(s, d)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      val w7 = byUser.rangeBetween(-7 * day, -1)
      val w30 = byUser.rangeBetween(-30 * day, -1)
      val prior = byUser.rangeBetween(Window.unboundedPreceding, -1)
      ev
        .withColumn("clicks_7d",
          coalesce(sum(when(col("event_type") === "click", 1L)).over(w7), lit(0L)))
        .withColumn("views_30d",
          coalesce(sum(when(col("event_type") === "view", 1L)).over(w30), lit(0L)))
        .withColumn("last_click_us",
          max(when(col("event_type") === "click", col("ts_us"))).over(prior))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("clicks_7d"), col("views_30d"),
          // integer div (not `/`, which is double division) — both engines
          // truncate the positive age identically
          expr("(ts_us - last_click_us) div 1000000").as("last_click_age_s"))
        .orderBy(col("user_id"), col("ts_us"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us
        FROM events WHERE event_type IN ('click', 'view', 'purchase'))
      SELECT user_id, ts_us, clicks_7d, views_30d, last_click_age_s
      FROM (
        SELECT user_id, event_type, ts_us,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END) OVER (
                 PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS clicks_7d,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END) OVER (
                 PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 2592000000000 PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS views_30d,
               CAST((ts_us - MAX(CASE WHEN event_type = 'click' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                 // 1000000 AS BIGINT) AS last_click_age_s
        FROM ev)
      WHERE event_type = 'purchase'
      ORDER BY user_id, ts_us
    """)
  )

  /** Population Stability Index between the score distribution a model was
    * calibrated on and the one it now serves (the standard model-monitoring
    * drift metric: PSI = Σ (p−q)·ln(p/q); < 0.1 stable, > 0.25 retrain) —
    * completes the monitoring tier: qc_distribution_drift compares
    * categorical mixes, qc_embedding_drift vector spaces, this compares a
    * CONTINUOUS score across time. Reference = first 15 days of event
    * values, current = last 15. Bin edges are integer-exact: values floor
    * to µ-units, bin = (v_u·10) div (max_u+1) clamped to 10 bins (the max
    * is a 1-row broadcast scalar — no float division, so binning is
    * bit-identical across engines); add-one smoothing keeps one-sided-empty
    * bins finite. Each bin's (p−q)·ln(p/q) goes through DECIMAL(18,12)
    * before the total (the unigram-logprob ln discipline), so the 10-row
    * sum is order-free; the total rides a window over the BIN table, never
    * the event log (agg-before-window). Two scans of the source — one for
    * the max scalar, one for the binning (Spark does not share subtrees;
    * checkpointing the projection to save a histogram op's second narrow
    * scan costs more than it saves) — then one shuffle on bin.
    */
  val mlPsiStability = Op(
    "ml_psi_stability",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = T.events(s, d).select(col("ts"), col("value"))
        .withColumn("half",
          when(col("ts") < to_timestamp(lit("2024-01-16")), "ref").otherwise("cur"))
      val maxu = ev.agg(max(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("max_u"))
      val bins = ev.crossJoin(broadcast(maxu))
        .withColumn("bin",
          least(lit(9L), expr(
            "(CAST(floor(value * 1000000) AS BIGINT) * 10) div (max_u + 1)")))
        .groupBy(col("bin"))
        .agg(
          sum(when(col("half") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === "cur", 1L).otherwise(0L)).as("n_cur"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      bins
        .withColumn("p", (col("n_ref") + 1.0) / (sum(col("n_ref")).over(wAll) + 10.0))
        .withColumn("q", (col("n_cur") + 1.0) / (sum(col("n_cur")).over(wAll) + 10.0))
        .withColumn("contrib",
          ((col("p") - col("q")) * log(col("p") / col("q"))).cast("decimal(18,12)"))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("contrib").cast("double"), 6).as("psi_contrib"),
          round(sum(col("contrib")).over(wAll).cast("double"), 6).as("psi_total"))
        .orderBy(col("bin"))
    },
    Some("""
      WITH ev AS (
        SELECT value,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS half
        FROM events),
      mx AS (SELECT MAX(CAST(FLOOR(value * 1000000) AS BIGINT)) AS max_u FROM ev),
      bins AS (
        SELECT LEAST(9, (CAST(FLOOR(value * 1000000) AS BIGINT) * 10) // (max_u + 1)) AS bin,
               SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
               SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
        FROM ev CROSS JOIN mx GROUP BY 1),
      scored AS (
        SELECT bin, n_ref, n_cur,
               CAST(((n_ref + 1.0) / (SUM(n_ref) OVER () + 10.0)
                     - (n_cur + 1.0) / (SUM(n_cur) OVER () + 10.0))
                    * LN(((n_ref + 1.0) / (SUM(n_ref) OVER () + 10.0))
                         / ((n_cur + 1.0) / (SUM(n_cur) OVER () + 10.0)))
                    AS DECIMAL(18,12)) AS contrib
        FROM bins)
      SELECT CAST(bin AS BIGINT) AS bin, CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cur AS BIGINT) AS n_cur,
             ROUND(CAST(contrib AS DOUBLE), 6) AS psi_contrib,
             ROUND(CAST(SUM(contrib) OVER () AS DOUBLE), 6) AS psi_total
      FROM scored ORDER BY bin
    """)
  )

  /** Exact two-sample Kolmogorov-Smirnov drift statistic between the same
    * two score populations ml_psi_stability compares (first vs last 15
    * days) — the BINNING-FREE member of the drift pair: PSI depends on a
    * chosen bin grid and can hide a shift that lands inside one bin; KS is
    * sup_x |F_ref(x) − F_cur(x)| over the EXACT empirical CDFs, no grid at
    * all. Distributed shape: scores quantize to µ-units and collapse to
    * the distinct-value histogram FIRST (bounded by the value domain, the
    * ml_roc_auc precedent — the corpus is never sorted), cumulative counts
    * ride one window over that histogram, per-value deviation is the
    * difference of two floor-div ppm CDFs (exact long math), and the sup +
    * its argmax location come from one map-side-combinable
    * max(struct(d, −v)) — the LPA argmax idiom, lowest value wins ties.
    * One row out: the statistic, where it occurs, and the population
    * sizes.
    */
  val mlKsDrift = Op(
    "ml_ks_drift",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hist = T.events(s, d)
        .select(expr("CAST(floor(value * 1000000) AS BIGINT)").as("v_u"),
          when(col("ts") < to_timestamp(lit("2024-01-16")), "ref").otherwise("cur").as("half"))
        .groupBy(col("v_u"))
        .agg(
          sum(when(col("half") === "ref", 1L).otherwise(0L)).as("nr"),
          sum(when(col("half") === "cur", 1L).otherwise(0L)).as("nc"))
      val tot = hist.agg(sum(col("nr")).as("n_ref"), sum(col("nc")).as("n_cur"))
      val w = Window.orderBy(col("v_u")).rowsBetween(Window.unboundedPreceding, 0)
      hist
        .withColumn("cr", sum(col("nr")).over(w))
        .withColumn("cc", sum(col("nc")).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("d_ppm",
          abs(expr("(cr * 1000000) div n_ref - (cc * 1000000) div n_cur")))
        .agg(count(lit(1)).as("n_values"),
          max(struct(col("d_ppm"), (-col("v_u")).as("nv"))).as("m"),
          first(col("n_ref")).as("n_ref"), first(col("n_cur")).as("n_cur"))
        .select(col("n_ref"), col("n_cur"), col("n_values"),
          col("m.d_ppm").as("ks_ppm"), (-col("m.nv")).as("ks_at_value_u"))
    },
    Some("""
      WITH ev AS (
        SELECT CAST(FLOOR(value * 1000000) AS BIGINT) AS v_u,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS half
        FROM events),
      hist AS (
        SELECT v_u,
               SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS nr,
               SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS nc
        FROM ev GROUP BY v_u),
      tot AS (SELECT CAST(SUM(nr) AS BIGINT) AS n_ref,
                     CAST(SUM(nc) AS BIGINT) AS n_cur FROM hist),
      cum AS (
        SELECT v_u,
               CAST(SUM(nr) OVER (ORDER BY v_u ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cr,
               CAST(SUM(nc) OVER (ORDER BY v_u ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
        FROM hist),
      dev AS (
        SELECT v_u,
               ABS((cr * 1000000) // n_ref - (cc * 1000000) // n_cur) AS d_ppm
        FROM cum CROSS JOIN tot)
      SELECT n_ref, n_cur,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM dev) AS n_values,
             CAST((SELECT MAX(d_ppm) FROM dev) AS BIGINT) AS ks_ppm,
             (SELECT MIN(v_u) FROM dev
              WHERE d_ppm = (SELECT MAX(d_ppm) FROM dev)) AS ks_at_value_u
      FROM tot
    """)
  )

  /** Leave-one-out smoothed target encoding (r7; Micci-Barreca 2001 — the
    * categorical→numeric feature transform of every tabular model): encode
    * c_mktsegment by each order's segment conversion rate EXCLUDING the
    * order itself (plain per-category means leak the label into the
    * feature — the bug this construction exists to avoid), shrunk toward
    * the global prior with pseudo-count m=20 so rare categories don't
    * memorize noise: enc = ((seg_pos − y)·1e6 + m·prior_ppm) div
    * (seg_cnt − 1 + m). The encoding depends only on (segment, y), so the
    * whole op rides the contingency table: one broadcast dim join, one
    * map-side-combined (segment, y) count, windows over the ≤2·|segments|
    * aggregate (agg-before-window; the unpartitioned window spans ≤10
    * rows). All integer ppm — exact, hash-oracle-able, and the production
    * encode-back is a broadcast of this same tiny table. Target: order
    * fulfilled (o_orderstatus = 'F').
    */
  private val mlTargetEncode = Op(
    "ml_target_encode",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val cust = T.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val cont = T.orders(s, d)
        .select(col("o_custkey"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("segment"), col("y")).agg(count(lit(1)).as("n"))
      cont
        .withColumn("seg_cnt", sum(col("n")).over(W.partitionBy(col("segment"))))
        .withColumn("seg_pos", sum(expr("y * n")).over(W.partitionBy(col("segment"))))
        .withColumn("tot", sum(col("n")).over(W.partitionBy()))
        .withColumn("tot_pos", sum(expr("y * n")).over(W.partitionBy()))
        .withColumn("prior_ppm", expr("tot_pos * 1000000 div tot"))
        .withColumn("enc_ppm",
          expr("((seg_pos - y) * 1000000 + 20 * prior_ppm) div (seg_cnt - 1 + 20)"))
        .select(col("segment"), col("y"), col("n").as("n_orders"),
          col("prior_ppm"), col("enc_ppm"))
        .orderBy(col("segment"), col("y"))
    },
    Some("""
      WITH base AS (
        SELECT c_mktsegment AS segment,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      cont AS (SELECT segment, y, COUNT(*) AS n FROM base GROUP BY 1, 2),
      w AS (
        SELECT segment, y, n,
               CAST(SUM(n) OVER (PARTITION BY segment) AS BIGINT) AS seg_cnt,
               CAST(SUM(y * n) OVER (PARTITION BY segment) AS BIGINT) AS seg_pos,
               CAST(SUM(n) OVER () AS BIGINT) AS tot,
               CAST(SUM(y * n) OVER () AS BIGINT) AS tot_pos
        FROM cont)
      SELECT segment, y, n AS n_orders,
             CAST(tot_pos * 1000000 // tot AS BIGINT) AS prior_ppm,
             CAST(((seg_pos - y) * 1000000 + 20 * (tot_pos * 1000000 // tot))
               // (seg_cnt - 1 + 20) AS BIGINT) AS enc_ppm
      FROM w ORDER BY segment, y
    """)
  )

  /** χ² feature selection (r7; the Yang & Pedersen 1997 feature-ranking
    * baseline — which tokens are statistically DEPENDENT on the label, i.e.
    * worth keeping in the model's vocabulary): per-token 2×2 contingency
    * (A = positive docs containing it, B = negative; C/D the complements
    * from the broadcast global scalars), χ² = N·(AD−BC)² / ((A+B)(C+D)(A+C)(B+D))
    * in exact DECIMAL(38)/HUGEINT integer math emitted as χ²-milli (float
    * χ² would not hash-match; the numerator squares a value up to N², so
    * plain BIGINT overflows exactly at the documented scale — the
    * win_bollinger_bands widening discipline). One corpus scan: the
    * label rides THROUGH the token explode, the distinct (doc, token, y)
    * pairs feed the per-token counts AND the global doc scalars (both
    * restate the distinct and share its exchange at runtime), everything
    * after is map-side-combined counts + a broadcast 1-row join. df ≥ 5
    * and df < N guard degenerate denominators. Top-20 tokens by χ² — the model-ready vocabulary cut.
    */
  private val mlChi2FeatureSelect = Op(
    "ml_chi2_feature_select",
    (s, d) => {
      val exploded = T.documents(s, d)
        .select(col("doc_id"),
          when(instr(col("text"), "customer") > 0, 1L).otherwise(0L).as("y"),
          explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .distinct()
      val scalars = exploded.select(col("doc_id"), col("y")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      exploded.groupBy(col("token"))
        .agg(sum(col("y")).as("a"), count(lit(1)).as("df"))
        .crossJoin(broadcast(scalars))
        .filter(col("df") >= 5 && col("df") < col("n_docs"))
        .withColumn("chi2_milli", expr(
          """CAST((CAST(n_docs AS DECIMAL(20,0))
                   * (CAST(a AS DECIMAL(20,0)) * ((n_docs - n_pos) - (df - a))
                      - CAST(df - a AS DECIMAL(20,0)) * (n_pos - a))
                   * (CAST(a AS DECIMAL(20,0)) * ((n_docs - n_pos) - (df - a))
                      - CAST(df - a AS DECIMAL(20,0)) * (n_pos - a))
                   * 1000)
                  div nullif(CAST(df AS DECIMAL(20,0)) * (n_docs - df)
                       * n_pos * (n_docs - n_pos), 0) AS BIGINT)"""))
        .select(col("token"), col("df"), col("a").as("df_pos"), col("chi2_milli"))
        .orderBy(col("chi2_milli").desc, col("token"))
        .limit(20)
    },
    Some("""
      WITH exploded AS (
        SELECT DISTINCT doc_id,
               CAST(CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS BIGINT) AS y,
               token
        FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE len(token) > 0),
      scalars AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos
        FROM (SELECT DISTINCT doc_id, y FROM exploded)),
      per AS (
        SELECT token, CAST(SUM(y) AS BIGINT) AS a, COUNT(*) AS df
        FROM exploded GROUP BY token)
      SELECT token, df, a AS df_pos,
             CAST((CAST(n_docs AS HUGEINT)
                   * (CAST(a AS HUGEINT) * ((n_docs - n_pos) - (df - a))
                      - CAST(df - a AS HUGEINT) * (n_pos - a))
                   * (CAST(a AS HUGEINT) * ((n_docs - n_pos) - (df - a))
                      - CAST(df - a AS HUGEINT) * (n_pos - a))
                   * 1000)
                  // NULLIF(CAST(df AS HUGEINT) * (n_docs - df)
                      * n_pos * (n_docs - n_pos), 0) AS BIGINT) AS chi2_milli
      FROM per, scalars
      WHERE df >= 5 AND df < n_docs
      ORDER BY chi2_milli DESC, token LIMIT 20
    """)
  )

  /** Hash-oracled Lloyd k-means (r7; Lloyd 1957) — the clustering kernel
    * under `sim_label_centroids`/`sem_dedup_clusters`, here as the exact
    * ITERATIVE form, made deterministic the way `graph_pagerank` was: all
    * coordinates on the integer µ-unit grid (floor(x·1e6)) and centroid
    * updates by integer division (floored means), so assignment, update,
    * and inertia are bit-exact under any shuffle order — which
    * floating-point k-means never is (the 1e-6/dim quantization is far
    * below the data's spread and is exactly what buys the oracle). Seeds =
    * the k=8 smallest vec_ids; two full Lloyd rounds (fixed count keeps
    * the oracle a finite CTE chain); argmin by min(struct(dist, cluster))
    * — the LPA tie-break idiom. Plan shape is the textbook distributed
    * Lloyd: the exploded (vec, dim, xu) table is checkpointed ONCE (it
    * feeds both assigns and both updates), centroids are ≤ k·dims rows
    * BROADCAST to every assign — so each iteration is one broadcast join +
    * two map-side-combined aggs, no shuffle grows with corpus size, and
    * per-cluster sums fit BIGINT while inertia rides DECIMAL(38,0)
    * (1e9-vector corpora overflow a long exactly where it matters).
    */
  private val mlKmeansLloyd = Op(
    "ml_kmeans_lloyd",
    (s, d) => {
      // Materialization A/B (sf0.1 isolated, quiet host, r17): persist
      // (MEMORY_AND_DISK) both reused relations 0.76-0.83 s / the old
      // localCheckpoint pair 1.23-1.51 s / pure rescan 1.67 s. x is read
      // by every assign AND update (5 consumers), so it must materialize —
      // but the columnar cache beats checkpoint row blocks ~1.8x here,
      // same class-level finding as graph_label_propagation.
      val x = T.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          expr("CAST(floor(CAST(col AS DOUBLE) * 1000000) AS BIGINT)").as("xu"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c0 = x.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cluster"), col("dim"), col("xu").as("cu"))
      def assign(c: org.apache.spark.sql.DataFrame) =
        x.join(broadcast(c), Seq("dim"))
          .groupBy(col("vec_id"), col("cluster"))
          .agg(expr("sum((xu - cu) * (xu - cu))").as("dist"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist"), col("cluster"))).as("m"))
          .select(col("vec_id"), col("m.cluster").as("cluster"),
            col("m.dist").as("dist"))
      def update(a: org.apache.spark.sql.DataFrame) =
        x.join(a.select(col("vec_id"), col("cluster")), Seq("vec_id"))
          .groupBy(col("cluster"), col("dim"))
          .agg(expr("sum(xu) div count(1)").as("cu"))
      val a2 = assign(update(assign(c0))).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c2 = update(a2)
      val stats = a2.groupBy(col("cluster")).agg(
        count(lit(1)).as("n_vecs"),
        sum(col("dist").cast("decimal(38,0)")).cast("long").as("inertia_u2"))
      val preview = c2.groupBy(col("cluster")).agg(
        max(when(col("dim") === 1, col("cu"))).as("c_d1"),
        max(when(col("dim") === 2, col("cu"))).as("c_d2"),
        max(when(col("dim") === 3, col("cu"))).as("c_d3"),
        max(when(col("dim") === 4, col("cu"))).as("c_d4"))
      stats.join(preview, Seq("cluster")).orderBy(col("cluster"))
    },
    Some("""
      WITH x AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xu
        FROM embeddings),
      c0 AS (SELECT vec_id AS cluster, dim, xu AS cu FROM x WHERE vec_id < 8),
      d1 AS (SELECT x.vec_id, c.cluster, SUM((xu - cu) * (xu - cu)) AS dist
             FROM x JOIN c0 c USING (dim) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cluster FROM (
               SELECT vec_id, cluster,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cluster) AS rn
               FROM d1) WHERE rn = 1),
      c1 AS (SELECT a1.cluster, x.dim,
                    CAST(SUM(xu) // COUNT(*) AS BIGINT) AS cu
             FROM x JOIN a1 USING (vec_id) GROUP BY 1, 2),
      d2 AS (SELECT x.vec_id, c.cluster, SUM((xu - cu) * (xu - cu)) AS dist
             FROM x JOIN c1 c USING (dim) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cluster, dist FROM (
               SELECT vec_id, cluster, dist,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cluster) AS rn
               FROM d2) WHERE rn = 1),
      c2 AS (SELECT a2.cluster, x.dim,
                    CAST(SUM(xu) // COUNT(*) AS BIGINT) AS cu
             FROM x JOIN a2 USING (vec_id) GROUP BY 1, 2),
      stats AS (SELECT cluster, COUNT(*) AS n_vecs,
                       CAST(SUM(dist) AS BIGINT) AS inertia_u2
                FROM a2 GROUP BY 1),
      prev AS (SELECT cluster,
                      MAX(CASE WHEN dim = 1 THEN cu END) AS c_d1,
                      MAX(CASE WHEN dim = 2 THEN cu END) AS c_d2,
                      MAX(CASE WHEN dim = 3 THEN cu END) AS c_d3,
                      MAX(CASE WHEN dim = 4 THEN cu END) AS c_d4
               FROM c2 GROUP BY 1)
      SELECT stats.cluster, n_vecs, inertia_u2, c_d1, c_d2, c_d3, c_d4
      FROM stats JOIN prev ON stats.cluster = prev.cluster
      ORDER BY stats.cluster
    """)
  )

  /** NDCG@10 per language (r7; Järvelin & Kekäläinen 2002) — the
    * ranking-quality leg of the eval tier: ROC/PR/calibration score a
    * CLASSIFIER, NDCG scores a RANKER, which is what a search-intent
    * system actually ships. Graded relevance 3/2/1/0 by keyword tier
    * (first match wins), a deterministic keyword-density ranker, and
    * NDCG = DCG over the ranker's top-10 ÷ DCG over the ideal
    * (relevance-ordered) top-10, per lang. BOTH top-10s run on the custom
    * TopKPerKey operator — ranking eval never sorts the corpus, it keeps
    * a 10-row heap per language — over the scored relation: both heaps
    * restate its scan and share its lang exchange, which Spark's stage
    * reuse computes once; the gain/discount terms ((2^rel−1)/log2(rank+1))
    * ride the ≤10·|langs| heap output through the DECIMAL(18,12)-sum +
    * round-6 discipline. IDCG NULLIF-guarded (an all-irrelevant segment
    * yields NULL, not a crash).
    */
  private val mlNdcgAtK = Op(
    "ml_ndcg_at_k",
    (s, d) => {
      import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
      val scored = T.documents(s, d).select(
          col("doc_id"), col("lang"),
          when(instr(col("text"), "customer") > 0, 3L)
            .when(instr(col("text"), "scan") > 0, 2L)
            .when(instr(col("text"), "merge") > 0, 1L).otherwise(0L).as("rel"),
          // the ranker deliberately does NOT see 'customer' (the top
          // relevance tier): a ranker keyed on the grading token scores a
          // degenerate NDCG of exactly 1.0 in every segment
          expr("""CAST((length(text) - length(replace(text, 'scan', ''))) div 4
                + (length(text) - length(replace(text, 'order', ''))) div 5
                + (length(text) - length(replace(text, 'pack', ''))) div 4
                AS BIGINT)""").as("score"))
      // both heaps take the same `scored`, hence one analyzed plan and
      // one shared lang exchange
      def top10(by: String) =
        graft.plans.TopKPerKey.of(scored, 10, Seq("lang"),
          Seq(by -> Descending, "doc_id" -> Ascending))
      val dcg = top10("score")
        .groupBy(col("lang"))
        .agg(round(sum(
          (expr("CAST(shiftleft(1L, CAST(rel AS INT)) - 1 AS DOUBLE)")
            / expr("log2(rn + 1)")).cast("decimal(18,12)"))
          .cast("double"), 6).as("dcg10"))
      val idcg = top10("rel")
        .groupBy(col("lang"))
        .agg(round(sum(
          (expr("CAST(shiftleft(1L, CAST(rel AS INT)) - 1 AS DOUBLE)")
            / expr("log2(rn + 1)")).cast("decimal(18,12)"))
          .cast("double"), 6).as("idcg10"))
      dcg.join(idcg, Seq("lang"))
        .withColumn("ndcg10",
          round(col("dcg10") / expr("nullif(idcg10, CAST(0.0 AS DOUBLE))"), 6))
        .orderBy(col("lang"))
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               CAST(CASE WHEN strpos(text, 'customer') > 0 THEN 3
                         WHEN strpos(text, 'scan') > 0 THEN 2
                         WHEN strpos(text, 'merge') > 0 THEN 1
                         ELSE 0 END AS BIGINT) AS rel,
               CAST((len(text) - len(replace(text, 'scan', ''))) // 4
                  + (len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                 AS BIGINT) AS score
        FROM documents),
      byscore AS (
        SELECT lang, rel,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY score DESC, doc_id) AS rn
        FROM scored),
      byrel AS (
        SELECT lang, rel,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY rel DESC, doc_id) AS rn
        FROM scored),
      dcg AS (
        SELECT lang,
               ROUND(CAST(SUM(CAST((CAST(2 AS BIGINT) ** rel - 1)
                     / LOG2(rn + 1) AS DECIMAL(18,12))) AS DOUBLE), 6) AS dcg10
        FROM byscore WHERE rn <= 10 GROUP BY lang),
      idcg AS (
        SELECT lang,
               ROUND(CAST(SUM(CAST((CAST(2 AS BIGINT) ** rel - 1)
                     / LOG2(rn + 1) AS DECIMAL(18,12))) AS DOUBLE), 6) AS idcg10
        FROM byrel WHERE rn <= 10 GROUP BY lang)
      SELECT dcg.lang, dcg10, idcg10,
             ROUND(dcg10 / NULLIF(idcg10, 0.0), 6) AS ndcg10
      FROM dcg JOIN idcg ON dcg.lang = idcg.lang
      ORDER BY dcg.lang
    """)
  )

  /** Segment-sliced AUC (r7) — the fairness/robustness readout a global
    * AUC hides: a model can score 0.8 overall while collapsing to coin-flip
    * on one language (exactly the failure mode multilingual intent models
    * ship with). Same tie-corrected Mann-Whitney histogram kernel as
    * `ml_roc_auc`, computed PER LANGUAGE: one (lang, score) histogram from
    * one corpus scan, cumulative-count windows partitioned by lang riding
    * the |langs|·|scores| aggregate (agg-before-window, now with a
    * partition key — nothing is unpartitioned here), integer-ppm AUC per
    * segment plus the worst−best spread the reviewer actually reads.
    */
  private val mlAucBySegment = Op(
    "ml_auc_by_segment",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val h = T.documents(s, d).select(
          col("lang"),
          when(instr(col("text"), "customer") > 0, 1).otherwise(0).as("y"),
          expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
                + (length(text) - length(replace(text, 'pack', ''))) div 4
                + (length(text) - length(replace(text, 'ship', ''))) div 4
                as bigint)""").as("s"))
        .groupBy(col("lang"), col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      val before = W.partitionBy(col("lang")).orderBy(col("s"))
        .rowsBetween(W.unboundedPreceding, -1)
      val per = h
        .withColumn("cum_before", coalesce(sum(col("n")).over(before), lit(0L)))
        .groupBy(col("lang"))
        .agg(
          sum(col("npos") * (lit(2) * col("cum_before") + col("n") + lit(1)))
            .cast("long").as("two_r_pos"),
          sum(col("npos")).cast("long").as("n_pos"),
          sum(col("n") - col("npos")).cast("long").as("n_neg"))
        .withColumn("auc_ppm",
          expr("(two_r_pos - n_pos * (n_pos + 1)) * 500000 div (n_pos * n_neg)"))
      per
        .withColumn("spread_ppm",
          max(col("auc_ppm")).over(W.partitionBy())
            - min(col("auc_ppm")).over(W.partitionBy()))
        .select(col("lang"), col("n_pos"), col("n_neg"), col("auc_ppm"),
          col("spread_ppm"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH d AS (
        SELECT lang,
               CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s
        FROM documents),
      h AS (SELECT lang, s, COUNT(*) AS n, SUM(y) AS npos FROM d GROUP BY 1, 2),
      c AS (SELECT lang, s, n, npos,
                   CAST(COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_before
            FROM h),
      per AS (
        SELECT lang,
               CAST(SUM(npos * (2 * cum_before + n + 1)) AS BIGINT) AS two_r_pos,
               CAST(SUM(npos) AS BIGINT) AS n_pos,
               CAST(SUM(n - npos) AS BIGINT) AS n_neg
        FROM c GROUP BY lang),
      scored AS (
        SELECT lang, n_pos, n_neg,
               (two_r_pos - n_pos * (n_pos + 1)) * 500000 // (n_pos * n_neg) AS auc_ppm
        FROM per)
      SELECT lang, n_pos, n_neg, auc_ppm,
             MAX(auc_ppm) OVER () - MIN(auc_ppm) OVER () AS spread_ppm
      FROM scored ORDER BY lang
    """)
  )

  /** Operating-point selection (r7) — the decision `ml_pr_auc`'s curve
    * exists to feed: a deployed classifier runs at ONE threshold, and this
    * picks it — argmax-F1 over the same score histogram (ties break to
    * the LOWER threshold: equal F1, more recall), emitting the full
    * confusion matrix and precision/recall/F1/accuracy in ppm at that
    * point, i.e. the numbers that go in the model card. Same
    * agg-before-window shape (cumulative windows over the |scores|-row
    * histogram, never the corpus), the argmax one `max(struct)` over that
    * histogram — no second pass, no sort.
    */
  /** Cross-validated AUC stability (r7) — the variance read a single AUC
    * hides: per-fold AUC over the `ml_kfold_assign` partition (same Knuth
    * multiplicative-hash folds — recomputable anywhere) with the
    * Mann-Whitney histogram kernel PARTITIONED BY FOLD; a model whose
    * fold-AUCs span 0.15 isn't a 0.7-AUC model, it's an unstable one
    * (the decision CV exists to inform). One (fold, score) histogram from
    * one scan, fold-partitioned cumulative windows over the bounded
    * aggregate, integer-ppm per-fold AUC plus the mean and worst−best
    * spread every reviewer reads first.
    */
  private val mlCvAucStability = Op(
    "ml_cv_auc_stability",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val fold = pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)), lit(5))
      val h = T.documents(s, d).select(
          fold.cast("int").as("fold"),
          when(instr(col("text"), "customer") > 0, 1).otherwise(0).as("y"),
          expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
                + (length(text) - length(replace(text, 'pack', ''))) div 4
                + (length(text) - length(replace(text, 'ship', ''))) div 4
                as bigint)""").as("s"))
        .groupBy(col("fold"), col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      val before = W.partitionBy(col("fold")).orderBy(col("s"))
        .rowsBetween(W.unboundedPreceding, -1)
      h.withColumn("cum_before", coalesce(sum(col("n")).over(before), lit(0L)))
        .groupBy(col("fold"))
        .agg(
          sum(col("npos") * (lit(2) * col("cum_before") + col("n") + lit(1)))
            .cast("long").as("two_r_pos"),
          sum(col("npos")).cast("long").as("n_pos"),
          sum(col("n") - col("npos")).cast("long").as("n_neg"))
        .withColumn("auc_ppm",
          expr("(two_r_pos - n_pos * (n_pos + 1)) * 500000 div (n_pos * n_neg)"))
        .withColumn("mean_auc_ppm",
          expr("sum(auc_ppm) OVER () div count(1) OVER ()"))
        .withColumn("spread_ppm",
          max(col("auc_ppm")).over(W.partitionBy())
            - min(col("auc_ppm")).over(W.partitionBy()))
        .select(col("fold"), col("n_pos"), col("n_neg"), col("auc_ppm"),
          col("mean_auc_ppm"), col("spread_ppm"))
        .orderBy(col("fold"))
    },
    Some("""
      WITH d AS (
        SELECT CAST(((doc_id * 2654435761) % 4294967296) % 5 AS INT) AS fold,
               CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s
        FROM documents),
      h AS (SELECT fold, s, COUNT(*) AS n, SUM(y) AS npos FROM d GROUP BY 1, 2),
      c AS (SELECT fold, s, n, npos,
                   CAST(COALESCE(SUM(n) OVER (PARTITION BY fold ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_before
            FROM h),
      per AS (
        SELECT fold,
               CAST(SUM(npos * (2 * cum_before + n + 1)) AS BIGINT) AS two_r_pos,
               CAST(SUM(npos) AS BIGINT) AS n_pos,
               CAST(SUM(n - npos) AS BIGINT) AS n_neg
        FROM c GROUP BY fold),
      scored AS (
        SELECT fold, n_pos, n_neg,
               (two_r_pos - n_pos * (n_pos + 1)) * 500000 // (n_pos * n_neg) AS auc_ppm
        FROM per)
      SELECT fold, n_pos, n_neg, auc_ppm,
             CAST(SUM(auc_ppm) OVER () // COUNT(*) OVER () AS BIGINT) AS mean_auc_ppm,
             MAX(auc_ppm) OVER () - MIN(auc_ppm) OVER () AS spread_ppm
      FROM scored ORDER BY fold
    """)
  )

  private lazy val mlOperatingPoint = Op(
    "ml_operating_point",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val scored = T.documents(s, d).select(
        when(instr(col("text"), "customer") > 0, 1).otherwise(0).as("y"),
        expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
              + (length(text) - length(replace(text, 'pack', ''))) div 4
              + (length(text) - length(replace(text, 'ship', ''))) div 4
              as bigint)""").as("s"))
      val h = scored.groupBy(col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      val desc = W.orderBy(col("s").desc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val all = W.orderBy(col("s").desc)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      h.withColumn("tp", sum(col("npos")).over(desc).cast("long"))
        .withColumn("pp", sum(col("n")).over(desc).cast("long"))
        .withColumn("p_tot", sum(col("npos")).over(all).cast("long"))
        .withColumn("n_tot", sum(col("n")).over(all).cast("long"))
        .withColumn("f1_ppm", expr("2 * tp * 1000000 div (pp + p_tot)"))
        .agg(max(struct(col("f1_ppm"), (-col("s")).as("neg_thr"),
          col("tp"), col("pp"), col("p_tot"), col("n_tot"))).as("m"))
        .select(
          (-col("m.neg_thr")).as("best_thr"),
          col("m.f1_ppm").as("f1_ppm"),
          col("m.tp").as("tp"),
          (col("m.pp") - col("m.tp")).as("fp"),
          (col("m.p_tot") - col("m.tp")).as("fn"),
          (col("m.n_tot") - col("m.pp") - col("m.p_tot") + col("m.tp")).as("tn"),
          expr("m.tp * 1000000 div m.pp").as("precision_ppm"),
          expr("m.tp * 1000000 div m.p_tot").as("recall_ppm"),
          expr("(m.n_tot - m.pp - m.p_tot + 2 * m.tp) * 1000000 div m.n_tot")
            .as("accuracy_ppm"))
    },
    Some("""
      WITH d AS (
        SELECT CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s
        FROM documents),
      h AS (SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS npos
            FROM d GROUP BY s),
      c AS (SELECT s,
                   CAST(SUM(npos) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS tp,
                   CAST(SUM(n) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS pp,
                   CAST(SUM(npos) OVER () AS BIGINT) AS p_tot,
                   CAST(SUM(n) OVER () AS BIGINT) AS n_tot
            FROM h),
      f AS (SELECT *, 2 * tp * 1000000 // (pp + p_tot) AS f1_ppm FROM c),
      best AS (SELECT * FROM f ORDER BY f1_ppm DESC, s LIMIT 1)
      SELECT s AS best_thr, f1_ppm, tp, pp - tp AS fp, p_tot - tp AS fn,
             n_tot - pp - p_tot + tp AS tn,
             tp * 1000000 // pp AS precision_ppm,
             tp * 1000000 // p_tot AS recall_ppm,
             (n_tot - pp - p_tot + 2 * tp) * 1000000 // n_tot AS accuracy_ppm
      FROM best
    """)
  )

  /** Per-group feature standardization (r7) — the (x−μ)/σ transform every
    * numeric feature crosses before training, as an explicit oracled op
    * (the spark.ml StandardScaler inside `ml_feature_pipeline` is
    * exempt-tier; this is the exact contract it implements): per-language
    * moments from DECIMAL-exact sums (μ and σ² are ratios of exact sums —
    * the only floating steps are two divisions and one sqrt, and IEEE
    * sqrt is correctly rounded in BOTH engines, unlike ln/pow — which is
    * what makes z-scores hash-matchable while perplexities need the
    * decimal-sum discipline), then the standardized value re-aggregated
    * as a per-group z-bucket histogram: broadcast the ≤|langs|-row moment
    * table back, never a second scan shape — one corpus pass + one
    * broadcast join at any scale.
    */
  private val mlFeatureStandardize = Op(
    "ml_feature_standardize",
    (s, d) => {
      val moments = T.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("decimal(28,0)")).as("sx"),
          sum((col("n_chars") * col("n_chars")).cast("decimal(28,0)")).as("sxx"))
        .select(col("lang"), col("n"),
          (col("sx").cast("double") / col("n")).as("mu"),
          sqrt((col("sxx").cast("double") / col("n"))
            - (col("sx").cast("double") / col("n"))
              * (col("sx").cast("double") / col("n"))).as("sigma"))
      T.documents(s, d).select(col("lang"), col("n_chars"))
        .join(broadcast(moments), Seq("lang"))
        .withColumn("z", (col("n_chars") - col("mu")) / col("sigma"))
        .groupBy(col("lang"),
          expr("CAST(floor(z * 2) AS BIGINT)").as("half_z_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("z")), 6).as("z_min"),
          round(max(col("z")), 6).as("z_max"))
        .orderBy(col("lang"), col("half_z_bucket"))
    },
    Some("""
      WITH m AS (
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE) / COUNT(*) AS mu,
               SQRT(CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE) / COUNT(*)
                    - (CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE) / COUNT(*))
                      * (CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE) / COUNT(*)))
                 AS sigma
        FROM documents GROUP BY lang),
      z AS (
        SELECT d.lang, (n_chars - mu) / sigma AS z
        FROM documents d JOIN m ON d.lang = m.lang)
      SELECT lang, CAST(FLOOR(z * 2) AS BIGINT) AS half_z_bucket,
             COUNT(*) AS n_docs,
             ROUND(MIN(z), 6) AS z_min, ROUND(MAX(z), 6) AS z_max
      FROM z GROUP BY 1, 2 ORDER BY lang, half_z_bucket
    """)
  )

  /** Cumulative gains / lift deciles (r8) — the campaign-targeting read of
    * the same scored corpus as `ml_roc_auc`/`ml_pr_auc`: rank by score,
    * split into 10 equal-population deciles, report per-decile positives,
    * cumulative capture rate, and lift vs the base rate. Built entirely on
    * the per-score HISTOGRAM (|distinct scores| rows, never the corpus):
    * decile boundary ranks b_k = k·N div 10 land inside histogram buckets,
    * and positives at an interior rank use the exact grouped-data (Lorenz)
    * interpolation pos_at(r) = pos_cum_lo + (r − cum_lo)·npos div n — floor
    * division, so the apportionment is deterministic integer math in both
    * engines and telescopes to exactly P at b_10 (how grouped gains charts
    * are defined when ties span boundaries; a per-row NTILE would need a
    * corpus-wide SinglePartition sort). The histogram feeds both the
    * totals scalar and the boundary window; each restates the groupBy(s)
    * aggregate and Spark computes its identical exchange once. All
    * windows run over ≤ max(|scores|, 11) rows. Long math holds to ~9e12
    * docs (P·1e6 < 2^63).
    */
  private val mlGainLiftDeciles = Op(
    "ml_gain_lift_deciles",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = T.documents(s, d).select(
        when(instr(col("text"), "customer") > 0, 1).otherwise(0).as("y"),
        expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
              + (length(text) - length(replace(text, 'pack', ''))) div 4
              + (length(text) - length(replace(text, 'ship', ''))) div 4
              as bigint)""").as("s"))
      val h = scored.groupBy(col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      val desc = Window.orderBy(col("s").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = h
        .withColumn("cum_hi", sum(col("n")).over(desc).cast("long"))
        .withColumn("pos_cum_hi", sum(col("npos")).over(desc).cast("long"))
        .select(col("n"), col("npos"),
          (col("cum_hi") - col("n")).as("cum_lo"), col("cum_hi"),
          (col("pos_cum_hi") - col("npos")).as("pos_cum_lo"))
      val tot = h.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("npos")).cast("long").as("pp"))
      val bounds = tot
        .select(explode(sequence(lit(0), lit(10))).as("k"), col("nn"), col("pp"))
        .withColumn("b", expr("k * nn div 10"))
      val pa = bounds.join(c, col("b") > col("cum_lo") && col("b") <= col("cum_hi"), "left")
        .select(col("k"), col("nn"), col("pp"), col("b"),
          coalesce(col("pos_cum_lo") +
            expr("(b - cum_lo) * npos div n"), lit(0L)).as("pos_at"))
      val wk = Window.orderBy(col("k"))
      pa.withColumn("b_prev", lag(col("b"), 1).over(wk))
        .withColumn("pos_prev", lag(col("pos_at"), 1).over(wk))
        .filter(col("k") >= 1)
        .select(col("k").cast("int").as("decile"),
          (col("b") - col("b_prev")).as("n_docs"),
          (col("pos_at") - col("pos_prev")).as("n_pos"),
          expr("pos_at * 1000000 div pp").as("cum_capture_ppm"),
          expr("((pos_at - pos_prev) * 1000000 div nullif(b - b_prev, 0)) * nn div pp")
            .as("lift_ppm"))
        .orderBy(col("decile"))
    },
    Some("""
      WITH d AS (
        SELECT CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s
        FROM documents),
      h AS (SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS npos
            FROM d GROUP BY s),
      c AS (SELECT n, npos,
                   CAST(SUM(n) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                     AS BIGINT) AS cum_lo,
                   CAST(SUM(n) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_hi,
                   CAST(SUM(npos) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - npos
                     AS BIGINT) AS pos_cum_lo
            FROM h),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(npos) AS BIGINT) AS pp
              FROM h),
      bounds AS (SELECT unnest(generate_series(0, 10)) AS k, nn, pp FROM tot),
      pa AS (
        SELECT k, nn, pp, b,
               COALESCE(pos_cum_lo + (b - cum_lo) * npos // n, 0) AS pos_at
        FROM (SELECT k, nn, pp, k * nn // 10 AS b FROM bounds) bd
        LEFT JOIN c ON bd.b > c.cum_lo AND bd.b <= c.cum_hi),
      w AS (
        SELECT k, nn, pp, b, pos_at,
               LAG(b) OVER (ORDER BY k) AS b_prev,
               LAG(pos_at) OVER (ORDER BY k) AS pos_prev
        FROM pa)
      SELECT CAST(k AS INTEGER) AS decile,
             b - b_prev AS n_docs,
             pos_at - pos_prev AS n_pos,
             pos_at * 1000000 // pp AS cum_capture_ppm,
             ((pos_at - pos_prev) * 1000000 // NULLIF(b - b_prev, 0)) * nn // pp AS lift_ppm
      FROM w WHERE k >= 1
      ORDER BY decile
    """)
  )

  /** Weight-of-Evidence encoding + information value (r8; the standard
    * credit-scoring feature transform, Siddiqi 2006) — per-category
    * woe = ln((pos_share)/(neg_share)) with the 0.5 Laplace smoothing that
    * keeps empty cells finite, and the IV term (pos_share − neg_share)·woe
    * whose sum ranks feature predictiveness. Complements ml_target_encode
    * (posterior mean) with the log-odds encoding a scorecard needs. One
    * scan to the (lang, n, pos) contingency, totals broadcast back as a
    * 1-row scalar; ln agrees between the JDK and DuckDB on these operands
    * (precedent: txt_collocation_pmi), results rounded to 6 decimals.
    */
  private val mlWoeEncoding = Op(
    "ml_woe_encoding",
    (s, d) => {
      val bins = T.documents(s, d)
        .select(col("lang"),
          when(instr(col("text"), "customer") > 0, 1L).otherwise(0L).as("y"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
        .withColumn("n_neg", col("n") - col("n_pos"))
      val tot = bins.agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("tn"))
      bins.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"), col("n_pos"), col("n_neg"),
          round(log(((col("n_pos") + lit(0.5)) / col("tp")) /
            ((col("n_neg") + lit(0.5)) / col("tn"))), 6).as("woe"),
          round((((col("n_pos") + lit(0.5)) / col("tp")) -
            ((col("n_neg") + lit(0.5)) / col("tn"))) *
            log(((col("n_pos") + lit(0.5)) / col("tp")) /
              ((col("n_neg") + lit(0.5)) / col("tn"))), 6).as("iv_term"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH bins AS (
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        FROM documents GROUP BY lang),
      b2 AS (SELECT lang, n, n_pos, n - n_pos AS n_neg FROM bins),
      tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp, CAST(SUM(n_neg) AS BIGINT) AS tn FROM b2)
      SELECT lang, n, n_pos, n_neg,
             ROUND(LN(((n_pos + 0.5) / tp) / ((n_neg + 0.5) / tn)), 6) AS woe,
             ROUND((((n_pos + 0.5) / tp) - ((n_neg + 0.5) / tn)) *
                   LN(((n_pos + 0.5) / tp) / ((n_neg + 0.5) / tn)), 6) AS iv_term
      FROM b2, tot
      ORDER BY lang
    """)
  )

  /** Brier-score Murphy decomposition (r8; Murphy 1973) — reliability,
    * resolution, uncertainty: WHY a probabilistic classifier's Brier score
    * is what it is (miscalibration vs discrimination), the diagnosis the
    * single calibration curve doesn't quantify. Everything rides the
    * per-score histogram: predicted prob p_k = s·1e6 div max_s (broadcast
    * max), per-bin observed rate and the global base rate as exact ppm
    * floor divisions, and the three components as Σ n·Δppm² div N in
    * ppm²-scale (e-12) integers — DECIMAL(38,0) sums (Δ² reaches 1e12, a
    * long overflows past ~9e6 rows), emitted as BIGINT. Quantization is
    * the documented contract (both engines floor identically);
    * brier_e12 = rel − res + unc by Murphy's identity.
    */
  private val mlBrierDecomposition = Op(
    "ml_brier_decomposition",
    (s, d) => {
      val scored = T.documents(s, d).select(
        when(instr(col("text"), "customer") > 0, 1L).otherwise(0L).as("y"),
        expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
              + (length(text) - length(replace(text, 'pack', ''))) div 4
              + (length(text) - length(replace(text, 'ship', ''))) div 4
              as bigint)""").as("s"))
      val h = scored.groupBy(col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
        .localCheckpoint(true)
      val tot = h.agg(sum(col("n")).as("nn"), sum(col("npos")).as("pp"),
        max(col("s")).as("smax"))
      h.crossJoin(broadcast(tot))
        .select(col("n"), col("npos"), col("nn"),
          expr("s * 1000000 div smax").as("p_ppm"),
          expr("npos * 1000000 div n").as("obar_k_ppm"),
          expr("pp * 1000000 div nn").as("obar_ppm"))
        .groupBy(col("nn"), col("obar_ppm"))
        .agg(
          sum((col("p_ppm") - col("obar_k_ppm")) * (col("p_ppm") - col("obar_k_ppm"))
            .cast("decimal(38,0)") * col("n")).as("rel_sum"),
          sum((col("obar_k_ppm") - col("obar_ppm")) * (col("obar_k_ppm") - col("obar_ppm"))
            .cast("decimal(38,0)") * col("n")).as("res_sum"))
        .select(col("nn").as("n_docs"), col("obar_ppm"),
          expr("cast(rel_sum div nn as bigint)").as("rel_e12"),
          expr("cast(res_sum div nn as bigint)").as("res_e12"),
          expr("obar_ppm * (1000000 - obar_ppm)").as("unc_e12"))
        .withColumn("brier_e12",
          col("rel_e12") - col("res_e12") + col("unc_e12"))
    },
    Some("""
      WITH d AS (
        SELECT CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s
        FROM documents),
      h AS (SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS npos
            FROM d GROUP BY s),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(npos) AS BIGINT) AS pp,
                     MAX(s) AS smax FROM h),
      e AS (
        SELECT n, npos, nn,
               s * 1000000 // smax AS p_ppm,
               npos * 1000000 // n AS obar_k_ppm,
               pp * 1000000 // nn AS obar_ppm
        FROM h, tot),
      agg AS (
        SELECT nn, obar_ppm,
               SUM(CAST((p_ppm - obar_k_ppm) * (p_ppm - obar_k_ppm) AS HUGEINT) * n) AS rel_sum,
               SUM(CAST((obar_k_ppm - obar_ppm) * (obar_k_ppm - obar_ppm) AS HUGEINT) * n) AS res_sum
        FROM e GROUP BY nn, obar_ppm)
      SELECT nn AS n_docs, obar_ppm,
             CAST(rel_sum // nn AS BIGINT) AS rel_e12,
             CAST(res_sum // nn AS BIGINT) AS res_e12,
             obar_ppm * (1000000 - obar_ppm) AS unc_e12,
             CAST(rel_sum // nn AS BIGINT) - CAST(res_sum // nn AS BIGINT)
               + obar_ppm * (1000000 - obar_ppm) AS brier_e12
      FROM agg
    """)
  )

  /** Group-fairness audit (r8; demographic parity + equalized odds,
    * Hardt et al. 2016) — the per-group report a deployed classifier owes
    * its model card: at the fixed deployment threshold (score ≥ 2),
    * per-language selection rate (demographic parity), TPR and FPR
    * (equalized odds), plus the corpus-wide max−min parity gaps. One scan
    * to the per-lang 2×2 cells; the gap columns are unbounded-frame
    * windows over the ≤ |langs| aggregate rows (agg-before-window). All
    * rates exact integer ppm — a fairness number that moves only when the
    * data does, never with partitioning.
    */
  private val mlFairnessParity = Op(
    "ml_fairness_parity",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = T.documents(s, d).select(col("lang"),
          when(instr(col("text"), "customer") > 0, 1L).otherwise(0L).as("y"),
          when(expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
              + (length(text) - length(replace(text, 'pack', ''))) div 4
              + (length(text) - length(replace(text, 'ship', ''))) div 4
              as bigint)""") >= 2, 1L).otherwise(0L).as("pred"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"),
          sum(col("pred")).as("pp"),
          sum(col("y") * col("pred")).as("tp"))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cells
        .select(col("lang"), col("n"), col("npos"), col("pp"), col("tp"),
          expr("pp * 1000000 div n").as("sel_ppm"),
          expr("tp * 1000000 div npos").as("tpr_ppm"),
          expr("(pp - tp) * 1000000 div (n - npos)").as("fpr_ppm"))
        .withColumn("parity_gap_ppm",
          max(col("sel_ppm")).over(w) - min(col("sel_ppm")).over(w))
        .withColumn("tpr_gap_ppm",
          max(col("tpr_ppm")).over(w) - min(col("tpr_ppm")).over(w))
        .orderBy(col("lang"))
    },
    Some("""
      WITH cells AS (
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
               CAST(SUM(CASE WHEN (len(text) - len(replace(text, 'order', ''))) // 5
                      + (len(text) - len(replace(text, 'pack', ''))) // 4
                      + (len(text) - len(replace(text, 'ship', ''))) // 4 >= 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS pp,
               CAST(SUM(CASE WHEN strpos(text, 'customer') > 0
                         AND (len(text) - len(replace(text, 'order', ''))) // 5
                           + (len(text) - len(replace(text, 'pack', ''))) // 4
                           + (len(text) - len(replace(text, 'ship', ''))) // 4 >= 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp
        FROM documents GROUP BY lang),
      r AS (
        SELECT lang, n, npos, pp, tp,
               pp * 1000000 // n AS sel_ppm,
               tp * 1000000 // npos AS tpr_ppm,
               (pp - tp) * 1000000 // (n - npos) AS fpr_ppm
        FROM cells)
      SELECT lang, n, npos, pp, tp, sel_ppm, tpr_ppm, fpr_ppm,
             MAX(sel_ppm) OVER () - MIN(sel_ppm) OVER () AS parity_gap_ppm,
             MAX(tpr_ppm) OVER () - MIN(tpr_ppm) OVER () AS tpr_gap_ppm
      FROM r ORDER BY lang
    """)
  )

  /** Champion/challenger shadow evaluation (r8) — the side-by-side a model
    * rollout gate actually reads: the incumbent scorer and a challenger
    * (different keyword weights) scored on the SAME corpus in one scan,
    * each graded by the tie-corrected Mann-Whitney histogram kernel
    * (ml_roc_auc's, PARTITIONED BY MODEL — two histograms, one shuffle),
    * plus the decision-level disagreement rate at the deployment
    * threshold. Everything integer ppm; the per-model AUC windows ride
    * the (model, score) histogram, never the corpus.
    */
  private val mlChampionChallenger = Op(
    "ml_champion_challenger",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = T.documents(s, d).select(
        when(instr(col("text"), "customer") > 0, 1L).otherwise(0L).as("y"),
        expr("""cast((length(text) - length(replace(text, 'order', ''))) div 5
              + (length(text) - length(replace(text, 'pack', ''))) div 4
              + (length(text) - length(replace(text, 'ship', ''))) div 4
              as bigint)""").as("s_champ"),
        expr("""cast((length(text) - length(replace(text, 'order', ''))) div 4
              + (length(text) - length(replace(text, 'window', ''))) div 6
              + (length(text) - length(replace(text, 'ship', ''))) div 5
              as bigint)""").as("s_chall"))
        .localCheckpoint(true)
      val dis = scored.agg(
        count(lit(1)).as("n_docs"),
        sum(when((col("s_champ") >= 2) =!= (col("s_chall") >= 2), 1L)
          .otherwise(0L)).as("n_disagree"))
        .select(col("n_docs"), col("n_disagree"),
          expr("n_disagree * 1000000 div n_docs").as("disagree_ppm"))
      val long = scored.select(lit("champion").as("model"), col("y"), col("s_champ").as("s"))
        .unionByName(scored.select(lit("challenger").as("model"), col("y"),
          col("s_chall").as("s")))
      val h = long.groupBy(col("model"), col("s"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      val before = Window.partitionBy(col("model")).orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("cum_before", coalesce(sum(col("n")).over(before), lit(0L)))
        .groupBy(col("model"))
        .agg(
          sum(col("npos") * (lit(2) * col("cum_before") + col("n") + lit(1)))
            .cast("long").as("two_r_pos"),
          sum(col("npos")).cast("long").as("n_pos"),
          sum(col("n") - col("npos")).cast("long").as("n_neg"))
        .withColumn("auc_ppm",
          expr("(two_r_pos - n_pos * (n_pos + 1)) * 500000 div (n_pos * n_neg)"))
        .crossJoin(broadcast(dis))
        .select(col("model"), col("n_pos"), col("n_neg"), col("auc_ppm"),
          col("n_disagree"), col("disagree_ppm"))
        .orderBy(col("model"))
    },
    Some("""
      WITH scored AS (
        SELECT CASE WHEN strpos(text, 'customer') > 0 THEN 1 ELSE 0 END AS y,
               CAST((len(text) - len(replace(text, 'order', ''))) // 5
                  + (len(text) - len(replace(text, 'pack', ''))) // 4
                  + (len(text) - len(replace(text, 'ship', ''))) // 4
                 AS BIGINT) AS s_champ,
               CAST((len(text) - len(replace(text, 'order', ''))) // 4
                  + (len(text) - len(replace(text, 'window', ''))) // 6
                  + (len(text) - len(replace(text, 'ship', ''))) // 5
                 AS BIGINT) AS s_chall
        FROM documents),
      dis AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN (s_champ >= 2) <> (s_chall >= 2)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
        FROM scored),
      lng AS (
        SELECT 'champion' AS model, y, s_champ AS s FROM scored
        UNION ALL SELECT 'challenger', y, s_chall FROM scored),
      h AS (SELECT model, s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS npos
            FROM lng GROUP BY model, s),
      c AS (SELECT model, s, n, npos,
                   CAST(COALESCE(SUM(n) OVER (PARTITION BY model ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_before
            FROM h),
      agg AS (
        SELECT model,
               CAST(SUM(npos * (2 * cum_before + n + 1)) AS BIGINT) AS two_r_pos,
               CAST(SUM(npos) AS BIGINT) AS n_pos,
               CAST(SUM(n - npos) AS BIGINT) AS n_neg
        FROM c GROUP BY model)
      SELECT model, n_pos, n_neg,
             (two_r_pos - n_pos * (n_pos + 1)) * 500000 // (n_pos * n_neg) AS auc_ppm,
             n_disagree, n_disagree * 1000000 // n_docs AS disagree_ppm
      FROM agg, dis
      ORDER BY model
    """)
  )

  /** Coarsened exact matching (r8; Iacus, King & Porro 2012) — the
    * observational-causal estimate that SCALES where per-unit nearest-
    * neighbor matching can't: coarsen the propensity proxy (per-user
    * activity count, log2-binned) into strata, keep only strata holding
    * BOTH treated and control users, and weight each stratum's
    * control-vs-treated outcome gap by its treated count. The whole
    * estimator is stratum-level aggregation — no per-unit match, no
    * global sort, one user rollup + one ≤ |bins| rollup — and every
    * number is an exact integer (outcomes in 1e-4 units, ATT as the
    * treated-weighted floor-division mean). Also emits the balance
    * audit (per-stratum counts) a matching analysis must publish.
    */
  private val mlCemMatching = Op(
    "ml_cem_matching",
    (s, d) => {
      val users = T.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("activity"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(floor(value * 10000) AS BIGINT)")).otherwise(0L))
            .as("outcome_units"))
        .withColumn("treat",
          when(pmod(col("user_id") * lit(2654435761L), lit(4294967296L)) <
            lit(2147483648L), 1L).otherwise(0L))
        // floor(log2(n)) as an INTEGER bit-length — a float log2 would put
        // exact powers of two on a rounding boundary where the engines'
        // libm results can straddle the floor
        .withColumn("stratum", expr("CAST(length(bin(activity)) - 1 AS BIGINT)"))
      val strata = users.groupBy(col("stratum"))
        .agg(
          sum(col("treat")).as("n_t"),
          sum(lit(1L) - col("treat")).as("n_c"),
          sum(when(col("treat") === 1L, col("outcome_units")).otherwise(0L)).as("y_t"),
          sum(when(col("treat") === 0L, col("outcome_units")).otherwise(0L)).as("y_c"))
        .filter(col("n_t") > 0 && col("n_c") > 0)
        .select(col("stratum"), col("n_t"), col("n_c"),
          expr("y_t div n_t").as("mean_t"), expr("y_c div n_c").as("mean_c"),
          expr("n_t * (y_t div n_t - y_c div n_c)").as("w_gap"))
      val att = strata.agg(sum(col("n_t")).as("tot_t"), sum(col("w_gap")).as("sum_gap"))
        .select(expr("sum_gap div tot_t").as("att_units"))
      strata.crossJoin(broadcast(att))
        .select(col("stratum"), col("n_t"), col("n_c"), col("mean_t"),
          col("mean_c"), col("att_units"))
        .orderBy(col("stratum"))
    },
    Some("""
      WITH users AS (
        SELECT user_id, COUNT(*) AS activity,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(FLOOR(value * 10000) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS outcome_units,
               CASE WHEN (user_id * 2654435761) % 4294967296 < 2147483648
                    THEN 1 ELSE 0 END AS treat
        FROM events GROUP BY user_id),
      b AS (
        SELECT CAST(length(bin(activity)) - 1 AS BIGINT) AS stratum,
               treat, outcome_units
        FROM users),
      strata AS (
        SELECT stratum,
               CAST(SUM(treat) AS BIGINT) AS n_t,
               CAST(SUM(1 - treat) AS BIGINT) AS n_c,
               CAST(SUM(CASE WHEN treat = 1 THEN outcome_units ELSE 0 END) AS BIGINT) AS y_t,
               CAST(SUM(CASE WHEN treat = 0 THEN outcome_units ELSE 0 END) AS BIGINT) AS y_c
        FROM b GROUP BY stratum
        HAVING SUM(treat) > 0 AND SUM(1 - treat) > 0),
      m AS (
        SELECT stratum, n_t, n_c,
               y_t // n_t AS mean_t, y_c // n_c AS mean_c,
               n_t * (y_t // n_t - y_c // n_c) AS w_gap
        FROM strata),
      att AS (
        SELECT CAST(SUM(w_gap) AS BIGINT) // CAST(SUM(n_t) AS BIGINT) AS att_units
        FROM m)
      SELECT stratum, n_t, n_c, mean_t, mean_c, att_units
      FROM m, att
      ORDER BY stratum
    """)
  )

  /** Qini uplift curve (r8; Radcliffe 2007) — the targeting read for
    * INCREMENTAL response: ranking users by a targeting score, how much
    * extra response do the treated contribute above the control baseline
    * at each cut? Evaluated at every distinct score (the PR-curve shape —
    * no decile interpolation needed): descending cumulative treated/
    * control counts and responders over the (score × arm) histogram,
    * qini = R_t_cum·1e6 − R_c_cum·(N_t_cum·1e6 div N_c_cum), exact floor
    * arithmetic. Treatment is the evt_ab_test_lift hash cohort; response
    * = any purchase; score = activity count. All windows ride the
    * bounded score histogram.
    */
  private val mlQiniUplift = Op(
    "ml_qini_uplift",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val users = T.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("resp"))
        .withColumn("treat",
          when(pmod(col("user_id") * lit(2654435761L), lit(4294967296L)) <
            lit(2147483648L), 1L).otherwise(0L))
      val h = users.groupBy(col("score"))
        .agg(sum(col("treat")).as("n_t"),
          sum(lit(1L) - col("treat")).as("n_c"),
          sum(col("treat") * col("resp")).as("r_t"),
          sum((lit(1L) - col("treat")) * col("resp")).as("r_c"))
      val desc = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("nt_cum", sum(col("n_t")).over(desc))
        .withColumn("nc_cum", sum(col("n_c")).over(desc))
        .withColumn("rt_cum", sum(col("r_t")).over(desc))
        .withColumn("rc_cum", sum(col("r_c")).over(desc))
        .filter(col("nc_cum") > 0)
        .select(col("score").as("thr"), col("nt_cum"), col("nc_cum"),
          col("rt_cum"), col("rc_cum"),
          expr("rt_cum * 1000000 - rc_cum * (nt_cum * 1000000 div nc_cum)")
            .as("qini_e6"))
        .orderBy(col("thr").desc)
    },
    Some("""
      WITH users AS (
        SELECT user_id, COUNT(*) AS score,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS resp,
               CASE WHEN (user_id * 2654435761) % 4294967296 < 2147483648
                    THEN 1 ELSE 0 END AS treat
        FROM events GROUP BY user_id),
      h AS (
        SELECT score,
               CAST(SUM(treat) AS BIGINT) AS n_t,
               CAST(SUM(1 - treat) AS BIGINT) AS n_c,
               CAST(SUM(treat * resp) AS BIGINT) AS r_t,
               CAST(SUM((1 - treat) * resp) AS BIGINT) AS r_c
        FROM users GROUP BY score),
      c AS (
        SELECT score,
               CAST(SUM(n_t) OVER w AS BIGINT) AS nt_cum,
               CAST(SUM(n_c) OVER w AS BIGINT) AS nc_cum,
               CAST(SUM(r_t) OVER w AS BIGINT) AS rt_cum,
               CAST(SUM(r_c) OVER w AS BIGINT) AS rc_cum
        FROM h
        WINDOW w AS (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT score AS thr, nt_cum, nc_cum, rt_cum, rc_cum,
             rt_cum * 1000000 - rc_cum * (nt_cum * 1000000 // nc_cum) AS qini_e6
      FROM c WHERE nc_cum > 0
      ORDER BY thr DESC
    """)
  )

  /** Propensity-score stratification ATE (r14; Rosenbaum & Rubin 1984,
    * "Reducing Bias in Observational Studies Using Subclassification on
    * the Propensity Score") — the third leg of the causal toolkit next to
    * ml_cem_matching (exact matching) and ml_qini_uplift (uplift ranking):
    * subclassify users on a confounder (activity level = events capped at
    * 20 — the quantity that drives both exposure and spend in an
    * observational log), then average the within-stratum treated-vs-
    * control spend gaps weighted by stratum size. Treatment is the shared
    * Knuth cohort hash (id bound documented at evt_ab_test_lift).
    * Determinism: spend is exact cents (the DECIMAL(18,4)→×100→BIGINT
    * idiom, fixture 2-decimal contract), each stratum term is computed in
    * exact integer MICRO-cents via BIGINT floor-division quantization
    * (n_b · (⌊1e6·sum1/n1⌋ − ⌊1e6·sum0/n0⌋), the ppm idiom of
    * evt_attribution_u), and the single final division to ATE happens
    * once, on identical integers, rounded to 6. Magnitude headroom:
    * per-stratum mean ≤ ~1e10 micro-cents, ×n_b ≤ 1e6 at sf100 → ≤ 1e16
    * per term, ≤ 21 terms « 2^63. Strata with a missing arm are dropped
    * (common support), their user count reported. Scale shape: one
    * user-keyed aggregate, a ≤21-row stratum table, a 1-row answer — the
    * only data-sized exchange is the first, map-side-combined groupBy.
    */
  val mlPropensityStratAte = Op(
    "ml_propensity_strat_ate",
    (s, d) => {
      val bucket = pmod(col("user_id") * lit(2654435761L), lit(4294967296L))
      val users = T.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_ev"),
          (sum(Det.dec(col("value"))) * 100).cast("long").as("spend"))
        .withColumn("t", when(bucket < lit(2147483648L), 0L).otherwise(1L))
        .withColumn("stratum", least(col("n_ev"), lit(20L)))
      val strata = users.groupBy(col("stratum"))
        .agg(
          count(lit(1)).as("n_b"),
          sum(when(col("t") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("t") === 1, col("spend")).otherwise(0L)).as("s1"),
          sum(when(col("t") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("t") === 0, col("spend")).otherwise(0L)).as("s0"))
      val supported = strata.filter(col("n1") > 0 && col("n0") > 0)
      supported.agg(
          sum(col("n_b")).as("n_supported"),
          count(lit(1)).as("n_strata"),
          sum(col("n_b") * (expr("(s1 * 1000000) div n1") - expr("(s0 * 1000000) div n0")))
            .as("ate_micro_total"))
        .select(
          col("n_supported"), col("n_strata"),
          round(col("ate_micro_total") / (col("n_supported") * lit(100000000.0)), 6)
            .as("ate_spend"))
    },
    Some("""
      WITH users AS (
        SELECT user_id, COUNT(*) AS n_ev,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) * 100 AS BIGINT) AS spend,
               CASE WHEN (user_id * 2654435761) % 4294967296 < 2147483648
                    THEN 0 ELSE 1 END AS t,
               CAST(LEAST(COUNT(*), 20) AS BIGINT) AS stratum
        FROM events GROUP BY user_id),
      strata AS (
        SELECT stratum,
               CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN t = 1 THEN spend ELSE 0 END) AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN t = 0 THEN spend ELSE 0 END) AS BIGINT) AS s0
        FROM users GROUP BY stratum),
      supported AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0)
      SELECT CAST(SUM(n_b) AS BIGINT) AS n_supported,
             CAST(COUNT(*) AS BIGINT) AS n_strata,
             ROUND(CAST(SUM(n_b * ((s1 * 1000000) // n1 - (s0 * 1000000) // n0)) AS BIGINT)
                   / (CAST(SUM(n_b) AS BIGINT) * 100000000.0), 6) AS ate_spend
      FROM supported
    """)
  )

  /** Split-conformal prediction interval (r14; Vovk et al. 2005; Lei et al.
    * 2018 "Distribution-Free Predictive Inference for Regression") — the
    * distribution-free uncertainty wrapper production ML serves with:
    * calibration/test split by the shared Knuth user hash, point model =
    * per-event-type mean spend fit on CALIBRATION only, nonconformity
    * s = |value − pred|, q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest calibration
    * score, and the guarantee to check is test coverage ≥ ~90%.
    * Determinism: spend in exact cents, pred integer-quantized
    * (sum div count), s exact integer cents, q̂ an exact order statistic
    * picked off the score HISTOGRAM cumsum (the agg_quantiles_hist_det
    * recipe — never a row-sized sort), coverage in exact ppm. Scale shape:
    * TWO corpus scans — the first reduces to the 5-row model (map-side
    * combined), the second scores against the BROADCAST model and builds
    * both histograms at once (groupBy s with a calibration and a test
    * counter); everything after is bounded by the score domain (≤ cents
    * range), and the single-partition cumsum window runs over the bounded
    * histogram, not the log. That bound is load-bearing and PINNED
    * (PropertySpec's bounded-price guard): for a genuinely wide value
    * domain (micro-unit prices, unbounded metrics) the histogram goes
    * data-sized and the cumsum must be staged via Det.stage's two-pass
    * range-partition idiom instead of one window.
    */
  val mlConformalInterval = Op(
    "ml_conformal_interval",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bucket = pmod(col("user_id") * lit(2654435761L), lit(4294967296L))
      val ev = T.events(s, d)
        .withColumn("cents", (Det.dec(col("value")) * 100).cast("long"))
        .withColumn("is_cal", bucket < lit(2147483648L))
      val pred = ev.filter(col("is_cal"))
        .groupBy(col("event_type"))
        .agg(expr("(sum(cents)) div count(1)").as("pred_cents"))
      val scored = ev.join(broadcast(pred), "event_type")
        .withColumn("s", abs(col("cents") - col("pred_cents")))
      val hist = scored.groupBy(col("s")).agg(
        sum(when(col("is_cal"), 1L).otherwise(0L)).as("c_cal"),
        sum(when(!col("is_cal"), 1L).otherwise(0L)).as("c_test"))
      val w = Window.orderBy(col("s"))
      val cum = hist
        .withColumn("cum_cal", sum(col("c_cal")).over(w))
        .withColumn("n_cal", sum(col("c_cal")).over(
          Window.partitionBy(lit(1))))
        .withColumn("n_test", sum(col("c_test")).over(
          Window.partitionBy(lit(1))))
      val qhat = cum
        .filter(col("cum_cal") >= ceil(lit(0.9) * (col("n_cal") + 1)))
        .agg(min(col("s")).as("q_hat"))
      cum.crossJoin(broadcast(qhat))
        .groupBy(col("q_hat"))
        .agg(
          max(col("n_cal")).as("n_cal"),
          max(col("n_test")).as("n_test"),
          sum(when(col("s") <= col("q_hat"), col("c_test")).otherwise(0L)).as("covered"))
        .select(
          col("n_cal"), col("n_test"), col("q_hat"), col("covered"),
          expr("(covered * 1000000) div n_test").as("coverage_ppm"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
               (user_id * 2654435761) % 4294967296 < 2147483648 AS is_cal
        FROM events),
      pred AS (
        SELECT event_type, SUM(cents) // COUNT(*) AS pred_cents
        FROM ev WHERE is_cal GROUP BY event_type),
      scored AS (
        SELECT is_cal, ABS(cents - pred_cents) AS s
        FROM ev JOIN pred USING (event_type)),
      hist AS (
        SELECT s,
               CAST(SUM(CASE WHEN is_cal THEN 1 ELSE 0 END) AS BIGINT) AS c_cal,
               CAST(SUM(CASE WHEN is_cal THEN 0 ELSE 1 END) AS BIGINT) AS c_test
        FROM scored GROUP BY s),
      cum AS (
        SELECT s, c_cal, c_test,
               SUM(c_cal) OVER (ORDER BY s) AS cum_cal,
               SUM(c_cal) OVER () AS n_cal,
               SUM(c_test) OVER () AS n_test
        FROM hist),
      qhat AS (
        SELECT CAST(MIN(s) AS BIGINT) AS q_hat FROM cum
        WHERE cum_cal >= CEIL(0.9 * (n_cal + 1)))
      SELECT CAST(MAX(n_cal) AS BIGINT) AS n_cal,
             CAST(MAX(n_test) AS BIGINT) AS n_test,
             q_hat,
             CAST(SUM(CASE WHEN s <= q_hat THEN c_test ELSE 0 END) AS BIGINT) AS covered,
             (CAST(SUM(CASE WHEN s <= q_hat THEN c_test ELSE 0 END) AS BIGINT) * 1000000)
               // CAST(MAX(n_test) AS BIGINT) AS coverage_ppm
      FROM cum CROSS JOIN qhat
      GROUP BY q_hat
    """)
  )

  /** Poisson-bootstrap confidence interval (r14; Chamandy, Muralidharan,
    * Najmi & Naidu 2012, "Estimating Uncertainty for Massive Data Streams";
    * Efron 1979 percentile form) — THE bootstrap that works at 100 TB:
    * instead of B resampling passes, each row draws an independent
    * Poisson(1)-distributed multiplicity per replicate in ONE pass, so the
    * whole B=64 bootstrap is one scan + a 64-row aggregate. Every draw is
    * DETERMINISTIC: u = first 4 md5 hex chars of (event_id # r) as a
    * 16-bit integer (conv/strpos parity idiom of txt_hashing_tf_det),
    * multiplicity from the fixed quantized Poisson(1) CDF thresholds
    * 24109/48219/60273/64292 (/65536 ≈ e⁻¹, 2e⁻¹, 2.5e⁻¹, …; the
    * quantization is part of the op's contract — both engines use the
    * SAME table, and a 2⁻¹⁶ CDF error is invisible next to bootstrap
    * noise). Replicate means in exact micro-cents ((Σk·x)·1e6 div Σk —
    * magnitudes ≤ ~7e16 « 2^63 at sf100), the 95% percentile CI is the
    * 2nd/63rd order statistic of the 64 exact means — the output carries
    * NO floating point at all. Scale shape: the ×64 replicate explode is
    * map-side combined straight into 64 rows; the order-statistic window
    * runs on those 64 rows.
    */
  val mlPoissonBootstrapCi = Op(
    "ml_poisson_bootstrap_ci",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val x = T.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), (Det.dec(col("value")) * 100).cast("long").as("cents"))
      val point = x.agg(
        count(lit(1)).as("n"),
        expr("(sum(cents) * 1000000) div count(1)").as("point_ppm"))
      val reps = x
        .withColumn("r", explode(expr("sequence(0, 63)")))
        .withColumn("u",
          expr("CAST(conv(substring(md5(concat_ws('#', event_id, r)), 1, 4), 16, 10) AS BIGINT)"))
        .withColumn("k",
          when(col("u") < 24109, 0L).when(col("u") < 48219, 1L)
            .when(col("u") < 60273, 2L).when(col("u") < 64292, 3L).otherwise(4L))
        .groupBy(col("r"))
        .agg(expr("(sum(k * cents) * 1000000) div sum(k)").as("mean_ppm"))
      val w = Window.orderBy(col("mean_ppm"), col("r"))
      val ranked = reps.withColumn("rk", row_number().over(w))
      ranked.agg(
          min(when(col("rk") === 2, col("mean_ppm"))).as("ci_lo_ppm"),
          min(when(col("rk") === 63, col("mean_ppm"))).as("ci_hi_ppm"))
        .crossJoin(broadcast(point))
        .select(col("n"), col("point_ppm"), col("ci_lo_ppm"), col("ci_hi_ppm"),
          (col("ci_hi_ppm") - col("ci_lo_ppm")).as("width_ppm"))
    },
    Some("""
      WITH x AS (
        SELECT event_id, CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      point AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(cents) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT) AS point_ppm
        FROM x),
      draws AS (
        SELECT r, cents,
               (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) AS u
        FROM (SELECT cents, r, md5(event_id || '#' || r) AS h
              FROM x CROSS JOIN (SELECT unnest(range(0, 64)) AS r))),
      reps AS (
        SELECT r,
               (CAST(SUM(k * cents) AS BIGINT) * 1000000) // CAST(SUM(k) AS BIGINT) AS mean_ppm
        FROM (SELECT r, cents,
                     CASE WHEN u < 24109 THEN 0 WHEN u < 48219 THEN 1
                          WHEN u < 60273 THEN 2 WHEN u < 64292 THEN 3
                          ELSE 4 END AS k
              FROM draws)
        GROUP BY r),
      ranked AS (
        SELECT mean_ppm, ROW_NUMBER() OVER (ORDER BY mean_ppm, r) AS rk FROM reps)
      SELECT n, point_ppm,
             MIN(CASE WHEN rk = 2 THEN mean_ppm END) AS ci_lo_ppm,
             MIN(CASE WHEN rk = 63 THEN mean_ppm END) AS ci_hi_ppm,
             MIN(CASE WHEN rk = 63 THEN mean_ppm END)
               - MIN(CASE WHEN rk = 2 THEN mean_ppm END) AS width_ppm
      FROM ranked CROSS JOIN point
      GROUP BY n, point_ppm
    """)
  )

  val ops: Vector[Op] = Vector(
    mlPropensityStratAte, mlConformalInterval, mlPoissonBootstrapCi,
    mlWoeEncoding, mlBrierDecomposition, mlFairnessParity,
    mlChampionChallenger, mlCemMatching, mlQiniUplift,
    mlIntentLabel, mlFeaturePipeline, mlLogregIntent, mlTrainTestSplit,
    mlPredictionsSink, sinkJdbcPredictions,
    sampleHashBucket, sampleStratified, mlKfoldAssign,
    mlPcaFeatures, mlEvalMetrics, mlCalibrationBins, samplePerGroup,
    mlRocAuc, mlPrAuc, mlFeaturePit, mlPsiStability, mlKsDrift,
    mlTargetEncode, mlChi2FeatureSelect, mlKmeansLloyd, mlNdcgAtK,
    mlAucBySegment, mlOperatingPoint, mlCvAucStability,
    mlFeatureStandardize, mlGainLiftDeciles)
}
