package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** §2.9 Dedup & similarity search — the LLM-data-pipeline core.
  *
  * Exact quadratic forms (Jaccard pairs, cosine knn) are bounded to fixed
  * candidate sets so they stay oracle-checkable and sf-independent; the
  * 100 TB paths are `sim_minhash_lsh` (band-bucket candidate generation,
  * MinHashSpec proves recall vs the exact pairs) and probe-bounded knn
  * (broadcast the probe set, never self-join the corpus).
  */
object Similarity {

  /** Dot product of two float-array columns in double precision via the
    * native codegen'd graft.functions.VectorDot expression — element-wise
    * widened to double, sequential left-fold sum, bit-identical to the
    * DuckDB list_transform/list_sum twin (and to the interpreted
    * aggregate/zip_with form it replaces — which measured ~20× slower on
    * the all-pairs ops).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact dedup on a derived key (lang, first-3-token prefix); survivor
    * counts per lang are identical no matter which duplicate survives, so
    * the result is deterministic even though dropDuplicates itself is not.
    */
  val dedupExact = Op(
    "dedup_exact",
    (s, d) =>
      T.documents(s, d)
        .withColumn("k3", array_join(slice(split(col("text"), " "), 1, 3), " "))
        .dropDuplicates("lang", "k3")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_survivors"))
        .orderBy(col("lang")),
    Some("""
      SELECT lang, COUNT(*) AS n_survivors
      FROM (SELECT DISTINCT lang,
              array_to_string(string_split(text, ' ')[1:3], ' ') AS k3
            FROM documents)
      GROUP BY lang ORDER BY lang
    """)
  )

  /** Keyed latest-wins dedup via row_number()=1 over a total per-key order
    * (NOT dropDuplicates, which keeps a partition-order-dependent row).
    */
  val dedupKeyedLatest = Op(
    "dedup_keyed_latest",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      T.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""
      SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      WHERE rn = 1
      ORDER BY user_id, event_type
    """)
  )

  /** Exact n-gram-set Jaccard over same-source doc pairs, threshold on the
    * rounded score (Appendix A-5). Candidate generation is the
    * shared-token self-join — bounded to doc_id < 200 to keep the quadratic
    * form sf-independent; the scalable twin is sim_minhash_lsh.
    */
  val simJaccardPairs = Op(
    "sim_jaccard_pairs",
    (s, d) => {
      // NOT materialized (r18 A/B): toks feeds sizes + both self-join legs,
      // but all three consumers sit under ONE action and the distinct's
      // exchange is REUSED across them (ReusedExchange) — adding a cache
      // here measured 0.5 s → 1.6-1.8 s at sf0.1 (both serialized and
      // deserialized levels) and was reverted.
      val toks = T.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("token"))
        .distinct()
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val a = toks.select(col("doc_id").as("a_id"), col("source"), col("token"))
      val b = toks.select(col("doc_id").as("b_id"), col("source").as("src_b"), col("token").as("tok_b"))
      val inter = a.join(b,
          col("token") === col("tok_b") && col("source") === col("src_b") &&
          col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("i"))
      val sa = sizes.select(col("doc_id").as("a_id"), col("n").as("na"))
      val sb = sizes.select(col("doc_id").as("b_id"), col("n").as("nb"))
      inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn("jaccard",
          round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
        .filter(col("jaccard") >= 0.5)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH toks AS (
        SELECT DISTINCT doc_id, source, token
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
              FROM documents WHERE doc_id < 200)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        FROM toks a JOIN toks b
          ON a.token = b.token AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT a_id, b_id,
             ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
      ORDER BY a_id, b_id
    """)
  )

  /** MinHash+LSH approximate near-dup candidates — the scale path for
    * Jaccard dedup (band-bucket join instead of all-pairs). Fixed seed;
    * oracle-exempt (hash-seed dependent); MinHashSpec checks recall >= 0.9
    * against sim_jaccard_pairs at threshold 0.5.
    */
  val simMinhashLsh = Op(
    "sim_minhash_lsh",
    (s, d) => {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
      val docs = T.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val tf = new HashingTF()
        .setInputCol("toks").setOutputCol("features")
        .setNumFeatures(1 << 14).setBinary(true)
      val feat = tf.transform(docs).filter(expr("size(toks) > 0"))
      val lsh = new MinHashLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(8).setSeed(42L)
      val model = lsh.fit(feat)
      model.approxSimilarityJoin(feat, feat, 0.5, "jaccard_dist")
        .select(
          col("datasetA.doc_id").as("a_id"),
          col("datasetB.doc_id").as("b_id"),
          round(lit(1.0) - col("jaccard_dist"), 6).as("jaccard_approx"))
        .filter(col("a_id") < col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    },
    None
  )

  /** Deterministic MinHash+LSH (r9; VERDICT r8 task 7 — the oracled
    * sibling that shrinks the exempt surface): the SAME band-bucket
    * topology as `sim_minhash_lsh`, but with the engine-internal ML seeds
    * replaced by k = 8 independent md5fold48 hash folds
    * (`h_i(tok) = md5fold48(i || ':' || tok)`, the
    * `agg_kmv_distinct` hash discipline), so the ENTIRE pipeline —
    * signature, banding, candidate set, exact-Jaccard verdict — is integer-
    * deterministic and hash-matched against an identical DuckDB
    * construction, pinning LSH candidate generation to an exact oracle
    * instead of a recall bound. Shape: distinct (doc, token) → per-doc
    * 8-slot signature (8 aggregated MINs in one pass) → 4 bands × 2 rows
    * (`1-(1-j²)⁴` candidate curve) → band equi-join for candidates → exact
    * Jaccard on ONLY the candidate pairs (a left join keeps any
    * zero-overlap hash-collision pair visible as jaccard 0 rather than
    * silently dropping it). At 100 TB the costs are: one token scan, one
    * groupBy, a band hash-join whose buckets hold only near-dup docs —
    * never an all-pairs product; the exact verify touches candidates only.
    * PropertySpec pins that token-set-identical docs (jaccard 1) ALWAYS
    * collide: every band of equal signatures matches, so clone recall is
    * structurally 1.0, not probabilistic. FIXTURE NOTE: this corpus's
    * 31-word vocabulary saturates the band buckets (signature diversity
    * collapses exactly as it does for sim_simhash_bands), so ~70% of the
    * bounded 200-doc pair space surfaces as candidates here — the op is
    * doc_id-bounded and therefore sf-independent, and on a real-vocabulary
    * corpus the same banding prunes to near-dups; the sketch-diversity
    * cure is the shingle trick of sim_simhash_shingle_bands.
    */
  val simMinhashDet = Op(
    "sim_minhash_det",
    (s, d) => {
      val toks = T.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .distinct()
        // feeds signatures AND the exact verify; stays an eager
        // localCheckpoint — the r18 lazy-cache A/B measured 0.55 s → 2.1-2.4 s
        // at sf0.1 (both storage levels) and was reverted
        .localCheckpoint(true)
      val mins = (1 to 8).map(i =>
        min(call_function("md5fold48",
          concat(lit(i.toString), lit(":"), col("token")))).as(s"m$i"))
      val sigs = toks.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      val bands = sigs.select(col("doc_id"), explode(array(
          struct(lit(1).as("band"), concat_ws("_", col("m1"), col("m2")).as("bv")),
          struct(lit(2).as("band"), concat_ws("_", col("m3"), col("m4")).as("bv")),
          struct(lit(3).as("band"), concat_ws("_", col("m5"), col("m6")).as("bv")),
          struct(lit(4).as("band"), concat_ws("_", col("m7"), col("m8")).as("bv"))))
          .as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bv").as("bv"))
      val cands = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = cands
        .join(toks.as("ta"), col("a_id") === col("ta.doc_id"))
        .join(toks.as("tb"),
          col("b_id") === col("tb.doc_id") && col("ta.token") === col("tb.token"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
      cands
        .join(inter, Seq("a_id", "b_id"), "left")
        .na.fill(0L, Seq("i"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6)
            .as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id < 200),
      hs AS (
        SELECT t.doc_id, r.i,
               list_reduce(
                 list_transform(range(1, 13),
                   j -> CAST(strpos('0123456789abcdef',
                          substring(md5(CAST(r.i AS VARCHAR) || ':' || t.token), j, 1)) - 1 AS BIGINT)),
                 (acc, v) -> acc * 16 + v) AS h
        FROM toks t CROSS JOIN range(1, 9) r(i)),
      sigs AS (SELECT doc_id, i, MIN(h) AS m FROM hs GROUP BY 1, 2),
      bands AS (
        SELECT doc_id, CAST((i + 1) // 2 AS INTEGER) AS band,
               STRING_AGG(CAST(m AS VARCHAR), '_' ORDER BY i) AS bv
        FROM sigs GROUP BY doc_id, (i + 1) // 2),
      cands AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
      inter AS (
        SELECT c.a_id, c.b_id, COUNT(ta.token) AS i
        FROM cands c
        JOIN toks ta ON ta.doc_id = c.a_id
        JOIN toks tb ON tb.doc_id = c.b_id AND tb.token = ta.token
        GROUP BY 1, 2)
      SELECT c.a_id, c.b_id,
             ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)), 6) AS jaccard
      FROM cands c
      LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
      JOIN sizes sa ON sa.doc_id = c.a_id
      JOIN sizes sb ON sb.doc_id = c.b_id
      ORDER BY c.a_id, c.b_id
    """)
  )

  /** Exact cosine top-5 for 10 fixed probe vectors: broadcast the probes,
    * one pass over the corpus, per-probe top-k window. This is the shape
    * that scales: probes × corpus is linear in the corpus, and the window
    * is per-probe (k small).
    */
  val simCosineKnn = Op(
    "sim_cosine_knn",
    (s, d) => {
      val e = T.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          norm(col("embedding")).as("pnorm"))
      val cand = e.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("cnorm"))
      val scored = cand.join(broadcast(probes), col("probe_id") =!= col("vec_id"))
        .withColumn("cosine",
          round(dot(col("pe"), col("embedding")) / (col("pnorm") * col("cnorm")), 6))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("vec_id"))
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("rn").cast("long").as("rn"), col("vec_id"), col("cosine"))
        .orderBy(col("probe_id"), col("rn"))
    },
    Some("""
      WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT probe_id, vec_id,
               ROUND(
                 list_sum(list_transform(range(1, 65), i -> CAST(pe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        FROM embeddings CROSS JOIN probes
        WHERE probe_id <> vec_id)
      SELECT probe_id, rn, vec_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rn
        FROM scored)
      WHERE rn <= 5 ORDER BY probe_id, rn
    """)
  )

  /** Embedding near-duplicate pairs (cosine >= 0.35 — the fixtures' vectors
    * are near-orthogonal, max pairwise cosine ~0.44, so the classic 0.95
    * threshold would be vacuously empty). Bounded candidate set; threshold
    * compares the rounded score.
    */
  val simEmbedDedup = Op(
    "sim_embed_dedup",
    (s, d) => {
      val e = T.embeddings(s, d).filter(col("vec_id") < 300)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        norm(col("embedding")).as("na"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        norm(col("embedding")).as("nb"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("cosine",
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= 0.35)
        .select(col("a_id"), col("b_id"), col("cosine"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
      pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ROUND(
                 list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT a_id, b_id, cosine FROM pairs
      WHERE cosine >= 0.35
      ORDER BY a_id, b_id
    """)
  )

  /** Per-label centroid of the first 8 dims. Elements are converted to
    * exact integer micro-units (float × 1e6 is exact in double: 24-bit
    * mantissa × 20-bit constant < 53 bits) so the sum is integer-exact and
    * shuffle-order independent; the mean is then ONE double division of
    * identical operands on both engines — no final rounding, so no
    * HALF_UP-vs-half-even tie can flip the hash (a 6dp ROUND of the
    * quotient did, at sf0.1).
    */
  val simLabelCentroids = Op(
    "sim_label_centroids",
    (s, d) =>
      T.embeddings(s, d)
        .select(col("label"), posexplode(slice(col("embedding"), 1, 8)).as(Seq("pos", "x")))
        .select(
          col("label"), (col("pos") + 1).cast("long").as("pos"),
          round(col("x").cast("double") * 1000000).cast("long").as("micro"))
        .groupBy(col("label"), col("pos"))
        .agg(
          (sum(col("micro")).cast("double") / count(lit(1)) / 1000000.0).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("pos")),
    Some("""
      SELECT label, pos,
             CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid,
             COUNT(*) AS n_vecs
      FROM (SELECT label, generate_subscripts(e8, 1) AS pos, unnest(e8) AS x
            FROM (SELECT label, embedding[1:8] AS e8 FROM embeddings))
      GROUP BY label, pos ORDER BY label, pos
    """)
  )

  /** Jaccard over bigram-shingle sets (near-dup detection robust to word
    * substitutions in a way token sets are not) — same bounded-candidate
    * self-join shape as sim_jaccard_pairs.
    */
  val simShingleJaccard = Op(
    "sim_shingle_jaccard",
    (s, d) => {
      val sh = T.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("source"), explode(
          call_function("token_ngrams", col("toks"), lit(2))).as("shingle"))
        .distinct()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val a = sh.select(col("doc_id").as("a_id"), col("source"), col("shingle"))
      val b = sh.select(col("doc_id").as("b_id"), col("source").as("src_b"), col("shingle").as("sh_b"))
      val inter = a.join(b,
          col("shingle") === col("sh_b") && col("source") === col("src_b") &&
          col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        .withColumn("jaccard",
          round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
        .filter(col("jaccard") >= 0.05)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id, source, shingle FROM (
          SELECT doc_id, source,
                 unnest(list_transform(range(1, len(arr)),
                   i -> arr[i] || ' ' || arr[i + 1])) AS shingle
          FROM (SELECT doc_id, source, string_split(text, ' ') AS arr
                FROM documents WHERE doc_id < 200))),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT a_id, b_id,
             ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.05
      ORDER BY a_id, b_id
    """)
  )

  /** SimHash (16-bit) over token sets — the constant-size near-dup sketch.
    * Uses a portable position-weighted char hash (mod 2^16) instead of
    * murmur3 so the entire construction — hash, bit votes, sign, packing —
    * is integer math reproducible in the DuckDB oracle. The position weight
    * (pos * 40503) % 65536 (odd multiplier → wraps the full 16-bit space)
    * matters: the r2 weight ((pos % 7) + 1) kept per-token sums under ~2^13,
    * so bits 13-15 were never set, the sketch was effectively 12-bit, and
    * one band of sim_simhash_bands degenerated into a bucket holding the
    * whole corpus (21.5M candidate pairs at sf0.1 instead of ~3M). Two
    * aggregations, both key-partitioned; at scale this is the cheap
    * first-pass filter before any pairwise comparison.
    */
  val simSimhash = Op(
    "sim_simhash",
    (s, d) => {
      val toks = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .distinct()
        .withColumn("h",
          expr("""aggregate(
                    transform(sequence(1, length(token)),
                              i -> ascii(substring(token, i, 1)) * ((i * 40503) % 65536)),
                    CAST(0 AS BIGINT),
                    (acc, x) -> (acc + CAST(x AS BIGINT)) % 65536)"""))
      toks
        .select(col("doc_id"), col("h"), explode(expr("sequence(0, 15)")).as("b"))
        .withColumn("vote", (expr("(h div CAST(pow(2, b) AS BIGINT)) % 2") * 2 - 1))
        .groupBy(col("doc_id"), col("b"))
        .agg(sum(col("vote")).as("votes"))
        .withColumn("bit", when(col("votes") > 0, 1L).otherwise(0L))
        .groupBy(col("doc_id"))
        .agg(sum(expr("bit * CAST(pow(2, b) AS BIGINT)")).as("simhash"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT DISTINCT doc_id, token FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
      hashed AS (
        SELECT doc_id, token,
               CAST(SUM(ascii(c) * ((pos * 40503) % 65536)) % 65536 AS BIGINT) AS h
        FROM (SELECT doc_id, token, generate_subscripts(cs, 1) AS pos, unnest(cs) AS c
              FROM (SELECT doc_id, token, string_split(token, '') AS cs FROM toks))
        GROUP BY doc_id, token),
      votes AS (
        SELECT doc_id, b,
               CAST(SUM(((h // CAST(pow(2, b) AS BIGINT)) % 2) * 2 - 1) AS BIGINT) AS votes
        FROM hashed CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
        GROUP BY doc_id, b)
      SELECT doc_id,
             CAST(SUM(CASE WHEN votes > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id
    """)
  )

  /** SimHash pairing: near-dup candidates are pairs whose 16-bit sketches
    * differ in <= 3 bits (hamming via bit_count(xor)). Completes the
    * sketch story: sim_simhash builds the constant-size sketch, this op
    * compares sketches instead of documents — the whole point of
    * sketching (16 bits shuffle, not the text). Bounded all-pairs here —
    * the oracle anchor; the scale path is sim_simhash_bands below (a
    * WIDER 60-bit sketch split into 4×15-bit bands, bucket-join on band
    * equality) exactly like MinHash-LSH, and unlike MinHash it is
    * integer-exact and fully oracled.
    */
  val simHammingPairs = Op(
    "sim_hamming_pairs",
    (s, d) => {
      val sh = simSimhash.fn(s, d).filter(col("doc_id") < 300)
      val a = sh.select(col("doc_id").as("a_id"), col("simhash").as("sa"))
      val b = sh.select(col("doc_id").as("b_id"), col("simhash").as("sb"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .filter(col("hamming") <= 3)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH toks AS (
        SELECT DISTINCT doc_id, token FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents WHERE doc_id < 300)),
      hashed AS (
        SELECT doc_id, token,
               CAST(SUM(ascii(c) * ((pos * 40503) % 65536)) % 65536 AS BIGINT) AS h
        FROM (SELECT doc_id, token, generate_subscripts(cs, 1) AS pos, unnest(cs) AS c
              FROM (SELECT doc_id, token, string_split(token, '') AS cs FROM toks))
        GROUP BY doc_id, token),
      votes AS (
        SELECT doc_id, b,
               CAST(SUM(((h // CAST(pow(2, b) AS BIGINT)) % 2) * 2 - 1) AS BIGINT) AS votes
        FROM hashed CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
        GROUP BY doc_id, b),
      sh AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN votes > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY a_id, b_id
    """)
  )

  /** Banded SimHash candidate join over UNIGRAM token sets — the exactly-
    * oracled ANCHOR twin, not the production scale path. On corpora with a
    * small vocabulary (these fixtures: 31 words) unigram token SETS
    * converge on "most of the vocabulary", the majority-vote sketch
    * concentrates on a handful of values, band buckets saturate, and the
    * candidate set grows superlinearly (measured 16× for 10× data at sf1).
    * **For scale, use [[simSimhashShingleBands]]** (`sim_simhash_shingle_
    * bands`): the same 60-bit sketch and 4×15-bit band join computed over
    * bigram shingles, whose 961-element space keeps buckets unsaturated
    * and the join ~linear. This op stays registered as the hash-checked
    * oracle anchor for the banding construction itself (the
    * `sim_hamming_pairs` pattern: bounded/anchored twin keeps the exact
    * oracle, the sibling carries the 100 TB design). r14: the corpus is
    * contract-capped at doc_id < 100 000 (mirrored in the oracle) —
    * inactive through sf1 (50 k docs), where the saturation demonstration
    * is already measured, and binding above so decade sweeps oracle-check
    * this key with zero skips instead of hitting the 1.8 B-row sf10 wall.
    *
    * Pigeonhole: split a
    * 60-bit sketch into 4 bands of 15 bits; any pair within hamming <= 3
    * touches at most 3 bands, so at least one band is bit-identical — the
    * equi-join on (band, band_val) generates a candidate superset with ZERO
    * false negatives for that threshold, then bit_count verifies exactly.
    *
    * Geometry (the r3 fix): the old 16-bit/4-bit-band sketch had 64
    * distinct join values, so every bucket held ~N/16 docs and candidates
    * grew ~N²/8 — 21 M pairs at sf0.1, a saturated skewed shuffle at any
    * real corpus size. 15-bit bands give the join key 4 × 32 768 distinct
    * values; measured at sf0.1 the candidate set drops 21 M → 1.7 M, and
    * what remains is dominated by the corpus's TRUE near-dup clusters
    * (~184 k verified pairs) — i.e. candidates now scale with the
    * duplicate structure the op exists to find, not with bucket
    * saturation. (Why 60 bits, not 64: the widest geometry whose packed
    * values and pow(2,b) weights stay exact in signed-64 in both engines —
    * see [[graft.functions.Sketch60]].)
    *
    * The sketch itself is built by the codegen'd [[graft.functions.Simhash60]]
    * expression in one fused loop per document (the r2 form exploded
    * docs × tokens × bits through a vote aggregate — ~30 M intermediate
    * rows at sf0.1 for this width); the only shuffle before the band join
    * is the collect_set token-dedup on doc_id. Everything is integer
    * math, so unlike the MinHash/BRP scale paths this one is hash-checked
    * by the DuckDB oracle, not just recall-tested; PlanShapeSpec asserts
    * the join really is the band-pair equi-join (no nested-loop all-pairs)
    * and bounds the candidate volume.
    */
  val simSimhashBands = Op(
    "sim_simhash_bands",
    (s, d) => {
      // Contract bound (the sim_prefix_filter_join precedent): this op is
      // the saturation DIAGNOSTIC, and on the closed 31-word vocabulary its
      // output grows quadratically (1.8 B rows at sf10 uncapped — beyond any
      // oracle's reach). Cap the corpus at the first 100 k doc_ids, INACTIVE
      // at every scale up to sf1 (50 k docs — where the superlinearity is
      // already measured) and binding above, so every decade sweep can
      // oracle-check the banding construction bit-for-bit with zero skips.
      // Mirrored in the oracle's toks CTE.
      val sh = T.documents(s, d)
        .filter(col("doc_id") < 100000)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("doc_id"))
        .agg(collect_set(col("token")).as("toks"))
        .select(col("doc_id"), call_function("simhash60", col("toks")).as("simhash"))
      bandedHamming60(sh)
    },
    Some("""
      -- CTEs MATERIALIZED: the banded self-join references its chain twice
      -- and DuckDB re-inlines plain CTEs per reference (see graph_k_core)
      WITH toks AS MATERIALIZED (
        SELECT DISTINCT doc_id, token FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents WHERE doc_id < 100000)),
      hashed AS MATERIALIZED (
        SELECT doc_id, token, k,
               CAST(SUM(ascii(c) * ((pos * (CASE k WHEN 0 THEN 12289 WHEN 1 THEN 28657
                                                   WHEN 2 THEN 40503 ELSE 52289 END)) % 32768))
                    % 32768 AS BIGINT) AS h
        FROM (SELECT doc_id, token, generate_subscripts(cs, 1) AS pos, unnest(cs) AS c
              FROM (SELECT doc_id, token, string_split(token, '') AS cs FROM toks))
        CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
        GROUP BY doc_id, token, k),
      votes AS MATERIALIZED (
        SELECT doc_id, j,
               CAST(SUM(((h // CAST(pow(2, j % 15) AS BIGINT)) % 2) * 2 - 1) AS BIGINT) AS votes
        FROM hashed JOIN (SELECT unnest(range(0, 60)) AS j) ON (j // 15) = k
        GROUP BY doc_id, j),
      sh AS MATERIALIZED (
        SELECT doc_id,
               CAST(SUM(CASE WHEN votes > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id),
      banded AS MATERIALIZED (
        SELECT doc_id, simhash, band,
               (simhash // CAST(pow(2, 15 * band) AS BIGINT)) % 32768 AS band_val
        FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
      cand AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               xor(a.simhash, b.simhash) AS x, a.band AS band
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
      SELECT a_id, b_id, CAST(bit_count(x) AS BIGINT) AS hamming
      FROM cand
      WHERE band = CASE WHEN x % 32768 = 0 THEN 0
                        WHEN (x // 32768) % 32768 = 0 THEN 1
                        WHEN (x // 1073741824) % 32768 = 0 THEN 2
                        ELSE 3 END
        AND bit_count(x) <= 3
      ORDER BY a_id, b_id
    """)
  )

  /** Banded SimHash over bigram SHINGLES — the r8-verdict sibling that
    * retires sim_simhash_bands' measured superlinearity (16× at sf1).
    * Same 60-bit [[graft.functions.Simhash60]] sketch, same 4×15-bit
    * band equi-join, same exact bit_count verdict and lowest-matching-
    * band dedup — but the signature is computed over DISTINCT word
    * BIGRAMS (token_ngrams(toks, 2)) instead of unigram token sets.
    *
    * Why that changes the scaling class on this corpus: the fixtures
    * draw tokens from a 31-word vocabulary, so nearly every document's
    * unigram token SET converges on "most of the vocabulary" — the
    * majority-vote sketch concentrates on a handful of values, band
    * buckets saturate, and candidates grow ~quadratically (the measured
    * 16×). Bigram shingles span a 31² = 961-element space and docs of
    * 10–100 tokens sample ≲10% of it, so sketches spread, buckets hold
    * only genuinely order-similar docs, and the candidate set tracks the
    * true near-dup structure. Same documents, same threshold semantics,
    * linear band join — the construction a 100 TB user should reach for.
    * PropertySpec cross-pins the pigeonhole guarantee: the banded result
    * equals the brute-force all-pairs result on the same sketch.
    *
    * Docs with fewer than 2 tokens have no bigrams and are excluded in
    * BOTH engines (the oracle's unnest of an empty shingle list drops
    * them naturally; the Spark side filters explicitly so an all-zero
    * sketch can't pair every singleton doc with every other).
    */
  val simSimhashShingleBands = Op(
    "sim_simhash_shingle_bands",
    (s, d) => {
      val sh = T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          call_function("simhash60",
            array_distinct(call_function("token_ngrams", col("toks"), lit(2))))
            .as("simhash"))
      bandedHamming60(sh)
    },
    Some("""
      -- CTEs MATERIALIZED: the banded self-join references its chain twice
      -- and DuckDB re-inlines plain CTEs per reference (see graph_k_core)
      WITH shingles AS MATERIALIZED (
        SELECT DISTINCT doc_id, shingle AS token FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(arr)),
                   i -> arr[i] || ' ' || arr[i + 1])) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents))),
      hashed AS MATERIALIZED (
        SELECT doc_id, token, k,
               CAST(SUM(ascii(c) * ((pos * (CASE k WHEN 0 THEN 12289 WHEN 1 THEN 28657
                                                   WHEN 2 THEN 40503 ELSE 52289 END)) % 32768))
                    % 32768 AS BIGINT) AS h
        FROM (SELECT doc_id, token, generate_subscripts(cs, 1) AS pos, unnest(cs) AS c
              FROM (SELECT doc_id, token, string_split(token, '') AS cs FROM shingles))
        CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
        GROUP BY doc_id, token, k),
      votes AS MATERIALIZED (
        SELECT doc_id, j,
               CAST(SUM(((h // CAST(pow(2, j % 15) AS BIGINT)) % 2) * 2 - 1) AS BIGINT) AS votes
        FROM hashed JOIN (SELECT unnest(range(0, 60)) AS j) ON (j // 15) = k
        GROUP BY doc_id, j),
      sh AS MATERIALIZED (
        SELECT doc_id,
               CAST(SUM(CASE WHEN votes > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id),
      banded AS MATERIALIZED (
        SELECT doc_id, simhash, band,
               (simhash // CAST(pow(2, 15 * band) AS BIGINT)) % 32768 AS band_val
        FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
      cand AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               xor(a.simhash, b.simhash) AS x, a.band AS band
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
      SELECT a_id, b_id, CAST(bit_count(x) AS BIGINT) AS hamming
      FROM cand
      WHERE band = CASE WHEN x % 32768 = 0 THEN 0
                        WHEN (x // 32768) % 32768 = 0 THEN 1
                        WHEN (x // 1073741824) % 32768 = 0 THEN 2
                        ELSE 3 END
        AND bit_count(x) <= 3
      ORDER BY a_id, b_id
    """)
  )

  /** The shared 4×15-bit band-join + exact-hamming verdict used by both
    * simhash band ops: explode each 60-bit sketch into (band, band_val),
    * equi-join on band equality, keep each colliding pair only at its
    * LOWEST matching band (integer filter on the xor — dedup without a
    * distinct shuffle), verify hamming <= 3 by bit_count. Pigeonhole:
    * <= 3 differing bits touch at most 3 of 4 bands, so one band matches
    * bit-exactly — zero false negatives at this threshold.
    */
  private def bandedHamming60(sh: DataFrame): DataFrame = {
    val banded = sh
      .select(col("doc_id"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("band_val",
        expr("(simhash div CAST(pow(2, 15 * band) AS BIGINT)) % 32768"))
    val a = banded.select(col("doc_id").as("a_id"), col("simhash").as("sa"),
      col("band"), col("band_val"))
    val b = banded.select(col("doc_id").as("b_id"), col("simhash").as("sb"),
      col("band").as("band_b"), col("band_val").as("bv_b"))
    a.join(b,
        col("band") === col("band_b") && col("band_val") === col("bv_b") &&
        col("a_id") < col("b_id"))
      .withColumn("x", expr("sa ^ sb"))
      .filter(expr("""band = CASE WHEN x % 32768 = 0 THEN 0
                                  WHEN (x div 32768) % 32768 = 0 THEN 1
                                  WHEN (x div 1073741824) % 32768 = 0 THEN 2
                                  ELSE 3 END"""))
      .withColumn("hamming", expr("CAST(bit_count(x) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** BucketedRandomProjectionLSH over embeddings — the euclidean ANN scale
    * path (random-hyperplane bucketing → candidates only join within
    * buckets). Fixed seed; oracle-exempt; ExemptSpec proves recall >= 0.9
    * against the exact under-threshold pair set.
    */
  val simBrpLsh = Op(
    "sim_brp_lsh",
    (s, d) => {
      import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
      import org.apache.spark.ml.functions.array_to_vector
      val feat = T.embeddings(s, d)
        .filter(col("vec_id") < 300)
        .select(col("vec_id"),
          array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))
      val brp = new BucketedRandomProjectionLSH()
        .setBucketLength(2.0).setNumHashTables(4).setSeed(42L)
        .setInputCol("features").setOutputCol("hashes")
      val model = brp.fit(feat)
      model.approxSimilarityJoin(feat, feat, 1.1, "dist")
        .select(
          col("datasetA.vec_id").as("a_id"),
          col("datasetB.vec_id").as("b_id"),
          round(col("dist"), 6).as("dist"))
        .filter(col("a_id") < col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    },
    None
  )

  /** IVF-style ANN: a KMeans coarse quantizer partitions the corpus into
    * nList inverted lists; each probe searches only its nProbe nearest
    * lists, then scores candidates exactly (cosine via vec_dot). This is
    * the third scale path next to MinHash-LSH (Jaccard) and BRP-LSH
    * (euclidean): at 100 TB the corpus is scanned once to assign lists,
    * the centroid table is nList×dim (tiny, broadcast by construction),
    * and each query touches nProbe/nList of the data. Oracle-exempt
    * (KMeans isn't SQL-expressible); ExemptSpec proves recall vs the exact
    * brute-force twin (sim_cosine_knn) and that candidates only come from
    * probed lists.
    */
  /** Build the IVF index ONCE per (sfDir, nList) and persist it to scratch
    * parquet: the inverted-list assignments (vec_id, embedding, list_id)
    * and the centroid table. Production ANN builds the index offline and
    * serves many queries against it; r2 refit the KMeans quantizer on every
    * invocation (~4-6 s of a ~5-6 s query was index build, not search).
    * The _SUCCESS marker of the last-written table gates the rebuild, so
    * repeated calls in a Verify/Bench sweep — and a real "score 1000 probe
    * batches" loop — pay the fit exactly once.
    */
  private def ivfIndex(s: SparkSession, d: String, nList: Int): (DataFrame, DataFrame) = {
    val idx = T.scratchFor(d, s"ivf_index_$nList")
    if (!new java.io.File(s"$idx/centroids/_SUCCESS").exists()) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = T.embeddings(s, d)
        .withColumn("fvec", array_to_vector(col("embedding")))
      val model = new KMeans().setK(nList).setSeed(7).setMaxIter(10)
        .setFeaturesCol("fvec").setPredictionCol("list_id").fit(e)
      model.transform(e)
        .select(col("vec_id"), col("embedding"), col("list_id"))
        .write.mode("overwrite").parquet(s"$idx/assigned")
      // centroid table: nList rows of float[dim] — driver-side by nature
      // (KMeans model), re-distributed as a broadcast relation
      import s.implicits._
      model.clusterCenters.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
        .toDF("list_id", "centroid")
        .write.mode("overwrite").parquet(s"$idx/centroids")
    }
    (s.read.parquet(s"$idx/assigned"), s.read.parquet(s"$idx/centroids"))
  }

  val simIvfKnn = Op(
    "sim_ivf_knn",
    (s, d) => {
      val nList = 16
      val nProbe = 6
      val (assigned, centroids) = ivfIndex(s, d, nList)
      val probes = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          norm(col("embedding")).as("pnorm"))
      // probe → nProbe nearest lists by euclidean distance to centroid
      val wList = Window.partitionBy(col("probe_id"))
        .orderBy(col("dist2").asc, col("list_id"))
      val probeLists = probes.crossJoin(broadcast(centroids))
        .withColumn("dist2",
          dot(col("pe"), col("pe")) + dot(col("centroid"), col("centroid"))
            - lit(2.0) * dot(col("pe"), col("centroid")))
        .withColumn("lrn", row_number().over(wList))
        .filter(col("lrn") <= nProbe)
        .select(col("probe_id"), col("pe"), col("pnorm"), col("list_id"))
      // candidates = union of the probed inverted lists, scored exactly
      val wTop = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      broadcast(probeLists).join(assigned, "list_id")
        .filter(col("probe_id") =!= col("vec_id"))
        .withColumn("cosine",
          round(dot(col("pe"), col("embedding"))
            / (col("pnorm") * norm(col("embedding"))), 6))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("rn").cast("long").as("rn"),
          col("vec_id"), col("cosine"), col("list_id"))
        .orderBy(col("probe_id"), col("rn"))
    },
    None
  )

  /** The fully-oracled IVF sibling (r16 verdict item 3): the same
    * coarse-quantize → nProbe lists → exact re-rank chain as
    * [[simIvfKnn]], but the quantizer is the integer-grid Lloyd kernel
    * ml_kmeans_lloyd already proved DuckDB-twinnable (xu = ⌊x·1e6⌋ per
    * dim, c0 = the first k vectors, 2 synchronous rounds, exact BIGINT
    * L2) instead of spark.ml KMeans — so the ENTIRE probe chain is a
    * finite SQL chain and the driver hash-checks every stage's effect
    * (the same anchoring move sim_minhash_det made for the LSH family).
    * Scale shape is identical to the exempt flagship: centroids are
    * ≤ k·dim rows broadcast everywhere, the corpus is assigned in one
    * broadcast-join + map-side argmin pass, each probe touches
    * nProbe/nList of the corpus, and the exact cosine re-rank (codegen'd
    * vec_dot) runs on candidates only. k=8 lists, nProbe=3, top-5.
    */
  val simIvfKnnDet = Op(
    "sim_ivf_knn_det",
    (s, d) => {
      val x = T.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          expr("CAST(floor(CAST(col AS DOUBLE) * 1000000) AS BIGINT)").as("xu"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c0 = x.filter(col("vec_id") < 8)
        .select(col("vec_id").as("list_id"), col("dim"), col("xu").as("cu"))
      def assign(c: DataFrame) =
        x.join(broadcast(c), Seq("dim"))
          .groupBy(col("vec_id"), col("list_id"))
          .agg(expr("sum((xu - cu) * (xu - cu))").as("dist"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist"), col("list_id"))).as("m"))
          .select(col("vec_id"), col("m.list_id").as("list_id"))
      def update(a: DataFrame) =
        x.join(a, Seq("vec_id"))
          .groupBy(col("list_id"), col("dim"))
          .agg(expr("sum(xu) div count(1)").as("cu"))
      val c2 = update(assign(update(assign(c0))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val assigned = assign(c2)
      // probe → 3 nearest lists by the same exact integer L2
      val pd = x.filter(col("vec_id") < 10).join(broadcast(c2), Seq("dim"))
        .groupBy(col("vec_id").as("probe_id"), col("list_id"))
        .agg(expr("sum((xu - cu) * (xu - cu))").as("dist"))
      val wl = Window.partitionBy(col("probe_id"))
        .orderBy(col("dist").asc, col("list_id"))
      val probeLists = pd.withColumn("lrn", row_number().over(wl))
        .filter(col("lrn") <= 3).select(col("probe_id"), col("list_id"))
      // candidates = union of probed lists, re-ranked by exact cosine on
      // the original float vectors (the sim_cosine_knn scoring contract)
      val e = T.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          norm(col("embedding")).as("pnorm"))
      val wTop = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      broadcast(probeLists).join(assigned, "list_id")
        .filter(col("probe_id") =!= col("vec_id"))
        .join(e, "vec_id")
        .join(broadcast(probes), "probe_id")
        .withColumn("cosine",
          round(dot(col("pe"), col("embedding"))
            / (col("pnorm") * norm(col("embedding"))), 6))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("rn").cast("long").as("rn"),
          col("vec_id"), col("cosine"), col("list_id"))
        .orderBy(col("probe_id"), col("rn"))
    },
    Some("""
      WITH x AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xu
        FROM embeddings),
      c0 AS (SELECT vec_id AS list_id, dim, xu AS cu FROM x WHERE vec_id < 8),
      d1 AS (SELECT x.vec_id, c.list_id, SUM((xu - cu) * (xu - cu)) AS dist
             FROM x JOIN c0 c USING (dim) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, list_id FROM (
               SELECT vec_id, list_id, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY dist, list_id) AS rn FROM d1) WHERE rn = 1),
      c1 AS (SELECT a1.list_id, x.dim, CAST(SUM(xu) // COUNT(*) AS BIGINT) AS cu
             FROM x JOIN a1 USING (vec_id) GROUP BY 1, 2),
      d2 AS (SELECT x.vec_id, c.list_id, SUM((xu - cu) * (xu - cu)) AS dist
             FROM x JOIN c1 c USING (dim) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, list_id FROM (
               SELECT vec_id, list_id, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY dist, list_id) AS rn FROM d2) WHERE rn = 1),
      c2 AS (SELECT a2.list_id, x.dim, CAST(SUM(xu) // COUNT(*) AS BIGINT) AS cu
             FROM x JOIN a2 USING (vec_id) GROUP BY 1, 2),
      d3 AS (SELECT x.vec_id, c.list_id, SUM((xu - cu) * (xu - cu)) AS dist
             FROM x JOIN c2 c USING (dim) GROUP BY 1, 2),
      a3 AS (SELECT vec_id, list_id FROM (
               SELECT vec_id, list_id, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY dist, list_id) AS rn FROM d3) WHERE rn = 1),
      pl AS (SELECT probe_id, list_id FROM (
               SELECT vec_id AS probe_id, list_id, ROW_NUMBER() OVER (
                        PARTITION BY vec_id ORDER BY dist, list_id) AS lrn
               FROM d3 WHERE vec_id < 10) WHERE lrn <= 3),
      cand AS (SELECT pl.probe_id, a3.vec_id, a3.list_id
               FROM pl JOIN a3 USING (list_id) WHERE a3.vec_id <> pl.probe_id),
      scored AS (
        SELECT c.probe_id, c.vec_id, c.list_id,
               ROUND(
                 list_sum(list_transform(range(1, 65),
                   i -> CAST(p.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(p.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                  * SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cosine
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN embeddings p ON p.vec_id = c.probe_id)
      SELECT probe_id, rn, vec_id, cosine, list_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY cosine DESC, vec_id) AS rn
        FROM scored)
      WHERE rn <= 5 ORDER BY probe_id, rn
    """)
  )

  /** Hybrid search serving — the reference's actual product surface: one
    * query answered by TWO retrieval legs fused with reciprocal-rank
    * fusion (Cormack et al. 2009, the published k=60 constant). Lexical
    * leg: a disjunctive 3-term lookup against the _SUCCESS-gated postings
    * index ([[Scans.invertedIndex]] — token IN-list pushed into the
    * token-clustered parquet, so the read is proportional to the terms'
    * document frequency, never the corpus), coordinate-scored by #terms
    * matched. Semantic leg: exact cosine re-rank of the lexical top-50
    * against the query vector — the probe is BOUNDED at 50 candidates by
    * construction (a distributed TakeOrdered cut, never a global sort),
    * so the vector work per query is k·dim regardless of corpus size; the
    * production-scale variant swaps in the IVF probe ([[simIvfKnn]]) when
    * the semantic leg must recall beyond the lexical candidates — kept
    * exact here so the full fusion stays DuckDB-oracled. RRF is pure
    * integer rank arithmetic (1e6 div (60+r), both engines' integer
    * division), top-10 fused. Candidates live in BOTH index spaces
    * (postings ∩ embeddings) — the hybrid contract.
    */
  val serveHybridSearch = Op(
    "serve_hybrid_search",
    (s, d) => {
      val lex = Scans.invertedIndex(s, d)
        .filter(col("token").isin("join", "filter", "group"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_terms"))
      val e = T.embeddings(s, d)
      val cand = lex
        .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .orderBy(col("n_terms").desc, col("doc_id")).limit(50)
      val q = e.filter(col("vec_id") === 5)
        .select(col("embedding").as("pe"), norm(col("embedding")).as("pnorm"))
      val scored = cand.crossJoin(broadcast(q))
        .withColumn("cosine",
          round(dot(col("pe"), col("embedding"))
            / (col("pnorm") * norm(col("embedding"))), 6))
        .select(col("doc_id"), col("n_terms"), col("cosine"))
      // single-partition windows over exactly 50 rows — bounded by k, the
      // RRF merge never sees more than the probe cut
      val wl = Window.orderBy(col("n_terms").desc, col("doc_id"))
      val ws = Window.orderBy(col("cosine").desc, col("doc_id"))
      scored
        .withColumn("lex_rank", row_number().over(wl).cast("long"))
        .withColumn("sem_rank", row_number().over(ws).cast("long"))
        .withColumn("rrf_ppm",
          expr("1000000 div (60 + lex_rank) + 1000000 div (60 + sem_rank)"))
        .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("n_terms"), col("lex_rank"),
          col("sem_rank"), col("cosine"), col("rrf_ppm"))
    },
    Some("""
      WITH p AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      lex AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms FROM p
        WHERE token IN ('join', 'filter', 'group') GROUP BY doc_id),
      cand AS (
        SELECT l.doc_id, l.n_terms, e.embedding
        FROM lex l JOIN embeddings e ON e.vec_id = l.doc_id
        ORDER BY l.n_terms DESC, l.doc_id LIMIT 50),
      q AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 5),
      scored AS (
        SELECT c.doc_id, c.n_terms,
               ROUND(
                 list_sum(list_transform(range(1, 65),
                   i -> CAST(pe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                 AS cosine
        FROM cand c CROSS JOIN q),
      ranked AS (
        SELECT doc_id, n_terms, cosine,
               CAST(ROW_NUMBER() OVER (ORDER BY n_terms DESC, doc_id) AS BIGINT) AS lex_rank,
               CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS sem_rank
        FROM scored)
      SELECT doc_id, n_terms, lex_rank, sem_rank, cosine,
             1000000 // (60 + lex_rank) + 1000000 // (60 + sem_rank) AS rrf_ppm
      FROM ranked ORDER BY rrf_ppm DESC, doc_id LIMIT 10
    """)
  )

  /** Prefix autocomplete serving — the other live surface of a search
    * product: for each typed prefix, the top-5 completions ranked by
    * document frequency (df DESC, token ASC — deterministic). Served from
    * the same _SUCCESS-gated postings index as [[serveHybridSearch]]:
    * the startsWith disjunction pushes into the token-clustered parquet
    * as StringStartsWith filters (min/max row-group skip — the scan reads
    * the matching token ranges, never the corpus), df is a
    * map-side-combined count over the matching postings, and the per-
    * prefix top-5 window is bounded by the matching vocabulary slice.
    * Output is |prefixes|×5 rows at any corpus size.
    */
  val servePrefixAutocomplete = Op(
    "serve_prefix_autocomplete",
    (s, d) => {
      val prefixes = Seq("s", "c", "f", "w")
      val postings = Scans.invertedIndex(s, d)
        .filter(prefixes.map(p => col("token").startsWith(p)).reduce(_ || _))
      val df = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .withColumn("prefix", substring(col("token"), 1, 1))
      val w = Window.partitionBy(col("prefix"))
        .orderBy(col("df").desc, col("token"))
      df.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("prefix"), col("rn"), col("token"), col("df"))
        .orderBy(col("prefix"), col("rn"))
    },
    Some("""
      WITH p AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      df AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
               substr(token, 1, 1) AS prefix
        FROM p
        WHERE token LIKE 's%' OR token LIKE 'c%'
           OR token LIKE 'f%' OR token LIKE 'w%'
        GROUP BY token)
      SELECT prefix, rn, token, df FROM (
        SELECT prefix, token, df,
               CAST(ROW_NUMBER() OVER (PARTITION BY prefix
                 ORDER BY df DESC, token) AS BIGINT) AS rn
        FROM df)
      WHERE rn <= 5 ORDER BY prefix, rn
    """)
  )

  /** KWIC snippet serving — the last visible piece of a results page: for
    * the first 20 docs matching a term, the ±40-char window around the
    * term's first occurrence. Two bounded index hops, corpus never
    * scanned: (1) the term's posting list from the _SUCCESS-gated index
    * (EqualTo pushdown into the token-clustered parquet), first 20 doc
    * ids by a distributed TakeOrdered, COLLECTED — the id list is the
    * serving decision, exactly serve_point_lookup's contract; (2) a
    * doc_id IN-list point lookup into the corpus (row-group skip) plus a
    * narrow locate/substring projection over just those 20 rows. First-
    * occurrence-substring semantics (locate/strpos) are identical across
    * engines, so the snippet bytes hash-match.
    */
  val serveDocSnippet = Op(
    "serve_doc_snippet",
    (s, d) => {
      val term = "filter"
      val ids = Scans.invertedIndex(s, d)
        .filter(col("token") === term)
        .select(col("doc_id")).orderBy(col("doc_id")).limit(20)
        .collect().map(_.getLong(0)).toSeq
      T.documents(s, d)
        .filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"),
          locate(term, col("text")).cast("long").as("pos"),
          // Typed column tree, no SQL splicing: the term reaches the plan
          // only as a literal, so a quote-bearing term can never break
          // parsing if this is parameterized later.
          col("text").substr(
            greatest(lit(1), locate(term, col("text")) - lit(40)), lit(86))
            .as("snippet"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH p AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      cand AS (
        SELECT doc_id FROM p WHERE token = 'filter' ORDER BY doc_id LIMIT 20)
      SELECT d.doc_id,
             CAST(strpos(d.text, 'filter') AS BIGINT) AS pos,
             substr(d.text, GREATEST(1, strpos(d.text, 'filter') - 40), 86)
               AS snippet
      FROM documents d JOIN cand USING (doc_id)
      ORDER BY d.doc_id
    """)
  )

  /** The document-frequency leg of [[serveMoreLikeThis]], exposed so
    * PlanDump can show its pushdown: the postings index restricted to the
    * probe's (driver-collected) token set by an IN-list — `In(token, …)`
    * reaches the token-clustered parquet's PushedFilters, so the scan
    * row-group-skips on min/max stats exactly like serve_inverted_index's
    * (the r17 plan audit's one weak mark was this leg filtering AFTER an
    * unpruned scan via a broadcast join).
    */
  private[graft] def mltDfreqLeg(s: org.apache.spark.sql.SparkSession,
      d: String, probeTokens: Seq[String]): org.apache.spark.sql.DataFrame =
    Scans.invertedIndex(s, d)
      .filter(col("token").isin(probeTokens: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** More-like-this retrieval (r17, pushdown r18) — the Lucene MLT
    * pattern, the last classic serving leg after
    * search/autocomplete/snippet/facets: given a probe DOCUMENT (not a
    * query string), select its most discriminative terms by tf·idf, then
    * retrieve and coordinate-score other documents sharing them. Stage
    * economics at 100 TB: the probe's term vector comes from ONE point
    * lookup (doc_id EqualTo pushdown) and is COLLECTED — bounded by a
    * single document's vocabulary, the serve_doc_snippet serving-decision
    * idiom; document frequencies come from the postings index restricted
    * to those tokens by an IN-list ([[mltDfreqLeg]] — `In(token, …)` in
    * PushedFilters, so the token-clustered scan row-group-skips and reads
    * ∝ the probe's vocabulary, never the corpus); the top-5 terms by
    * tf·idf are picked on the collected ≤|probe vocab| rows (idf_ppm =
    * ⌊1e6·(ln((N+1)/(df+1))+1)⌋ — floor/ln are identical IEEE doubles in
    * Scala, Spark and DuckDB); and candidates come from the 5 winning
    * posting lists only — a second IN pushdown, with idf joined back as a
    * 5-branch literal CASE so the scoring side carries no join at all.
    * Scores are integer ppm (the evt_attribution_u idiom), so coordinate
    * sums are order-independent and the chain hash-matches the DuckDB
    * twin. The final top-10 is a genuine TakeOrderedAndProject (orderBy +
    * limit), with row_number assigned over the 10 surviving rows.
    */
  val serveMoreLikeThis = Op(
    "serve_more_like_this",
    (s, d) => {
      val probe: Map[String, Long] = T.documents(s, d)
        .filter(col("doc_id") === 1L)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nDocs = T.documents(s, d).count()
      val dfByToken: Map[String, Long] =
        mltDfreqLeg(s, d, probe.keys.toSeq.sorted)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def idfPpm(df: Long): Long = math.floor(
        1000000.0 * (math.log((nDocs + 1.0) / (df + 1.0)) + 1.0)).toLong
      val top5: Seq[(String, Long)] = dfByToken.toSeq
        .map { case (t, df) => (t, idfPpm(df)) }
        .sortBy { case (t, idf) => (-probe(t) * idf, t) }
        .take(5)
      // Typed literal CASE, no SQL splicing: tokens reach the plan only as
      // literals, so a quote-bearing term can never break parsing.
      val idfCol = top5.foldLeft(lit(null).cast("long")) {
        case (acc, (t, idf)) => when(col("token") === t, lit(idf)).otherwise(acc)
      }
      Scans.invertedIndex(s, d)
        .filter(col("token").isin(top5.map(_._1): _*))
        .filter(col("doc_id") =!= 1L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("matched"),
          sum(idfCol).as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("matched").desc, col("doc_id"))
        .limit(10)
        .withColumn("rn", row_number().over(Window.orderBy(
          col("score_ppm").desc, col("matched").desc, col("doc_id")))
          .cast("long"))
        .select(col("rn"), col("doc_id"), col("matched"), col("score_ppm"))
        .orderBy(col("rn"))
    },
    Some("""
      WITH p AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      probe AS (
        SELECT token, COUNT(*) AS tf FROM (
          SELECT unnest(string_split(text, ' ')) AS token
          FROM documents WHERE doc_id = 1)
        GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      dfreq AS (
        SELECT p.token, probe.tf, COUNT(*) AS df
        FROM p JOIN probe USING (token) GROUP BY p.token, probe.tf),
      top5 AS (
        SELECT token, idf_ppm FROM (
          SELECT token,
                 CAST(FLOOR(1000000 * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0)) AS BIGINT) AS idf_ppm,
                 tf * CAST(FLOOR(1000000 * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0)) AS BIGINT) AS tfidf_ppm
          FROM dfreq CROSS JOIN n)
        QUALIFY ROW_NUMBER() OVER (ORDER BY tfidf_ppm DESC, token) <= 5),
      scored AS (
        SELECT p.doc_id, COUNT(*) AS matched,
               CAST(SUM(t.idf_ppm) AS BIGINT) AS score_ppm
        FROM p JOIN top5 t USING (token)
        WHERE p.doc_id <> 1
        GROUP BY p.doc_id)
      SELECT rn, doc_id, matched, score_ppm FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, matched DESC, doc_id) AS BIGINT) AS rn, *
        FROM scored)
      WHERE rn <= 10 ORDER BY rn
    """)
  )

  /** SemDeDup composition (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): k-means
    * cluster the embedding corpus, then search for near-duplicates ONLY
    * within each cluster, then keep one representative per duplicate pair
    * group. The economics at 100 TB: the cluster assignment is one scan
    * against broadcast centroids (reused verbatim from the _SUCCESS-gated
    * [[ivfIndex]] — SemDeDup's clustering IS an IVF coarse quantizer),
    * and the quadratic cosine work shrinks from N² to Σ|cluster|² — with
    * k clusters of even size that is N²/k, and k scales with the corpus.
    * The within-cluster join is an equi-join on list_id, so it
    * hash-partitions like any other join; no pair across clusters is ever
    * scored. Pruning is the TRUE greedy lowest-id-survives rule (SemDeDup's
    * keep-one-representative semantics): iterate ids ascending, prune a
    * vector only if it duplicates a SURVIVING lower id — so in a chain
    * a<b<c with pairs (a,b),(b,c) only, b is pruned but c survives (its
    * sole duplicate was itself pruned). Computed exactly by
    * [[greedySurvivors]], a distributed decided-frontier iteration (a
    * vertex decides once all lower neighbors are decided; rounds ≤ longest
    * increasing path in the sparse duplicate graph — the same bounded-round
    * shape as ccMinLabel, never a driver-side sort). Threshold cosine >=
    * 0.35 — this corpus's vectors are near-orthogonal, the classic 0.95
    * would be vacuous; see sim_embed_dedup. Emits the per-cluster dedup
    * ledger: members, scored pairs over threshold, pruned, survivors.
    * Oracle-exempt (KMeans is not SQL-expressible); ExemptSpec proves the
    * candidate restriction, cross-checks within-cluster duplicate pairs
    * against the exact brute-force sim_embed_dedup on the bounded slice,
    * pins determinism, and a dedicated chain-graph test pins the greedy
    * rule itself.
    */
  val semDedupClusters = Op(
    "sem_dedup_clusters",
    (s, d) => {
      // k scales with the corpus (SemDeDup's own economics: N²/k is linear
      // only if k ∝ N) — target ~125 vectors/cluster so within-cluster
      // pair work stays ~125·N at any scale. Floor 16 keeps every fixture
      // scale ≤ sf0.1 (N ≤ 2000) on the same index as before; the sf1
      // measurement that motivated this: fixed k=16 ran 12× at 10× data.
      val nVecs = T.embeddings(s, d).count()
      val k = math.max(16, (nVecs / 125).toInt)
      val (assigned, _) = ivfIndex(s, d, k)
      val e = assigned.select(col("vec_id"), col("list_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      val a = e.select(col("list_id"), col("vec_id").as("a_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("list_id").as("lb"), col("vec_id").as("b_id"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val dups = a.join(b,
          col("list_id") === col("lb") && col("a_id") < col("b_id"))
        .withColumn("cosine",
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= 0.35)
        .select(col("list_id"), col("a_id"), col("b_id"))
        .localCheckpoint(true)
      val status = greedySurvivors(
        e.select(col("vec_id")),
        dups.select(col("a_id").as("lo"), col("b_id").as("hi")))
      val pairCounts = dups.groupBy(col("list_id"))
        .agg(count(lit(1)).as("n_dup_pairs"))
      e.select(col("list_id"), col("vec_id"))
        .join(status, "vec_id")
        .groupBy(col("list_id"))
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("st") === "p", 1L).otherwise(0L)).as("n_pruned"))
        .join(pairCounts, Seq("list_id"), "left")
        .select(
          col("list_id"),
          col("n_vecs"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          col("n_pruned"),
          (col("n_vecs") - col("n_pruned")).as("n_survivors"))
        .orderBy(col("list_id"))
    },
    None
  )

  /** Exact greedy lowest-id-survives over a duplicate graph, distributed.
    * Semantics: processing vertex ids ascending, a vertex is pruned iff it
    * has a SURVIVING lower-id neighbor (the lexicographically-first maximal
    * independent set — SemDeDup's keep-one-representative rule; note this
    * is NOT connected-components: in a chain a<b<c, c survives because its
    * only duplicate b was pruned against a). Computed without any global
    * sort by decided-frontier rounds: a vertex becomes SURV once every
    * lower neighbor is decided and none survived, PRUNED as soon as any
    * lower neighbor survives; round 1 decides all vertices with no lower
    * neighbors, and each round is one edge join + one vertex agg (the
    * ccMinLabel shape — per-round localCheckpoint, superseded rounds
    * freed). Rounds ≤ longest increasing path in the duplicate graph —
    * tiny on any sparse near-dup graph. Edges must satisfy lo < hi.
    * Returns (vec_id, st) with st ∈ {"s", "p"}.
    */
  private[graft] def greedySurvivors(verts: DataFrame, edges0: DataFrame): DataFrame = {
    // enforce the lo < hi contract defensively: a self-pair or reversed
    // edge would leave its vertex waiting on an undecidable lower neighbor
    // and spin the round loop forever — drop such edges instead of hanging
    val edges = edges0.filter(col("lo") < col("hi"))
    var status = verts.select(col("vec_id"), lit("u").as("st"))
      .localCheckpoint(true)
    var undecided = 1L
    while (undecided > 0) {
      val lower = edges
        .join(status.select(col("vec_id").as("lo"), col("st").as("lo_st")), "lo")
        .groupBy(col("hi"))
        .agg(
          max(when(col("lo_st") === "s", 1).otherwise(0)).as("any_surv"),
          max(when(col("lo_st") === "u", 1).otherwise(0)).as("any_undec"))
      val next = status
        .join(lower, col("vec_id") === col("hi"), "left")
        .select(col("vec_id"),
          when(col("st") =!= "u", col("st"))
            .when(coalesce(col("any_surv"), lit(0)) === 1, "p")
            .when(coalesce(col("any_undec"), lit(0)) === 0, "s")
            .otherwise("u").as("st"))
        .localCheckpoint(true)
      undecided = next.filter(col("st") === "u").count()
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(status)
      status = next
    }
    status
  }

  /** Edit-distance near-dup pairs: Levenshtein over a bounded prefix of
    * same-lang document pairs — the fuzzy-matching tier between exact
    * dedup (mm_content_dedup) and token-set similarity (Jaccard). Prefix
    * bound (40 chars) caps the O(len²) DP cost per pair; candidate set
    * bounded like the other exact quadratic twins (the scale path pairs
    * this with an LSH/blocking candidate generator).
    */
  val simEditDistance = Op(
    "sim_edit_distance",
    (s, d) => {
      val docs = T.documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 40).as("pre"))
      val a = docs.select(col("doc_id").as("a_id"), col("lang"), col("pre").as("pa"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang").as("lang_b"), col("pre").as("pb"))
      a.join(b, col("lang") === col("lang_b") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
        .filter(col("edit_dist") <= 25)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH docs2 AS (SELECT doc_id, lang, left(text, 40) AS pre
                     FROM documents WHERE doc_id < 60)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist
      FROM docs2 a JOIN docs2 b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE levenshtein(a.pre, b.pre) <= 25
      ORDER BY a_id, b_id
    """)
  )

  /** Connected-components dedup clustering: the step AFTER pairwise
    * near-dup detection — edges (here: shared 12-char prefix OR suffix)
    * chain transitively into dedup groups, and every member of a group
    * keeps one canonical id (the component minimum). Implemented as
    * iterative min-label propagation: each round is a distributed
    * join+agg, the driver only coordinates rounds and checks convergence
    * (<= component-diameter rounds; labels localCheckpoint'd per round so
    * the plan doesn't grow with iteration count). This is the scalable
    * form — at 100 TB the same loop runs over MinHash-candidate edges.
    * Oracle: DuckDB recursive CTE computing the exact min label reachable
    * from each vertex.
    */
  /** Iterative min-label propagation to convergence — the distributed
    * connected-components kernel shared by dedup_cc_clusters and
    * dedup_pipeline_e2e. `vertices` is one column `doc_id`; `edges` must
    * carry BOTH orientations (src, dst). Each round is one distributed
    * join+agg; labels are localCheckpoint'd per round and the superseded
    * round is unpersisted (D rounds would otherwise hold D cached copies
    * of the label table — an OOM at the billion-row scale this pattern is
    * meant for); the driver touches only the convergence scalar.
    */
  private def ccMinLabel(vertices: DataFrame, edges: DataFrame): DataFrame = {
    var labels = vertices.select(col("doc_id"), col("doc_id").as("lbl"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val nbr = edges.join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      // r18: the convergence flag rides the checkpointed frame itself
      // (lbl shrank ⟺ a lower neighbor label arrived), so the old
      // per-round second action — a join of next back onto labels just to
      // count changes — collapses to a cheap filter-count over blocks
      // already materialized by the checkpoint (the greedySurvivors
      // shape). The extra chg column is dropped from the next round's
      // join input by column pruning.
      val next = labels.join(nbr, col("doc_id") === col("src"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (coalesce(col("nlbl"), col("lbl")) < col("lbl")).as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).count()
      // Dataset.unpersist is a no-op on checkpointed frames (CacheManager
      // never sees checkpoint RDDs) — free the round's blocks for real
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(labels)
      labels = next.select(col("doc_id"), col("lbl"))
    }
    labels
  }

  val dedupCcClusters = Op(
    "dedup_cc_clusters",
    (s, d) => {
      // r18 (guide §5): docs feeds five subtrees (both legs of both
      // edgesOn self-joins + the CC vertex set) — cache it lazily so the
      // scan+projection runs once, not five times
      val docs = T.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"),
          substring(col("text"), 1, 12).as("kpre"),
          expr("right(text, 12)").as("ksuf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      def edgesOn(k: String): DataFrame = {
        val a = docs.select(col("doc_id").as("src"), col(k).as("kk"))
        val b = docs.select(col("doc_id").as("dst"), col(k).as("kk2"))
        a.join(b, col("kk") === col("kk2") && col("src") =!= col("dst"))
          .select(col("src"), col("dst"))
      }
      val edges = edgesOn("kpre").unionByName(edgesOn("ksuf")).distinct()
        .localCheckpoint(true)
      val labels = ccMinLabel(docs.select(col("doc_id")), edges)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(edges)
      labels.groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
        .orderBy(col("cluster_id"))
    },
    Some("""
      WITH RECURSIVE
      docs2 AS (SELECT doc_id, left(text, 12) AS kpre, right(text, 12) AS ksuf
                FROM documents WHERE doc_id < 500),
      edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM docs2 a JOIN docs2 b ON a.kpre = b.kpre AND a.doc_id <> b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id
        FROM docs2 a JOIN docs2 b ON a.ksuf = b.ksuf AND a.doc_id <> b.doc_id),
      walk(v, lbl) AS (
        SELECT doc_id, doc_id FROM docs2
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.v),
      comp AS (SELECT v AS doc_id, MIN(lbl) AS lbl FROM walk GROUP BY v)
      SELECT lbl AS cluster_id, COUNT(*) AS n_members, MAX(doc_id) AS max_member
      FROM comp GROUP BY lbl ORDER BY cluster_id
    """)
  )

  /** End-to-end dedup pipeline — the three tiers a production training-data
    * dedup actually chains, as ONE op: (1) exact content dedup by md5(text),
    * canonical = min doc_id per key (16-byte keys shuffle, duplicates never
    * reach later stages); (2) token-Jaccard edges >= 0.5 between the exact
    * survivors (same-source, the bounded oracle-anchor candidate generator —
    * at 100 TB swap in sim_minhash_lsh's band join, identical downstream);
    * (3) connected components over the fuzzy edges (shared ccMinLabel
    * kernel), so transitively-chained near-dups collapse into one cluster.
    * Emits per cluster: members (exact survivors), total raw docs absorbed.
    * Every stage is deterministic, so the whole pipeline is hash-oracled —
    * the DuckDB twin replays all three tiers including the recursive CC.
    */
  val dedupPipelineE2e = Op(
    "dedup_pipeline_e2e",
    (s, d) => {
      val docs = T.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("source"), col("text"), md5(col("text")).as("ckey"))
      // tier 1: exact — canonical per content key + absorbed count
      val exactc = docs.groupBy(col("ckey"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_exact"))
      // surv/toks stay UNcached (r18 A/B): their multi-reference subtrees
      // share exchanges under the final action (ReusedExchange), and adding
      // lazy caches here measured 3.6 s → 4.2-6.6 s at sf0.1 (both storage
      // levels) — reverted. The only eager actions in this op are
      // ccMinLabel's per-round convergence checkpoints.
      val surv = exactc.select(col("doc_id"), col("n_exact"))
        .join(docs.select(col("doc_id"), col("source"), col("text")), "doc_id")
      // tier 2: fuzzy edges between survivors (token Jaccard >= 0.5)
      val toks = surv
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("token"))
        .distinct()
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val a = toks.select(col("doc_id").as("a_id"), col("source"), col("token"))
      val b = toks.select(col("doc_id").as("b_id"), col("source").as("src_b"), col("token").as("tok_b"))
      val jac = a.join(b,
          col("token") === col("tok_b") && col("source") === col("src_b") &&
          col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        .filter(round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6) >= 0.5)
        .select(col("a_id"), col("b_id"))
      // doubling via ONE explode (r18, guide §2.4): the old unionByName of
      // two projections re-ran jac's post-shuffle join+filter legs per side
      val edges = jac.select(explode(array(
          struct(col("a_id").as("src"), col("b_id").as("dst")),
          struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .localCheckpoint(true)
      // tier 3: transitive closure into dedup clusters
      val labels = ccMinLabel(surv.select(col("doc_id")), edges)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(edges)
      labels
        .join(surv.select(col("doc_id"), col("n_exact")), "doc_id")
        .groupBy(col("lbl").as("cluster_id"))
        .agg(
          count(lit(1)).as("n_members"),
          sum(col("n_exact")).as("n_docs_absorbed"))
        .orderBy(col("cluster_id"))
    },
    Some("""
      WITH RECURSIVE
      docs0 AS (SELECT doc_id, source, text, md5(text) AS ckey
                FROM documents WHERE doc_id < 500),
      exactc AS (SELECT ckey, MIN(doc_id) AS doc_id, COUNT(*) AS n_exact
                 FROM docs0 GROUP BY ckey),
      surv AS (SELECT e.doc_id, e.n_exact, d.source, d.text
               FROM exactc e JOIN docs0 d ON d.doc_id = e.doc_id),
      toks AS (SELECT DISTINCT doc_id, source, token FROM (
                 SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
                 FROM surv)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
                FROM toks a JOIN toks b
                  ON a.token = b.token AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      jac AS (SELECT a_id, b_id FROM inter
              JOIN sizes sa ON sa.doc_id = a_id
              JOIN sizes sb ON sb.doc_id = b_id
              WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5),
      edges AS (SELECT a_id AS src, b_id AS dst FROM jac
                UNION SELECT b_id, a_id FROM jac),
      walk(v, lbl) AS (
        SELECT doc_id, doc_id FROM surv
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.v),
      comp AS (SELECT v AS doc_id, MIN(lbl) AS lbl FROM walk GROUP BY v)
      SELECT lbl AS cluster_id, COUNT(*) AS n_members,
             CAST(SUM(n_exact) AS BIGINT) AS n_docs_absorbed
      FROM comp JOIN surv USING (doc_id)
      GROUP BY lbl ORDER BY cluster_id
    """)
  )

  /** Incremental dedup — the merge/upsert form a production training-data
    * pipeline actually runs: "append only the docs whose content key is not
    * already in the dedup table", never recompute from the full corpus.
    * Two generations constructed from the fixture (gen1 = doc_id % 3 != 0;
    * gen2 = the full table, so 1/3 of it is genuinely new):
    * gen1's distinct content keys are persisted as the dedup table; gen2 is
    * LEFT-JOINed against it (the md5 key — 16 bytes — shuffles, never the
    * text, same argument as mm_content_dedup), rows whose key is unseen AND
    * that win the within-batch tie (min doc_id per key) are appended; the
    * appended keys are written back with mode("append") — the incremental
    * table-maintenance step. Emits per-lang appended/skipped counts plus
    * the read-back size of the final dedup table, proving the round trip.
    * At 100 TB gen2 is a day's crawl and the dedup table is bucketed by
    * key; the join shape is identical.
    */
  val dedupIncremental = Op(
    "dedup_incremental",
    (s, d) => {
      val tmp = T.scratch("dedup_inc")
      val keyed = T.documents(s, d)
        .select(col("doc_id"), col("lang"),
          md5(concat_ws("|", col("lang"), col("text"))).as("key"))
      // generation 1: bootstrap the dedup table (overwrite resets state so
      // the op is idempotent across repeated runs in one sweep)
      keyed.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(col("key")).distinct()
        .write.mode("overwrite").parquet(s"$tmp/keys")
      val known = s.read.parquet(s"$tmp/keys").withColumn("seen", lit(1))
      // generation 2 arrives: flag each row as appended (first unseen row
      // of its key, by min doc_id) or skipped
      val wKey = Window.partitionBy(col("key")).orderBy(col("doc_id"))
      val flagged = keyed
        .join(known, Seq("key"), "left")
        .withColumn("rn", row_number().over(wKey))
        .withColumn("appended",
          (col("seen").isNull && col("rn") === 1).cast("long"))
      // the incremental append — only the new keys touch the table
      flagged.filter(col("appended") === 1)
        .select(col("key")).write.mode("append").parquet(s"$tmp/keys")
      val nKeys = s.read.parquet(s"$tmp/keys").count()
      flagged.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_gen2"),
          sum(col("appended")).as("n_appended"),
          (count(lit(1)) - sum(col("appended"))).as("n_skipped"))
        .withColumn("n_total_keys", lit(nKeys))
        .orderBy(col("lang"))
    },
    Some("""
      WITH keyed AS (
        SELECT doc_id, lang, md5(lang || '|' || text) AS key FROM documents),
      gen1 AS (SELECT DISTINCT key FROM keyed WHERE doc_id % 3 <> 0),
      flagged AS (
        SELECT k.lang,
               CASE WHEN g.key IS NULL AND
                         ROW_NUMBER() OVER (PARTITION BY k.key ORDER BY k.doc_id) = 1
                    THEN 1 ELSE 0 END AS appended
        FROM keyed k LEFT JOIN gen1 g ON k.key = g.key)
      SELECT lang, COUNT(*) AS n_gen2,
             CAST(SUM(appended) AS BIGINT) AS n_appended,
             CAST(COUNT(*) - SUM(appended) AS BIGINT) AS n_skipped,
             (SELECT COUNT(DISTINCT key) FROM keyed) AS n_total_keys
      FROM flagged GROUP BY lang ORDER BY lang
    """)
  )

  /** Sparse lexical cosine — the TF-IDF-weighted (Sparck Jones 1972)
    * similarity tier between
    * token-set Jaccard (unweighted) and dense-embedding cosine: shared
    * tokens contribute by weight, so rare-term overlap dominates. The dot
    * product is a token-keyed equi-join (the sparse-vector trick: only
    * coordinates BOTH docs touch ever join — never a dense d² loop), and
    * every accumulation runs over DECIMAL(18,6) weights rounded first, so
    * the sums are order-independent and the op hash-oracles despite ln()
    * in the weighting (ln parity with DuckDB is established by
    * txt_idf_tfidf). Bounded candidates (doc_id < 120, same source); the
    * scale path for candidate generation is sim_minhash_lsh, with this
    * exact scorer applied to its survivors.
    */
  val simTfidfCosine = Op(
    "sim_tfidf_cosine",
    (s, d) => {
      val docs = T.documents(s, d).filter(col("doc_id") < 120)
        .select(col("doc_id"), col("source"), col("text"))
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      // tf grouped by (doc_id, token) — NOT (doc_id, source, token)
      // (r19, ADVICE r18): df(token) = COUNT(*) of tf's groups is then the
      // true document frequency by construction, with no reliance on the
      // doc_id→source functional invariant; source re-attaches from the
      // bounded docs projection (≤120 rows, broadcast).
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      // df derived FROM tf (r18, guide §2.4, the txt_idf_tfidf fix): tf
      // has one row per distinct (doc, token), so df is a count of its
      // groups — the old distinct().groupBy chain re-ran the tokenize
      // explode and shuffled corpus-volume rows a second time.
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val wtd = tf.join(dfreq, "token").crossJoin(broadcast(nDocs))
        .join(broadcast(docs.select(col("doc_id"), col("source"))), "doc_id")
        .withColumn("w",
          round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
        .select(col("doc_id"), col("source"), col("token"),
          col("w").cast(DecimalType(18, 6)).as("wd"))
        // referenced by norms AND both self-join sides — checkpoint once or
        // the whole tf/df/ln subtree re-executes three times per run
        .localCheckpoint(true)
      val norms = wtd.groupBy(col("doc_id"))
        .agg(sum(col("wd") * col("wd")).cast("double").as("norm2"))
      val a = wtd.select(col("doc_id").as("a_id"), col("source"), col("token"),
        col("wd").as("wa"))
      val b = wtd.select(col("doc_id").as("b_id"), col("source").as("src_b"),
        col("token").as("tok_b"), col("wd").as("wb"))
      a.join(b,
          col("token") === col("tok_b") && col("source") === col("src_b") &&
          col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(sum(col("wa") * col("wb")).cast("double").as("dot"))
        .join(norms.select(col("doc_id").as("a_id"), col("norm2").as("na2")), "a_id")
        .join(norms.select(col("doc_id").as("b_id"), col("norm2").as("nb2")), "b_id")
        .withColumn("cosine", round(col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))), 6))
        .filter(col("cosine") >= 0.3)
        .select(col("a_id"), col("b_id"), col("cosine"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH docs AS (SELECT doc_id, source, text FROM documents WHERE doc_id < 120),
      toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token FROM docs),
      tf AS (SELECT doc_id, source, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3),
      df AS (SELECT token, COUNT(*) AS df
             FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM docs),
      wtd AS (SELECT doc_id, source, token,
                     CAST(ROUND(tf * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0), 6)
                          AS DECIMAL(18,6)) AS wd
              FROM tf JOIN df USING (token) CROSS JOIN n),
      norms AS (SELECT doc_id, CAST(SUM(wd * wd) AS DOUBLE) AS norm2
                FROM wtd GROUP BY doc_id),
      dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                      CAST(SUM(a.wd * b.wd) AS DOUBLE) AS dot
               FROM wtd a JOIN wtd b
                 ON a.token = b.token AND a.source = b.source AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
      SELECT a_id, b_id,
             ROUND(dot / (SQRT(na.norm2) * SQRT(nb.norm2)), 6) AS cosine
      FROM dots
      JOIN norms na ON na.doc_id = a_id
      JOIN norms nb ON nb.doc_id = b_id
      WHERE ROUND(dot / (SQRT(na.norm2) * SQRT(nb.norm2)), 6) >= 0.3
      ORDER BY a_id, b_id
    """)
  )

  /** Int8 embedding quantization — the 4× storage/bandwidth compression
    * every billion-vector ANN index applies before sharding (Jégou et al.'s
    * scalar-quantization baseline): per vector, affine-map each float
    * coordinate onto [0,255] by the vector's own min/max, and report the
    * worst-case reconstruction error. All math is per-row `transform`/
    * `aggregate` lambdas — narrow, codegen-adjacent, zero shuffle until
    * the final per-source rollup. Rounding is floor(x+0.5) in BOTH engines
    * (`round`'s half-even vs half-up tie rules differ across engines;
    * floor+0.5 is identical IEEE754 arithmetic — applied to the quantizer
    * AND to the 6dp output rounding). Emits per-label mean and max
    * reconstruction error (decimal-exact accumulation), proving the
    * quantizer loses <= scale/2 per coordinate; constant vectors guard
    * the zero-scale division (error 0 by construction).
    */
  val embQuantizeInt8 = Op(
    "emb_quantize_int8",
    (s, d) =>
      T.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("mn", expr("aggregate(embedding, CAST('Infinity' AS DOUBLE), (a, x) -> least(a, CAST(x AS DOUBLE)))"))
        .withColumn("mx", expr("aggregate(embedding, CAST('-Infinity' AS DOUBLE), (a, x) -> greatest(a, CAST(x AS DOUBLE)))"))
        .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
        // constant vector ⇒ scale 0 ⇒ 0/0 NaN without the guard; it
        // quantizes trivially with zero error
        .withColumn("max_err", expr(
          """CASE WHEN mx = mn THEN CAST(0.0 AS DOUBLE)
             ELSE aggregate(embedding, CAST(0.0 AS DOUBLE),
               (a, x) -> greatest(a, abs(CAST(x AS DOUBLE) -
                 (mn + floor((CAST(x AS DOUBLE) - mn) / scale + 0.5) * scale))))
             END"""))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          // floor(x*1e6+0.5)/1e6, NOT round(x,6): same half-up-for-
          // non-negatives rounding via IDENTICAL IEEE754 arithmetic in
          // both engines — round()'s decimal-string vs binary tie
          // handling differs, the very pitfall the quantizer avoids
          (floor(avg(Det.dec(col("max_err"))).cast("double") * 1e6 + 0.5) / 1e6).as("mean_max_err"),
          (floor(max(col("max_err")) * 1e6 + 0.5) / 1e6).as("worst_err"),
          (floor(max(col("scale") / 2.0) * 1e6 + 0.5) / 1e6).as("err_bound"))
        .orderBy(col("label")),
    Some("""
      WITH q AS (
        SELECT label,
               list_min(embedding) AS mn, list_max(embedding) AS mx,
               (list_max(embedding) - list_min(embedding)) / 255.0 AS scale,
               embedding
        FROM (SELECT label,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
              FROM embeddings)),
      e AS (
        SELECT label, scale,
               CASE WHEN mx = mn THEN 0.0
                    ELSE list_max(list_transform(embedding,
                      x -> abs(x - (mn + floor((x - mn) / scale + 0.5) * scale))))
               END AS max_err
        FROM q)
      SELECT label, COUNT(*) AS n_vecs,
             floor(CAST(AVG(CAST(max_err AS DECIMAL(18,4))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_max_err,
             floor(MAX(max_err) * 1e6 + 0.5) / 1e6 AS worst_err,
             floor(MAX(scale / 2.0) * 1e6 + 0.5) / 1e6 AS err_bound
      FROM e GROUP BY label ORDER BY label
    """)
  )

  /** Sign-random-projection cosine ANN (r3c; Charikar 2002 SRP-LSH) over
    * embeddings, made FULLY hash-oracle-able — which float SRP never is —
    * by keeping every step in integers:
    *
    *   1. quantize: q[i] = round(embedding[i] * 1000) as BIGINT (the same
    *      half-away rounding in both engines);
    *   2. 60 signed projections with LCG-derived integer weights
    *      w(b,i) = ((b*64+i+1)*2654435761 % 2^32 * 40503) % 2^32 % 2001
    *      - 1000 (two rounds of Knuth multiplicative mixing) — a fixed
    *      pseudo-random matrix both engines recompute identically, never
    *      materialized. The sketch is built by the codegen'd
    *      [[graft.functions.SrpSketch60]] in one fused loop per row (the
    *      r3 form was a 1024-step interpreted aggregate lambda);
    *   3. the 4-band pigeonhole join as sim_simhash_bands, now on 15-bit
    *      bands: candidates are pairs agreeing EXACTLY on 15 consecutive
    *      sketch bits — a hash-partitioned equi-join whose key has
    *      4 × 32 768 distinct values (the r3 4-bit bands had 64, which
    *      saturated: every bucket held ~N/16 of the corpus and the
    *      candidate set grew ~N²/8);
    *   4. each candidate joins BACK to the quantized vectors for an
    *      exact integer dot — at 100 TB the band join moves only 8-byte
    *      sketches, vectors are fetched once per surviving candidate.
    *
    * The op emits ALL band-collision candidates with their exact metrics
    * (sketch hamming + integer dot): this fixture's embeddings have no
    * near-dup pairs at all (max pairwise cosine ≈ 0.51, measured), so any
    * fixed near-dup cutoff is vacuous here — the candidate set IS the
    * product, and downstream consumers threshold on the exact dot
    * (emb_srp_recall measures exactly that capture). The pigeonhole
    * guarantee still holds in its strict form: any pair within hamming
    * <= 3 of the 60-bit sketch is necessarily in the output.
    *
    * Sister op to sim_simhash_bands (text sketches) — this is the
    * embedding-side cosine analogue, and with sim_brp_lsh (euclidean,
    * recall-tested) completes the ANN family with an integer-exact member.
    */
  val embSrpAnn = Op(
    "emb_srp_ann",
    (s, d) => {
      // localCheckpoint: the persisted-sketch-index shape the scale path
      // wants anyway (built once, joined many times), and it keeps the
      // quantize/sketch projections out of the band join's re-evaluation
      val quant = T.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("q"))
        .localCheckpoint(true)
      val sketched = quant
        .select(col("vec_id"), call_function("srp_sketch60", col("q")).as("srp"))
        .localCheckpoint(true)
      val banded = sketched
        .select(col("vec_id"), col("srp"), explode(expr("sequence(0, 3)")).as("band"))
        .withColumn("band_val", expr("(srp div CAST(pow(2, 15 * band) AS BIGINT)) % 32768"))
      val a = banded.select(col("vec_id").as("a_id"), col("srp").as("sa"),
        col("band"), col("band_val"))
      val b = banded.select(col("vec_id").as("b_id"), col("srp").as("sb"),
        col("band").as("band_b"), col("band_val").as("bv_b"))
      val pairs = a.join(b,
          col("band") === col("band_b") && col("band_val") === col("bv_b") &&
            col("a_id") < col("b_id"))
        .withColumn("x", expr("sa ^ sb"))
        // keep each colliding pair at its LOWEST matching band only (exact
        // integer dedup, no distinct — same trick as sim_simhash_bands)
        .filter(expr("""band = CASE WHEN x % 32768 = 0 THEN 0
                                    WHEN (x div 32768) % 32768 = 0 THEN 1
                                    WHEN (x div 1073741824) % 32768 = 0 THEN 2
                                    ELSE 3 END"""))
        .withColumn("hamming", expr("CAST(bit_count(x) AS BIGINT)"))
        .select(col("a_id"), col("b_id"), col("hamming"))
      // candidate dot through the codegen'd vec_dot, not an interpreted
      // fold: |q| <= ~2000 is float-exact, VectorDot accumulates in
      // double (exact under 2^53), so the BIGINT cast is the exact
      // integer dot
      val qf = (c: Column) => transform(c, x => x.cast("float"))
      pairs
        .join(quant.select(col("vec_id").as("a_id"), qf(col("q")).as("qa")), "a_id")
        .join(quant.select(col("vec_id").as("b_id"), qf(col("q")).as("qb")), "b_id")
        .withColumn("qdot", dot(col("qa"), col("qb")).cast("bigint"))
        .select(col("a_id"), col("b_id"), col("hamming"), col("qdot"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      -- CTEs MATERIALIZED: the banded self-join references its chain twice
      -- and DuckDB re-inlines plain CTEs per reference (see graph_k_core)
      WITH quant AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings),
      sk AS MATERIALIZED (
        SELECT vec_id, q,
               CAST(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN list_sum(list_transform(range(0, 64), i ->
                        q[i + 1] * ((((b * 64 + i + 1) * 2654435761) % 4294967296
                                     * 40503) % 4294967296 % 2001 - 1000))) >= 0
                      THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS srp
        FROM quant),
      banded AS MATERIALIZED (
        SELECT vec_id, srp, band,
               (srp // CAST(pow(2, 15 * band) AS BIGINT)) % 32768 AS band_val
        FROM sk CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
      cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               xor(a.srp, b.srp) AS x, a.band AS band
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT a_id, b_id, CAST(bit_count(x) AS BIGINT) AS hamming
        FROM cand
        WHERE band = CASE WHEN x % 32768 = 0 THEN 0
                          WHEN (x // 32768) % 32768 = 0 THEN 1
                          WHEN (x // 1073741824) % 32768 = 0 THEN 2
                          ELSE 3 END)
      SELECT p.a_id, p.b_id, p.hamming,
             CAST(list_sum(list_transform(range(0, 64),
               i -> qa.q[i + 1] * qb.q[i + 1])) AS BIGINT) AS qdot
      FROM pairs p
      JOIN quant qa ON qa.vec_id = p.a_id
      JOIN quant qb ON qb.vec_id = p.b_id
      ORDER BY p.a_id, p.b_id
    """)
  )

  /** Normalization-keyed dedup (r3c) — why [[graft.functions.UnicodeNormalize]]
    * must run BEFORE any byte-keyed dedup: the same sentence arrives from
    * the web in precomposed (é = U+00E9) and decomposed (e + U+0301) byte
    * forms, and a raw content hash treats them as distinct. The op builds
    * both byte forms of every doc (translate → precomposed twin, replace →
    * decomposed twin — identical construction in the oracle), then counts
    * distinct md5 keys per lang with and without an NFC pre-pass: raw
    * keying sees 2N distinct docs, NFC keying collapses them to N. Narrow
    * until the per-lang rollup; the md5s shuffle, never the text.
    */
  val dedupNormalizedKey = Op(
    "dedup_normalized_key",
    (s, d) => {
      val docs = T.documents(s, d)
      val pre = docs.select(col("doc_id"), col("lang"),
        translate(col("text"), "e", "\u00e9").as("t"))
      val deco = docs.select(col("doc_id"), col("lang"),
        regexp_replace(col("text"), "e", "e\u0301").as("t"))
      pre.unionAll(deco)
        .withColumn("raw_key", md5(col("t")))
        .withColumn("nfc_key", md5(call_function("unicode_norm", col("t"), lit("NFC"))))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_variants"),
          countDistinct(col("raw_key")).as("n_raw_keys"),
          countDistinct(col("nfc_key")).as("n_nfc_keys"))
        .orderBy(col("lang"))
    },
    Some("""
      SELECT lang, COUNT(*) AS n_variants,
             COUNT(DISTINCT raw_key) AS n_raw_keys,
             COUNT(DISTINCT nfc_key) AS n_nfc_keys
      FROM (
        SELECT lang, md5(t) AS raw_key, md5(nfc_normalize(t)) AS nfc_key
        FROM (
          SELECT lang, replace(text, 'e', chr(233)) AS t FROM documents
          UNION ALL
          SELECT lang, replace(text, 'e', 'e' || chr(769)) AS t FROM documents))
      GROUP BY lang ORDER BY lang
    """)
  )

  /** SRP capture rate measured EXACTLY, in-engine, as an oracled query
    * (r3c) — approximation quality is usually a test-only artifact
    * (ExemptSpec's recall bounds for MinHash/BRP/IVF); because emb_srp_ann
    * is integer end-to-end, its quality is computable as ordinary SQL that
    * DuckDB hash-checks. Ground truth: the TOP-200 most-similar pairs in
    * the bounded id range (this corpus has no pairs above cos 0.48, so a
    * fixed near-dup threshold would be vacuous) ranked by integer-exact
    * cos²-ppm — qdot <= 2.1e7 is double-exact, qdot² <= 4.5e14 still
    * double-exact, the *1e6/(q·q)(q·q) steps are the same two IEEE ops in
    * both engines, and (cos2_ppm, a_id, b_id) is a total order. Capture =
    * how many of the top-200 the banded SRP candidates contain; random
    * candidate sets capture ~|cand|/|pairs|, a working sketch several
    * times that. Emits counts + capture_ppm — the quality dashboard a
    * production ANN deployment refreshes per index build. (Measured at
    * sf0.01 with the 60-bit/15-bit-band geometry: 1/200 captured with 47
    * candidates of 44.9k pairs — a ~10x lift over random selection per
    * candidate, bought with a ~26x smaller candidate set than the old
    * 16-bit geometry's 1.2k. On a corpus whose max pairwise cosine is
    * ~0.51 — no true near-dups — precision-per-candidate is the only
    * meaningful dial, and this op is its readout; on a corpus WITH
    * near-dup structure the same geometry captures it outright, which is
    * what ExemptSpec's planted-duplicate test proves.)
    */
  val embSrpRecall = Op(
    "emb_srp_recall",
    (s, d) => {
      val qf = T.embeddings(s, d)
        .filter(col("vec_id") < 300)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS FLOAT))")
            .as("qv"))
        .withColumn("qq", dot(col("qv"), col("qv")).cast("bigint"))
      val a = qf.select(col("vec_id").as("a_id"), col("qv").as("va"), col("qq").as("qaa"))
      val b = qf.select(col("vec_id").as("b_id"), col("qv").as("vb"), col("qq").as("qbb"))
      val top = a.join(b, col("a_id") < col("b_id"))
        .withColumn("qdot", dot(col("va"), col("vb")).cast("bigint"))
        .withColumn("cos2_ppm",
          floor(col("qdot").cast("double") * col("qdot").cast("double") * 1000000.0 /
            (col("qaa") * col("qbb")).cast("double")).cast("long"))
        .select(col("a_id"), col("b_id"), col("cos2_ppm"))
        .orderBy(col("cos2_ppm").desc, col("a_id"), col("b_id"))
        .limit(200)
      val cand = embSrpAnn.fn(s, d)
        .filter(col("a_id") < 300 && col("b_id") < 300)
        .select(col("a_id"), col("b_id"))
      val nC = cand.count()
      val nH = top.join(cand, Seq("a_id", "b_id"), "left_semi").count()
      import s.implicits._
      Seq((200L, nC, nH, nH * 1000000L / 200L))
        .toDF("n_top", "n_candidates", "n_hits", "capture_ppm")
    },
    Some("""
      -- CTEs MATERIALIZED: the banded self-join references its chain twice
      -- and DuckDB re-inlines plain CTEs per reference (see graph_k_core)
      WITH quant AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings WHERE vec_id < 300),
      withn AS (
        SELECT vec_id, q,
               CAST(list_sum(list_transform(range(0, 64), i -> q[i+1] * q[i+1])) AS BIGINT) AS qq
        FROM quant),
      scored AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               CAST(floor(
                 CAST(CAST(list_sum(list_transform(range(0, 64), i -> a.q[i+1] * b.q[i+1])) AS BIGINT) AS DOUBLE)
                 * CAST(CAST(list_sum(list_transform(range(0, 64), i -> a.q[i+1] * b.q[i+1])) AS BIGINT) AS DOUBLE)
                 * 1000000.0 / CAST(a.qq * b.qq AS DOUBLE)) AS BIGINT) AS cos2_ppm
        FROM withn a JOIN withn b ON a.vec_id < b.vec_id),
      top AS (
        SELECT a_id, b_id FROM scored
        ORDER BY cos2_ppm DESC, a_id, b_id LIMIT 200),
      sk AS MATERIALIZED (
        SELECT vec_id, q,
               CAST(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN list_sum(list_transform(range(0, 64), i ->
                        q[i + 1] * ((((b * 64 + i + 1) * 2654435761) % 4294967296
                                     * 40503) % 4294967296 % 2001 - 1000))) >= 0
                      THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS srp
        FROM (SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
              FROM embeddings)),
      banded AS MATERIALIZED (
        SELECT vec_id, srp, band,
               (srp // CAST(pow(2, 15 * band) AS BIGINT)) % 32768 AS band_val
        FROM sk CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
      cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
        WHERE a.vec_id < 300 AND b.vec_id < 300),
      hits AS (SELECT * FROM top t
               WHERE EXISTS (SELECT 1 FROM cand c
                             WHERE c.a_id = t.a_id AND c.b_id = t.b_id))
      SELECT CAST(200 AS BIGINT) AS n_top,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM hits) AS n_hits,
             (SELECT COUNT(*) FROM hits) * 1000000 // 200 AS capture_ppm
    """)
  )

  /** Prefix-filtered set-similarity self-join (r3d) — the AllPairs/PPJoin
    * family's candidate rule, the EXACT-result scale path the bounded
    * all-pairs Jaccard anchors lack: two sets with Jaccard >= t MUST share
    * at least one element among each set's (n - ceil(t*n) + 1) globally
    * RAREST elements (pigeonhole on the overlap bound), so joining only on
    * those prefix elements generates every qualifying pair — pruning is
    * lossless, unlike MinHash/SimHash banding. Measured at sf0.1/t=0.8:
    * 119 k candidate pairs vs 12.5 M all-pairs (~100x) for the same 256
    * final pairs. Pipeline: 3-word shingles (native `token_ngrams` — raw
    * words degenerate here: 31-token vocabulary, median pairwise Jaccard
    * 0.65), global shingle frequencies, per-doc rarity ranking (window on
    * doc_id), prefix self-join on shingle, then fetch-verify via
    * array_intersect on the two docs' full shingle sets. Every stage
    * shuffles on a natural key (shingle or doc_id); the rarity ordering
    * makes prefix buckets small by construction. Threshold compare is
    * cross-multiplied integer math (i*5 >= u*4 <=> i/u >= 0.8) — exact in
    * both engines; the oracle computes the same result DIRECTLY from the
    * exact token-join definition, which is what proves the pruning lossless.
    *
    * CONTRACT BOUND (r11; the sf10 sweep killed the unbounded form — the
    * prefix self-join died mid-sweep): AllPairs/PPJoin's candidate cost is
    * Σ_s |prefix-bucket_s|² and its published premise is an open Zipfian
    * vocabulary where rarity ordering keeps buckets tiny; THIS corpus's
    * closed 31-word vocabulary admits ≤ 31³ distinct shingles, so at sf10
    * even the rarest shingle's bucket is Θ(corpus/30k) ≈ thousands of
    * docs and candidates grow quadratically regardless of ordering — the
    * same vocabulary-saturation clause as `sim_simhash_bands`. The op is
    * therefore doc_id-bounded (< 100 000 ≈ 2× the bench corpus; INACTIVE
    * at the driver's sf0.01 verify and sf0.1 bench scales, mirrored in
    * the oracle) so the exact candidate rule stays measurable at every
    * sf. On a real open-vocabulary corpus the unbounded form IS the
    * exact-result scale path; on degenerate corpora the banded-sketch
    * siblings (`sim_minhash_det`, `sim_simhash_shingle_bands`) are the
    * unbounded approximate alternative.
    */
  val simPrefixFilterJoin = Op(
    "sim_prefix_filter_join",
    (s, d) => {
      // Runtime signal when the contract bound truncates (r12, advisor):
      // a 1-row single-column max probe (metadata-scale, plan-time only) so
      // a future scale run cannot mistake the bounded result for
      // full-corpus output — the bound is invisible at driver scales and
      // could otherwise drift silently between this filter and the oracle.
      val maxId = T.documents(s, d).agg(max(col("doc_id"))).head().getLong(0)
      if (maxId >= 100000L)
        System.err.println(s"[graft] sim_prefix_filter_join: CONTRACT BOUND ACTIVE — " +
          s"corpus max doc_id $maxId >= 100000; result covers the bounded slice only (see scaladoc)")
      // sh feeds FOUR subtrees of one plan (sizes, freq, pref, docsets);
      // uncheckpointed, each subtree re-runs read->tokenize->explode->
      // distinct — 4 corpus scans instead of 1 (measured 3x the query time
      // at sf0.1; at 100 TB it's 3 extra passes over the corpus).
      // Stays an eager localCheckpoint: the r18 lazy-cache A/B measured
      // 2.5 s → 6.1-6.6 s at sf0.1 (both storage levels) and was reverted.
      val sh = T.documents(s, d)
        .filter(col("doc_id") < 100000) // CONTRACT BOUND (r11) — see scaladoc
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(
          call_function("token_ngrams", col("toks"), lit(3))).as("shingle"))
        .distinct()
        .localCheckpoint(true)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
      // prefix_len = n - ceil(0.8n) + 1, all-integer: ceil(4n/5) = (4n+4) div 5
      val pref = sh.join(freq, "shingle").join(sizes, "doc_id")
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("f"), col("shingle"))))
        .filter(col("pos") <= col("n") - expr("(n * 4 + 4) div 5") + 1)
        .select(col("doc_id"), col("shingle"), col("n"), col("pos"))
      // PPJoin's LENGTH filter in the candidate join — J >= 0.8 implies
      // |A|/|B| within [0.8, 1.25] — then its POSITIONAL filter on the
      // aggregate: for the first shared prefix token at global-order
      // positions (i, j), overlap <= 1 + min(n_a−i, n_b−j) (tokens common
      // before it would contradict firstness under ONE global (df,
      // lexicographic) order; after it, at most the shorter suffix), and
      // J >= 0.8 needs overlap >= 4(n_a+n_b)/9 — max over shared tokens
      // only loosens the bound, so the filter is safe. Both prune
      // CANDIDATES only; verification is exact, results untouched.
      // Measured at sf1: 17.8M -> 6.6M (length) -> positional on top.
      val cand = pref.select(col("doc_id").as("a_id"), col("shingle"),
          col("n").as("n_a"), col("pos").as("pos_a"))
        .join(pref.select(col("doc_id").as("b_id"), col("shingle").as("sh_b"),
            col("n").as("n_b"), col("pos").as("pos_b")),
          col("shingle") === col("sh_b") && col("a_id") < col("b_id") &&
            col("n_a") * 4 <= col("n_b") * 5 && col("n_b") * 4 <= col("n_a") * 5)
        .groupBy(col("a_id"), col("b_id"))
        .agg(max(expr("least(n_a - pos_a, n_b - pos_b) + 1")).as("ubound"),
          max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
        .filter(col("ubound") * 9 >= (col("n_a") + col("n_b")) * 4)
        .select(col("a_id"), col("b_id"))
      val docsets = sh.groupBy(col("doc_id"))
        .agg(array_sort(collect_set(col("shingle"))).as("set"))
      cand
        .join(docsets.select(col("doc_id").as("a_id"), col("set").as("set_a")), "a_id")
        .join(docsets.select(col("doc_id").as("b_id"), col("set").as("set_b")), "b_id")
        .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        .withColumn("uni",
          (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 4)
        .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH sh AS (SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(arr) - 1),
          i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
              WHERE doc_id < 100000))),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT a_id, b_id, inter, CAST(sa.n + sb.n - inter AS BIGINT) AS uni
      FROM inter
      JOIN sz sa ON sa.doc_id = a_id
      JOIN sz sb ON sb.doc_id = b_id
      WHERE inter * 5 >= (sa.n + sb.n - inter) * 4
      ORDER BY a_id, b_id
    """)
  )

  /** IVF-PQ (Jégou, Douze, Schmid 2011, "Product quantization for nearest
    * neighbor search") — the compression tier of web-scale ANN, composed
    * with the gated IVF coarse quantizer: the 64-dim float vector (256
    * bytes) is split into M=4 16-dim subvectors, each quantized to one of
    * 16 per-subspace KMeans codes, so a vector's search footprint drops to
    * M·log2(k) = 2 BYTES (128× — at 100 TB of embeddings the codes fit in
    * cluster RAM when raw vectors never could). Query = the classic
    * asymmetric-distance pipeline: (1) per probe, a 4×16 lookup table of
    * exact subspace distances (64 rows, a broadcast — rebuilt each run
    * from the _SUCCESS-gated codebook, but never per candidate; only the
    * codes/codebook artifacts are build-once); (2) candidates restricted to the nProbe nearest
    * coarse lists (IVF inheritance); (3) ADC score = SUM of 4 LUT hits
    * per candidate — an equi-join + groupBy, no vector math on the scan
    * side; (4) exact cosine re-rank of the top-50 ADC survivors only
    * (the standard refine step: full vectors touched for 50 rows, not
    * the corpus). Index artifacts (_SUCCESS-gated, per sfDir): exploded
    * codes (vec_id, m, code, list_id) and the M×16 codebook. Oracle:
    * none (two KMeans trainings); ExemptSpec pins output shape, code
    * range/completeness, within-probed-list candidates via the ledger,
    * refine-recall vs the exact brute force, and determinism.
    */
  val simIvfPq = Op(
    "sim_ivf_pq",
    (s, d) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val M = 4; val subDim = 16; val k = 16
      val nList = 16; val nProbe = 6; val refine = 50
      val (assigned, centroids) = ivfIndex(s, d, nList)
      val idx = T.scratchFor(d, "ivfpq_index")
      if (!new java.io.File(s"$idx/codes/_SUCCESS").exists()) {
        // per-subspace codebooks: M seeded KMeans fits on the sliced dims.
        // Training is the one non-declarative step; it runs once per sfDir
        // and its input is each subspace's projection, never the full dim.
        val books = (0 until M).map { m =>
          val sub = assigned.select(col("vec_id"),
            slice(col("embedding"), m * subDim + 1, subDim).as("sub"))
            .withColumn("fvec", array_to_vector(col("sub")))
          val model = new KMeans().setK(k).setSeed(7 + m).setMaxIter(10)
            .setFeaturesCol("fvec").setPredictionCol("code").fit(sub)
          import s.implicits._
          val bookDf = model.clusterCenters.toSeq.zipWithIndex
            .map { case (c, i) => (m, i, c.toArray.map(_.toFloat)) }
            .toDF("m", "code", "sub_centroid")
          val codesDf = model.transform(sub)
            .select(col("vec_id"), lit(m).as("m"), col("code"))
          (bookDf, codesDf)
        }
        books.map(_._1).reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$idx/codebook")
        books.map(_._2).reduce(_ unionAll _)
          .join(assigned.select(col("vec_id"), col("list_id")), "vec_id")
          .write.mode("overwrite").parquet(s"$idx/codes")
      }
      val codebook = s.read.parquet(s"$idx/codebook")
      val codes = s.read.parquet(s"$idx/codes")
      val probes = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          norm(col("embedding")).as("pnorm"))
      // nProbe nearest coarse lists per probe (the IVF tier)
      val wList = Window.partitionBy(col("probe_id"))
        .orderBy(col("dist2").asc, col("list_id"))
      val probeLists = probes.crossJoin(broadcast(centroids))
        .withColumn("dist2",
          dot(col("pe"), col("pe")) + dot(col("centroid"), col("centroid"))
            - lit(2.0) * dot(col("pe"), col("centroid")))
        .withColumn("lrn", row_number().over(wList))
        .filter(col("lrn") <= nProbe)
        .select(col("probe_id"), col("pe"), col("pnorm"), col("list_id"))
      // per-probe ADC lookup table: ||q_m - c_{m,code}||^2, 4x16 rows/probe
      val lut = probes.crossJoin(broadcast(codebook))
        .withColumn("qsub", slice(col("pe"), col("m") * subDim + 1, lit(subDim)))
        .select(col("probe_id"), col("m"), col("code"),
          (dot(col("qsub"), col("qsub"))
            + dot(col("sub_centroid"), col("sub_centroid"))
            - lit(2.0) * dot(col("qsub"), col("sub_centroid"))).as("sub_dist2"))
      // ADC: candidates from probed lists only, scored by 4 LUT hits each
      val wAdc = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_dist2").asc, col("vec_id"))
      val adcTop = codes
        .join(broadcast(probeLists.select(col("probe_id"), col("list_id"))),
          Seq("list_id"))
        .filter(col("probe_id") =!= col("vec_id"))
        .join(broadcast(lut), Seq("probe_id", "m", "code"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(sum(col("sub_dist2")).as("adc_dist2"))
        .withColumn("adc_rank", row_number().over(wAdc))
        .filter(col("adc_rank") <= refine)
      // refine: exact cosine on the top-`refine` (50) ADC survivors only
      val wTop = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      adcTop
        .join(assigned.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(probes), "probe_id")
        .withColumn("cosine",
          round(dot(col("pe"), col("embedding"))
            / (col("pnorm") * norm(col("embedding"))), 6))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("rn").cast("long").as("rn"),
          col("vec_id"), col("cosine"), col("adc_rank").cast("long").as("adc_rank"))
        .orderBy(col("probe_id"), col("rn"))
    },
    None
  )

  /** Blocked fuzzy matching — the record-linkage scale path that
    * [[simEditDistance]]'s scaladoc defers to: multi-pass BLOCKING
    * (Papadakis et al.'s survey shape; here two passes — lang+text-prefix
    * and lang+text-suffix keys, so an edit anywhere in the middle still
    * collides on at least one key) generates candidates as plain
    * equi-joins on the block key, and the O(len²) edit-distance DP runs
    * ONLY within blocks. Two scale guards the naive version lacks:
    * (1) super-block suppression — blocks over 64 members are dropped
    * before pairing (the standard defense: a degenerate hot key — think
    * empty-string prefixes — otherwise re-introduces the quadratic blowup
    * this op exists to avoid; at 100 TB the threshold is the knob trading
    * recall for the worst block's |B|² cost); (2) candidate dedup BEFORE
    * verification, so a pair colliding on both keys pays the DP once.
    * Everything is equi-join + groupBy — no cross join anywhere
    * (plan-guarded). Fully oracled: blocking, suppression, dedup, and
    * the levenshtein verdicts all replay exactly in DuckDB.
    */
  val dedupBlockedFuzzy = Op(
    "dedup_blocked_fuzzy",
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 12).as("k1"),
          expr("right(text, 12)").as("k2"),
          substring(col("text"), 1, 40).as("pre"))
      val blocks = docs.select(
          concat(col("lang"), lit("#P#"), col("k1")).as("bk"),
          col("doc_id"), col("pre"))
        .unionAll(docs.select(
          concat(col("lang"), lit("#S#"), col("k2")).as("bk"),
          col("doc_id"), col("pre")))
      val ok = blocks.groupBy(col("bk")).agg(count(lit(1)).as("bn"))
        .filter(col("bn") >= 2 && col("bn") <= 64)
        .select(col("bk"))
      // SHUFFLE_HASH on the kept-blocks side (r19 A/B, interleaved pairs:
      // 1.10/2.00/1.24 s unhinted -> 0.91/1.10/0.87 s shuffled-hash —
      // hint-better in every pair): ok is one row per surviving block —
      // trivially hash-buildable per partition. Unhinted, the sf0.1 plan
      // was a BroadcastHashJoin (ok collected and broadcast from the
      // driver); at scale it would be a sort-merge join sorting the FULL
      // doubled block list. At 100 TB the build side stays
      // block-count-bounded so the per-partition hash map cannot blow up
      val pruned = blocks.join(ok.hint("shuffle_hash"), "bk")
      val cand = pruned.select(col("bk"), col("doc_id").as("a_id"), col("pre").as("pa"))
        .join(pruned.select(col("bk"), col("doc_id").as("b_id"), col("pre").as("pb")),
          Seq("bk"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("pa"), col("pb"))
        .distinct()
      cand
        .withColumn("edit_dist", levenshtein(col("pa"), col("pb")).cast("long"))
        .filter(col("edit_dist") <= 10)
        .select(col("a_id"), col("b_id"), col("edit_dist"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang, left(text, 12) AS k1, right(text, 12) AS k2,
               left(text, 40) AS pre
        FROM documents),
      blocks AS (
        SELECT lang || '#P#' || k1 AS bk, doc_id, pre FROM d
        UNION ALL
        SELECT lang || '#S#' || k2 AS bk, doc_id, pre FROM d),
      ok AS (
        SELECT bk FROM blocks GROUP BY bk HAVING COUNT(*) BETWEEN 2 AND 64),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.pre AS pa, b.pre AS pb
        FROM blocks a
        JOIN blocks b ON a.bk = b.bk AND a.doc_id < b.doc_id
        JOIN ok ON ok.bk = a.bk)
      SELECT a_id, b_id, CAST(levenshtein(pa, pb) AS BIGINT) AS edit_dist
      FROM cand WHERE levenshtein(pa, pb) <= 10
      ORDER BY a_id, b_id
    """)
  )

  /** Broder containment C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|
    * — the asymmetric twin of Jaccard. A 60-token quote embedded in a
    * 6000-token page has Jaccard ≈ 0.01 (invisible to `sim_shingle_jaccard`)
    * but containment ≈ 1.0 from the quote's side; this is the standard
    * measure for subset/quote/boilerplate detection in web-dedup (Broder,
    * "On the resemblance and containment of documents", 1997). Candidate
    * generation is the same inverted-index equi-join on 3-gram shingles —
    * never all-pairs — plus a document-frequency cap (df ≤ 20) that drops
    * stopword-shingles before the join: at corpus scale a shingle appearing
    * in millions of docs would explode the self-join quadratically, and
    * dropping it costs no recall at a 0.5 containment threshold (a pair
    * sharing half its shingles shares plenty of rare ones). Sizes are
    * counted over the kept shingles so both sides of the ratio see the same
    * universe. Ratios are emitted as integer ppm (floor division) — exact
    * long arithmetic on both engines, no float rounding to diverge.
    */
  private val simContainmentPairs = Op(
    "sim_containment_pairs",
    (s, d) => {
      // sh0 feeds both the df-cap aggregate and the probe side; sh feeds
      // FOUR subtrees (sizes + both sides of the self-join + the ratio
      // joins). Uncheckpointed, each consumer re-ran read->tokenize->
      // explode->distinct — the same multi-scan wart fixed in
      // sim_prefix_filter_join. Checkpoint sh0 (one corpus scan), derive
      // sh from blocks, checkpoint it too, then free sh0 — per-op block
      // footprint is one shingle relation, not two.
      val sh0 = T.documents(s, d)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          explode(call_function("token_ngrams", col("toks"), lit(3))).as("shingle"))
        .distinct()
        // r19 ladder A/B: dropping both checkpoints measured 0.97 -> 1.18 s
        // (the four consumers' work above the shared distinct exchange
        // re-runs per consumer) — checkpoints kept
        .localCheckpoint(true)
      val kept = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 20)
        .select(col("shingle"))
      val sh = sh0.join(kept, Seq("shingle")).localCheckpoint(true)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(sh0)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("a_id"), col("shingle"))
        .join(sh.select(col("doc_id").as("b_id"), col("shingle").as("sh_b")),
          col("shingle") === col("sh_b") && col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("common"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("n_a")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("n_b")), "b_id")
        .withColumn("cont_a_ppm", expr("common * 1000000 div n_a"))
        .withColumn("cont_b_ppm", expr("common * 1000000 div n_b"))
        .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= 500000)
        .select(col("a_id"), col("b_id"), col("common"), col("n_a"),
          col("n_b"), col("cont_a_ppm"), col("cont_b_ppm"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS a
                 FROM documents WHERE doc_id < 300),
      sh0 AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, len(a) - 1),
                  i -> a[i] || ' ' || a[i + 1] || ' ' || a[i + 2])) AS shingle
              FROM d),
      kept AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 20),
      sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN kept USING (shingle)),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT a_id, b_id, common, sa.n AS n_a, sb.n AS n_b,
             common * 1000000 // sa.n AS cont_a_ppm,
             common * 1000000 // sb.n AS cont_b_ppm
      FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE greatest(common * 1000000 // sa.n, common * 1000000 // sb.n) >= 500000
      ORDER BY a_id, b_id
    """)
  )

  /** Matryoshka truncation quality (r7; Kusupati et al. 2022 — MRL trains
    * embeddings so any PREFIX of the vector is itself a usable embedding):
    * before serving a 4× cheaper 16-dim prefix index, measure how much of
    * each probe's full-64-dim top-10 cosine neighborhood the prefix
    * preserves. Integer-exact end to end so it hash-oracles (the
    * emb_srp_recall recipe): milli-quantized integer coordinates, ONE
    * bounded candidate join computing BOTH dots per pair (the prefix score
    * costs a second lambda, not a second join), signed-cos²-ppm ranking
    * (qdot·|qdot| keeps the sign a plain square loses — anti-correlated
    * neighbors must not rank high), identical IEEE op order in both
    * engines, (score, b_id) total-order tie-break, two ROW_NUMBER windows
    * over the same pair set, overlap histogram out. On THIS corpus
    * (random unit vectors, no MRL training) the prefix preserves little —
    * the measurement genuinely discriminates; on MRL-trained vectors the
    * same query reads near 10/10. At 100 TB the probe set is a sample and
    * the candidate range an ANN candidate list; the single-join two-score
    * shape is what keeps the audit one pass.
    */
  private val embMatryoshkaTrunc = Op(
    "emb_matryoshka_trunc",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val q = T.embeddings(s, d)
        .filter(col("vec_id") < 300)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS FLOAT))")
            .as("q"))
        .withColumn("q16", slice(col("q"), 1, 16))
        .withColumn("qq", dot(col("q"), col("q")).cast("bigint"))
        .withColumn("qq16", greatest(dot(col("q16"), col("q16")).cast("bigint"), lit(1L)))
        .localCheckpoint(true)
      val a = q.select(col("vec_id").as("a_id"), col("q").as("qa"),
        col("q16").as("qa16"), col("qq").as("qaa"), col("qq16").as("qaa16"))
      val b = q.select(col("vec_id").as("b_id"), col("q").as("qb"),
        col("q16").as("qb16"), col("qq").as("qbb"), col("qq16").as("qbb16"))
      val pairs = a.join(b, col("a_id") =!= col("b_id"))
        .withColumn("d64", dot(col("qa"), col("qb")).cast("bigint"))
        .withColumn("d16", dot(col("qa16"), col("qb16")).cast("bigint"))
        .withColumn("s64",
          floor(col("d64").cast("double") * abs(col("d64")).cast("double") * 1000000.0 /
            (col("qaa") * col("qbb")).cast("double")).cast("long"))
        .withColumn("s16",
          floor(col("d16").cast("double") * abs(col("d16")).cast("double") * 1000000.0 /
            (col("qaa16") * col("qbb16")).cast("double")).cast("long"))
        .select(col("a_id"), col("b_id"), col("s64"), col("s16"))
      val w64 = Window.partitionBy(col("a_id")).orderBy(col("s64").desc, col("b_id"))
      val w16 = Window.partitionBy(col("a_id")).orderBy(col("s16").desc, col("b_id"))
      val top64 = pairs.withColumn("rn", row_number().over(w64))
        .filter(col("rn") <= 10).select(col("a_id"), col("b_id"))
      val top16 = pairs.withColumn("rn", row_number().over(w16))
        .filter(col("rn") <= 10).select(col("a_id"), col("b_id"))
      val overlap = top64.join(top16, Seq("a_id", "b_id"), "left_semi")
        .groupBy(col("a_id")).agg(count(lit(1)).as("n_kept"))
      q.select(col("vec_id").as("a_id"))
        .join(overlap, Seq("a_id"), "left")
        .select(coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .groupBy(col("n_kept")).agg(count(lit(1)).as("n_probes"))
        .orderBy(col("n_kept"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings WHERE vec_id < 300),
      n AS (
        SELECT vec_id, q, q[1:16] AS q16,
               CAST(list_sum(list_transform(range(0, 64), i -> q[i+1] * q[i+1])) AS BIGINT) AS qq,
               GREATEST(CAST(list_sum(list_transform(range(0, 16), i -> q[i+1] * q[i+1])) AS BIGINT), 1) AS qq16
        FROM q),
      pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               CAST(list_sum(list_transform(range(0, 64), i -> a.q[i+1] * b.q[i+1])) AS BIGINT) AS d64,
               CAST(list_sum(list_transform(range(0, 16), i -> a.q16[i+1] * b.q16[i+1])) AS BIGINT) AS d16,
               a.qq AS qaa, a.qq16 AS qaa16, b.qq AS qbb, b.qq16 AS qbb16
        FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      scored AS (
        SELECT a_id, b_id,
               CAST(floor(CAST(d64 AS DOUBLE) * CAST(abs(d64) AS DOUBLE) * 1000000.0
                 / CAST(qaa * qbb AS DOUBLE)) AS BIGINT) AS s64,
               CAST(floor(CAST(d16 AS DOUBLE) * CAST(abs(d16) AS DOUBLE) * 1000000.0
                 / CAST(qaa16 * qbb16 AS DOUBLE)) AS BIGINT) AS s16
        FROM pairs),
      t64 AS (
        SELECT a_id, b_id FROM (
          SELECT a_id, b_id,
                 ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY s64 DESC, b_id) AS rn
          FROM scored) WHERE rn <= 10),
      t16 AS (
        SELECT a_id, b_id FROM (
          SELECT a_id, b_id,
                 ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY s16 DESC, b_id) AS rn
          FROM scored) WHERE rn <= 10),
      kept AS (
        SELECT t64.a_id, COUNT(*) AS n_kept
        FROM t64 SEMI JOIN t16 ON t64.a_id = t16.a_id AND t64.b_id = t16.b_id
        GROUP BY t64.a_id)
      SELECT n_kept, CAST(COUNT(*) AS BIGINT) AS n_probes
      FROM (SELECT COALESCE(k.n_kept, 0) AS n_kept
            FROM q LEFT JOIN kept k ON q.vec_id = k.a_id)
      GROUP BY n_kept ORDER BY n_kept
    """)
  )

  /** LSH tuning curve — the (bands × rows) design sweep every MinHash
    * deployment runs BEFORE committing a banding scheme (Leskovec/Rajaraman
    * /Ullman ch.3: collision probability 1−(1−J^r)^b trades recall against
    * candidate volume): one pass evaluates four bandings of the same
    * 12-hash MinHash signature — (12×1, 6×2, 4×3, 2×6) — against exact
    * shingle-Jaccard ≥ 0.1 ground truth on the bounded anchor corpus
    * (doc_id < 300, the house oracle-anchor pattern), emitting candidate
    * count, hit count, recall and precision in integer ppm per
    * configuration. Everything is deterministic and engine-portable:
    * MinHash values are the md5→48-bit fold (the qc_dataset_fingerprint
    * idiom) of shingle + hash index, band keys are '-'-joined signature
    * slices in hash order (array_sort(struct) here, string_agg ORDER BY
    * there), and all four configs ride ONE signature table — the sweep
    * costs one extra explode, not four passes over the corpus. The shingle
    * relation is checkpointed before fanning out to truth + signatures
    * (the sim_prefix_filter_join lesson). At production scale the same
    * plan runs on a sampled corpus to pick (b, r) before the full-corpus
    * dedup job.
    */
  val simLshTuningCurve = Op(
    "sim_lsh_tuning_curve",
    (s, d) => {
      import s.implicits._
      // native codegen'd twin of the oracle's strpos fold (see HashFold)
      val hv = "md5fold48(concat(shingle, '#', CAST(h AS STRING)))"
      val sh = T.documents(s, d)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        // size >= 2 guard: Spark's sequence(1, 0) is the DESCENDING [1, 0]
        // (phantom NULL shingles), DuckDB's range(1, 1) is empty — a
        // single-token doc must contribute nothing in BOTH engines
        .filter(size(col("arr")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(arr) - 1), i -> concat(arr[i - 1], ' ', arr[i]))"))
          .as("shingle"))
        .distinct()
        // r19 ladder A/B: dropping this + truth's checkpoint measured
        // 0.95 -> 1.27 s (sh feeds sizes, both self-join legs and the
        // signature table — too many consumers above the shared exchange)
        .localCheckpoint(true)
      // exact ground truth at Jaccard >= 0.1 (integer ppm, Appendix A)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val truth = sh.select(col("doc_id").as("a_id"), col("shingle"))
        .join(sh.select(col("doc_id").as("b_id"), col("shingle").as("sh_b")),
          col("shingle") === col("sh_b") && col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        .filter(expr("(i * 1000000) div (na + nb - i) >= 100000"))
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      // one 12-hash MinHash signature table shared by all four configs
      val mh = sh
        .select(col("doc_id"), col("shingle"), explode(sequence(lit(0), lit(11))).as("h"))
        .groupBy(col("doc_id"), col("h")).agg(min(expr(hv)).as("mh"))
      val cfg = Seq((12, 1), (6, 2), (4, 3), (2, 6)).toDF("n_bands", "r")
      val banded = mh.crossJoin(broadcast(cfg))
        .withColumn("band", expr("h div r"))
        .groupBy(col("n_bands"), col("r"), col("doc_id"), col("band"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(h, mh))), " +
            "x -> CAST(x.mh AS STRING)), '-')").as("bkey"))
      val cand = banded.select(col("n_bands"), col("r"), col("band"), col("bkey"),
          col("doc_id").as("a_id"))
        .join(banded.select(col("n_bands"), col("r"), col("band"), col("bkey"),
          col("doc_id").as("b_id")), Seq("n_bands", "r", "band", "bkey"))
        .filter(col("a_id") < col("b_id"))
        .select(col("n_bands"), col("r"), col("a_id"), col("b_id"))
        .distinct()
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val metrics = cand
        .join(truth.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
        .groupBy(col("n_bands"), col("r"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      cfg.join(metrics, Seq("n_bands", "r"), "left")
        .crossJoin(broadcast(nTrue))
        .select(
          col("n_bands").cast("long").as("n_bands"),
          col("r").cast("long").as("rows_per_band"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("n_true"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("(coalesce(n_hits, 0L) * 1000000) div nullif(n_true, 0)").as("recall_ppm"),
          expr("(coalesce(n_hits, 0L) * 1000000) div nullif(coalesce(n_candidates, 0L), 0)")
            .as("precision_ppm"))
        .orderBy(col("n_bands").desc)
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(arr)),
                   i -> arr[i] || ' ' || arr[i + 1])) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS arr
                FROM documents WHERE doc_id < 300))),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      truth AS (
        SELECT a_id, b_id FROM (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2) x
        JOIN sizes sa ON sa.doc_id = x.a_id
        JOIN sizes sb ON sb.doc_id = x.b_id
        WHERE (i * 1000000) // (sa.n + sb.n - i) >= 100000),
      mh AS (
        SELECT doc_id, h,
               MIN(list_reduce(
                 list_transform(range(1, 13),
                   i -> CAST(strpos('0123456789abcdef',
                          substring(md5(shingle || '#' || CAST(h AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
                 (acc, v) -> acc * 16 + v)) AS mh
        FROM sh CROSS JOIN (SELECT unnest(range(0, 12)) AS h)
        GROUP BY doc_id, h),
      cfg AS (SELECT * FROM (VALUES (12, 1), (6, 2), (4, 3), (2, 6)) AS t(n_bands, r)),
      banded AS (
        SELECT n_bands, r, doc_id, h // r AS band,
               string_agg(CAST(mh AS VARCHAR), '-' ORDER BY h) AS bkey
        FROM mh CROSS JOIN cfg
        GROUP BY n_bands, r, doc_id, h // r),
      cand AS (
        SELECT DISTINCT a.n_bands, a.r, a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b
          ON a.n_bands = b.n_bands AND a.r = b.r AND a.band = b.band
         AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      nt AS (SELECT COUNT(*) AS n_true FROM truth),
      metrics AS (
        SELECT c.n_bands, c.r, COUNT(*) AS n_candidates,
               SUM(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
        FROM cand c LEFT JOIN truth t ON c.a_id = t.a_id AND c.b_id = t.b_id
        GROUP BY c.n_bands, c.r)
      SELECT CAST(cfg.n_bands AS BIGINT) AS n_bands,
             CAST(cfg.r AS BIGINT) AS rows_per_band,
             CAST(COALESCE(m.n_candidates, 0) AS BIGINT) AS n_candidates,
             CAST(n_true AS BIGINT) AS n_true,
             CAST(COALESCE(m.n_hits, 0) AS BIGINT) AS n_hits,
             CAST((COALESCE(m.n_hits, 0) * 1000000) // NULLIF(n_true, 0) AS BIGINT) AS recall_ppm,
             CAST((COALESCE(m.n_hits, 0) * 1000000) // NULLIF(COALESCE(m.n_candidates, 0), 0) AS BIGINT) AS precision_ppm
      FROM cfg LEFT JOIN metrics m ON cfg.n_bands = m.n_bands AND cfg.r = m.r
      CROSS JOIN nt
      ORDER BY n_bands DESC
    """)
  )

  /** Field-level survivorship merge (r7) — the MDM golden-record rule set:
    * `dedup_keyed_latest` keeps one whole ROW per key, but real entity
    * resolution merges FIELDS under per-field rules — recency for status
    * (last event_type by (ts, event_id)), extremum for amounts (max
    * value), earliest for provenance (first seen), plus breadth (distinct
    * sources) and decimal mass. One map-side-combinable groupBy on the
    * entity key builds the whole golden record: the recency rule is the
    * `max(struct(us, event_id, field))` argmax idiom — no window, no
    * per-key sort, 24 bytes of state per field per key — so survivorship
    * costs exactly one shuffle at any corpus size.
    */
  val dedupSurvivorshipMerge = Op(
    "dedup_survivorship_merge",
    (s, d) =>
      T.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), unix_micros(col("ts")).as("us"))
        .groupBy(col("user_id"))
        .agg(
          expr("max(struct(us, event_id, event_type)).event_type").as("last_type"),
          expr("timestamp_micros(min(us))").as("first_seen"),
          expr("timestamp_micros(max(us))").as("last_seen"),
          max(col("value")).as("max_value"),
          expr("count(distinct event_type)").as("n_sources"),
          Det.sumDec(col("value")).as("value_mass"))
        .orderBy(col("user_id")),
    Some("""
      WITH r AS (
        SELECT user_id, event_type, event_id, value, epoch_us(ts) AS us
        FROM events),
      last AS (
        SELECT user_id, event_type AS last_type FROM (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY us DESC, event_id DESC) AS rn
          FROM r) WHERE rn = 1),
      agg AS (
        SELECT user_id,
               make_timestamp(MIN(us)) AS first_seen,
               make_timestamp(MAX(us)) AS last_seen,
               MAX(value) AS max_value,
               COUNT(DISTINCT event_type) AS n_sources,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_mass
        FROM r GROUP BY user_id)
      SELECT agg.user_id, last_type, first_seen, last_seen, max_value,
             n_sources, value_mass
      FROM agg JOIN last ON agg.user_id = last.user_id
      ORDER BY agg.user_id
    """)
  )

  /** Per-dimension variance ranking (r7) — the exact, oracle-able cousin
    * of `ml_pca_features`' energy question: which embedding axes carry
    * signal and how many cover 90% of total variance (the readout that
    * justifies — or refutes — a matryoshka truncation before paying for
    * one). Coordinates on the µ-unit integer grid (the ml_kmeans_lloyd
    * quantization), per-dim variance numerator n·Σx² − (Σx)² in
    * DECIMAL(38,0) (squaring µ-units overflows a long immediately), rank
    * and cumulative-share windows riding the 64-row per-dim aggregate
    * (agg-before-window, dimension-bounded); share and cumulative share
    * in integer ppm of total variance. One posexplode scan, one dim-keyed
    * map-side-combined agg — the whole op is a 64-row problem after the
    * first shuffle at any corpus size.
    */
  val embDimVarianceRank = Op(
    "emb_dim_variance_rank",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val per = T.embeddings(s, d)
        .select(posexplode(col("embedding")))
        .select((col("pos") + 1).cast("long").as("dim"),
          expr("CAST(floor(CAST(col AS DOUBLE) * 1000000) AS BIGINT)").as("xu"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("xu").cast("decimal(38,0)")).as("sx"),
          sum((col("xu").cast("decimal(38,0)") * col("xu"))).as("sxx"))
        .withColumn("var_num", expr("n * sxx - sx * sx"))
      per
        .withColumn("rank",
          row_number().over(W.orderBy(col("var_num").desc, col("dim")))
            .cast("long"))
        .withColumn("total", sum(col("var_num")).over(W.partitionBy()))
        .withColumn("cum", sum(col("var_num")).over(
          W.orderBy(col("var_num").desc, col("dim"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .select(col("rank"), col("dim"), col("n"),
          expr("CAST(var_num div (n * n) AS BIGINT)").as("var_u2"),
          expr("CAST(var_num * 1000000 div total AS BIGINT)").as("share_ppm"),
          expr("CAST(cum * 1000000 div total AS BIGINT)").as("cum_share_ppm"))
        .orderBy(col("rank"))
    },
    Some("""
      WITH x AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xu
        FROM embeddings),
      per AS (
        SELECT dim, COUNT(*) AS n,
               CAST(SUM(CAST(xu AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(SUM(CAST(xu AS HUGEINT) * xu) AS HUGEINT) AS sxx
        FROM x GROUP BY dim),
      v AS (SELECT dim, n, n * sxx - sx * sx AS var_num FROM per),
      r AS (
        SELECT dim, n, var_num,
               ROW_NUMBER() OVER (ORDER BY var_num DESC, dim) AS rank,
               SUM(var_num) OVER () AS total,
               SUM(var_num) OVER (ORDER BY var_num DESC, dim
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM v)
      SELECT rank, dim, n,
             CAST(var_num // (n * n) AS BIGINT) AS var_u2,
             CAST(var_num * 1000000 // total AS BIGINT) AS share_ppm,
             CAST(cum * 1000000 // total AS BIGINT) AS cum_share_ppm
      FROM r ORDER BY rank
    """)
  )

  /** kNN label classification (r7; Cover & Hart 1967) — the zero-training
    * baseline every embedding space must beat to justify a model, and the
    * standard probe of embedding QUALITY (if neighbors don't share labels,
    * no classifier on top will): for a bounded probe set, top-5 cosine
    * neighbors (broadcast probes, one corpus pass, round-6 cosine with
    * vec_id tie-break, selected by the bounded map-side Udfs.TopK
    * aggregator — see the r11 SCALE FIX note below), majority vote with
    * ties to the smaller label via the max(struct(votes, −label)) argmax,
    * scored against the probe's own label as a confusion matrix +
    * integer-ppm accuracy (windows over the ≤|labels|² matrix). The vote
    * and the scoring never touch raw vectors again — after the kNN join
    * everything is label-vocabulary-bounded.
    */
  val simKnnClassify = Op(
    "sim_knn_classify",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = T.embeddings(s, d)
      // probes feeds ONE broadcast — the old eager localCheckpoint here was
      // a leftover blocking driver job before the broadcast build (r18 A/B:
      // 1.11 s → 1.06 s at sf0.1; the 100-row bound makes the broadcast
      // build itself the materialization)
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
          col("embedding").as("pe"), norm(col("embedding")).as("pnorm"))
      val cand = e.select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("cnorm"))
      // SCALE FIX (r11; caught by the sf10 sweep at 15×, 76 s): the top-5
      // selection is the map-side-combinable Udfs.TopK AGGREGATOR, not a
      // row_number window — the window form shuffled and SORTED the whole
      // |corpus|×|probes| score relation (200 M rows at sf10) to keep 5
      // rows per probe; the aggregator keeps a bounded 5-slot buffer per
      // (partition, probe) and ships only |partitions|×|probes| buffers
      // through the exchange — the brute-force-kNN shape that survives
      // any corpus size (local top-k, then merge). Identical selection
      // order (cosine DESC, vec_id ASC — TopK orders by (−value, id));
      // the neighbor label rides along packed monotonically into the id
      // (vec_id·16 + label, labels 0..9), so ties and order are
      // bit-identical to the window twin the oracle still computes.
      val topk = udaf(Udfs.TopK)
      val knn = cand.join(broadcast(probes), col("probe_id") =!= col("vec_id"))
        .withColumn("cosine",
          round(dot(col("pe"), col("embedding")) / (col("pnorm") * col("cnorm")), 6))
        .select(col("probe_id"), col("true_label"), col("cosine"),
          (col("vec_id") * 16 + col("label")).as("packed"))
        .groupBy(col("probe_id"), col("true_label"))
        .agg(topk(col("cosine"), col("packed")).as("top"))
        .select(col("probe_id"), col("true_label"), explode(col("top")).as("t"))
        .select(col("probe_id"), col("true_label"),
          (col("t._2") % 16).cast("int").as("label"))
      val voted = knn.groupBy(col("probe_id"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("probe_id"), col("true_label"))
        .agg(max(struct(col("votes"), (-col("label")).as("neg_label"))).as("m"))
        .select(col("probe_id"), col("true_label"),
          (-col("m.neg_label")).as("pred_label"))
      voted.groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_probes", sum(col("n")).over(W.partitionBy()))
        .withColumn("accuracy_ppm", expr(
          """sum(CASE WHEN true_label = pred_label THEN n ELSE 0 END)
             OVER () * 1000000 div n_probes"""))
        .orderBy(col("true_label"), col("pred_label"))
    },
    Some("""
      WITH probes AS (
        SELECT vec_id AS probe_id, label AS true_label, embedding AS pe
        FROM embeddings WHERE vec_id < 100),
      scored AS (
        SELECT probe_id, true_label, vec_id, label,
               ROUND(
                 list_sum(list_transform(range(1, 65),
                   i -> CAST(pe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(pe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        FROM embeddings CROSS JOIN probes
        WHERE probe_id <> vec_id),
      knn AS (
        SELECT probe_id, true_label, label FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                      ORDER BY cosine DESC, vec_id) AS rn
          FROM scored) WHERE rn <= 5),
      votes AS (
        SELECT probe_id, true_label, label, COUNT(*) AS v
        FROM knn GROUP BY 1, 2, 3),
      pred AS (
        SELECT probe_id, true_label, label AS pred_label FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                      ORDER BY v DESC, label) AS rk
          FROM votes) WHERE rk = 1),
      cm AS (
        SELECT true_label, pred_label, COUNT(*) AS n
        FROM pred GROUP BY 1, 2)
      SELECT true_label, pred_label, n,
             CAST(SUM(n) OVER () AS BIGINT) AS n_probes,
             CAST(SUM(CASE WHEN true_label = pred_label THEN n ELSE 0 END)
                  OVER () * 1000000 // SUM(n) OVER () AS BIGINT) AS accuracy_ppm
      FROM cm ORDER BY true_label, pred_label
    """)
  )

  /** URL canonicalization dedup (r8) — the first step of every web-corpus
    * pipeline (C4/CCNet dedupe BY URL before any content hash): raw URLs
    * differing only in host case, tracking params (utm_*), and fragments
    * are one logical page. Raw URLs are synthesized deterministically from
    * events (mixed-case host, a varying utm_source, an unsorted query, a
    * fragment), then canonicalized THROUGH Spark's real URL machinery —
    * parse_url(HOST/PATH/QUERY), lowercase host, higher-order
    * filter() to drop tracking params, array_sort for query-order
    * normalization — while the oracle derives the canonical form directly
    * from the same generating fields, so a parse or normalization bug on
    * either side is a hash mismatch. Per-canonical event count + distinct
    * raw variants, top-20. At 100 TB this is one groupBy on the canonical
    * string — the scan-heavy step is codegen'd string work.
    */
  val dedupUrlCanonicalize = Op(
    "dedup_url_canonicalize",
    (s, d) => {
      val raw = T.events(s, d).select(
        concat(
          lit("https://"),
          when(pmod(col("user_id"), lit(2)) === 0, "EX.com").otherwise("ex.com"),
          lit("/"), col("event_type"), lit("/item"), pmod(col("event_id"), lit(50)),
          lit("?utm_source=s"), pmod(col("user_id"), lit(5)),
          lit("&b="), pmod(col("user_id"), lit(7)),
          lit("&a="), pmod(col("event_id"), lit(13)),
          lit("#f"), pmod(col("event_id"), lit(9))).as("url"))
      raw
        .withColumn("kept", expr(
          "array_sort(filter(split(parse_url(url, 'QUERY'), '&'), " +
            "p -> NOT (p LIKE 'utm_%' OR p LIKE 'fbclid=%')))"))
        .withColumn("canonical", concat(
          lower(expr("parse_url(url, 'HOST')")),
          expr("parse_url(url, 'PATH')"),
          lit("?"), array_join(col("kept"), "&")))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("url")).as("n_raw_variants"))
        .orderBy(col("n_events").desc, col("canonical"))
        .limit(20)
    },
    Some("""
      WITH raw AS (
        SELECT 'https://' ||
               CASE WHEN user_id % 2 = 0 THEN 'EX.com' ELSE 'ex.com' END ||
               '/' || event_type || '/item' || (event_id % 50) ||
               '?utm_source=s' || (user_id % 5) ||
               '&b=' || (user_id % 7) ||
               '&a=' || (event_id % 13) ||
               '#f' || (event_id % 9) AS url,
               'ex.com/' || event_type || '/item' || (event_id % 50) ||
               '?a=' || (event_id % 13) || '&b=' || (user_id % 7) AS canonical
        FROM events)
      SELECT canonical, COUNT(*) AS n_events,
             CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
      FROM raw GROUP BY canonical
      ORDER BY n_events DESC, canonical LIMIT 20
    """)
  )

  /** Sorted Neighborhood Method (r8; Hernández & Stolfo 1995 — the classic
    * alternative to hash blocking for fuzzy dedup: SORT on a discriminating
    * key, then compare only records within a small sliding window, so the
    * candidate count is O(n·w) regardless of how ragged the clusters are).
    * Here: per-source blocks (the block bound also keeps the sort
    * partition-local — SNM at 100 TB is range-partition + window, never a
    * global sort), docs ordered by (text, doc_id), each compared to its
    * next 2 neighbors via lead(), pairs kept when levenshtein over the
    * 60-char prefix ≤ 20. Emits per-source candidate/match counts plus
    * the matched pairs — the shape dedup_blocked_fuzzy gets from hash
    * blocking, reached by ordering instead.
    */
  val dedupSortedNeighborhood = Op(
    "dedup_sorted_neighborhood",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("source"), substring(col("text"), 1, 60).as("key"))
      val w = Window.partitionBy(col("source")).orderBy(col("key"), col("doc_id"))
      val cand = docs
        .withColumn("n1_id", lead(col("doc_id"), 1).over(w))
        .withColumn("n1_key", lead(col("key"), 1).over(w))
        .withColumn("n2_id", lead(col("doc_id"), 2).over(w))
        .withColumn("n2_key", lead(col("key"), 2).over(w))
        .select(col("source"), col("doc_id"), col("key"),
          explode(array(
            struct(col("n1_id").as("nid"), col("n1_key").as("nkey")),
            struct(col("n2_id").as("nid"), col("n2_key").as("nkey")))).as("n"))
        .filter(col("n.nid").isNotNull)
        .select(col("source"), col("doc_id"), col("n.nid").as("nid"),
          levenshtein(col("key"), col("n.nkey")).as("dist"))
      cand.groupBy(col("source"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("dist") <= 20, 1L).otherwise(0L)).as("n_matches"),
          min(col("dist")).cast("long").as("min_dist"))
        .orderBy(col("source"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, substring(text, 1, 60) AS key FROM documents),
      nb AS (
        SELECT source, doc_id, key,
               LEAD(doc_id, 1) OVER w AS n1_id, LEAD(key, 1) OVER w AS n1_key,
               LEAD(doc_id, 2) OVER w AS n2_id, LEAD(key, 2) OVER w AS n2_key
        FROM docs
        WINDOW w AS (PARTITION BY source ORDER BY key, doc_id)),
      cand AS (
        SELECT source, doc_id, n1_id AS nid, levenshtein(key, n1_key) AS dist
        FROM nb WHERE n1_id IS NOT NULL
        UNION ALL
        SELECT source, doc_id, n2_id, levenshtein(key, n2_key)
        FROM nb WHERE n2_id IS NOT NULL)
      SELECT source, COUNT(*) AS n_candidates,
             CAST(SUM(CASE WHEN dist <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
             CAST(MIN(dist) AS BIGINT) AS min_dist
      FROM cand GROUP BY source ORDER BY source
    """)
  )

  val ops: Vector[Op] = Vector(
    dedupUrlCanonicalize, dedupSortedNeighborhood,
    dedupSurvivorshipMerge, embDimVarianceRank, simKnnClassify,
    dedupExact, dedupKeyedLatest, dedupCcClusters, dedupIncremental,
    dedupPipelineE2e, simJaccardPairs, simMinhashLsh, simMinhashDet, simCosineKnn,
    simEmbedDedup, simLabelCentroids, simShingleJaccard, simSimhash,
    simHammingPairs, simSimhashBands, simSimhashShingleBands,
    simBrpLsh, simIvfKnn, simIvfKnnDet, serveHybridSearch, servePrefixAutocomplete,
    serveDocSnippet, serveMoreLikeThis, simEditDistance,
    simTfidfCosine, embQuantizeInt8, embSrpAnn, dedupNormalizedKey,
    embSrpRecall, simPrefixFilterJoin, semDedupClusters, simIvfPq,
    dedupBlockedFuzzy, simContainmentPairs, embMatryoshkaTrunc,
    simLshTuningCurve)
}
