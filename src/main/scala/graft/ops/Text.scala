package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.8 Text / NLP operators — the reference's core surface (keyword
  * cleaning, tokenize, stopwords, TF-IDF, n-grams, label indexing),
  * re-expressed as pure DataFrame transforms. Everything is explode +
  * hash-agg + join + window: fully distributed, no driver-side state. The
  * TF-IDF document-frequency join broadcasts the df side only implicitly —
  * at 100 TB the vocabulary table is small relative to the corpus, so the
  * token join stays broadcast-able; the corpus-size scalar is a 1-row
  * broadcast cross join (never a collect).
  */
object Text {

  /** Shared tokenizer: one row per (doc_id, token). */
  private def tokens(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))

  // private[graft]: PropertySpec's rake oracle-equivalence pin rebuilds the
  // separator phrase form with the same list
  private[graft] val stoplist = Seq(
    "the", "a", "an", "and", "or", "but", "if", "then", "else", "of",
    "to", "in", "on", "for", "with", "as", "by", "at", "is", "are",
    "was", "be", "this", "that", "it")

  val txtNormalize = Op(
    "txt_normalize",
    (s, d) =>
      T.documents(s, d)
        .select(
          col("doc_id"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
            " +", " ")).as("norm"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      FROM documents ORDER BY doc_id
    """)
  )

  val txtWordcount = Op(
    "txt_wordcount",
    (s, d) =>
      tokens(s, d)
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100),
    Some("""
      SELECT token, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token ORDER BY cnt DESC, token LIMIT 100
    """)
  )

  val txtStopwordFilter = Op(
    "txt_stopword_filter",
    (s, d) =>
      tokens(s, d)
        .filter(!col("token").isin(stoplist: _*))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100),
    Some(s"""
      SELECT token, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token NOT IN (${stoplist.map(w => s"'$w'").mkString(", ")})
      GROUP BY token ORDER BY cnt DESC, token LIMIT 100
    """)
  )

  val txtTf = Op(
    "txt_tf",
    (s, d) =>
      tokens(s, d)
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("doc_id"), col("token")),
    Some("""
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token ORDER BY doc_id, token
    """)
  )

  /** TF·IDF with the MLlib smoothing formula ln((N+1)/(df+1))+1; top-5 terms
    * per document (rank on the rounded score + token tiebreak so both
    * engines rank identically).
    */
  val txtIdfTfidf = Op(
    "txt_idf_tfidf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = tokens(s, d)
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      // df derived FROM tf (r18, guide §2.4): tf already has exactly one
      // row per distinct (doc, token), so df(token) = COUNT(*) of tf rows
      // — the old toks.distinct().groupBy chain re-ran the corpus explode
      // AND shuffled corpus-volume rows a second time for the same number.
      // tf's exchange is shared with the scoring join via ReusedExchange.
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDocs = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(dfreq, "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("rn").cast("long").as("rn"), col("token"), col("tf"), col("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    },
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
      df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, token, tf,
               ROUND(tf * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n)
      SELECT doc_id, rn, token, tf, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
        FROM scored)
      WHERE rn <= 5 ORDER BY doc_id, rn
    """)
  )

  /** Bigrams via the native codegen'd token_ngrams expression — a single
    * fused loop in whole-stage codegen, replacing the interpreted
    * zip_with/concat lambda (same playbook as vec_dot; bit-identical
    * output). Array-native, no self-join on the Spark side (the DuckDB
    * twin uses the pos self-join formulation, same result).
    */
  val txtNgrams = Op(
    "txt_ngrams",
    (s, d) => {
      T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(explode(
          call_function("token_ngrams", col("toks"), lit(2))).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(100)
    },
    Some("""
      WITH t AS (
        SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents))
      SELECT a.tok || ' ' || b.tok AS bigram, COUNT(*) AS cnt
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 100
    """)
  )

  val txtDocStats = Op(
    "txt_doc_stats",
    (s, d) =>
      T.documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
             ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
             COUNT(DISTINCT source) AS n_sources
      FROM documents GROUP BY lang ORDER BY lang
    """)
  )

  /** StringIndexer semantics: labels indexed by descending frequency, ties
    * broken alphabetically, zero-based.
    *
    * The unpartitioned Window.orderBy is safe ONLY because its input is the
    * per-lang aggregate (cardinality = number of languages, a handful of
    * rows); vocabulary-scale indexing (millions of labels) would use the
    * distributed ml.feature.StringIndexer instead — never a single-partition
    * global window.
    */
  val txtStringIndexer = Op(
    "txt_string_indexer",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      T.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("idx",
          (row_number().over(Window.orderBy(col("cnt").desc, col("lang"))) - 1).cast("long"))
        .orderBy(col("idx"))
    },
    Some("""
      SELECT lang, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, lang) - 1 AS idx
      FROM (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang)
      ORDER BY idx
    """)
  )

  /** HashingTF semantics: murmur3(token) pmod numFeatures=64 buckets per
    * doc. Oracle-exempt (DuckDB's hash is a different function); TextSpec
    * checks bucket range and token-mass conservation.
    */
  val txtHashingTf = Op(
    "txt_hashing_tf",
    (s, d) =>
      tokens(s, d)
        .withColumn("bucket", pmod(hash(col("token")), lit(64)).cast("long"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("doc_id"), col("bucket")),
    None
  )

  /** Deterministic HashingTF twin (r13) — the fully-oracled anchor of
    * [[txtHashingTf]], completing the det-twin program across the last
    * hash-dependent family (feature hashing): identical semantics — every
    * token folds into one of 64 buckets, collisions and all, per-doc
    * counts out — but the bucket hash is the md5-prefix idiom (first hex
    * pair parsed to 0..255, mod 64) instead of murmur3, so DuckDB
    * reproduces every row bit-for-bit (murmur `hash()` has no DuckDB
    * twin; md5 does — the txt_fingerprint parity trick). ExemptSpec ties
    * the murmur op to this twin: both must conserve token mass doc-by-doc
    * against the SAME oracled per-doc totals, so a HashingTF regression
    * breaks an oracled key's sibling pin. Shape at 100 TB: one narrow
    * tokenize-explode, one map-side-combined groupBy — shuffle is
    * docs×≤64 bucket rows, never raw tokens.
    */
  val txtHashingTfDet = Op(
    "txt_hashing_tf_det",
    (s, d) =>
      tokens(s, d)
        .withColumn("bucket",
          expr("CAST(conv(substring(md5(token), 1, 2), 16, 10) AS BIGINT) % 64"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("doc_id"), col("bucket")),
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      SELECT doc_id,
             CAST(((strpos('0123456789abcdef', substring(md5(token), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substring(md5(token), 2, 1)) - 1) % 64
                  AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM toks
      GROUP BY 1, 2
      ORDER BY doc_id, bucket
    """)
  )

  /** Pivot: source × lang doc-count matrix with a FIXED label set (pivot on
    * an unbounded label set would need a collect — never at scale).
    */
  val txtLangDistPivot = Op(
    "txt_lang_dist_pivot",
    (s, d) => {
      val langs = Seq("en", "de", "es", "fr", "zh")
      val p = T.documents(s, d)
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
      p.select(
        col("source") +: langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
        .orderBy(col("source"))
    },
    Some("""
      SELECT source,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
             CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
             CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
             CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
             CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
      FROM documents GROUP BY source ORDER BY source
    """)
  )

  /** PMI collocations (Church & Hanks 1990) — adjacent token pairs that
    * co-occur far more than chance: pmi = ln(p(xy) / (p(x)p(y))), the
    * standard association measure for multiword-expression mining in a
    * training corpus. Three counting aggregations (bigrams via the native
    * codegen'd token_ngrams, unigrams, totals broadcast as one row) and a
    * token-keyed join — every step map-side-combinable, no step touches
    * more than the vocabulary after the first agg, so the plan is
    * indifferent to corpus size. min-count 25 floors the estimator noise;
    * ln parity with DuckDB is established (txt_idf_tfidf), round6 on top.
    */
  val txtCollocationPmi = Op(
    "txt_collocation_pmi",
    (s, d) => {
      val toks = tokens(s, d)
      val uni = toks.groupBy(col("token")).agg(count(lit(1)).as("uc"))
      val biAll = T.documents(s, d)
        .select(explode(expr("token_ngrams(split(text, ' '), 2)")).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("bc"))
      val bi = biAll.filter(col("bc") >= 25)
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
      // p(xy) normalizes over ALL bigram mass, not just the surviving
      // candidates — summing post-filter would shift every PMI by a
      // constant ln(total/filtered) and stop being the cited formula
      val totals = uni.agg(sum(col("uc")).as("n_uni"))
        .crossJoin(biAll.agg(sum(col("bc")).as("n_bi")))
      bi.join(uni.select(col("token").as("x"), col("uc").as("xc")), "x")
        .join(uni.select(col("token").as("y"), col("uc").as("yc")), "y")
        .crossJoin(broadcast(totals))
        .withColumn("pmi", round(
          log((col("bc") / col("n_bi")) /
              ((col("xc") / col("n_uni")) * (col("yc") / col("n_uni")))), 6))
        .select(col("bigram"), col("bc"), col("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(40)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      uni AS (SELECT token, COUNT(*) AS uc FROM toks GROUP BY token),
      seq AS (
        SELECT doc_id, unnest(toks) AS token,
               generate_subscripts(toks, 1) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      bi_all AS (
        SELECT a.token || ' ' || b.token AS bigram, COUNT(*) AS bc,
               a.token AS x, b.token AS y
        FROM seq a JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 3, 4),
      bi AS (SELECT * FROM bi_all WHERE bc >= 25),
      tot AS (
        SELECT (SELECT SUM(uc) FROM uni) AS n_uni,
               (SELECT SUM(bc) FROM bi_all) AS n_bi)
      SELECT bigram, bc,
             ROUND(LN((bc / n_bi) /
                      ((xc / n_uni) * (yc / n_uni))), 6) AS pmi
      FROM bi
      JOIN (SELECT token AS x, uc AS xc FROM uni) USING (x)
      JOIN (SELECT token AS y, uc AS yc FROM uni) USING (y)
      CROSS JOIN tot
      ORDER BY pmi DESC, bigram LIMIT 40
    """)
  )

  /** BM25 ranking (r3c; Robertson & Walker 1994, k1 = 1.2, b = 0.75) — the
    * retrieval scorer the search-intent loop actually serves with: given a
    * conjunctive query, rank the corpus by summed per-term BM25. Pairs with
    * serve_inverted_index (which finds the candidate docs); this op scores
    * them. Scale shape: tf/df/dl are the same one-pass token aggregates as
    * txt_idf_tfidf, the query-term df table broadcasts (|query| rows), the
    * per-doc score is one grouped sum — no all-pairs anything. Determinism:
    * ln() agrees between the JDK and DuckDB on these operands (precedent:
    * txt_idf_tfidf), the remaining ops are IEEE +,*,/ on identical
    * operands, and the final score is rounded to 6 before the top-20 cut,
    * whose (score, doc_id) order is total.
    */
  val txtBm25Rank = Op(
    "txt_bm25_rank",
    (s, d) => {
      val query = Seq("spark", "join", "filter")
      val toks = tokens(s, d)
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val nAvg = dl.agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl")).as("total_dl"))
      val tf = toks.filter(col("token").isin(query: _*))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(nAvg))
        .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
        .withColumn("idf",
          log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("score_t",
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        // per-term double scores pass through DECIMAL(18,12) before the
        // cross-term sum: double addition is shuffle-order-dependent,
        // decimal addition is not (Det rationale, applied at higher scale
        // because these are ln-derived magnitudes ~1e0)
        .groupBy(col("doc_id"))
        .agg(
          round(sum(col("score_t").cast("decimal(18,12)")).cast("double"), 6).as("bm25"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      n AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
             WHERE token IN ('spark', 'join', 'filter') GROUP BY doc_id, token),
      df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      scored AS (
        SELECT tf.doc_id,
               -- 2.2/1.2 forced to DOUBLE: DuckDB parses bare decimals
               -- exactly, Spark's lit(2.2) is the nearest double — the
               -- engines must multiply by the SAME inexact constant
               LN((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * CAST(2.2 AS DOUBLE))
                 / (tf + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs)))
                 AS score_t
        FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN n)
      SELECT doc_id,
             ROUND(CAST(SUM(CAST(score_t AS DECIMAL(18,12))) AS DOUBLE), 6) AS bm25,
             COUNT(*) AS n_terms
      FROM scored GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id
      LIMIT 20
    """)
  )

  /** RAKE keyword extraction (r14; Rose, Engel, Cramer & Cowley 2010,
    * "Automatic Keyword Extraction from Individual Documents") — candidate
    * phrases are the maximal stopword-free token runs per document
    * (gaps-and-islands: island id = pos − row_number over non-stop tokens,
    * the win_gap_islands idiom applied inside text); word score =
    * degree/frequency over the whole corpus where degree(w) sums the
    * lengths of every phrase occurrence containing w; phrase score sums
    * its words' scores. Determinism: degree and frequency are exact
    * counts, the division is quantized ONCE per word to exact ppm BIGINTs
    * (⌊1e6·deg/freq⌋, the evt_attribution_u idiom — float word scores
    * would make the phrase sum order-dependent), phrase scores are exact
    * BIGINT sums of those ppm units, and the top-30 cut orders by
    * (score_ppm, phrase) — total. Scale shape: posexplode, ONE doc-keyed
    * window for the island ids (the event log pattern: partition by the
    * key the data is already clustered by), a phrase-string aggregate,
    * then everything downstream is vocabulary-sized; the word-score table
    * re-joins to phrase words via a broadcast-sized vocab in any real
    * corpus — here a plain equi-join the optimizer sizes itself.
    */
  val txtRakeKeywords = Op(
    "txt_rake_keywords",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = T.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .filter(!col("token").isin(stoplist: _*))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      // PHRASE-BUILD FORM. r14 (16 CPUs, sf10): (a) islands window,
      // phrases re-derived by every consumer — 134 s; (b) + eager
      // localCheckpoint — 46–56 s; (c) shuffle-free `aggregate`
      // higher-order fold — 84 s (HigherOrderFunction lambdas are
      // CodegenFallback). r17 re-adjudication under the bounded-round-
      // lineage finding (32 CPUs, min-of-two, quiet): persist
      // (MEMORY_AND_DISK) 4.5 s sf10 / 0.71 s sf0.1, eager
      // localCheckpoint 17.4 s / 1.44 s, rescan 20.3 s / 2.06 s. The
      // phrase table has exactly two consumers, so it must materialize —
      // but the compressed columnar cache (lazy, spills serialized) beats
      // checkpoint row blocks ~3.8x at sf10. At cluster scale the cache
      // is the staged phrase table a real pipeline would materialize
      // anyway, and doc_id is the natural partition key.
      val phrases0 = toks
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(
          concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("token")))),
              x => x.getField("token"))).as("phrase"),
          count(lit(1)).cast("long").as("len"))
      val phrasesMat = phrases0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val words = phrasesMat
        .select(col("phrase"), col("len"), explode(split(col("phrase"), " ")).as("word"))
      val wordScore = words.groupBy(col("word"))
        .agg(expr("(sum(len) * 1000000) div count(1)").as("score_ppm"))
      // identical phrase text ⇒ identical per-occurrence word multiset, so
      // n_occur needs no third pass: it is n_words_x_occur / words-per-
      // occurrence (= len, carried through the explode), exactly
      val phraseScore = words
        .join(wordScore, "word")
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_words_x_occur"), sum(col("score_ppm")).as("total_ppm"),
          max(col("len")).as("len"))
      phraseScore
        .withColumn("n_occur", expr("n_words_x_occur div len"))
        .withColumn("score_ppm", expr("(total_ppm * len) div n_words_x_occur"))
        .select(col("phrase"), col("n_occur"), col("score_ppm"),
          round(col("score_ppm") / 1000000.0, 6).as("score"))
        .orderBy(col("score_ppm").desc, col("phrase"))
        .limit(30)
    },
    Some(s"""
      -- phrase build is PER-ROW list arithmetic, not a global explode +
      -- window: stopword tokens become a record separator (chr(30)),
      -- splitting each doc into its maximal stopword-free runs with
      -- memory bounded per document. The first committed form (explode +
      -- ROW_NUMBER window + string_agg) held ~250M positioned tokens as
      -- unspillable window/agg state and OOM'd DuckDB at sf100. Equivalent
      -- to the islands form for any corpus without empty-string tokens
      -- (fixture contract; '' is not a stopword, and trim() would strip a
      -- would-be '' boundary token).
      WITH segs AS (
        SELECT unnest(string_split(array_to_string(
                 list_transform(string_split(text, ' '),
                   t -> CASE WHEN t IN (${stoplist.map(w => s"'$w'").mkString(", ")})
                             THEN chr(30) ELSE t END),
                 ' '), chr(30))) AS seg
        FROM documents),
      phrases AS MATERIALIZED (
        SELECT trim(seg) AS phrase,
               CAST(array_length(string_split(trim(seg), ' ')) AS BIGINT) AS len
        FROM segs WHERE trim(seg) <> ''),
      word_score AS (
        SELECT word, (SUM(len) * 1000000) // COUNT(*) AS score_ppm
        FROM (SELECT len, unnest(string_split(phrase, ' ')) AS word FROM phrases)
        GROUP BY word),
      phrase_score AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_words_x_occur,
               CAST(SUM(score_ppm) AS BIGINT) AS total_ppm
        FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS word FROM phrases) pw
        JOIN word_score USING (word)
        GROUP BY phrase)
      SELECT phrase, n_occur, score_ppm, ROUND(score_ppm / 1000000.0, 6) AS score
      FROM (
        SELECT p.phrase, p.n_occur, ps.n_words_x_occur,
               -- // (integer div) matches Spark's `div` exactly at any
               -- magnitude; float / + CAST diverges past 2^53 (r14 advice)
               CAST(ps.total_ppm // p.n_occur AS BIGINT) AS score_ppm
        FROM (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur
              FROM phrases GROUP BY phrase) p
        JOIN phrase_score ps USING (phrase))
      ORDER BY score_ppm DESC, phrase LIMIT 30
    """)
  )

  val ops: Vector[Op] = Vector(
    txtRakeKeywords,
    txtNormalize, txtWordcount, txtStopwordFilter, txtTf, txtIdfTfidf,
    txtNgrams, txtDocStats, txtStringIndexer, txtHashingTf, txtHashingTfDet,
    txtLangDistPivot,
    txtCollocationPmi, txtBm25Rank)
}
