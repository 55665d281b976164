package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text analysis beyond §2.8: language-ID (char n-gram
  * profiles), quality scoring, BPE-ish token counting, and document
  * fingerprinting. All pure DataFrame ops — profile training is itself a
  * distributed aggregation, never a driver-side model.
  */
object TextAnalysis {

  private val stoplist = Seq(
    "the", "a", "an", "and", "or", "but", "if", "then", "else", "of",
    "to", "in", "on", "for", "with", "as", "by", "at", "is", "are",
    "was", "be", "this", "that", "it")

  /** Language ID by character-bigram profiles: train top-20 bigrams per
    * labeled lang (distributed agg + window), classify every doc by
    * distinct-overlap argmax, emit the (lang × guess) confusion matrix.
    * The whole train+classify loop is joins/aggregations — at 100 TB the
    * profile table is tiny (langs × 20) and broadcasts.
    */
  val txtLangId = Op(
    "txt_lang_id",
    (s, d) => {
      val docs = T.documents(s, d).filter(length(col("text")) >= 2)
      // char bigrams via the native codegen'd char_ngrams expression (the
      // interpreted transform(sequence(...)) lambda it replaces ran twice
      // per run — once for the profile agg, once for classification).
      // The explode deliberately runs once per branch: it is codegen'd and
      // cheap, and materializing the (doc, lang, bg) counts instead
      // (eager localCheckpoint) measured 2.5x SLOWER at sf0.1 — the
      // checkpoint write of ~2.5M rows costs more than the re-explode.
      val bgs = docs.select(
        col("doc_id"), col("lang"),
        explode(call_function("char_ngrams", col("text"), lit(2))).as("bg"))
      val wProf = Window.partitionBy(col("p_lang")).orderBy(col("cnt").desc, col("bg"))
      val profile = bgs
        .groupBy(col("lang").as("p_lang"), col("bg"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wProf))
        .filter(col("rn") <= 20)
        .select(col("p_lang"), col("bg"))
      // Dedup BEFORE the profile join, not after: the profile holds each
      // language's TOP-20 bigrams — the most frequent ones — so raw
      // occurrences match it at a high rate and can match SEVERAL
      // languages; joining first would fan the full occurrence stream out
      // by matching langs before any aggregate (measured 2.7 s → 5.5 s in
      // the r18 A/B — the "join below the dedup" rewrite was REVERTED).
      val docBg = bgs.select(col("doc_id"), col("bg")).distinct()
      // per-doc argmax via min(struct(-score, lang)) — lexicographic min is
      // (score DESC, lang ASC), the LPA sort-free idiom; replaces a
      // row_number window (sort of |docs|x|langs| rows) with a map-side-
      // combinable aggregate
      val guess = docBg
        .join(broadcast(profile), "bg")
        .groupBy(col("doc_id"), col("p_lang"))
        .agg(count(lit(1)).as("score"))
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("score")).as("negs"), col("p_lang"))).as("m"))
        .select(col("doc_id"), col("m.p_lang").as("guess"))
      docs.select(col("doc_id"), col("lang"))
        .join(guess, "doc_id")
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("guess"))
    },
    Some("""
      WITH docs AS (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 2),
      bgs AS (
        SELECT doc_id, lang, unnest(list_transform(range(1, length(text)),
               i -> substring(text, CAST(i AS INT), 2))) AS bg
        FROM docs),
      profile AS (
        SELECT p_lang, bg FROM (
          SELECT lang AS p_lang, bg, COUNT(*) AS cnt,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, bg) AS rn
          FROM bgs GROUP BY lang, bg)
        WHERE rn <= 20),
      doc_bg AS (SELECT DISTINCT doc_id, bg FROM bgs),
      guess AS (
        SELECT doc_id, p_lang AS guess FROM (
          SELECT doc_id, p_lang, COUNT(*) AS score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, p_lang) AS rn
          FROM doc_bg JOIN profile USING (bg)
          GROUP BY doc_id, p_lang)
        WHERE rn = 1)
      SELECT lang, guess, COUNT(*) AS n_docs
      FROM docs JOIN guess USING (doc_id)
      GROUP BY lang, guess ORDER BY lang, guess
    """)
  )

  /** Quality scoring: uniqueness ratio, stopword ratio, length saturation —
    * the standard pre-training corpus filters, rounded at the outermost
    * layer only.
    */
  val txtQualityScore = Op(
    "txt_quality_score",
    (s, d) =>
      T.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("uniq_ratio", size(array_distinct(col("toks"))).cast("double") / col("n_tok"))
        .withColumn("stop_ratio",
          size(filter(col("toks"), t => t.isin(stoplist: _*))).cast("double") / col("n_tok"))
        .withColumn("quality",
          round(lit(0.4) * col("uniq_ratio") + lit(0.4) * (lit(1.0) - col("stop_ratio")) +
            lit(0.2) * least(col("n_tok").cast("double") / 100.0, lit(1.0)), 6))
        .select(col("doc_id"), col("n_tok"),
          round(col("uniq_ratio"), 6).as("uniq_ratio"),
          round(col("stop_ratio"), 6).as("stop_ratio"), col("quality"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, n_tok,
             ROUND(uniq_ratio, 6) AS uniq_ratio,
             ROUND(stop_ratio, 6) AS stop_ratio,
             ROUND(0.4 * uniq_ratio + 0.4 * (1.0 - stop_ratio) +
                   0.2 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0), 6) AS quality
      FROM (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
               CAST(len(list_filter(toks, t -> t IN (${stoplist.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks) AS stop_ratio
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      ORDER BY doc_id
    """)
  )

  /** BPE-ish token counting: word / number / symbol pieces via regex, vs
    * plain whitespace tokens — per-lang totals.
    */
  val txtTokenCount = Op(
    "txt_token_count",
    (s, d) =>
      T.documents(s, d)
        .withColumn("n_bpe",
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").cast("long"))
        .withColumn("n_ws", size(split(col("text"), " ")).cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("total_bpe"),
          sum(col("n_ws")).as("total_ws"),
          round(sum(col("n_bpe")).cast("double") / count(lit(1)), 6).as("avg_bpe_per_doc"))
        .orderBy(col("lang")),
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
             CAST(SUM(n_ws) AS BIGINT) AS total_ws,
             ROUND(CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*), 6) AS avg_bpe_per_doc
      FROM (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS n_bpe,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
        FROM documents)
      GROUP BY lang ORDER BY lang
    """)
  )

  /** Document fingerprint: position-weighted character sum mod 1e9+7 — a
    * deterministic content hash computed as a single-pass fold expression
    * (no shuffle, no UDF); duplicate fingerprints = near-identical docs.
    */
  val txtFingerprint = Op(
    "txt_fingerprint",
    (s, d) =>
      T.documents(s, d)
        .select(
          col("doc_id"),
          expr("""aggregate(
                    transform(sequence(1, length(text)),
                              i -> ascii(substring(text, i, 1)) * ((i % 7) + 1)),
                    CAST(0 AS BIGINT),
                    (acc, x) -> (acc + CAST(x AS BIGINT)) % 1000000007)""").as("fp"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(SUM(ascii(c) * ((pos % 7) + 1)) % 1000000007 AS BIGINT) AS fp
      FROM (SELECT doc_id, generate_subscripts(cs, 1) AS pos, unnest(cs) AS c
            FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents))
      GROUP BY doc_id ORDER BY doc_id
    """)
  )

  /** Approximate heavy-hitter tokens via freqItems (Karp/Demaine-style
    * streaming majority sketch): single pass, constant memory per
    * partition, associative merge — the 100 TB way to find frequent
    * vocabulary without a full token groupBy. The algorithm guarantees NO
    * FALSE NEGATIVES above the support threshold (may include extras
    * below it), which is exactly what ExemptSpec asserts against the
    * exact counts. Oracle-exempt (sketch contents depend on merge order).
    */
  val txtFreqTokens = Op(
    "txt_freq_tokens",
    (s, d) => {
      val toks = T.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("token"))
      toks.stat.freqItems(Array("token"), 0.01)
        .select(explode(col("token_freqItems")).as("token"))
        .select(col("token").cast("string"))
        .orderBy(col("token"))
    },
    None
  )

  /** Exact frequent tokens (r12) — the fully-oracled deterministic twin of
    * [[txtFreqTokens]] (the `agg_quantiles_hist_det` precedent applied to
    * the frequent-items family): the EXACT set of tokens with support
    * > 1% of all token occurrences — the same threshold the Karp et al.
    * sketch guarantees no false negatives above — with exact counts and
    * integer-ppm support. ExemptSpec ties the sketch to this twin: every
    * token this op emits must appear in the sketch's output, so a
    * freqItems regression breaks an ORACLED key's sibling pin. Shape at
    * 100 TB: one corpus explode (narrow) → map-side-combined token count
    * (the shuffle is vocabulary-bounded, not corpus-bounded) → the total
    * is SUM over the counts table (no second corpus scan) broadcast as a
    * 1-row scalar → integer support compare (cnt·100 > total ⇔ support
    * > 1%, exact in both engines). At most 99 rows survive by pigeonhole,
    * so the final sort is free.
    */
  val txtFreqTokensDet = Op(
    "txt_freq_tokens_det",
    (s, d) => {
      val counts = T.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      counts.crossJoin(broadcast(total))
        .filter(col("cnt") * 100 > col("total"))
        .select(col("token"), col("cnt"),
          expr("cnt * 1000000 div total").as("support_ppm"))
        .orderBy(col("cnt").desc, col("token"))
    },
    Some("""
      WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
      counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
      tot AS (SELECT SUM(cnt) AS total FROM counts)
      SELECT token, cnt, CAST(cnt * 1000000 // total AS BIGINT) AS support_ppm
      FROM counts, tot
      WHERE cnt * 100 > total
      ORDER BY cnt DESC, token
    """)
  )

  /** Passage-level dedup stats — the "remove duplicated paragraphs" stage of
    * a web-scale training-data pipeline (as in the public C4, Raffel et al.
    * 2020, and RefinedWeb, Penedo et al. 2023, corpus recipes), on fixed
    * 10-token chunks (the
    * fixture text has no sentence punctuation, so chunks stand in for
    * paragraphs). Chunks are hashed per doc WITHOUT any shuffle (split +
    * sequence-explode + slice are all narrow); only the 16-byte chunk
    * hashes aggregate. A chunk is "duplicated" if it occurs in more than
    * one distinct doc; emits per-source chunk counts and the duplicated
    * fraction — at 100 TB this is the boilerplate-passage detector whose
    * shuffle volume is hashes, never text.
    */
  val txtChunkDedup = Op(
    "txt_chunk_dedup",
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) > 0)
      val chunks = docs
        .select(col("doc_id"), col("source"),
          explode(expr("sequence(0, (size(toks)+9) div 10 - 1)")).as("cid"),
          col("toks"))
        .select(col("doc_id"), col("source"),
          md5(expr("array_join(slice(toks, cid*10+1, 10), ' ')")).as("h"))
      val dup = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("h"), lit(1L).as("isdup"))
      chunks.join(dup, Seq("h"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup_chunks"))
        .withColumn("dup_frac", round(col("n_dup_chunks") / col("n_chunks"), 6))
        .orderBy(col("source"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) > 0),
      chunks AS (
        SELECT doc_id, source,
               unnest(list_transform(range(0, (len(toks)+9)//10),
                 c -> md5(array_to_string(toks[(c*10+1):(c*10+10)], ' ')))) AS h
        FROM docs),
      dup AS (SELECT h FROM chunks GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
      SELECT c.source, COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
             ROUND(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) / COUNT(*), 6) AS dup_frac
      FROM chunks c LEFT JOIN dup d ON c.h = d.h
      GROUP BY c.source ORDER BY c.source
    """)
  )

  /** Substring-level (shifted-window) dedup — the every-position sibling of
    * [[txtChunkDedup]], closing its fixed-boundary gap: 10-token chunks
    * miss any duplicated span offset by fewer than 10 tokens, while an
    * 8-token window hashed at EVERY position (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" recipe,
    * with 8-token windows standing in for their 50-token substrings at
    * fixture scale) catches a shared span wherever it starts. Windows come
    * from the native codegen'd `token_ngrams` (one fused loop per doc — no
    * interpreted slice lambdas), are md5'd immediately, and ONLY the
    * 16-byte hashes ever shuffle — the narrow-before-aggregate shape that
    * makes substring dedup affordable at 100 TB (text never moves; shuffle
    * volume is windows × 16 bytes). Emits per-source window counts, the
    * cross-doc duplicated-window count, the duplicated fraction, and how
    * many docs contain at least one cross-doc duplicated span — the
    * "which documents need substring surgery" readout a pipeline acts on.
    */
  val txtSubstringDedup = Op(
    "txt_substring_dedup",
    (s, d) => {
      val win = T.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(call_function("token_ngrams", split(col("text"), " "), lit(8)))
            .as("w"))
        .select(col("doc_id"), col("source"), md5(col("w")).as("h"))
      val dup = win.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("h"), lit(1L).as("isdup"))
      win.join(dup, Seq("h"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup_windows"),
          countDistinct(when(col("isdup") === 1L, col("doc_id")))
            .as("n_docs_with_dup_span"))
        .withColumn("dup_frac", round(col("n_dup_windows") / col("n_windows"), 6))
        .orderBy(col("source"))
    },
    Some("""
      WITH win AS (
        SELECT doc_id, source,
               md5(unnest(list_transform(range(1, len(arr) - 6),
                 i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' ||
                      arr[i+3] || ' ' || arr[i+4] || ' ' || arr[i+5] || ' ' ||
                      arr[i+6] || ' ' || arr[i+7]))) AS h
        FROM (SELECT doc_id, source, string_split(text, ' ') AS arr FROM documents)),
      dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
      SELECT w.source, COUNT(*) AS n_windows,
             CAST(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_windows,
             COUNT(DISTINCT CASE WHEN d.h IS NOT NULL THEN w.doc_id END) AS n_docs_with_dup_span,
             ROUND(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) / COUNT(*), 6) AS dup_frac
      FROM win w LEFT JOIN dup d ON w.h = d.h
      GROUP BY w.source ORDER BY w.source
    """)
  )

  /** PII redaction — the mandatory scrub pass of any training-data pipeline
    * (emails/phones masked before text ever reaches dedup or tokenize). The
    * fixture corpus is PII-free by construction, so the op first plants
    * deterministic contact strings (derived from doc_id/source — identical
    * in the oracle), then redacts with conservative character-class regexes
    * that parse identically under Java regex and DuckDB's RE2. Everything
    * is a narrow codegen'd projection — the only shuffle is the final tiny
    * per-source rollup, so at 100 TB this runs at scan speed. The residual
    * column re-scans the REDACTED text for both patterns and must be 0:
    * the op carries its own audit, the property a production scrub pass
    * ships with.
    */
  val txtPiiRedact = Op(
    "txt_pii_redact",
    (s, d) => {
      val email = "[a-z0-9]+@[a-z0-9.]+"
      val phone = "[0-9]{3}-[0-9]{4}"
      T.documents(s, d)
        .withColumn("body",
          concat(col("text"), lit(" contact user"), col("doc_id"), lit("@"),
            col("source"), lit(".example.com call 555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .withColumn("redacted",
          regexp_replace(regexp_replace(col("body"), email, "[EMAIL]"),
            phone, "[PHONE]"))
        .withColumn("n_email", expr(s"size(regexp_extract_all(body, '$email', 0))").cast("long"))
        .withColumn("n_phone", expr(s"size(regexp_extract_all(body, '$phone', 0))").cast("long"))
        .withColumn("residual",
          expr(s"size(regexp_extract_all(redacted, '$email', 0))").cast("long") +
            expr(s"size(regexp_extract_all(redacted, '$phone', 0))").cast("long"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("n_emails"),
          sum(col("n_phone")).as("n_phones"),
          sum(col("residual")).as("n_residual"),
          sum(length(col("body")) - length(col("redacted"))).as("chars_removed"))
        .orderBy(col("source"))
    },
    Some("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_email) AS BIGINT) AS n_emails,
             CAST(SUM(n_phone) AS BIGINT) AS n_phones,
             CAST(SUM(residual) AS BIGINT) AS n_residual,
             CAST(SUM(len_body - len_red) AS BIGINT) AS chars_removed
      FROM (
        SELECT source,
               CAST(len(regexp_extract_all(body, '[a-z0-9]+@[a-z0-9.]+')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(body, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(redacted, '[a-z0-9]+@[a-z0-9.]+'))
                  + len(regexp_extract_all(redacted, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS residual,
               length(body) AS len_body, length(redacted) AS len_red
        FROM (
          SELECT source, body,
                 regexp_replace(regexp_replace(body, '[a-z0-9]+@[a-z0-9.]+', '[EMAIL]', 'g'),
                                '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
          FROM (
            SELECT source,
                   text || ' contact user' || doc_id || '@' || source ||
                   '.example.com call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
            FROM documents)))
      GROUP BY source ORDER BY source
    """)
  )

  /** Unicode NFC normalization via the native [[graft.functions.UnicodeNormalize]]
    * expression (JDK `java.text.Normalizer`, codegen'd — see its scaladoc for
    * why this must precede any byte-keyed dedup). The fixture is ASCII-only,
    * so the op plants decomposed sequences (e + U+0301 combining acute) that
    * both engines construct identically, normalizes, and emits before/after
    * code-point counts: where the letter has a precomposed acute form (the
    * vowels, most sonorants) NFC folds letter+mark into one code point and
    * `changed` is true; where it doesn't (x, t, …) the sequence is already
    * NFC and survives verbatim — and the normalized bytes hash-match
    * DuckDB's `nfc_normalize` either way, proving the JDK normalizer and
    * DuckDB's utf8proc agree byte-for-byte on both branches.
    */
  val txtUnicodeNfc = Op(
    "txt_unicode_nfc",
    (s, d) => {
      T.documents(s, d)
        .withColumn("tok", split(col("text"), " ").getItem(0))
        .filter(length(col("tok")) >= 1)
        .withColumn("raw",
          concat(substring(col("tok"), 1, 1), lit("\u0301"),
            expr("substring(tok, 2, length(tok))")))
        .withColumn("nfc", call_function("unicode_norm", col("raw"), lit("NFC")))
        .select(
          col("doc_id"), col("raw"), col("nfc"),
          length(col("raw")).cast("long").as("raw_cps"),
          length(col("nfc")).cast("long").as("nfc_cps"),
          (col("raw") =!= col("nfc")).as("changed"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, raw, nfc_normalize(raw) AS nfc,
             length(raw) AS raw_cps,
             length(nfc_normalize(raw)) AS nfc_cps,
             raw <> nfc_normalize(raw) AS changed
      FROM (
        SELECT doc_id,
               substring(tok, 1, 1) || chr(769) || substring(tok, 2) AS raw
        FROM (SELECT doc_id, string_split(text, ' ')[1] AS tok FROM documents)
        WHERE length(tok) >= 1)
      ORDER BY doc_id
    """)
  )

  /** Benchmark decontamination (r3c) — the train/eval overlap scan every
    * serious training-data pipeline runs (the n-gram collision recipe of
    * the GPT-3/PaLM decontamination appendices — their 13-grams scale to
    * 4-token shingles on this corpus's ~60-word vocabulary, measured to
    * flag a realistic ~1.6% of train docs): a held-out "benchmark" slice
    * (doc_id % 97 == 0 stands in for the eval set), train docs flagged
    * when they share ANY 4-token shingle with any benchmark doc. Shingles are md5'd per doc with no
    * shuffle (narrow explode), the collision join moves 16-byte hashes
    * only, and the verdict is per-source counts — at 100 TB this is the
    * chunk-hash join shape of txt_chunk_dedup pointed at contamination.
    */
  val txtContaminationCheck = Op(
    "txt_contamination_check",
    (s, d) => {
      def shingles(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 4)
        .select(col("doc_id"), col("source"),
          explode(expr("sequence(1, size(toks) - 3)")).as("i"), col("toks"))
        .select(col("doc_id"), col("source"),
          md5(expr("array_join(slice(toks, i, 4), ' ')")).as("h"))
      val docs = T.documents(s, d)
      val bench = shingles(docs.filter(col("doc_id") % 97 === 0))
        .select(col("h")).distinct()
      val train = shingles(docs.filter(col("doc_id") % 97 =!= 0))
      val contaminated = train.join(bench, Seq("h"), "left_semi")
        .select(col("doc_id")).distinct()
      docs.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_train_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("contam_ppm", expr("n_contaminated * 1000000L div n_train_docs"))
        .orderBy(col("source"))
    },
    Some("""
      WITH docs AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      sh AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(toks) - 2),
                 i -> md5(array_to_string(toks[i:i+3], ' ')))) AS h
        FROM docs WHERE len(toks) >= 4),
      bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
      contaminated AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM bench))
      SELECT d.source, COUNT(*) AS n_train_docs,
             CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
             CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) * 1000000
                  // COUNT(*) AS BIGINT) AS contam_ppm
      FROM docs d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
      WHERE d.doc_id % 97 <> 0
      GROUP BY d.source ORDER BY d.source
    """)
  )

  /** Unigram-LM log-probability filter (r3c) — the perplexity-quality
    * stage of the CCNet/RefinedWeb recipes with the 5-gram KenLM replaced
    * by the corpus's own unigram model (no external model files exist
    * here; the pipeline shape is identical): token frequencies are the
    * LM, each doc scores avg -ln p(token) with add-one smoothing, docs
    * land in score quartiles via ntile, and the op emits per-quartile
    * stats. High avg surprise = unusual vocabulary = filter candidate.
    * One token agg (the LM fits in a broadcast — vocabulary-sized), one
    * per-doc agg through DECIMAL for the cross-token sum, one tiny
    * quartile rollup. ln-over-count-ratios hash-parity per the
    * txt_idf_tfidf precedent. Quartile assignment is the TwoPassRank
    * kernel (range-partition + local row_number + broadcast offsets — the
    * win_rank_distributed form, hash-identical to a global ntile because
    * the (avg_nll, doc_id) order key is unique), NOT `ntile over a
    * no-partition window`: that plan funnels every per-doc score through
    * ONE partition — the exact scale failure win_rank_distributed exists
    * to avoid. PlanShapeSpec asserts no SinglePartition exchange here.
    */
  val txtUnigramLogprob = Op(
    "txt_unigram_logprob",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      // totals derived FROM vocab (r18, guide §2.4): n_tokens = Σ cnt and
      // v_size = |vocab| exactly — the old toks.agg re-ran the corpus
      // explode a third time and paid a countDistinct expand for numbers
      // the vocab aggregate already holds.
      val total = vocab.agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("v_size"))
      val scored = toks
        .join(broadcast(vocab), "token")
        .crossJoin(broadcast(total))
        // add-one smoothing; surprise per token through DECIMAL(18,12)
        // so the per-doc sum is shuffle-order-free
        .withColumn("surprise",
          (-log((col("cnt") + 1.0) / (col("n_tokens") + col("v_size"))))
            .cast("decimal(18,12)"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tok"),
          // cast-then-divide, NOT divide-then-cast: the oracle casts the
          // decimal sum to double and divides with IEEE double ops; doing
          // decimal division first would agree only while no value lands
          // within epsilon of a 0.5e-6 rounding boundary
          round(sum(col("surprise")).cast("double") / count(lit(1)), 6).as("avg_nll"))
      val st = TwoPassRank.stage(scored, 8, Seq(col("avg_nll"), col("doc_id")))
      val wLocal = Window.partitionBy(col("pid"))
        .orderBy(col("avg_nll"), col("doc_id"))
      import s.implicits._
      val offDf = st.meta.map { case (pid, off, _) => (pid, off) }.toDF("pid", "off")
      val n = st.n
      val base4 = n / 4
      val rem = n % 4
      st.parts.withColumn("lrn", row_number().over(wLocal).cast("long"))
        .join(broadcast(offDf), "pid")
        .withColumn("grn", col("lrn") + col("off"))
        // ntile(4) in closed form over the unique global rank
        .withColumn("quartile", expr(
          s"CAST(CASE WHEN grn <= ${rem * (base4 + 1)} THEN (grn - 1) div ${base4 + 1} " +
          s"ELSE $rem + ((grn - 1) - ${rem * (base4 + 1)}) div $base4 END AS BIGINT) + 1"))
        .groupBy(col("quartile"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(min(col("avg_nll")), 6).as("min_nll"),
          round(max(col("avg_nll")), 6).as("max_nll"),
          sum(col("n_tok")).as("total_tokens"))
        .orderBy(col("quartile"))
    },
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
      total AS (SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS v_size FROM toks),
      scored AS (
        SELECT doc_id, COUNT(*) AS n_tok,
               ROUND(CAST(SUM(CAST(-LN((cnt + 1.0) / (n_tokens + v_size)) AS DECIMAL(18,12))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_nll
        FROM toks JOIN vocab USING (token) CROSS JOIN total
        GROUP BY doc_id),
      q AS (
        SELECT doc_id, n_tok, avg_nll,
               CAST(NTILE(4) OVER (ORDER BY avg_nll, doc_id) AS BIGINT) AS quartile
        FROM scored)
      SELECT quartile, COUNT(*) AS n_docs,
             ROUND(MIN(avg_nll), 6) AS min_nll,
             ROUND(MAX(avg_nll), 6) AS max_nll,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      FROM q GROUP BY quartile ORDER BY quartile
    """)
  )

  /** Repetition-ratio quality gate — the Gopher-rules repetition signals
    * (Rae et al. 2021 §A1.1: duplicate-n-gram fraction and top-n-gram
    * fraction) as a corpus screen: per document, the fraction of bigram
    * occurrences that are repeats (1 - distinct/total) and the mass of the
    * single most frequent bigram; rolled up per language as exact-integer
    * sums so every ratio is ONE double division of exact BIGINTs (no
    * summing of per-doc doubles — float sums are partial-order-dependent).
    * The flag predicate is integer-exact too (10*distinct < 9*total ⇔
    * dup_frac > 0.1), so flag counts can never straddle a float boundary.
    * Scale shape: only (doc_id, lang, text) are read; bigrams come from
    * the native codegen'd token_ngrams (one fused loop, no self-join); the
    * one big shuffle is the (doc, bigram) count with map-side combine, and
    * the per-doc → per-lang rollups collapse to ~|langs| rows. At 100 TB
    * the bigram strings would shuffle as 16-byte md5 keys instead (the
    * dedup_exact idiom) — identity, not content, is all counting needs.
    */
  val txtRepetitionRatio = Op(
    "txt_repetition_ratio",
    (s, d) => {
      val perPair = T.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(call_function("token_ngrams", split(col("text"), " "), lit(2)))
            .as("bigram"))
        .groupBy(col("doc_id"), col("lang"), col("bigram"))
        .agg(count(lit(1)).as("cnt"))
      val perDoc = perPair
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("cnt")).as("n_bg"),
          count(lit(1)).as("n_dist"),
          max(col("cnt")).as("max_c"))
      perDoc
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bg")).as("total_bigrams"),
          sum(col("n_dist")).as("distinct_bigrams"),
          sum(col("max_c")).as("top_mass"),
          sum(when(lit(10) * col("n_dist") < lit(9) * col("n_bg"), 1L)
            .otherwise(0L)).as("n_flagged"))
        .select(col("lang"), col("n_docs"), col("total_bigrams"),
          col("distinct_bigrams"),
          (floor((lit(1.0) - col("distinct_bigrams").cast("double")
            / col("total_bigrams").cast("double")) * 1e6 + 0.5) / 1e6)
            .as("dup_frac"),
          (floor(col("top_mass").cast("double")
            / col("total_bigrams").cast("double") * 1e6 + 0.5) / 1e6)
            .as("top_frac"),
          col("n_flagged"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents)),
      bg AS (
        SELECT a.doc_id, a.lang, a.tok || ' ' || b.tok AS bigram
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      pc AS (
        SELECT doc_id, lang, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3),
      pd AS (
        SELECT doc_id, lang, SUM(cnt) AS n_bg, COUNT(*) AS n_dist, MAX(cnt) AS max_c
        FROM pc GROUP BY 1, 2)
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_bg) AS BIGINT) AS total_bigrams,
             CAST(SUM(n_dist) AS BIGINT) AS distinct_bigrams,
             FLOOR((1.0 - CAST(SUM(n_dist) AS DOUBLE) / CAST(SUM(n_bg) AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS dup_frac,
             FLOOR(CAST(SUM(max_c) AS DOUBLE) / CAST(SUM(n_bg) AS DOUBLE)
                   * 1000000 + 0.5) / 1000000 AS top_frac,
             CAST(SUM(CASE WHEN 10 * n_dist < 9 * n_bg THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      FROM pd GROUP BY lang ORDER BY lang
    """)
  )

  /** Training-sequence packing — the concat-and-chunk stage every LLM
    * pretraining pipeline runs between "cleaned corpus" and "batched
    * tokens" (the GPT-style recipe: concatenate documents in a fixed
    * deterministic order, cut every B tokens): each document's sequence is
    * floor(tokens-before-it / B) within its (lang, source) stream, and the
    * op emits the per-sequence manifest (doc span, doc count, token count
    * — the padding-free packing plan a loader would execute). Everything
    * is BIGINT arithmetic: token counts, prefix sums, floor division — no
    * float anywhere, so the manifest hash-matches DuckDB exactly.
    * Scale shape: the running total is a window over (lang, source)
    * streams ordered by doc_id — packing is embarrassingly parallel
    * across streams, and a 100 TB corpus packs per (source, shard) with
    * thousands of independent streams (the fixture's 100 (lang, source)
    * groups model exactly that); only (ids, counts) shuffle, never text.
    * The rollup collapses output to ~n_tokens/B rows.
    */
  val txtSeqPack = Op(
    "txt_seq_pack",
    (s, d) => {
      val budget = 512L
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val wStream = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs
        .withColumn("cum_before",
          coalesce(sum(col("n_tok")).over(wStream), lit(0L)))
        .withColumn("seq_id",
          floor(col("cum_before") / lit(budget.toDouble)).cast("long"))
        .groupBy(col("lang"), col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("source"), col("seq_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      p AS (
        SELECT *,
               COALESCE(SUM(n_tok) OVER (PARTITION BY lang, source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM d)
      SELECT lang, source,
             CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS seq_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
             MIN(doc_id) AS first_doc,
             MAX(doc_id) AS last_doc
      FROM p GROUP BY lang, source, seq_id
      ORDER BY lang, source, seq_id
    """)
  )

  /** Domain-mixture rebalance (r5) — the data-mixing step of LLM corpus
    * curation (the DoReMi/Pile-style question "how hard do I up/down-sample
    * each source to hit the target mix?") as one query: per-source document
    * and token counts, the source's actual share of the corpus, and the
    * sampling weight that equalizes shares — ALL in integer parts-per-
    * million (the qc_distribution_drift micro-unit trick: `div` is exact
    * and identical in both engines, no float shares to drift). weight_ppm =
    * target_share_ppm · 1e6 div actual_share_ppm, so a source at twice its
    * target share gets weight 0.5e6. Shape: one corpus scan with a
    * codegen'd size(split()) (no explode — the token COUNT needs no token
    * rows), map-side combine onto |sources| keys, one broadcast scalar for
    * the totals. At 100 TB this is the cheapest full-corpus statistic
    * there is.
    */
  val txtDomainMixBalance = Op(
    "txt_domain_mix_balance",
    (s, d) => {
      // checkpoint the |sources|-row aggregate: it feeds BOTH the output
      // and the totals scalar — uncheckpointed, the totals subtree re-scans
      // the whole corpus (PlanShapeSpec pins the single scan)
      val perSource = T.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val tot = perSource.agg(
        sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
      perSource.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("n_tokens * 1000000 div total_tokens"))
        .select(
          col("source"), col("n_docs"), col("n_tokens"), col("share_ppm"),
          // a sub-ppm source floors to share 0: emit NULL (weight would be
          // "unbounded") IDENTICALLY in both engines — Spark's non-ANSI
          // `div 0` nulls silently but DuckDB's `// 0` errors, so the
          // guard is what keeps the oracle runnable on any data
          expr("CASE WHEN share_ppm = 0 THEN NULL " +
            "ELSE (1000000 div n_sources) * 1000000 div share_ppm END")
            .as("weight_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      WITH per_source AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                     COUNT(*) AS n_sources FROM per_source)
      SELECT source, n_docs, n_tokens,
             n_tokens * 1000000 // total_tokens AS share_ppm,
             CASE WHEN n_tokens * 1000000 // total_tokens = 0 THEN NULL
                  ELSE (1000000 // n_sources) * 1000000
                       // (n_tokens * 1000000 // total_tokens) END AS weight_ppm
      FROM per_source CROSS JOIN tot
      ORDER BY source
    """)
  )

  /** Overlapping sliding-window chunking (r5) — the RAG/embedding-prep
    * chunker: window 32 tokens, stride 16 (50% overlap so no retrieval
    * boundary loses context — the standard passage-embedding recipe),
    * emitting (doc_id, chunk_idx, n_tok, chunk_md5). Contrast txt_seq_pack
    * (disjoint packing for TRAINING batches) and txt_chunk_dedup (disjoint
    * chunks for dedup stats) — overlap is what retrieval wants and they
    * don't provide. Fully narrow: split → explode the stride starts
    * (sequence(0, n-1, 16) — fanout n/16 per doc of token-array
    * references, resolved to 16-byte hashes in the same projection), no
    * shuffle until the final order; downstream (embed, index, chunk-level
    * dedup) consumes hashes + ids, never re-reads text. At 100 TB this is
    * scan-speed; the md5 doubles as the chunk's content address.
    */
  val txtChunkOverlap = Op(
    "txt_chunk_overlap",
    (s, d) => {
      T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0), col("n") - 1, lit(16))).as("start"))
        .select(
          col("doc_id"),
          expr("start div 16").cast("long").as("chunk_idx"),
          least(lit(32), col("n") - col("start")).cast("long").as("n_tok"),
          md5(array_join(slice(col("toks"), col("start") + 1, lit(32)), " "))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                        len(string_split(text, ' ')) AS n
                 FROM documents),
      c AS (SELECT doc_id, toks, n, unnest(range(0, n, 16)) AS start FROM t)
      SELECT doc_id,
             CAST(start // 16 AS BIGINT) AS chunk_idx,
             CAST(least(32, n - start) AS BIGINT) AS n_tok,
             md5(array_to_string(toks[start+1 : start+32], ' ')) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_idx
    """)
  )

  /** Zipf-law slope of the vocabulary (r7) — the corpus-authenticity check
    * qc_benford_check runs for amounts, applied to text: natural-language
    * token frequencies follow freq ∝ rank^(−s) with s ≈ 1, so the log-log
    * slope is ≈ −1; machine-generated / template / uniform-vocabulary text
    * flattens toward 0 (this fixture's 31-word uniform soup measures ≈ 0 —
    * the check genuinely fires). Kept FULLY integer so it hash-oracles:
    * ranks from the frequency histogram (deterministic tie-break on
    * token), both axes bucketed by floor(log2(·)) (exact — the
    * graph_degree_distribution idiom; log2 of a positive long is
    * knife-edge only at exact powers of two, where IEEE log2 is exact),
    * and the OLS slope computed in exact long arithmetic emitted as ppm
    * floor division: slope_ppm = (n·Σxy − ΣxΣy)·1e6 div (n·Σxx − Σx²).
    * Everything after the token histogram (map-side combined, cardinality
    * = |vocab| not corpus) is |vocab|-row algebra — one scan at any scale.
    */
  private val txtZipfSlope = Op(
    "txt_zipf_slope",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val ranked = freq.withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
      val pts = ranked.select(
        floor(log2(col("rank"))).cast("long").as("x"),
        floor(log2(col("cnt"))).cast("long").as("y"),
        col("cnt"))
      pts.agg(
          count(lit(1)).as("n_vocab"),
          sum(col("cnt")).as("n_tokens"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(
          col("n_vocab"), col("n_tokens"),
          expr("(n_vocab * sxy - sx * sy) * 1000000 div (n_vocab * sxx - sx * sx)")
            .as("zipf_slope_ppm"))
    },
    Some("""
      WITH f AS (
        SELECT token, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE len(token) > 0 GROUP BY token),
      r AS (SELECT cnt,
                   CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
            FROM f),
      p AS (SELECT CAST(FLOOR(LOG2(rank)) AS BIGINT) AS x,
                   CAST(FLOOR(LOG2(cnt)) AS BIGINT) AS y, cnt
            FROM r),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM p)
      SELECT n_vocab, n_tokens,
             (n_vocab * sxy - sx * sy) * 1000000 // (n_vocab * sxx - sx * sx)
               AS zipf_slope_ppm
      FROM a
    """)
  )

  /** Bigram-LM surprisal scoring (the CCNet/Wenzek et al. 2020 perplexity
    * filter, one order up from `txt_unigram_logprob`): train an add-one
    * smoothed bigram model ON the corpus itself, score every document by
    * its average conditional surprisal -log P(w_i | w_{i-1}), and emit the
    * 20 most surprising documents — the ones a perplexity gate would drop
    * first. Unigram scoring ranks documents by WHICH words they use;
    * bigram scoring ranks by whether adjacent words co-occur the way the
    * corpus says they should, which is what actually separates template/
    * shuffled text from natural text. Plan: one shuffle on doc_id for the
    * lag window (adjacency needs order), two map-side-combined count
    * tables — c(prev,cur) and c(prev) — joined back on their own keys, the
    * standard distributed LM-count topology (at 100 TB the pair table is
    * the big one and its join key IS the pair, so it shuffles once and
    * never broadcasts; here AQE is free to broadcast the tiny fixture
    * counts). Same decimal(18,12)-sum + round-6 float discipline as the
    * unigram op (ln through DECIMAL makes the per-doc sum shuffle-order
    * free); top-20 via orderBy+limit = TakeOrderedAndProject, never a
    * global sort.
    *
    * r19 single-pass rewrite ATTEMPTED AND REVERTED (three variants, all
    * measured slower at sf0.1, min-merged isolated pairs vs 1.53 s here):
    * (a) collapsing pairs to a (doc, prev, cur) count before the joins +
    * an explicit (prev,cur) repartition shared by the c2 aggregate and
    * the probe — 1.97 s (at bench scale the count tables broadcast, so
    * the explicit repartition is a pure-overhead pair-volume shuffle);
    * (b) the same without the repartition — 2.32 s (within a document
    * bigrams are nearly all distinct on this corpus, so the
    * high-cardinality pre-aggregate buys no row reduction and its hash
    * map is built once per consumer subtree); (c) only making the window
    * exchange explicit and riding it with the v_size countDistinct —
    * 1.84-2.11 s (the map-side partial distinct collapses to vocabulary
    * size BEFORE any shuffle, so the "saved" corpus re-scan was cheaper
    * than the full-corpus shuffle read the ride costs — scan+map-side
    * collapse beats exchange-sharing whenever the aggregate collapses
    * heavily).
    */
  val txtBigramLogprob = Op(
    "txt_bigram_logprob",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = T.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val pairs = toks
        .withColumn("prev", lag(col("token"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("doc_id"), col("prev"), col("token").as("cur"))
      val big = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
      // ctx derived FROM big (r18, guide §2.4): c1(prev) = Σ c2 over that
      // prev's bigrams, exactly — the old pairs.groupBy re-ran the
      // posexplode + per-doc lag window a third time for the same counts.
      val ctx = big.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
      val vsize = toks.agg(countDistinct(col("token")).as("v_size"))
      pairs
        .join(big, Seq("prev", "cur"))
        .join(ctx, Seq("prev"))
        .crossJoin(broadcast(vsize))
        .withColumn("surprise",
          (-log((col("c2") + 1.0) / (col("c1") + col("v_size"))))
            .cast("decimal(18,12)"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(sum(col("surprise")).cast("double") / count(lit(1)), 6).as("avg_nll"))
        .orderBy(col("avg_nll").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents),
      pairs AS (
        SELECT doc_id, prev, token AS cur FROM (
          SELECT doc_id, token,
                 LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM toks)
        WHERE prev IS NOT NULL),
      big AS (SELECT prev, cur, COUNT(*) AS c2 FROM pairs GROUP BY prev, cur),
      ctx AS (SELECT prev, COUNT(*) AS c1 FROM pairs GROUP BY prev),
      vs AS (SELECT COUNT(DISTINCT token) AS v_size FROM toks)
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(CAST(SUM(CAST(-LN((c2 + 1.0) / (c1 + v_size)) AS DECIMAL(18,12))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_nll
      FROM pairs JOIN big USING (prev, cur) JOIN ctx USING (prev) CROSS JOIN vs
      GROUP BY doc_id
      ORDER BY avg_nll DESC, doc_id LIMIT 20
    """)
  )

  /** Heaps'-law vocabulary growth curve (Heaps 1978) — `txt_zipf_slope`'s
    * companion authenticity check on the OTHER text axis: Zipf tests the
    * frequency distribution at a point in time, Heaps tests how vocabulary
    * GROWS as the corpus accumulates (natural text: V(n) ≈ K·n^β with
    * β ≈ 0.5-0.8; a fixed-vocabulary generator flattens to β ≈ 0 once the
    * vocab is exhausted — which this fixture's 31-word soup does almost
    * immediately, exactly what the check should report). The running
    * distinct count is made distributed-cheap by bucketing: each token's
    * FIRST document (one min-agg) assigns it to a log2 doc-prefix bucket,
    * so cum_vocab at checkpoint 2^b is a prefix sum over ≤ log2(N) bucket
    * rows, never a running distinct over the corpus; cum_tokens likewise.
    * Windows ride the bucket table (agg-before-window); the β estimate is
    * the same exact-long OLS-in-ppm kernel as zipf over the floor-log2
    * growth points.
    */
  val txtHeapsLaw = Op(
    "txt_heaps_law",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val tokB = toks
        .groupBy((length(bin(col("doc_id") + 1)) - 1).cast("long").as("bucket"))
        .agg(count(lit(1)).as("toks"))
      val vocB = toks.groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy((length(bin(col("first_doc") + 1)) - 1).cast("long").as("bucket"))
        .agg(count(lit(1)).as("newv"))
      val w = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)
      val curve = tokB.join(vocB, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("toks"), lit(0L)).as("toks"),
          coalesce(col("newv"), lit(0L)).as("newv"))
        .withColumn("cum_tokens", sum(col("toks")).over(w))
        .withColumn("cum_vocab", sum(col("newv")).over(w))
      val slope = curve
        .select(floor(log2(col("cum_tokens"))).cast("long").as("x"),
          floor(log2(col("cum_vocab"))).cast("long").as("y"))
        .agg(count(lit(1)).as("nb"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(expr(
          "(nb * sxy - sx * sy) * 1000000 div (nb * sxx - sx * sx)")
          .as("heaps_slope_ppm"))
      curve.select(col("bucket"), col("cum_tokens"), col("cum_vocab"))
        .crossJoin(broadcast(slope))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      t2 AS (SELECT doc_id, token FROM toks WHERE len(token) > 0),
      tokb AS (SELECT CAST(length(bin(doc_id + 1)) - 1 AS BIGINT) AS bucket,
                      COUNT(*) AS toks
               FROM t2 GROUP BY 1),
      vocb AS (SELECT CAST(length(bin(first_doc + 1)) - 1 AS BIGINT) AS bucket,
                      COUNT(*) AS newv
               FROM (SELECT token, MIN(doc_id) AS first_doc FROM t2 GROUP BY token)
               GROUP BY 1),
      curve AS (
        SELECT COALESCE(t.bucket, v.bucket) AS bucket,
               SUM(COALESCE(t.toks, 0)) OVER
                 (ORDER BY COALESCE(t.bucket, v.bucket) ROWS UNBOUNDED PRECEDING) AS cum_tokens,
               SUM(COALESCE(v.newv, 0)) OVER
                 (ORDER BY COALESCE(t.bucket, v.bucket) ROWS UNBOUNDED PRECEDING) AS cum_vocab
        FROM tokb t FULL JOIN vocb v ON t.bucket = v.bucket),
      pts AS (SELECT CAST(FLOOR(LOG2(cum_tokens)) AS BIGINT) AS x,
                     CAST(FLOOR(LOG2(cum_vocab)) AS BIGINT) AS y
              FROM curve),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM pts)
      SELECT bucket, CAST(cum_tokens AS BIGINT) AS cum_tokens,
             CAST(cum_vocab AS BIGINT) AS cum_vocab,
             (nb * sxy - sx * sy) * 1000000 // (nb * sxx - sx * sx) AS heaps_slope_ppm
      FROM curve CROSS JOIN a
      ORDER BY bucket
    """)
  )

  /** Shared BPE merge-learning loop (Sennrich et al. 2016 — THE
    * tokenizer-training primitive of every modern LLM pipeline), run
    * distributed for `rounds` merge rounds: each round counts adjacent
    * token pairs across the corpus, picks the most frequent (count DESC,
    * pair ASC — the deterministic tie-break vanilla BPE leaves
    * unspecified), and rewrites the corpus with the pair fused. Token
    * boundaries are made unambiguous by the '|' start-of-token marker
    * (the GPT-2 'Ġ' trick): the search string '|a |b' can only match at
    * token starts, and plain left-to-right non-overlapping replace —
    * identical semantics in both engines — IS the leftmost-first merge
    * order real BPE uses.
    *
    * Pair generation is per-row token bigrams via the native codegen'd
    * [[graft.functions.NGrams]] (the same per-row-list-arithmetic shape
    * that saved the sf100 DuckDB oracle in r15): adjacency is a
    * within-row property, so the previous doc_id-partitioned lead
    * window's full-corpus shuffle (once per
    * round!) was pure overhead — the narrow form feeds the map-side-
    * combined pair count with zero shuffle below it. Iteration
    * discipline (r16): the 1-row argmax is COLLECTED to the driver — the
    * canonical iterative-algorithm decision point (KMeans collects its
    * centroids the same way) — so each round is exactly ONE Spark job and
    * the next round's rewrite embeds the winner as a literal, no
    * crossJoin/broadcast/checkpoint machinery at all. The corpus is never
    * checkpointed: with bounded rounds the lineage is `rounds` narrow
    * replace() maps over the parquet scan, and re-scanning beats
    * round-tripping the whole corpus through a zstd localCheckpoint
    * (measured 1.7× of txt_bpe_merges' bench time at r15; a
    * thousand-round production trainer re-enables a corpus checkpoint
    * every K rounds to bound lineage depth). The rewrites are lazy, so a
    * caller that only reads the merge table never executes the final
    * round's rewrite at all.
    *
    * The corpus rows carry (source, tokens-before) from the scan through
    * every rewrite projection — narrow columns Catalyst prunes away for
    * callers that don't read them — so the ENCODE consumer aggregates the
    * rewritten corpus directly with no join back to the documents table
    * (no second scan, no doc_id shuffle).
    *
    * Returns (the learned (round, pair, count) merge table, the corpus as
    * (doc_id, source, tb, canon) with all `rounds` merges applied).
    */
  private def bpeLearn(s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int) = {
    // The corpus is NOT cached, checkpointed, or repartitioned: a round's
    // input is the parquet scan + r narrow replaces, all inside one
    // codegen span, and the bench-scale A/B matrix was unambiguous —
    // rescan ~0.95 s / MEMORY_AND_DISK persist(+repartition) ~1.6 s /
    // r15's per-round zstd localCheckpoint 2.11 s. Materializing the
    // corpus in ANY form costs more than recomputing two string replaces
    // over it; a thousand-round production trainer re-enables a corpus
    // checkpoint every K rounds to bound lineage depth.
    var docs = T.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tb"),
        concat(lit("|"), expr("replace(text, ' ', ' |')")).as("canon"))
    var merges = Vector.empty[(Int, String, Long)]
    for (r <- 1 to rounds) {
      // pair generation = the native codegen'd token_ngrams (n=2): the
      // interpreted transform(sequence(...)) lambda form measured ~2.5x
      // the whole round's cost (higher-order functions never enter
      // whole-stage codegen); semantics are bit-identical, and <2-token
      // docs yield an empty array (no explicit filter needed)
      val best = docs
        .select(explode(call_function("token_ngrams",
          split(col("canon"), " "), lit(2))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()(0)
      val (pair, cnt) = (best.getString(0), best.getLong(1))
      merges = merges :+ ((r, pair, cnt))
      docs = docs.select(col("doc_id"), col("source"), col("tb"),
        replace(col("canon"), lit(pair), lit(pair.replace(" |", "")))
          .as("canon"))
    }
    (merges, docs)
  }

  /** BPE merge LEARNING: the per-round plan of [[bpeLearn]] (pair count →
    * deterministic argmax → literal rewrite), emitting the learned merge
    * table — the tokenizer artifact itself. Production trainers run
    * thousands of rounds on a sample; the per-round plan is exactly this
    * one.
    */
  val txtBpeMerges = Op(
    "txt_bpe_merges",
    (s, d) => {
      import s.implicits._
      bpeLearn(s, d, 3)._1
        .toDF("round", "merged_pair", "n_occurrences")
        .orderBy(col("round"))
    },
    Some("""
      -- pair generation is PER-ROW list arithmetic (the rake sf100 recipe):
      -- the first committed form's corpus-wide LEAD window held ~2.7B
      -- positioned tokens as unspillable window state and OOM'd DuckDB at
      -- sf100 (100 GB limit, 0 bytes spilled). list_zip of the token list
      -- with its own tail forms exactly the same within-doc adjacent pairs
      -- (LEAD's cross-position NULL at the last token = range(1, len)
      -- excluding it), memory bounded per document; the pair GROUP BY is
      -- vocabulary-sized either way.
      WITH d0 AS (SELECT doc_id, '|' || replace(text, ' ', ' |') AS canon FROM documents),
      p1 AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair
             FROM (SELECT string_split(canon, ' ') AS toks FROM d0)),
      c1 AS (SELECT pair, COUNT(*) AS cnt FROM p1 GROUP BY pair),
      b1 AS (SELECT pair, cnt FROM c1 ORDER BY cnt DESC, pair LIMIT 1),
      d1 AS (SELECT doc_id, replace(canon, (SELECT pair FROM b1),
                    replace((SELECT pair FROM b1), ' |', '')) AS canon FROM d0),
      p2 AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair
             FROM (SELECT string_split(canon, ' ') AS toks FROM d1)),
      c2 AS (SELECT pair, COUNT(*) AS cnt FROM p2 GROUP BY pair),
      b2 AS (SELECT pair, cnt FROM c2 ORDER BY cnt DESC, pair LIMIT 1),
      d2 AS (SELECT doc_id, replace(canon, (SELECT pair FROM b2),
                    replace((SELECT pair FROM b2), ' |', '')) AS canon FROM d1),
      p3 AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair
             FROM (SELECT string_split(canon, ' ') AS toks FROM d2)),
      c3 AS (SELECT pair, COUNT(*) AS cnt FROM p3 GROUP BY pair),
      b3 AS (SELECT pair, cnt FROM c3 ORDER BY cnt DESC, pair LIMIT 1)
      SELECT 1 AS round, pair AS merged_pair, CAST(cnt AS BIGINT) AS n_occurrences FROM b1
      UNION ALL SELECT 2, pair, CAST(cnt AS BIGINT) FROM b2
      UNION ALL SELECT 3, pair, CAST(cnt AS BIGINT) FROM b3
      ORDER BY round
    """)
  )

  /** BPE ENCODE — the consuming half of the tokenizer pipeline ([[txtBpeMerges]]
    * learns the merge table; this applies it): rewrite the corpus with the
    * learned merges in rank order (greedy lowest-rank-first — the fixed
    * order vanilla BPE encoding prescribes, deterministic by construction)
    * and emit per-source token budgets under the learned vocab — docs,
    * tokens before/after, milli-tokens-per-doc and the compression ppm.
    * Tokens-per-doc is THE budget number a training-data pipeline re-runs
    * daily: it prices every source's contribution to the token budget.
    * Shape at 100 TB: the merge loop's bounded rounds (each a narrow pair
    * explode → map-side-combined count → 1-row broadcast rewrite), then
    * ONE aggregation over the rewritten corpus — source and the pre-merge
    * token count ride the scan through the rewrite projections, so there
    * is no join back to the corpus and no shuffle wider than the
    * |sources|-row rollup. Ratio intermediates ride DECIMAL(38,0)/HUGEINT
    * (the dt_mom_growth discipline — Σtokens·1e6 wraps a long past
    * ~9e12 tokens, inside a 100 TB corpus).
    */
  val txtBpeEncode = Op(
    "txt_bpe_encode",
    (s, d) => {
      val enc = bpeLearn(s, d, 3)._2
      enc.select(col("source"), col("tb"),
          size(split(col("canon"), " ")).cast("long").as("ta"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tb")).as("tokens_before"),
          sum(col("ta")).as("tokens_after"),
          expr("CAST(CAST(SUM(ta) AS DECIMAL(38,0)) * 1000 div COUNT(*) AS BIGINT)")
            .as("tokens_per_doc_milli"),
          expr("CAST(CAST(SUM(ta) AS DECIMAL(38,0)) * 1000000 div SUM(tb) AS BIGINT)")
            .as("compression_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      -- the merge chain is the txt_bpe_merges oracle (per-row list
      -- arithmetic, the sf100-proven form) extended by the round-3 rewrite
      WITH d0 AS (SELECT doc_id, source,
                         len(string_split(text, ' ')) AS tb,
                         '|' || replace(text, ' ', ' |') AS canon FROM documents),
      p1 AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair
             FROM (SELECT string_split(canon, ' ') AS toks FROM d0)),
      c1 AS (SELECT pair, COUNT(*) AS cnt FROM p1 GROUP BY pair),
      b1 AS (SELECT pair, cnt FROM c1 ORDER BY cnt DESC, pair LIMIT 1),
      d1 AS (SELECT doc_id, source, tb, replace(canon, (SELECT pair FROM b1),
                    replace((SELECT pair FROM b1), ' |', '')) AS canon FROM d0),
      p2 AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair
             FROM (SELECT string_split(canon, ' ') AS toks FROM d1)),
      c2 AS (SELECT pair, COUNT(*) AS cnt FROM p2 GROUP BY pair),
      b2 AS (SELECT pair, cnt FROM c2 ORDER BY cnt DESC, pair LIMIT 1),
      d2 AS (SELECT doc_id, source, tb, replace(canon, (SELECT pair FROM b2),
                    replace((SELECT pair FROM b2), ' |', '')) AS canon FROM d1),
      p3 AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair
             FROM (SELECT string_split(canon, ' ') AS toks FROM d2)),
      c3 AS (SELECT pair, COUNT(*) AS cnt FROM p3 GROUP BY pair),
      b3 AS (SELECT pair, cnt FROM c3 ORDER BY cnt DESC, pair LIMIT 1),
      d3 AS (SELECT doc_id, source, tb, replace(canon, (SELECT pair FROM b3),
                    replace((SELECT pair FROM b3), ' |', '')) AS canon FROM d2),
      stats AS (SELECT source, tb, len(string_split(canon, ' ')) AS ta FROM d3)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(tb) AS BIGINT) AS tokens_before,
             CAST(SUM(ta) AS BIGINT) AS tokens_after,
             CAST(CAST(SUM(ta) AS HUGEINT) * 1000 // COUNT(*) AS BIGINT)
               AS tokens_per_doc_milli,
             CAST(CAST(SUM(ta) AS HUGEINT) * 1000000 // SUM(tb) AS BIGINT)
               AS compression_ppm
      FROM stats GROUP BY source ORDER BY source
    """)
  )

  /** Per-document character-level Shannon entropy — the gibberish/
    * compression-artifact gate (natural English plateaus ≈ 4.1 bits/char;
    * base64 blobs and key-mash run ≈ 6, template spam collapses < 3 —
    * thresholds both tails): H = −Σ p·log2 p over each doc's character
    * histogram, computed as explode → per-(doc, char) count → decimal-
    * summed log2 terms (the unigram-logprob ln discipline, so the per-doc
    * sum is shuffle-order free). The histogram explode is linear in
    * corpus bytes and collapses immediately to ≤ |alphabet| rows per doc;
    * one shuffle on doc_id. Emits the entropy histogram in deci-bit
    * buckets plus each bucket's extremes — the corpus-level view a
    * filtering pipeline thresholds against.
    */
  val txtCharEntropy = Op(
    "txt_char_entropy",
    (s, d) => {
      val chars = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
      val perDoc = chars
        .withColumn("n", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
        .withColumn("term",
          (-(col("cnt") / col("n")) * log(2.0, col("cnt") / col("n")))
            .cast("decimal(18,12)"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("term")).cast("double"), 6).as("h_bits"))
      perDoc
        .groupBy(expr("CAST(floor(h_bits * 10) AS BIGINT)").as("decibit_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("h_bits")), 6).as("min_h"),
          round(max(col("h_bits")), 6).as("max_h"))
        .orderBy(col("decibit_bucket"))
    },
    Some("""
      WITH chars AS (
        SELECT doc_id, ch, COUNT(*) AS cnt FROM (
          SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
        WHERE len(ch) > 0 GROUP BY doc_id, ch),
      per_doc AS (
        SELECT doc_id,
               ROUND(CAST(SUM(CAST(-(cnt / n) * LOG2(cnt / n) AS DECIMAL(18,12))) AS DOUBLE), 6) AS h_bits
        FROM (SELECT doc_id, ch, cnt,
                     CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS DOUBLE) AS n
              FROM chars)
        GROUP BY doc_id)
      SELECT CAST(FLOOR(h_bits * 10) AS BIGINT) AS decibit_bucket,
             COUNT(*) AS n_docs,
             ROUND(MIN(h_bits), 6) AS min_h,
             ROUND(MAX(h_bits), 6) AS max_h
      FROM per_doc GROUP BY 1 ORDER BY decibit_bucket
    """)
  )

  /** Code-vs-prose gate (r7) — the mixture-control screen a web-corpus
    * pipeline runs before setting the code fraction of a training mix
    * (code that leaks into the prose bucket skews tokenizer fertility and
    * dilutes both domains): three per-doc densities in integer ppm —
    * structural symbols `{}();=<>[]#`, digits, and technical-keyword hits
    * per kilotoken — plus a threshold label. All three features are one
    * regexp/length pass per doc (scan-speed, no shuffle until the
    * ≤|langs|×2-row rollup, map-side combined). On this fixture the
    * symbol/digit channels are structurally zero (the corpus is
    * alphabetic word text — the ASCII fixture-invariant test pins that)
    * and the keyword channel carries the split; the label threshold
    * (≥200/kilotoken) sits at the corpus median so both classes populate
    * at every SF. Integer division end-to-end — exact, hash-oracled.
    */
  val txtCodeDetect = Op(
    "txt_code_detect",
    (s, d) => {
      val feats = T.documents(s, d).select(
        col("lang"),
        expr("""size(regexp_extract_all(text, '[{}();=<>\\[\\]#]', 0)) * 1000000L
                div length(text)""").as("symbol_ppm"),
        expr("""size(regexp_extract_all(text, '[0-9]', 0)) * 1000000L
                div length(text)""").as("digit_ppm"),
        expr("""size(regexp_extract_all(text, '(merge|hash|join|sort|scan|filter)', 0)) * 1000
                div size(split(text, ' '))""").as("kw_pkt"))
      feats
        .withColumn("label",
          when(col("symbol_ppm") >= 20000 || col("kw_pkt") >= 200, "code_like")
            .otherwise("prose"))
        .groupBy(col("lang"), col("label"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("sum(kw_pkt) div count(1)").as("avg_kw_pkt"),
          max(col("kw_pkt")).as("max_kw_pkt"),
          expr("sum(symbol_ppm) div count(1)").as("avg_symbol_ppm"),
          expr("sum(digit_ppm) div count(1)").as("avg_digit_ppm"))
        .orderBy(col("lang"), col("label"))
    },
    Some("""
      WITH feats AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '[{}();=<>\[\]#]')) * 1000000
                    / len(text) AS BIGINT) AS symbol_ppm,
               CAST(len(regexp_extract_all(text, '[0-9]')) * 1000000
                    / len(text) AS BIGINT) AS digit_ppm,
               len(regexp_extract_all(text, '(merge|hash|join|sort|scan|filter)')) * 1000
                 // len(string_split(text, ' ')) AS kw_pkt
        FROM documents),
      lab AS (
        SELECT *, CASE WHEN symbol_ppm >= 20000 OR kw_pkt >= 200
                       THEN 'code_like' ELSE 'prose' END AS label
        FROM feats)
      SELECT lang, label, COUNT(*) AS n_docs,
             CAST(SUM(kw_pkt) // COUNT(*) AS BIGINT) AS avg_kw_pkt,
             MAX(kw_pkt) AS max_kw_pkt,
             CAST(SUM(symbol_ppm) // COUNT(*) AS BIGINT) AS avg_symbol_ppm,
             CAST(SUM(digit_ppm) // COUNT(*) AS BIGINT) AS avg_digit_ppm
      FROM lab GROUP BY 1, 2 ORDER BY lang, label
    """)
  )

  /** Source-overlap audit (r7) — which SOURCES duplicate each other:
    * doc-level dedup finds copied documents, but a training mix is
    * composed of SOURCES, and two feeds syndicating the same upstream
    * (two crawls of one site, a mirror, a re-scrape) must be caught at
    * the source level before mixture weights are set — else one
    * upstream's voice is silently double-counted. Each source collapses
    * to its distinct 3-token shingle set (the corpus scans once,
    * checkpointed: the set feeds sizes AND the pair join), source-pair
    * intersection is a shingle-keyed self-join with a df ≤ 16 cap (a
    * shingle in most sources is boilerplate, not lineage — and the cap
    * bounds the join's fanout the way the containment op's df cap does),
    * overlap in integer ppm of the smaller side (containment, not
    * Jaccard: a small feed fully inside a big one must score ~1e6).
    * Top-15 most-overlapping pairs.
    */
  val txtSourceOverlap = Op(
    "txt_source_overlap",
    (s, d) => {
      // r18 rewrite (guide §2.4, remove shuffles outright): the old form
      // ran a df window over the shingle relation and then SELF-JOINED the
      // capped stream on shingle — the window's exchange plus TWO more
      // shingle-keyed exchanges for the join legs, with the window subtree
      // evaluated once per leg. Same result from ONE shingle-keyed
      // aggregation: group to the per-shingle source set (collect_set is
      // map-side combinable; |set| IS the old window's df, so the ≤16 cap
      // is a size filter), sort it, and explode the i<j source pairs —
      // per shingle that is exactly the pair multiset the self-join
      // produced. The shingle relation is a lazy columnar cache (was an
      // eager localCheckpoint) feeding the sizes agg and the pair pass.
      val sh = T.documents(s, d)
        .select(col("source"), split(col("text"), " ").as("arr"))
        .filter(size(col("arr")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(arr) - 2), " +
            "i -> concat(arr[i - 1], ' ', arr[i], ' ', arr[i + 1]))")).as("shingle"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = sh.groupBy(col("shingle"))
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .filter(size(col("srcs")).between(2, 16))
        .select(explode(expr(
          "flatten(transform(srcs, (x, i) -> " +
            "transform(slice(srcs, i + 2, size(srcs) - i - 1), " +
            "y -> struct(x AS src_a, y AS src_b))))")).as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), Seq("src_a"))
        .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), Seq("src_b"))
        .withColumn("containment_ppm",
          expr("n_shared * 1000000 div least(n_a, n_b)"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_shared"), col("containment_ppm"))
        .orderBy(col("containment_ppm").desc, col("n_shared").desc,
          col("src_a"), col("src_b"))
        .limit(15)
    },
    Some("""
      WITH docs AS (
        SELECT source, string_split(text, ' ') AS arr FROM documents
        WHERE len(string_split(text, ' ')) >= 3),
      sh AS (
        SELECT DISTINCT source,
               unnest(list_transform(range(1, len(arr) - 1),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2])) AS shingle
        FROM docs),
      sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
      capped AS (
        SELECT source, shingle FROM (
          SELECT source, shingle,
                 COUNT(*) OVER (PARTITION BY shingle) AS df
          FROM sh) WHERE df <= 16),
      inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
             n_shared * 1000000 // least(sa.n, sb.n) AS containment_ppm
      FROM inter
      JOIN sizes sa ON sa.source = inter.src_a
      JOIN sizes sb ON sb.source = inter.src_b
      ORDER BY containment_ppm DESC, n_shared DESC, src_a, src_b
      LIMIT 15
    """)
  )

  /** Gopher-style hard quality rules (r8; Rae et al. 2021 "Scaling
    * Language Models: ... Gopher", the published rule set behind MassiveWeb
    * — thresholds adapted to the fixture corpus) — the PASS/FAIL gate that
    * complements `txt_quality_score`'s blended score: a curation pipeline
    * drops a document when ANY rule fires, and the audit you actually read
    * is per-rule failure counts (which rule is doing the filtering?).
    * Five integer rules per doc (token count in range, mean word length
    * ×10 in range, ≥2 stopwords, distinct-token ppm floor, top-token
    * share ppm cap — the repetition screen), all computed with
    * codegen'd array functions in ONE scan, rolled up by conditional
    * aggregation, and unpivoted via stack to (rule, n_fail, fail_ppm)
    * rows. The top-token share is O(u·n) per doc via
    * transform+filter — bounded by doc length, no per-doc shuffle.
    */
  val txtGopherFilter = Op(
    "txt_gopher_filter",
    (s, d) => {
      val per = T.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("n_chars_t"),
          split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          (col("n_chars_t") - (size(col("toks")) - 1)).cast("long").as("wchars"),
          expr(s"size(filter(toks, t -> t IN (${stoplist.map(w => s"'$w'").mkString(", ")})))")
            .cast("long").as("n_stop"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
          expr("array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
            .cast("long").as("top_cnt"))
        .select(col("doc_id"), col("n_tok"),
          when(col("n_tok") < 20 || col("n_tok") > 400, 1L).otherwise(0L).as("f_len"),
          when(expr("wchars * 10 div n_tok") < 20 ||
            expr("wchars * 10 div n_tok") > 80, 1L).otherwise(0L).as("f_wl"),
          when(col("n_stop") < 2, 1L).otherwise(0L).as("f_stop"),
          when(expr("n_uniq * 1000000 div n_tok") < 200000, 1L).otherwise(0L).as("f_uniq"),
          when(expr("top_cnt * 1000000 div n_tok") > 200000, 1L).otherwise(0L).as("f_rep"))
      per.agg(
          count(lit(1)).as("n_docs"),
          sum(col("f_len")).as("s_len"), sum(col("f_wl")).as("s_wl"),
          sum(col("f_stop")).as("s_stop"), sum(col("f_uniq")).as("s_uniq"),
          sum(col("f_rep")).as("s_rep"),
          sum(when(col("f_len") + col("f_wl") + col("f_stop") + col("f_uniq") +
            col("f_rep") > 0, 1L).otherwise(0L)).as("s_any"))
        .selectExpr("""stack(6,
            'len_range',  s_len,  s_len  * 1000000 div n_docs,
            'word_len',   s_wl,   s_wl   * 1000000 div n_docs,
            'stopwords',  s_stop, s_stop * 1000000 div n_docs,
            'uniq_floor', s_uniq, s_uniq * 1000000 div n_docs,
            'repetition', s_rep,  s_rep  * 1000000 div n_docs,
            'any_rule',   s_any,  s_any  * 1000000 div n_docs
          ) as (rule, n_fail, fail_ppm)""")
        .orderBy(col("rule"))
    },
    Some(s"""
      WITH per AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CAST(len(text) - (len(toks) - 1) AS BIGINT) AS wchars,
               CAST(len(list_filter(toks, t -> t IN (${stoplist.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stop,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
               CAST(list_max(list_transform(list_distinct(toks),
                 t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS top_cnt
        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)),
      fl AS (
        SELECT CASE WHEN n_tok < 20 OR n_tok > 400 THEN 1 ELSE 0 END AS f_len,
               CASE WHEN wchars * 10 // n_tok < 20 OR wchars * 10 // n_tok > 80
                    THEN 1 ELSE 0 END AS f_wl,
               CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop,
               CASE WHEN n_uniq * 1000000 // n_tok < 200000 THEN 1 ELSE 0 END AS f_uniq,
               CASE WHEN top_cnt * 1000000 // n_tok > 200000 THEN 1 ELSE 0 END AS f_rep
        FROM per),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(f_len) AS BIGINT) AS s_len, CAST(SUM(f_wl) AS BIGINT) AS s_wl,
               CAST(SUM(f_stop) AS BIGINT) AS s_stop, CAST(SUM(f_uniq) AS BIGINT) AS s_uniq,
               CAST(SUM(f_rep) AS BIGINT) AS s_rep,
               CAST(SUM(CASE WHEN f_len + f_wl + f_stop + f_uniq + f_rep > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS s_any
        FROM fl)
      SELECT rule, n_fail, n_fail * 1000000 // n_docs AS fail_ppm FROM (
        SELECT 'len_range' AS rule, s_len AS n_fail, n_docs FROM agg
        UNION ALL SELECT 'word_len', s_wl, n_docs FROM agg
        UNION ALL SELECT 'stopwords', s_stop, n_docs FROM agg
        UNION ALL SELECT 'uniq_floor', s_uniq, n_docs FROM agg
        UNION ALL SELECT 'repetition', s_rep, n_docs FROM agg
        UNION ALL SELECT 'any_rule', s_any, n_docs FROM agg)
      ORDER BY rule
    """)
  )

  /** Boilerplate-span coverage (r8; the CCNet/C4 boilerplate-removal step
    * as a per-document TRANSFORM, where `txt_substring_dedup` only reports
    * per-source duplication stats): a 5-gram occurring in > 3 distinct
    * documents is boilerplate, and every token position covered by any
    * boilerplate occurrence is removable. Coverage is the union length of
    * the flagged [i, i+4] spans, computed by a per-doc interval-union
    * sweep (least(5, i − lag(i)) over starts sorted per doc — see the
    * r11 SCALE FIX note below) so overlapping spans never double-count
    * and no per-position rows exist. The positioned gram relation is
    * checkpointed once (it feeds the document-frequency agg AND the
    * coverage join — the sim_prefix_filter_join fanout discipline); only
    * 16-byte md5 hashes shuffle, never gram text. Emits the 20 most
    * boilerplate-laden docs with exact integer keep_ppm.
    */
  val txtBoilerplateCoverage = Op(
    "txt_boilerplate_coverage",
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
      val grams = docs
        .select(col("doc_id"), explode(expr("sequence(1, size(toks) - 4)")).as("i"),
          col("toks"))
        .select(col("doc_id"), col("i"),
          md5(expr("array_join(slice(toks, i, 5), ' ')")).as("h"))
        .localCheckpoint(true)
      val bp = grams.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") > 3)
        .select(col("h"))
      // SCALE FIX (r11; caught by the sf10 sweep at 20.8×, 135 s): covered
      // positions = the union length of fixed-width-5 spans, NOT a
      // per-position explode + global distinct. The original shuffled
      // 5×|flagged grams| (doc, pos) rows into a hash distinct (≈1.25 B
      // rows at sf10 — this vocabulary flags nearly every gram); the
      // interval-union sweep needs only the flagged starts: per doc sorted
      // by i, with equal-length spans the running max-end is monotone, so
      // each span's fresh coverage is exactly least(5, i − lag(i)) (5 for
      // the first). One narrow (doc_id, i) shuffle, per-doc-sized window
      // sorts, no explode, no distinct — identical n_cov by construction
      // (overlapping spans still never double-count).
      val cover = grams.join(bp, "h")
        .select(col("doc_id"), col("i"))
        .withColumn("prev", lag(col("i"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))))
        .select(col("doc_id"),
          when(col("prev").isNull, lit(5L))
            .otherwise(least(lit(5L), (col("i") - col("prev")).cast("long")))
            .as("cov"))
        .groupBy(col("doc_id")).agg(sum(col("cov")).as("n_cov"))
      docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
        .join(cover, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_cov"), lit(0L)).as("n_cov"))
        .withColumn("keep_ppm", expr("(n_tok - n_cov) * 1000000 div n_tok"))
        .orderBy(col("keep_ppm"), col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        WHERE len(string_split(text, ' ')) >= 5),
      grams AS (
        SELECT doc_id, i,
               md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' ||
                   arr[i+3] || ' ' || arr[i+4]) AS h
        FROM docs, UNNEST(generate_series(1, len(arr) - 4)) AS t(i)),
      bp AS (SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) > 3),
      cover AS (
        SELECT doc_id, COUNT(*) AS n_cov FROM (
          SELECT DISTINCT doc_id, p FROM (
            SELECT g.doc_id, UNNEST(generate_series(g.i, g.i + 4)) AS p
            FROM grams g JOIN bp USING (h)))
        GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.arr) AS BIGINT) AS n_tok,
             CAST(COALESCE(c.n_cov, 0) AS BIGINT) AS n_cov,
             (CAST(len(d.arr) AS BIGINT) - COALESCE(c.n_cov, 0)) * 1000000
               // len(d.arr) AS keep_ppm
      FROM docs d LEFT JOIN cover c USING (doc_id)
      ORDER BY keep_ppm, doc_id LIMIT 20
    """)
  )

  /** Deflate compression ratio as a quality signal (r8; the zlib-ratio
    * screen CCNet/Gopher-era pipelines run: machine-generated and
    * boilerplate text compresses far below prose, high-entropy garbage
    * barely compresses at all). Per-doc ratio_ppm = deflate_len·1e6 div
    * raw_len with a fixed level-6 Deflater (nowrap, per-row instance —
    * zlib output for a fixed input/level/strategy is deterministic),
    * rolled up per source as exact integer ppm of sums. Oracle-exempt:
    * DuckDB has no deflate — §5 pins determinism across runs, the
    * repetitive≪random separation on closed-form inputs, and ratio
    * bounds. The UDF is the honest cost here: one pass of byte-local CPU
    * per doc, embarrassingly parallel, no shuffle until the 20-row
    * source rollup.
    */
  val txtCompressionRatio = Op(
    "txt_compression_ratio",
    (s, d) => {
      val deflateLen = udf { (t: String) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val dfl = new java.util.zip.Deflater(6, true)
        try {
          dfl.setInput(bytes); dfl.finish()
          val buf = new Array[Byte](bytes.length + 64)
          var total = 0L
          while (!dfl.finished()) total += dfl.deflate(buf)
          total
        } finally dfl.end()
      }
      T.documents(s, d)
        .select(col("source"), octet_length(col("text")).cast("long").as("raw_len"),
          deflateLen(col("text")).as("comp_len"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("raw_len")).as("raw_bytes"),
          sum(col("comp_len")).as("comp_bytes"))
        .withColumn("ratio_ppm", expr("comp_bytes * 1000000 div raw_bytes"))
        .orderBy(col("source"))
    },
    None
  )

  /** Winnowing fingerprints (r8; Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS local document fingerprinting algorithm): hash every 4-gram,
    * slide a 4-hash window, keep each window's MINIMUM — the guarantee
    * winnowing adds over plain min-hashing is LOCALITY: any shared
    * substring of ≥ 7 tokens shares a fingerprint, so matches can be
    * located, not just detected. Grams hash through the codegen'd
    * md5fold48; the window minimum is a per-doc 4-row frame (partitioned
    * by doc — bounded, no global sort), and the distinct fingerprint set
    * per doc gives the density audit (selected/total ≈ 2/(w+1) in
    * expectation — the paper's bound, visible in the output). Only
    * 48-bit hashes shuffle.
    */
  val txtWinnowing = Op(
    "txt_winnowing",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val grams = T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 7)
        .select(col("doc_id"), explode(expr("sequence(1, size(toks) - 3)")).as("i"),
          col("toks"))
        .select(col("doc_id"), col("i"),
          call_function("md5fold48",
            expr("array_join(slice(toks, i, 4), ' ')")).as("h"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(-3, 0)
      val fps = grams
        .withColumn("wmin", min(col("h")).over(w))
        .filter(col("i") >= 4)
        .select(col("doc_id"), col("wmin")).distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fingerprints"))
      grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(fps, "doc_id")
        .withColumn("density_ppm", expr("n_fingerprints * 1000000 div n_grams"))
        .orderBy(col("doc_id")).limit(50)
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        WHERE len(string_split(text, ' ')) >= 7),
      grams AS (
        SELECT doc_id, i,
               list_reduce(
                 list_transform(range(1, 13),
                   j -> CAST(strpos('0123456789abcdef',
                          substring(md5(arr[i] || ' ' || arr[i+1] || ' ' ||
                                        arr[i+2] || ' ' || arr[i+3]), j, 1)) - 1
                        AS BIGINT)),
                 (acc, v) -> acc * 16 + v) AS h
        FROM docs, UNNEST(generate_series(1, len(arr) - 3)) AS t(i)),
      wm AS (
        SELECT doc_id, i, h,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM grams),
      fps AS (
        SELECT doc_id, COUNT(*) AS n_fingerprints FROM (
          SELECT DISTINCT doc_id, wmin FROM wm WHERE i >= 4)
        GROUP BY doc_id),
      g AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id)
      SELECT g.doc_id, g.n_grams, fps.n_fingerprints,
             fps.n_fingerprints * 1000000 // g.n_grams AS density_ppm
      FROM g JOIN fps USING (doc_id)
      ORDER BY doc_id LIMIT 50
    """)
  )

  /** MATTR lexical diversity (r8; Covington & McFall 2010 — the
    * moving-average type-token ratio): plain TTR shrinks mechanically with
    * document length (types saturate while tokens grow), so comparing
    * docs of different sizes on raw uniq_ratio — what
    * txt_quality_score's screen does — conflates diversity with length;
    * MATTR fixes it by averaging TTR over fixed 25-token windows. Per
    * doc: the codegen'd [[graft.functions.MattrSumTypes]] sliding-window
    * expression — one O(n) frequency-map pass per doc (r9; replaces the
    * declarative transform/array_distinct/slice form, which was O(n·w)
    * with a fresh w-element slice allocated per window and interpreted
    * per-element as a higher-order-function chain — before/after at sf1
    * in BASELINE.md r9; PropertySpec pins the two forms equal).
    * Bounded by doc length, no shuffle; the mean in exact integer ppm.
    * Emits the 10 LEAST diverse docs — the repetitive tail a curation
    * pass would cut.
    */
  val txtMattrDiversity = Op(
    "txt_mattr_diversity",
    (s, d) => {
      val w = 25
      T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= w)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
          (size(col("toks")) - (w - 1)).cast("long").as("n_windows"),
          call_function("mattr_sum_types", col("toks"), lit(w)).as("sum_types"))
        .withColumn("mattr_ppm", expr(s"sum_types * 1000000 div (n_windows * $w)"))
        .orderBy(col("mattr_ppm"), col("doc_id"))
        .select(col("doc_id"), col("n_tok"), col("n_windows"), col("mattr_ppm"))
        .limit(10)
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        WHERE len(string_split(text, ' ')) >= 25),
      t AS (
        SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_tok,
               list_transform(generate_series(1, len(arr) - 24),
                 i -> len(list_distinct(list_slice(arr, i, i + 24)))) AS ttrs
        FROM docs),
      m AS (
        SELECT doc_id, n_tok,
               CAST(len(ttrs) AS BIGINT) AS n_windows,
               CAST(list_reduce(ttrs, (acc, x) -> acc + x) AS BIGINT) AS sum_types
        FROM t)
      SELECT doc_id, n_tok, n_windows,
             sum_types * 1000000 // (n_windows * 25) AS mattr_ppm
      FROM m
      ORDER BY mattr_ppm, doc_id
      LIMIT 10
    """)
  )

  /** Shared DSIR scoring stage: (doc_id, lang, score_ppm) per doc with
    * >= 2 tokens — see [[txtDsirWeight]] for the derivation and scale
    * shape. Used by both the weight report and the resampling op.
    */
  private def dsirScores(s: org.apache.spark.sql.SparkSession, d: String) = {
    val bg = T.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(call_function("token_ngrams", col("toks"), lit(2))).as("bigram"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("bigram")), 1, 3).as("h"))
    val profile = bg.groupBy(col("h")).agg(
      count(lit(1)).as("r_b"),
      count(when(col("lang") === "en", lit(1))).as("t_b"))
    bg.join(broadcast(profile), "h")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("t_b")).as("a_d"), sum(col("r_b")).as("r_d"))
      .withColumn("score_ppm",
        expr("CAST((CAST(a_d AS DECIMAL(38,0)) * 1000000) div r_d AS BIGINT)"))
  }

  /** The shared scoring CTEs of the two DSIR ops' oracles. */
  private val dsirOracleCtes = """
      WITH docs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      bg AS (
        SELECT doc_id, lang,
               substr(md5(unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1]))), 1, 3) AS h
        FROM docs),
      profile AS (
        SELECT h, COUNT(*) AS r_b,
               COUNT(*) FILTER (WHERE lang = 'en') AS t_b
        FROM bg GROUP BY h),
      scored AS (
        SELECT bg.doc_id, bg.lang,
               CAST(CAST(SUM(p.t_b) AS HUGEINT) * 1000000 // SUM(p.r_b) AS BIGINT)
                 AS score_ppm
        FROM bg JOIN profile p ON bg.h = p.h
        GROUP BY bg.doc_id, bg.lang)"""

  /** Hashed-n-gram importance scoring (r12) — the data-SELECTION stage of a
    * training pipeline, the DSIR shape (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw doc
    * by how target-domain-like its hashed bigram features are. The public
    * recipe fits two hashed-n-gram bag models (target, raw) and weighs
    * docs by the likelihood ratio; here the log-ratio sum is replaced by
    * the integer-exact linear form — per-doc dot products of the doc's
    * bucket counts against the target and raw bucket profiles, emitted as
    * an integer ppm ratio — which is hash-parity across engines where a
    * float log-sum would be accumulation-order-sensitive. Features are
    * word bigrams hashed to 4096 buckets via the md5-prefix idiom
    * (substr(md5(bigram),1,3) — the txt_fingerprint parity trick; Spark's
    * murmur `hash()` has no DuckDB twin, which is why txt_hashing_tf is
    * exempt and this op is NOT). Target domain = the `lang='en'` slice
    * (the in-domain proxy this fixture affords). Shape at 100 TB: one
    * bigram explode (narrow, codegen'd token_ngrams) → the bucket profile
    * is a 4096-row aggregate (vocabulary-independent, BROADCAST) → per-doc
    * scoring is one map-side-combinable groupBy(doc_id) — shuffle volume
    * is docs, never bigrams; the ×1e6 intermediate is widened to
    * DECIMAL(38,0)/HUGEINT per the dt_mom_growth sf10 lesson. Emits the
    * per-lang rollup (n_docs + exact sum/min/max score) — en must
    * dominate, which DsirSpec asserts as the discriminative property.
    */
  val txtDsirWeight = Op(
    "txt_dsir_weight",
    (s, d) => {
      val scored = dsirScores(s, d)
      scored.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("score_ppm")).as("sum_score_ppm"),
        min(col("score_ppm")).as("min_score_ppm"),
        max(col("score_ppm")).as("max_score_ppm"))
        .orderBy(col("lang"))
    },
    Some(dsirOracleCtes + """
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm,
             MIN(score_ppm) AS min_score_ppm,
             MAX(score_ppm) AS max_score_ppm
      FROM scored
      GROUP BY lang ORDER BY lang
    """)
  )

  /** Importance RESAMPLING (r12) — the selection half of the DSIR recipe
    * (Xie et al. 2023): keep each doc with probability proportional to its
    * importance score, deterministically — the per-doc uniform is the same
    * Knuth multiplicative hash `(doc_id·2654435761) mod 2^32` that
    * sample_hash_bucket/sample_stratified use (stable across engines,
    * partitionings and runs, unlike any RNG draw), and the keep rule is
    * the all-integer cross-multiplication `u·1e6 < score_ppm·2^32`. The
    * hash product rides DECIMAL(38,0)/HUGEINT on BOTH sides (r16, the
    * dt_mom_growth recipe): in plain BIGINT, doc_id past 2^63/2654435761
    * ≈ 3.47e9 (~sf5000) wraps Long on Spark while DuckDB raises overflow,
    * breaking parity — pre-widened, u is exact at any fixture scale and
    * identical to the narrow form below the bound (PropertySpec pins a
    * synthetic past-the-bound id against the closed form). A doc with
    * score 0.9 keeps with probability 0.9; re-runs keep the identical SET,
    * so the resample is idempotent and incremental-append-safe — the
    * property that matters when the 100 TB corpus is re-selected monthly.
    * Emits per-lang candidates/kept/keep-ppm plus kept char mass: target-
    * domain docs survive at ~2× the rate of the other langs, which is the
    * paper's entire point. Shape: the dsirScores stage (see
    * [[txtDsirWeight]]) + one narrow integer predicate + the bounded lang
    * rollup — no new shuffle beyond the scoring stage's.
    */
  val txtDsirResample = Op(
    "txt_dsir_resample",
    (s, d) => {
      val scored = dsirScores(s, d)
        .join(T.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("u",
          pmod(col("doc_id").cast("decimal(38,0)") * lit(2654435761L),
            lit(4294967296L)).cast("long"))
        .withColumn("kept",
          (col("u") * lit(1000000L) < col("score_ppm") * lit(4294967296L)).cast("int"))
      scored.groupBy(col("lang")).agg(
        count(lit(1)).as("n_candidates"),
        sum(col("kept")).as("n_kept"),
        expr("CAST(SUM(kept) * 1000000 div COUNT(*) AS BIGINT)").as("keep_ppm"),
        sum(col("kept") * col("n_chars")).as("kept_chars"))
        .orderBy(col("lang"))
    },
    Some(dsirOracleCtes + """
      , u AS (
        -- HUGEINT-widened Knuth hash (r16): exact at any doc_id, identical
        -- to the BIGINT form below the 2^63/2654435761 wrap bound
        SELECT s.lang, s.score_ppm, d2.n_chars,
               CAST((CAST(s.doc_id AS HUGEINT) * 2654435761) % 4294967296
                    AS BIGINT) AS u
        FROM scored s JOIN documents d2 ON s.doc_id = d2.doc_id)
      SELECT lang, COUNT(*) AS n_candidates,
             CAST(SUM(CASE WHEN u * 1000000 < score_ppm * 4294967296
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN u * 1000000 < score_ppm * 4294967296
                           THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm,
             CAST(SUM(CASE WHEN u * 1000000 < score_ppm * 4294967296
                           THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      FROM u
      GROUP BY lang ORDER BY lang
    """)
  )

  /** Content-defined chunking — the rolling-fingerprint cut-point recipe of
    * LBFS (Muthitacharoen et al. 2001) with FastCDC's gear hash (Xia et
    * al. 2016), the substring-dedup PRIMITIVE whose fixed 10-token
    * boundaries [[txtChunkDedup]] approximates: a boundary is declared by
    * the CONTENT (a windowed gear fingerprint hitting a mask), so an
    * inserted or deleted prefix re-aligns every downstream boundary and
    * shared text chunks identically at ANY offset — the production idiom
    * for crawl-corpus dedup at 100 TB, where offset-fixed chunks share
    * nothing after a one-token edit (PropertySpec pins the re-alignment).
    *
    * Mechanics, all exact integer math (deterministic by construction):
    * gear(t) = md5fold48(t) (the repo's 48-bit codegen'd sketch hash); the
    * boundary fingerprint after token i is the 4-token windowed gear sum
    * h_i = 8·g(i−3) + 4·g(i−2) + 2·g(i−1) + g(i) (< 2^53, Long-exact);
    * cut after token i (4 ≤ i < n) iff h_i % 16 == 0 → average chunk ~16
    * tokens at txt_chunk_dedup's scale. Unlike FastCDC's normalized
    * chunking there are no min/max clamps and the fingerprint is strictly
    * windowed, so every boundary decision is LOCAL to 4 tokens: the whole
    * chunker is per-position-parallel list arithmetic — no sequential
    * state, no shuffle, and an exact DuckDB twin (the rake per-row
    * list-arithmetic oracle recipe). Only 16-byte chunk md5s ever shuffle
    * (the txt_chunk_dedup discipline); text never moves. Emits per-source
    * chunk counts, cross-doc duplicated-chunk stats, and the exact mean
    * chunk length (ppm) attesting the cut-point math.
    */
  /** Sequence PACKING accounting — the concatenate-then-chunk recipe every
    * GPT-style pretraining pipeline runs (docs are concatenated per source
    * in a fixed order and sliced into 2048-token training sequences; docs
    * may span slice boundaries): emits the per-source packing ledger —
    * docs, total tokens, sequences produced, boundary-crossing docs, tail
    * waste, fill ppm — the numbers that price a packing config before a
    * training run. Deterministic by construction (order = doc_id within
    * source; token count = whitespace tokens).
    *
    * The hard part at 100 TB is the per-source PREFIX SUM of token counts
    * (a naive window is one task per source — 4 tasks for 25 GB of text).
    * Two-pass distributed form (the win_rank_distributed/
    * agg_exact_median_distributed discipline): bucket docs by doc_id div
    * 2^16, aggregate per-bucket token sums (bounded: buckets × sources
    * rows, broadcastable at any plausible corpus), prefix those with a
    * window over the TINY bucket table, then a within-bucket cumsum whose
    * partitions are ≤ 2^16 docs by construction. The oracle is the
    * single-window form — hash-equality IS the two-pass proof.
    */
  val txtPackSequences = Op(
    "txt_pack_sequences",
    (s, d) => {
      val C = 2048L
      val toks = T.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tk"),
          expr("doc_id div 65536").as("bkt"))
      val bsums = toks.groupBy(col("source"), col("bkt"))
        .agg(sum(col("tk")).as("bsum"))
      val wB = Window.partitionBy(col("source")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val boff = bsums.select(col("source"), col("bkt"),
        coalesce(sum(col("bsum")).over(wB), lit(0L)).as("boff"))
      val wL = Window.partitionBy(col("source"), col("bkt")).orderBy(col("doc_id"))
      val pos = toks.join(broadcast(boff), Seq("source", "bkt"))
        .withColumn("endpos", col("boff") + sum(col("tk")).over(wL))
        .withColumn("startpos", col("endpos") - col("tk"))
      pos.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("tk")).as("total_tokens"),
          expr(s"(SUM(tk) + ${C - 1}) div $C").as("n_sequences"),
          sum(when(expr(s"startpos div $C") =!= expr(s"(endpos - 1) div $C"), 1L)
            .otherwise(0L)).as("n_docs_crossing"),
          expr(s"(SUM(tk) + ${C - 1}) div $C * $C - SUM(tk)").as("tail_waste_tokens"),
          expr(s"CAST(CAST(SUM(tk) AS DECIMAL(38,0)) * 1000000 div " +
            s"((SUM(tk) + ${C - 1}) div $C * $C) AS BIGINT)").as("fill_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      WITH t AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS tk FROM documents),
      pos AS (
        SELECT source, tk,
               SUM(tk) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS endpos
        FROM t)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(tk) AS BIGINT) AS total_tokens,
             CAST((SUM(tk) + 2047) // 2048 AS BIGINT) AS n_sequences,
             CAST(SUM(CASE WHEN (endpos - tk) // 2048 <> (endpos - 1) // 2048
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_crossing,
             CAST((SUM(tk) + 2047) // 2048 * 2048 - SUM(tk) AS BIGINT)
               AS tail_waste_tokens,
             CAST(CAST(SUM(tk) AS HUGEINT) * 1000000
                  // ((SUM(tk) + 2047) // 2048 * 2048) AS BIGINT) AS fill_ppm
      FROM pos GROUP BY source ORDER BY source
    """)
  )

  val txtCdcChunks = Op(
    "txt_cdc_chunks",
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) > 0)
      val chunks = docs
        .withColumn("n", size(col("toks")))
        .withColumn("gears", expr("transform(toks, t -> md5fold48(t))"))
        // sequence(1, n) is ascending for every n >= 1 (sequence(4, n-1)
        // would run DESCENDING on short docs); i >= 4 keeps the window in
        // range, i < n forbids a cut at the doc end (implicit boundary).
        // Spark [] is 0-based: 1-based token position p reads gears[p-1].
        .withColumn("cuts", expr(
          "filter(sequence(1, n), i -> i >= 4 AND i < n AND " +
            "(8*gears[i-4] + 4*gears[i-3] + 2*gears[i-2] + gears[i-1]) % 16 = 0)"))
        .withColumn("bounds", expr("concat(array(0), cuts, array(n))"))
        .select(col("doc_id"), col("source"), col("toks"), col("bounds"),
          explode(expr("sequence(0, size(bounds) - 2)")).as("j"))
        .select(col("doc_id"), col("source"),
          md5(expr("array_join(slice(toks, bounds[j] + 1, bounds[j+1] - bounds[j]), ' ')")).as("h"),
          expr("CAST(bounds[j+1] - bounds[j] AS BIGINT)").as("n_tok"))
      val dup = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("h"), lit(1L).as("isdup"))
      chunks.join(dup, Seq("h"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup_chunks"),
          sum(col("n_tok")).as("n_toks"))
        .select(col("source"), col("n_chunks"), col("n_dup_chunks"),
          round(col("n_dup_chunks") / col("n_chunks"), 6).as("dup_frac"),
          expr("n_toks * 1000000 div n_chunks").as("mean_chunk_toks_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) > 0),
      g AS (
        -- gear(t) = first 12 md5 hex chars as an integer: the md5fold48
        -- strpos fold, per token (nested lambda = the kmv twin, vectorized)
        SELECT doc_id, source, toks, len(toks) AS n,
               list_transform(toks, t ->
                 list_reduce(list_transform(range(1, 13),
                   i -> CAST(strpos('0123456789abcdef', substring(md5(t), i, 1)) - 1 AS BIGINT)),
                   (acc, v) -> acc * 16 + v)) AS gears
        FROM docs),
      c AS (
        -- DuckDB lists are 1-based: token position i reads gears[i]
        SELECT doc_id, source, toks, n,
               list_filter(range(1, n + 1), i -> i >= 4 AND i < n AND
                 (8*gears[i-3] + 4*gears[i-2] + 2*gears[i-1] + gears[i]) % 16 = 0) AS cuts
        FROM g),
      b AS (
        SELECT doc_id, source, toks,
               list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
                           [CAST(n AS BIGINT)]) AS bounds
        FROM c),
      chunks AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(bounds)),
                 j -> struct_pack(
                   h := md5(array_to_string(toks[(bounds[j]+1):(bounds[j+1])], ' ')),
                   nt := bounds[j+1] - bounds[j]))) AS ch
        FROM b),
      ch2 AS (SELECT doc_id, source, ch['h'] AS h, CAST(ch['nt'] AS BIGINT) AS n_tok
              FROM chunks),
      dup AS (SELECT h FROM ch2 GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
      SELECT c2.source,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
             ROUND(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) / COUNT(*), 6) AS dup_frac,
             CAST(SUM(c2.n_tok) * 1000000 // COUNT(*) AS BIGINT) AS mean_chunk_toks_ppm
      FROM ch2 c2 LEFT JOIN dup d ON c2.h = d.h
      GROUP BY c2.source ORDER BY c2.source
    """)
  )

  val ops: Vector[Op] = Vector(
    txtCdcChunks,
    txtGopherFilter, txtBoilerplateCoverage, txtCompressionRatio, txtWinnowing,
    txtMattrDiversity,
    txtLangId, txtQualityScore, txtTokenCount, txtFingerprint, txtFreqTokens,
    txtFreqTokensDet, txtDsirWeight, txtDsirResample,
    txtChunkDedup, txtPiiRedact, txtUnicodeNfc, txtContaminationCheck,
    txtUnigramLogprob, txtSubstringDedup, txtRepetitionRatio, txtSeqPack,
    txtDomainMixBalance, txtChunkOverlap, txtZipfSlope, txtBigramLogprob,
    txtHeapsLaw, txtBpeMerges, txtBpeEncode, txtPackSequences,
    txtCharEntropy, txtCodeDetect,
    txtSourceOverlap)
}
