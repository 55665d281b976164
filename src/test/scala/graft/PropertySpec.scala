package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Registry

/** Cross-op invariants (§5.2-3). */
class PropertySpec extends AnyFunSuite {
  import TestSession._

  test("sessionization: partitions events exactly, gaps bounded") {
    val sessions = Registry.queries("stream_sessionize_30m")(spark, sf).collect()
    val nEvents = graft.ops.T.events(spark, sf).count()
    assert(sessions.map(_.getLong(2)).sum == nEvents, "sessions must partition events")
    assert(sessions.forall(_.getLong(5) >= 0), "negative duration")
    // duration of an n-event session is at most (n-1) * gap
    assert(sessions.forall(r => r.getLong(5) <= (r.getLong(2) - 1) * 1800),
      "a session spans longer than its events allow under a 30-min gap")
  }

  test("jaccard scores are in (0, 1]") {
    val rows = Registry.queries("sim_jaccard_pairs")(spark, sf).collect()
    assert(rows.forall { r => val j = r.getDouble(2); j > 0 && j <= 1.0 })
  }

  test("cosine scores are within [-1, 1] + fp slack") {
    val rows = Registry.queries("sim_cosine_knn")(spark, sf).collect()
    assert(rows.forall { r => val c = r.getDouble(3); c >= -1.0000001 && c <= 1.0000001 })
  }

  test("keyed dedup is idempotent") {
    val once = Registry.queries("dedup_keyed_latest")(spark, sf)
    assert(once.count() ==
      once.dropDuplicates("user_id", "event_type").count())
  }

  test("k-core peeling is monotone and every survivor keeps degree >= k") {
    val rounds = Registry.queries("graph_k_core")(spark, sf)
      .orderBy(col("round")).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // peeling can only shrink the graph, round over round
    assert(rounds.sliding(2).forall {
      case Array((v1, e1), (v2, e2)) => v2 <= v1 && e2 <= e1
      case _ => true
    }, rounds.mkString(","))
    // edges are doubled (undirected), so live verts can't exceed edges
    assert(rounds.forall { case (v, e) => v <= e }, rounds.mkString(","))
  }

  test("cusum closed form equals the textbook max(0,...) recursion") {
    val rows = Registry.queries("qc_cusum_drift")(spark, sf)
      .orderBy(col("day")).collect()
    val daily = rows.map(_.getLong(1))
    val n = daily.length
    val target = daily.sum / n
    val slack = math.max(1L, target / 20)
    var sHi = 0L; var sLo = 0L
    rows.zipWithIndex.foreach { case (r, i) =>
      sHi = math.max(0L, sHi + daily(i) - target - slack)
      sLo = math.max(0L, sLo + target - daily(i) - slack)
      assert(r.getLong(2) == sHi && r.getLong(3) == sLo,
        s"day $i: op (${r.getLong(2)},${r.getLong(3)}) vs recursion ($sHi,$sLo)")
    }
  }

  test("lsh tuning curve: coarser bandings are nested inside finer ones") {
    // bands of r rows align into bands of 2r (and 6) rows here, so a
    // collision under a coarser banding implies one under every finer
    // banding: candidates and hits must be monotone in n_bands
    val rows = Registry.queries("sim_lsh_tuning_curve")(spark, sf)
      .orderBy(col("n_bands").desc).collect()
      .map(r => (r.getLong(2), r.getLong(4)))
    assert(rows.sliding(2).forall {
      case Array((c1, h1), (c2, h2)) => c2 <= c1 && h2 <= h1
      case _ => true
    }, rows.mkString(","))
  }

  test("fixture invariant: documents.text is ASCII with no tab/newline") {
    // three ops lean on this: mm_frame_sample / mm_shot_boundary slice the
    // UTF-8 BYTE payload while their oracles slice CHARACTERS (equal only
    // for ASCII), and scan_text_lines tab-frames one doc per line. A
    // regenerated fixture that breaks the invariant must fail HERE, loudly,
    // not as a silent oracle divergence.
    val bad = graft.ops.T.documents(spark, sf)
      .filter(col("text").rlike("[^\\x20-\\x7e]"))
      .count()
    assert(bad == 0, s"$bad documents contain non-printable-ASCII characters")
  }

  test("growth accounting satisfies its ledger identities") {
    val rows = Registry.queries("evt_lifecycle_states")(spark, sf)
      .orderBy(col("wk")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // active(w) = new + retained + resurrected
    assert(rows.forall { case (nw, re, rs, ac, _) => ac == nw + re + rs })
    // active(w) - retained(w+1) = churned(w+1), for every observable week
    assert(rows.sliding(2).forall {
      case Array((_, _, _, ac1, _), (_, re2, _, _, ch2)) => ac1 - re2 == ch2
      case _ => true
    }, rows.mkString(","))
  }

  test("topk aggregator equals sort-limit per group") {
    val agg = Registry.queries("udaf_imperative_topk")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
    val ref = graft.ops.T.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("event_type"), col("rn").cast("long"), col("value"), col("event_id"))
      .orderBy(col("event_type"), col("rn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(agg.toSeq == ref.toSeq)
  }

  test("vec_dot matches the declarative higher-order fold") {
    GraftExtensions.install(spark)
    val e = graft.ops.T.embeddings(spark, sf).limit(50)
    val hof = aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val diff = e.select(
        (call_function("vec_dot", col("embedding"), col("embedding")) - hof).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff == 0.0, s"vec_dot diverges from fold by $diff")
  }

  test("vec_dot is NULL on mismatched lengths and on null elements") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(1.0 AS FLOAT))) AS a,
        |       vec_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |               array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS b""".stripMargin)
      .head()
    assert(r.isNullAt(0), "mismatched lengths must yield NULL, not truncate")
    assert(r.isNullAt(1), "a null element must null the product, matching the fold")
  }

  test("DotProductFusion rewrites the canonical fold to vec_dot, leaves variants alone") {
    val e = graft.ops.T.embeddings(spark, sf).limit(20)
    val hof = aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    // baseline computed with the rule INACTIVE — comparing post-activation
    // would fuse both sides and prove nothing
    val unfused = e.select(col("vec_id"), hof.as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.functions.DotProductFusion
    try {
      val fusedDf = e.select(col("vec_id"), hof.as("d"))
      assert(fusedDf.queryExecution.optimizedPlan.toString.contains("vec_dot"),
        s"fold not fused: ${fusedDf.queryExecution.optimizedPlan}")
      // fused result is bit-identical to the rule-off fold
      val fused = fusedDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(fused == unfused, "fused values diverge from the unfused fold")
      // a float-arithmetic fold (no casts) is DIFFERENT math — must not fuse
      val floatFold = e.select(aggregate(
        zip_with(col("embedding"), col("embedding"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
      assert(!floatFold.queryExecution.optimizedPlan.toString.contains("vec_dot"),
        "fused a fold whose element arithmetic is float, not double")
      // a non-zero seed must not fuse
      val seeded = e.select(aggregate(
        zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
        lit(1.0), (acc, x) => acc + x).as("d"))
      assert(!seeded.queryExecution.optimizedPlan.toString.contains("vec_dot"),
        "fused a fold with a non-zero seed")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("PushFilterThroughTopKPerKey sinks key predicates, keeps the rest above") {
    import org.apache.spark.sql.catalyst.expressions.Ascending
    import graft.plans.{PushFilterThroughTopKPerKey, TopKPerKey}
    GraftExtensions.install(spark)
    val ev = graft.ops.T.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("user_id"))
    def query = TopKPerKey.of(ev, 3, Seq("event_type"), Seq("event_id" -> Ascending))
      .filter(col("event_type") === "click" && col("user_id") >= 0 && col("rn") <= 2)
    // baseline with the rule INACTIVE
    val base = query.collect().map(_.toString).sorted.toSeq
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ PushFilterThroughTopKPerKey
    try {
      val opt = query.queryExecution.optimizedPlan
      val below = opt.collectFirst { case t: TopKPerKey => t.child.toString }.get
      assert(below.contains("event_type") && below.contains("Filter"),
        s"key predicate must sink below TopKPerKey: $opt")
      // the rn predicate is on the MINTED column — it must stay above
      assert(!below.contains("rn"), s"rn predicate illegally sank: $opt")
      val above = opt.toString
      assert(above.indexOf("rn") < above.indexOf("TopKPerKey"),
        s"residual filter must remain above the operator: $opt")
      assert(query.collect().map(_.toString).sorted.toSeq == base,
        "pushdown changed the result")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("TopKPerKey spills under pressure and still matches the ROW_NUMBER twin") {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    import org.apache.spark.sql.expressions.Window
    GraftExtensions.install(spark)
    // near-unique key (event_id % large prime → K ≈ n): the degenerate
    // shape the r8 verdict named, where the heap map grows with the key
    // count; forceSpillRows = 50 drives the spill-merge path the way
    // Spark's own numElementsForceSpillThreshold drives its spillables
    // (a constrained-memory context would need a second SparkContext,
    // which a shared test JVM cannot host; the force valve exercises the
    // identical doSpill/merge code the memory-starvation trigger runs)
    val ev = graft.ops.T.events(spark, sf)
      .select((col("event_id") % 104729L).as("k"),
        col("event_id"), col("user_id"), col("value"))
    val twin = ev.withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(col("k"))
          .orderBy(col("value").desc, col("event_id"))).cast("long"))
      .filter(col("rn") <= 2)
    spark.conf.set("spark.graft.topk.forceSpillRows", "50")
    // AQE would wrap the executed plan in AdaptiveSparkPlanExec, hiding the
    // node from collectFirst — plain planning keeps the metric reachable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.plans.TopKPerKey.of(ev, 2, Seq("k"),
        Seq("value" -> Descending, "event_id" -> Ascending))
      val got = df.collect().map(_.toString).sorted.toSeq
      val want = twin.collect().map(_.toString).sorted.toSeq
      assert(got == want, s"spilled result diverged: got ${got.size} rows, want ${want.size}")
      val exec = df.queryExecution.executedPlan.collectFirst {
        case t: graft.plans.TopKPerKeyExec => t
      }.get
      assert(exec.metrics("numSpills").value > 0,
        "forceSpillRows=50 over 250-row partitions of near-unique keys must have spilled")
      assert(exec.metrics("spillBytes").value > 0, "spill size metric not recorded")
    } finally {
      spark.conf.unset("spark.graft.topk.forceSpillRows")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("mattr_sum_types equals the declarative transform/array_distinct/slice form") {
    GraftExtensions.install(spark)
    val w = 25
    val docs = graft.ops.T.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= w)
    val both = docs.select(col("doc_id"),
        call_function("mattr_sum_types", col("toks"), lit(w)).as("fast"),
        expr(s"aggregate(transform(sequence(1, size(toks) - ${w - 1}), " +
          s"i -> size(array_distinct(slice(toks, i, $w)))), 0L, (acc, t) -> acc + t)")
          .as("slow"))
    val diverged = both.filter(col("fast") =!= col("slow")).count()
    assert(diverged == 0, s"$diverged docs diverge between sliding and sliced MATTR sums")
    // short docs: fewer than w tokens → 0, matching an empty window seq
    val r = spark.sql(s"SELECT mattr_sum_types(array('a','b'), $w) AS v").head()
    assert(r.getLong(0) == 0L)
  }

  test("sim_minhash_det: token-set-identical docs always appear in the candidate output") {
    // equal token SETS ⇒ equal md5fold48 minima in every slot ⇒ every band
    // collides — clone recall is structural, not probabilistic. Compute the
    // token-set-identical pairs in the op's own scope and assert each one
    // surfaces in the emitted (candidate, jaccard) rows with jaccard 1.0.
    val docs = graft.ops.T.documents(spark, sf).filter(col("doc_id") < 200)
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("ts"))
    val clonePairs = docs.as("a").join(docs.as("b"),
        col("a.ts") === col("b.ts") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clonePairs.nonEmpty, "fixture should contain planted clone pairs in doc_id < 200")
    val out = graft.ops.Registry.queries("sim_minhash_det")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    clonePairs.foreach { p =>
      assert(out.contains(p), s"clone pair $p missing from candidates")
      assert(out(p) == 1.0, s"clone pair $p should verify at jaccard 1.0, got ${out(p)}")
    }
  }

  test("stream_dsv2_source drains through exactly 3 admitted micro-batches") {
    import java.nio.file.{Files, Paths}
    // run the op, then read the offset log the custom source produced
    assert(graft.ops.Registry.queries("stream_dsv2_source")(spark, TestSession.sf)
      .collect().nonEmpty)
    val offsets = Paths.get(graft.ops.T.scratch("dsv2_stream"), "ckpt", "offsets")
    val batches = Files.list(offsets)
    val n = try batches.filter(p => !p.getFileName.toString.startsWith(".")).count()
    finally batches.close()
    // 100k rows admitted 40k per trigger => offsets 0, 1, 2
    assert(n == 3, s"expected 3 micro-batches in the offset log, saw $n")
  }

  test("join_dsv2_runtime_filter: Spark delivers an In(id) filter mid-execution") {
    graft.sources.RangeLedger.runtimeFiltersSeen.clear()
    val rows = graft.ops.Registry.queries("join_dsv2_runtime_filter")(spark, TestSession.sf)
      .collect()
    assert(rows.nonEmpty, "join must produce rows")
    val seen = {
      val it = graft.sources.RangeLedger.runtimeFiltersSeen.iterator()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(seen.exists(_.startsWith("In(id")),
      s"runtime In(id, ...) filter never reached the connector; saw: $seen")
  }

  test("token_ngrams matches the declarative zip_with/concat form") {
    GraftExtensions.install(spark)
    val docs = graft.ops.T.documents(spark, sf)
      .select(split(col("text"), " ").as("toks"))
    val hof = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val nDiff = docs
      .filter(not(call_function("token_ngrams", col("toks"), lit(2)) <=> hof))
      .count()
    assert(nDiff == 0, s"$nDiff documents diverge from the zip_with form")
    // edge cases: empty array, single token, null input
    val edge = spark.sql(
      """SELECT token_ngrams(CAST(array() AS ARRAY<STRING>), 2) AS a,
        |       token_ngrams(array('x'), 2) AS b,
        |       token_ngrams(CAST(NULL AS ARRAY<STRING>), 2) AS c,
        |       token_ngrams(array('a','b','c','d'), 3) AS d""".stripMargin).head()
    assert(r0(edge.getSeq[String](0)) == Seq())
    assert(r0(edge.getSeq[String](1)) == Seq())
    assert(edge.isNullAt(2))
    assert(r0(edge.getSeq[String](3)) == Seq("a b c", "b c d"))
  }

  test("char_ngrams matches the declarative transform/substring form") {
    GraftExtensions.install(spark)
    val docs = graft.ops.T.documents(spark, sf)
      .filter(length(col("text")) >= 2).select(col("text"))
    val hof = expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
    val nDiff = docs
      .filter(not(call_function("char_ngrams", col("text"), lit(2)) <=> hof))
      .count()
    assert(nDiff == 0, s"$nDiff documents diverge from the transform form")
    val edge = spark.sql(
      """SELECT char_ngrams('', 2) AS a, char_ngrams('x', 2) AS b,
        |       char_ngrams(CAST(NULL AS STRING), 2) AS c,
        |       char_ngrams('abcd', 3) AS d""".stripMargin).head()
    assert(r0(edge.getSeq[String](0)) == Seq())
    assert(r0(edge.getSeq[String](1)) == Seq())
    assert(edge.isNullAt(2))
    assert(r0(edge.getSeq[String](3)) == Seq("abc", "bcd"))
  }

  test("unicode_norm composes and decomposes per the four normalization forms") {
    GraftExtensions.install(spark)
    // e + U+0301 combining acute: NFC composes to U+00E9, NFD is identity on
    // the decomposed input, NFKC folds compatibility chars (U+FB01 fi-ligature).
    val row = spark.sql(
      s"""SELECT unicode_norm(concat('e', '́'), 'NFC')  AS c,
         |       unicode_norm(concat('e', '́'), 'NFD')  AS d,
         |       unicode_norm('é', 'NFD')               AS d2,
         |       unicode_norm('ﬁ', 'NFKC')              AS k,
         |       unicode_norm(CAST(NULL AS STRING), 'NFC')   AS n,
         |       unicode_norm('plain ascii', 'NFC')          AS a""".stripMargin).head()
    assert(row.getString(0) == "é")
    assert(row.getString(1) == "é")
    assert(row.getString(2) == "é")
    assert(row.getString(3) == "fi")
    assert(row.isNullAt(4))
    assert(row.getString(5) == "plain ascii")
    // Interpreted eval (constant folding) and codegen'd eval must agree: run
    // the same e+acute through a column-dependent (non-foldable) expression.
    // 'e' is used deliberately — not every letter has a precomposed acute
    // form (x+U+0301 stays two code points), but e does (U+00E9).
    val viaCol = graft.ops.T.documents(spark, sf)
      .select(call_function("unicode_norm",
        concat(lit("e"), lit("́"), substring(col("text"), 1, 0)),
        lit("NFC")).as("x"))
      .filter(length(col("x")) =!= 1)
      .count()
    assert(viaCol == 0, "NFC must compose e + combining acute to one code point")
  }

  test("sink_vacuum_retention: orphan deleted, retained files intact, v0 gone") {
    Registry.queries("sink_vacuum_retention")(spark, sf).collect()
    val root = java.nio.file.Paths.get(graft.ops.T.scratch("vacuumlog"))
    // f0 (referenced only by the pre-horizon v0) must be vacuumed;
    // f1/f2/f3 (the union of what v1 and v2 reference) must survive
    assert(!java.nio.file.Files.exists(root.resolve("f0")),
      "the compaction-orphaned file must be deleted")
    for (f <- Seq("f1", "f2", "f3"))
      assert(java.nio.file.Files.exists(root.resolve(f)),
        s"retained file $f must survive the vacuum")
    // pre-horizon time travel is genuinely gone, not just unlisted
    intercept[Exception] {
      spark.read.parquet(root.resolve("f0").toString).collect()
    }
  }

  test("scan_corrupt_tolerant: strict read throws on the planted garbage file") {
    // run the op first so the scratch dir holds valid parquet + the junk
    val tolerant = Registry.queries("scan_corrupt_tolerant")(spark, sf).collect()
    assert(tolerant.head.getAs[Long]("n_rows") > 0)
    val dir = graft.ops.T.scratch("corrupt_dir")
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).collect()
    }
  }

  test("md5fold48: native expression == declarative hex fold, null-safe") {
    GraftExtensions.install(spark)
    // column-dependent input defeats constant folding, so the codegen'd
    // path (not just interpreted eval) is what's being pinned
    val mismatches = graft.ops.T.documents(spark, sf)
      .select(concat(col("doc_id").cast("string"), lit("|"),
        substring(col("text"), 1, 40)).as("sin"))
      .withColumn("native", call_function("md5fold48", col("sin")))
      .withColumn("declarative", expr(
        """aggregate(
             transform(sequence(1, 12),
               i -> CAST(instr('0123456789abcdef',
                      substring(md5(sin), i, 1)) - 1 AS BIGINT)),
             0L, (acc, v) -> acc * 16L + v)"""))
      .filter(col("native") =!= col("declarative"))
      .count()
    assert(mismatches == 0, "md5fold48 must equal the hex fold it replaces")
    val nullRow = spark.sql(
      "SELECT md5fold48(CAST(NULL AS STRING)) AS n, md5fold48('') AS e").head()
    assert(nullRow.isNullAt(0), "null input must stay null")
    assert(nullRow.getLong(1) == 0xd41d8cd98f00L,
      "empty string must fold the canonical empty-md5 prefix")
  }

  /** r9 cross-pin (VERDICT r8 task 2): the banded shingle-simhash join is
    * a LOSSLESS candidate generator at hamming <= 3 — its result equals
    * brute-force all-pairs over the same sketch. Run on an augmented
    * corpus with planted near-dup clones so the equality is non-vacuous
    * (the raw sf0.001 corpus may have no shingle-level near-dups at all).
    */
  test("sim_simhash_shingle_bands equals brute-force all-pairs on the same sketch") {
    GraftExtensions.install(spark)
    val base = graft.ops.T.documents(spark, sf)
    val shift = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    // plant (a) exact clones of the first 20 docs — identical sketches,
    // hamming 0, MUST surface in both constructions — and (b) one-token-
    // appended twins, which land at whatever hamming the vote flips give
    // them; either way the equality below must hold for them too
    val exactClones = base.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + lit(shift))
    val perturbed = base.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + lit(2L * shift))
      .withColumn("text", concat(col("text"), lit(" spark")))
    val dir = graft.ops.T.scratch("shingle_pin_fixture")
    base.unionByName(exactClones).unionByName(perturbed).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def sketch = graft.ops.T.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), call_function("simhash60",
        array_distinct(call_function("token_ngrams", col("toks"), lit(2))))
        .as("simhash"))
    val a = sketch.select(col("doc_id").as("a_id"), col("simhash").as("sa"))
    val b = sketch.select(col("doc_id").as("b_id"), col("simhash").as("sb"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = Registry.queries("sim_simhash_shingle_bands")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "planted clones must produce at least one true pair")
    assert(banded == brute,
      s"banded candidates must equal all-pairs: missing=${brute -- banded}, extra=${banded -- brute}")
  }

  test("sim_prefix_filter_join: the doc_id<100000 contract bound pinned on a straddling corpus") {
    // The bound is INACTIVE at every driver scale (fixture corpora are far
    // smaller), so the Scala filter and the oracle's WHERE could drift
    // apart invisibly until ≥sf2. This synthetic corpus straddles the
    // bound: a near-dup pair below it (must appear), a cross-bound pair
    // and an above-bound pair (must vanish), and the result must equal a
    // direct computation of the bounded definition.
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (99990L, "alpha beta gamma delta epsilon zeta"),
      (99991L, "alpha beta gamma delta epsilon zeta"), // in-bound pair
      (99995L, "one two three four five six seven"),
      (100005L, "one two three four five six seven"), // cross-bound: excluded
      (100001L, "red orange yellow green blue indigo"),
      (100002L, "red orange yellow green blue indigo"), // above-bound: excluded
      (99997L, "lorem ipsum dolor sit amet consectetur"),
      (100007L, "quick brown fox jumps over dog"))
    val sqlc = spark
    import sqlc.implicits._
    val dir = graft.ops.T.scratch("ppjoin_bound_fixture")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.queries("sim_prefix_filter_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.forall { case (a, b, _, _) => a < 100000L && b < 100000L },
      s"a doc_id >= 100000 leaked through the contract bound: $got")
    // direct computation of the BOUNDED definition (distinct 3-shingle
    // sets, integer Jaccard rule) — what the oracle's WHERE clause encodes
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val inBound = rows.filter(_._1 < 100000L)
    val brute = (for {
      (a, ta) <- inBound; (b, tb) <- inBound; if a < b
      sa = shingles(ta); sb = shingles(tb)
      inter = (sa & sb).size; uni = (sa ++ sb).size
      if inter * 5 >= uni * 4
    } yield (a, b, inter.toLong, uni.toLong)).toSet
    assert(brute.nonEmpty, "the in-bound planted pair vanished — fixture drifted")
    assert(got == brute,
      s"bounded result diverged from the definition: missing=${brute -- got}, extra=${got -- brute}")
    // non-vacuous: the cross-bound twin pair WOULD qualify unbounded, so
    // the bound really excluded something here
    assert(shingles(rows(2)._2) == shingles(rows(3)._2),
      "cross-bound twin texts drifted — the exclusion check is vacuous")
  }

  test("dsir importance: scores bounded by construction and en (the target) dominates") {
    val rows = Registry.queries("txt_dsir_weight")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // a_d <= r_d always (the target slice is a subset of the corpus), so
    // every score is in [0, 1e6]; min/max consistent with the sum
    assert(rows.forall { case (_, n, s, lo, hi) =>
      lo >= 0 && hi <= 1000000L && lo <= hi && s >= n * lo && s <= n * hi
    }, rows.mkString(","))
    // the discriminative property — the reason the op exists: target-domain
    // docs must outscore every other lang on average (en bigrams feed t_b)
    val avg = rows.map { case (l, n, s, _, _) => l -> s.toDouble / n }.toMap
    val others = avg.view.filterKeys(_ != "en").values
    assert(avg.contains("en") && others.forall(_ < avg("en")),
      s"en does not dominate: $avg")
  }

  test("dsir resample keeps in proportion to score and en survives at the top rate") {
    val rows = Registry.queries("txt_dsir_resample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.forall { case (_, n, k, ppm, _) =>
      k >= 0 && k <= n && ppm >= 0 && ppm <= 1000000L && ppm == k * 1000000L / n
    }, rows.mkString(","))
    // selection must track the importance weights: the target lang keeps
    // the highest fraction (en scores dominate per the weight-op test)
    val rate = rows.map { case (l, n, k, _, _) => l -> k.toDouble / n }.toMap
    assert(rate.view.filterKeys(_ != "en").values.forall(_ < rate("en")),
      s"en does not survive at the top rate: $rate")
    // kept char mass is bounded by the lang's total char mass
    val tot = graft.ops.T.documents(spark, sf)
      .groupBy(col("lang")).agg(sum(col("n_chars")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.forall { case (l, _, _, _, kc) => kc <= tot(l) }, rows.mkString(","))
  }

  test("scan_csv_multiline checksum survives a group that wraps a raw Long sum (r12 sf10 overflow pin)") {
    // The sf10 sweep caught the pre-r12 form (raw sum of 12-hex md5
    // values) overflowing Long past ~33k docs/group. This pins the fix on
    // synthetic data: one constant payload whose md5 prefix is a fixed
    // v ≈ 2.76e14, replicated 1M times — the RAW sum is ~2.8e20 >> 2^63
    // and fails; the op's modular aggregate must return the BigInt-exact
    // residue. Regressing md5MassModular to the raw sum fails HERE, not
    // at the next scale sweep.
    val payload = "overflow-pin"
    val v = BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(payload.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
    val n = 1000000L
    assert(v * n > BigInt(Long.MaxValue), "fixture too small to prove the pin")
    val m = BigInt(1000000007L)
    val expected = (v.mod(m) * n).mod(m).toLong
    val got = spark.range(n).select(lit(payload).as("payload"))
      .agg(graft.ops.Scans.md5MassModular("payload").as("mass"))
      .head.getLong(0)
    assert(got == expected, s"modular checksum $got != BigInt-exact $expected")
  }

  test("dt_mom_growth ppm intermediate survives a diff that wraps a Long multiply (r12 sf10 overflow pin)") {
    import spark.implicits._
    // The sf10 sweep caught abs(diff) ≈ 1.2e13 units × 1e6 overflowing
    // BIGINT. Synthetic rows drive the op's expression past 2^63 in both
    // sign branches; the DECIMAL(38,0)-widened form must match BigInt
    // math exactly. Regressing growthPpmExpr to the unwidened multiply
    // fails HERE, not at the next scale sweep.
    val rows = Seq(
      (13000000000000L, 1000000000000L),
      (1000000000000L, 13000000000000L))
      .toDF("rev_units", "prev_units")
    val got = rows.select(expr(graft.ops.Scalars.growthPpmExpr).as("g"))
      .collect().map(_.getLong(0)).toSet
    val diff = BigInt(12000000000000L) * 1000000
    val expected = Set(
      (diff / 1000000000000L).toLong,
      -(diff / 13000000000000L).toLong)
    assert(got == expected, s"growth_ppm $got != BigInt-exact $expected")
  }

  test("join_spatial_grid_eps: exact eps-boundary pairs are found (sf1 band-exclusion pin)") {
    import spark.implicits._
    // The sf1 decade check caught 11 pairs with decimal Δx exactly 0.50:
    // computed (a.x−b.x) is exactly 0.5, dist² exactly 0.25 — inside the
    // predicate — while a naive band pre-filter with ROUNDED endpoints
    // (a.x ± 0.5) excludes them. This fixture plants that exact boundary
    // (0.42/0.92 — both inexact doubles whose difference rounds to 0.5)
    // plus an exact-binary boundary pair (5.00/5.50, adjacent cells) and
    // near-misses that must stay excluded, so the grid's candidate
    // generation and the ≤-boundary semantics are pinned at unit scale.
    val ts = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val rows = Seq(
      (1L, ts, 0L, "purchase", 0.42, "{}"),
      (2L, ts, 512L, "purchase", 0.92, "{}"),   // y=0 both: Δx=0.50 decimal → IN
      (3L, ts, 0L, "purchase", 2.00, "{}"),
      (4L, ts, 512L, "purchase", 2.51, "{}"),   // Δx=0.51 → OUT
      (5L, ts, 0L, "purchase", 5.00, "{}"),
      (6L, ts, 512L, "purchase", 5.50, "{}"),   // exact binary boundary → IN
      (7L, ts, 1L, "purchase", 9.00, "{}"),
      (8L, ts, 0L, "purchase", 9.00, "{}"),     // Δy=1.0 → OUT
      (9L, ts, 513L, "purchase", 7.10, "{}"),
      (10L, ts, 1L, "purchase", 7.10, "{}"),    // identical point → IN, dist2=0
      (11L, ts, 0L, "view", 0.92, "{}"))        // non-purchase: never a point
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.ops.T.scratch("grid_eps_boundary_fixture")
    rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Registry.queries("join_spatial_grid_eps")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.25), (5L, 6L, 0.25), (9L, 10L, 0.0)),
      s"boundary semantics drifted: $got")
  }

  test("conformal interval: coverage is near the 90% guarantee and q_hat is attainable") {
    val r = Registry.queries("ml_conformal_interval")(spark, sf).collect()(0)
    val (nCal, nTest, qHat, covered, ppm) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nCal > 0 && nTest > 0 && qHat >= 0)
    assert(covered <= nTest)
    // split-conformal guarantees coverage >= 90% in expectation over splits;
    // on one fixed split a finite-sample band applies — generous bounds so
    // the test pins "the estimator works", not sampling noise
    assert(ppm >= 820000 && ppm <= 980000,
      s"coverage $ppm ppm is far from the 90% conformal guarantee")
  }

  test("conformal interval: score histogram stays value-domain-sized (cumsum window bound)") {
    // ml_conformal_interval's cumulative-calibration pass is a GLOBAL
    // Window.orderBy over the nonconformity-score histogram — safe only
    // while distinct integer-cent scores ≪ input rows (the
    // agg_quantiles_hist_det recipe). This pins that bound on the fixtures,
    // the txt_wordcount vocabulary-guard idiom (ExemptSpec): a fixture or
    // quantization change that makes the histogram data-sized fails HERE,
    // not as a silent single-task bottleneck. For genuinely wide value
    // domains (micro-unit prices), stage the cumsum via Det.stage's
    // two-pass range-partition idiom instead of the single window.
    val bucket = pmod(col("user_id") * lit(2654435761L), lit(4294967296L))
    val ev = graft.ops.T.events(spark, sf)
      .withColumn("cents", (graft.ops.Det.dec(col("value")) * 100).cast("long"))
      .withColumn("is_cal", bucket < lit(2147483648L))
    val pred = ev.filter(col("is_cal"))
      .groupBy(col("event_type"))
      .agg(expr("(sum(cents)) div count(1)").as("pred_cents"))
    val scored = ev.join(broadcast(pred), "event_type")
      .select(abs(col("cents") - col("pred_cents")).as("s"))
    val r = scored.agg(countDistinct(col("s")), min(col("s")), max(col("s"))).collect()(0)
    val (distinctScores, minS, maxS) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val domain = maxS - minS + 1
    assert(distinctScores <= domain, s"impossible: $distinctScores distinct in [$minS,$maxS]")
    // the load-bearing constant: `value` is a bounded price in whole cents,
    // so the histogram is O(domain) rows NO MATTER the corpus size. A
    // fixture/quantization change to micro-units or an unbounded metric
    // blows this up and must fail here, not as a single-task bottleneck.
    assert(domain <= 100000L,
      s"nonconformity score domain $domain cents exceeds the bounded-price contract " +
        "(≤ $1000) — the single-partition cumsum window would absorb the corpus; " +
        "switch ml_conformal_interval to the Det.stage two-pass idiom")
  }

  test("poisson bootstrap: the CI brackets the point estimate with positive width") {
    val r = Registry.queries("ml_poisson_bootstrap_ci")(spark, sf).collect()(0)
    val (point, lo, hi, width) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(lo <= point && point <= hi,
      s"CI [$lo, $hi] must bracket the point estimate $point")
    assert(width > 0, "64 replicates over a non-degenerate metric cannot collapse")
  }

  test("group-sequential OBF: boundaries decrease over looks and crossings are consistent") {
    val rows = Registry.queries("evt_group_sequential_obf")(spark, sf)
      .orderBy(col("k")).collect()
    assert(rows.length == 5)
    val bounds = rows.map(_.getDouble(6))
    assert(bounds.zip(bounds.tail).forall { case (a, b) => a > b },
      s"OBF boundaries must be strictly decreasing: ${bounds.toSeq}")
    for (r <- rows)
      assert(r.getBoolean(7) == (math.abs(r.getDouble(5)) > r.getDouble(6)),
        s"crossed flag inconsistent with |z| vs boundary at look ${r.getLong(0)}")
  }

  test("rake oracle precondition: fixtures have no empty-string tokens, and the two phrase-build forms agree on them") {
    // the r14 sf100 oracle rework replaced the islands-window phrase build
    // with per-row list arithmetic (stopword →  separator, split,
    // trim). The two forms are equivalent ONLY for corpora without
    // empty-string tokens (a doubled/leading space makes `split` emit ''
    // which is not a stopword, so the islands form glues it into a phrase
    // while the separator form's trim() strips it). Pin both halves:
    // (a) the fixture contract — documents.text emits no '' token;
    // (b) structural equivalence — the separator form REBUILT IN SPARK
    //     yields the identical (phrase, len) multiset as the islands form
    //     the engine runs, on the real fixture.
    import org.apache.spark.sql.expressions.Window
    val docs = graft.ops.T.documents(spark, sf)
    val emptyToks = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") === "").count()
    assert(emptyToks == 0L,
      "documents.text contains a doubled/leading/trailing space — the rake " +
        "list-arithmetic oracle form is no longer equivalent to the islands form")

    val stop = graft.ops.Text.stoplist
    val islands = {
      val toks = docs
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .filter(!col("token").isin(stop: _*))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      toks.withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            x => x.getField("token"))).as("phrase"),
          count(lit(1)).cast("long").as("len"))
        .groupBy(col("phrase"), col("len")).count()
    }
    val sepForm = {
      val sep = "\u001E"
      docs.select(explode(split(concat_ws(" ",
          transform(split(col("text"), " "),
            t => when(t.isin(stop: _*), lit(sep)).otherwise(t))), sep)).as("seg"))
        .select(trim(col("seg")).as("phrase"))
        .filter(col("phrase") =!= "")
        .withColumn("len", size(split(col("phrase"), " ")).cast("long"))
        .groupBy(col("phrase"), col("len")).count()
    }
    assert(islands.exceptAll(sepForm).isEmpty && sepForm.exceptAll(islands).isEmpty,
      "islands-window and separator-arithmetic phrase builds diverged on the fixture")
  }

  test("cdc chunks: boundaries re-align after a prefix edit (the content-defined property)") {
    // THE property that separates CDC from fixed chunking: prepend one
    // token to a document and every boundary decision beyond the first
    // 4-token window is unchanged (the gear fingerprint is strictly
    // windowed), so all interior chunks — those between two content cuts —
    // hash identically at the shifted offset. txt_chunk_dedup's fixed
    // 10-token grid shares nothing after such an edit.
    import spark.implicits._
    // deterministic pseudo-corpus, long enough to guarantee several cuts
    val toks = (0 until 240).map(i => s"w${(i * 2654435761L) % 97}")
    val base = toks.mkString(" ")
    val shifted = "zzz " + base
    val dir = graft.ops.T.scratch("cdc_shift_fixture")
    Seq((1L, base, "en", "src0", base.length.toLong),
        (2L, shifted, "en", "src0", shifted.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GraftExtensions.install(spark)
    def chunksOf(text: String): Seq[String] = {
      // reference chunker, independent scalar re-implementation
      val ts = text.split(" ").toSeq
      val g = ts.map(t => graft.functions.HashFold.md5fold48(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)))
      val cuts = (4 until ts.length).filter(i =>
        (8 * g(i - 4) + 4 * g(i - 3) + 2 * g(i - 2) + g(i - 1)) % 16 == 0)
      val bounds = 0 +: cuts :+ ts.length
      bounds.sliding(2).map { case Seq(a, b) => ts.slice(a, b).mkString(" ") }.toSeq
    }
    val c1 = chunksOf(base)
    val c2 = chunksOf(shifted)
    assert(c1.length >= 4, s"fixture too short for the property: ${c1.length} chunks")
    // interior chunks of the base doc (drop first and last) all reappear
    // verbatim in the shifted doc's chunk list
    val interior = c1.drop(1).dropRight(1)
    assert(interior.nonEmpty && interior.forall(c2.contains),
      s"CDC re-alignment broken: ${interior.filterNot(c2.contains)} missing after shift")
    // and the ENGINE agrees with the reference chunker: per-source chunk
    // count over the planted fixture = both docs' chunk counts summed
    val row = Registry.queries("txt_cdc_chunks")(spark, dir).collect()(0)
    assert(row.getLong(1) == c1.length + c2.length,
      s"engine chunk count ${row.getLong(1)} != reference ${c1.length + c2.length}")
    // interior dup mass: every realigned interior chunk is a cross-doc dup
    assert(row.getLong(2) >= 2L * interior.length,
      s"dup chunks ${row.getLong(2)} < realigned mass ${2 * interior.length}")
  }

  test("DSIR resample hash: DECIMAL(38,0) widening is exact past the 2^63/phi wrap bound") {
    // txt_dsir_resample's keep-decision uniform is the Knuth hash
    // (doc_id·2654435761) mod 2^32, widened to DECIMAL(38,0) in r16 so
    // doc_id past 2^63/2654435761 ≈ 3.47e9 (~sf5000 fixtures) neither
    // wraps Long (old Spark behavior) nor overflows (DuckDB behavior).
    // Pin BOTH properties: exactness past the bound vs BigInt ground
    // truth, and identity with the narrow BIGINT form below the bound.
    import spark.implicits._
    val ids = Seq(0L, 1L, 12345L, 3470000000L,          // below the bound
      4000000000L, 1L << 40, Long.MaxValue / 3, Long.MaxValue) // past it
    val got = ids.toDF("doc_id")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.pmod(
          col("doc_id").cast("decimal(38,0)") * lit(2654435761L),
          lit(4294967296L)).cast("long").as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- ids) {
      val exact = (BigInt(id) * BigInt(2654435761L)).mod(BigInt(4294967296L))
      assert(BigInt(got(id)) == exact, s"widened hash wrong for doc_id=$id")
      if (BigInt(id) * BigInt(2654435761L) <= BigInt(Long.MaxValue)) {
        val narrow = math.floorMod(id * 2654435761L, 4294967296L)
        assert(got(id) == narrow, s"widened != narrow below the bound for $id")
      }
    }
  }

  test("SRM check: chi-square is non-negative and variant counts partition the users") {
    val r = Registry.queries("evt_srm_check")(spark, sf).collect()(0)
    val n = r.getLong(0)
    assert(Seq(1, 2, 3, 4).map(r.getLong).sum == n, "variants must partition users")
    assert(r.getDouble(5) >= 0.0)
  }

  private def r0(s: Seq[String]): Seq[String] = s.toList
}
