package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture scaler — produce a larger scale factor from the
  * driver-provided sf0.1 tables for scale/efficiency measurement beyond the
  * shipped fixtures (the correctness oracle is engine-vs-DuckDB on the SAME
  * files, so generated data exercises it identically).
  *
  *   tools/run.sh graft.GenFixtures /root/testdata/sf0.1 /tmp/graft_sf1 10
  *
  * Two strategies, chosen per table:
  *
  * - **Relational tables replicate-and-shift**: `mul` copies of the real
  *   rows with every key column shifted by `replica × (max_key + 1)`,
  *   applied consistently across each FK edge (customer⇄orders,
  *   orders⇄lineitem, part/supplier⇄lineitem, user⇄events). This preserves
  *   the true per-key fanout, value distributions, and skew exactly —
  *   scaling the number of groups, not group size, which is how TPC-H
  *   itself scales — and keeps every PK unique and every FK resolvable.
  *   `region`/`nation` copy verbatim (dimension tables don't scale).
  *   `events` keeps its 30-day window (more traffic in the same window),
  *   and shifted user_ids keep (user_id, ts) collision-free because each
  *   replica's users are disjoint.
  *
  * - **documents/embeddings regenerate** from per-row hash seeds instead:
  *   replication would clone every text and vector `mul` times, handing
  *   the near-dup/ANN operators a planted clone per document and inflating
  *   their outputs quadratically — a semantic change, not a scale-up. The
  *   synthesis matches the measured sf0.1 recipe: 10–100 tokens uniform
  *   from the same 31-word vocabulary, lang {en 40%, de/es/fr/zh 15%},
  *   source uniform src0–19, n_chars independent 44–577; embeddings are
  *   L2-normalized 64-dim Box-Muller gaussians with uniform labels 0–9
  *   (the sf0.1 vectors measure as exactly that: row norm 1.0, within-
  *   label cosine 0.071 ≈ 1/√200 — no cluster structure to preserve).
  *   Everything derives from `xxhash64(id, salt)` so any partitioning of
  *   any cluster regenerates identical bytes.
  *
  * Each table lands as a single `<name>.parquet` FILE (not a directory),
  * matching the driver fixture layout so both `spark.read.parquet` and
  * DuckDB's `FROM '<dir>/<t>.parquet'` work unchanged.
  */
object GenFixtures {

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** uniform [0, n) from a salted per-row hash */
  private def hmod(salt: String, n: Long, cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((cols :+ lit(salt)): _*), lit(n))

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, mulStr) = args.take(3)
    val mul = mulStr.toInt
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      // keep o_orderdate/l_shipdate as TIMESTAMP(MICROS) like the source
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    def src(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")

    // optional 4th arg: comma-separated table subset (r12 — the sf100
    // third-decade probe needs a documents-only slice; generating the
    // full relational set at 1000× would be 10+ GB of unused fixture)
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    def want(name: String): Boolean = only.isEmpty || only(name)

    /** single-file write: driver fixtures are one file per table, and
      * tools/check.py points DuckDB at the bare path */
    def writeOne(name: String, df: DataFrame): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$outDir/$name.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"[gen] $name -> $dst (${dst.length() / 1024} KiB)")
    }

    /** mul copies with each listed key column shifted by r·space(key);
      * space = max+1 measured from the source so FK edges shift in sync */
    def replicate(name: String, keys: Seq[String]): DataFrame = {
      val base = src(name)
      val spaces: Map[String, Long] = keys.map { k =>
        k -> (base.agg(max(col(k))).head.getLong(0) + 1L)
      }.toMap
      (0 until mul).map { r =>
        keys.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(r * spaces(k)))
        }
      }.reduce(_ unionByName _)
    }

    if (want("region")) writeOne("region", src("region"))
    if (want("nation")) writeOne("nation", src("nation"))
    if (want("supplier")) writeOne("supplier", replicate("supplier", Seq("s_suppkey")))
    if (want("customer")) writeOne("customer", replicate("customer", Seq("c_custkey")))
    if (want("part")) writeOne("part", replicate("part", Seq("p_partkey")))
    if (want("orders")) writeOne("orders", replicate("orders", Seq("o_orderkey", "o_custkey")))
    if (want("lineitem")) writeOne("lineitem",
      replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")))
    if (want("events")) writeOne("events",
      replicate("events", Seq("event_id", "user_id")))

    if (want("documents")) {
    val nDocs = src("documents").count() * mul
    val vocab = array(Vocab.map(lit): _*)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("ntoks", (lit(10) + hmod("ntoks", 91, col("doc_id"))).cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(1), col("ntoks")),
          i => element_at(vocab, (hmod("tok", 31, col("doc_id"), i) + 1).cast("int"))),
        " "))
      .withColumn("lbucket", hmod("lang", 100, col("doc_id")))
      .withColumn("lang",
        when(col("lbucket") < 40, "en").when(col("lbucket") < 55, "de")
          .when(col("lbucket") < 70, "es").when(col("lbucket") < 85, "fr")
          .otherwise("zh"))
      .withColumn("source",
        concat(lit("src"), hmod("src", 20, col("doc_id")).cast("string")))
      .withColumn("n_chars", lit(44L) + hmod("nchars", 534, col("doc_id")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    writeOne("documents", docs)
    }

    if (want("embeddings")) {
    val nVecs = src("embeddings").count() * mul
    // Box-Muller on two salted uniforms per (id, dim), then L2-normalize
    val dims = sequence(lit(0), lit(63))
    val raw = transform(dims, i => {
      val u1 = (hmod("g1", 1000000L, col("vec_id"), i).cast("double") + lit(0.5)) / lit(1000000.0)
      val u2 = (hmod("g2", 1000000L, col("vec_id"), i).cast("double") + lit(0.5)) / lit(1000000.0)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    })
    val embs = spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("g", raw)
      .withColumn("nrm", sqrt(aggregate(col("g"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("embedding",
        transform(col("g"), x => (x / col("nrm")).cast("float")))
      .withColumn("label", hmod("label", 10, col("vec_id")).cast("int"))
      .select("vec_id", "embedding", "label")
    writeOne("embeddings", embs)
    }

    spark.stop()
  }
}
