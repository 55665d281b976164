package graft

import org.apache.spark.sql.SparkSession

/** Spill-encoding defaults, measured in the round-14 graph-tier decade runs
  * (BASELINE.md): `zstd` shuffle/spill blocks + compressed RDD/checkpoint
  * blocks collapse the iterative Pregel keys' per-round spill from a 60 GB
  * ENOSPC peak to 8.7–17.2 GB at sf100 (~7×, 8–16 bytes/edge — edge-linear,
  * ~9–17 MB/executor on a 1000-executor target). Applied by
  * [[GraftSession.builder]], so every graft session carries it. RegistrySpec
  * pins the values live in the test SparkContext.
  */
object SpillDefaults {
  val configs: Seq[(String, String)] = Seq(
    "spark.io.compression.codec" -> "zstd",
    "spark.rdd.compress"         -> "true",
    "spark.checkpoint.compress"  -> "true",
    // the 32 KB default buffer makes every small block pay zstd stream
    // setup: measured +19% on the full sf0.1 bench (8 keys regressed ≥2×,
    // checkpoint-heavy ones worst). 512 KB amortizes it to noise-level at
    // bench scale (A/B matrix in BASELINE.md round-15) and, if anything,
    // IMPROVES the decade-spill ratio (larger window); per-stream memory
    // at 512 KB × concurrent streams is MBs/executor — standard practice.
    "spark.io.compression.zstd.bufferSize" -> "512k")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
