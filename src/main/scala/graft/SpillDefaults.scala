package graft

import org.apache.spark.sql.SparkSession

/** Defaults every graft session starts with. Most are read once when the
  * SparkContext or the JVM-wide codegen cache starts, so they must be on the
  * builder, not set on a live session. Applied by [[GraftSession.builder]],
  * so every graft session carries them; the benchmark's runner applies them
  * directly. RegistrySpec pins the values live in the test SparkContext.
  *
  * Spill encoding, measured in the round-14 graph-tier decade runs
  * (BASELINE.md): `zstd` shuffle/spill blocks + compressed RDD/checkpoint
  * blocks collapse the iterative Pregel keys' per-round spill from a 60 GB
  * ENOSPC peak to 8.7–17.2 GB at sf100 (~7×, 8–16 bytes/edge — edge-linear,
  * ~9–17 MB/executor on a 1000-executor target).
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
    "spark.io.compression.zstd.bufferSize" -> "512k",
    // Generated-class cache (a static SQL conf: fixed when the JVM's cache is
    // first used). One cold pass of the benchmark compiles 222 classes on
    // registry_sf0.01 and 186 on pipeline_sf0.03 (perfbench trace, 4
    // cores); at Spark's 100-entry default the LRU evicts each before its
    // next use and a warm pass recompiles 199 and 176 of them. 1024 holds
    // over 4x the larger pass.
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    // Adaptive execution numbers whole-stage codegen stages in the order its
    // query stages are created, which follows the order earlier stages
    // finish. With the stage id in the class name, a re-run of the same plan
    // with stages renumbered (*(5) -> *(7)) misses the cache:
    // evt_funnel_windowed at sf0.001 recompiled 8 classes in 7 warm runs
    // across three numberings, and 0 without the id.
    "spark.sql.codegen.useIdInClassName" -> "false")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
