package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one place Spark settings are made: every graft main and the test
  * session build through here. JVM flags that must be set before the JVM
  * starts live in tools/jvm.flags instead. A setting one caller alone needs
  * stays a `.config` call at that caller.
  */
object GraftSession {
  /** `local[cpus]` with one shuffle partition per core, UTC, no UI and the
    * zstd spill encoding of [[SpillDefaults]]. */
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession.Builder =
    SpillDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))

  /** Frees what the last query left behind, between registry keys. Some ops
    * keep lazy `persist()` blocks alive after their action, and
    * `localCheckpoint` blocks are invisible to both `Dataset.unpersist` and
    * `catalog.clearCache`, so every persistent RDD is unpersisted. Blocking:
    * the async form let block removal bleed into the next key's run.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  /** Reserved code cache of this JVM, in MB. Whole-stage codegen across the
    * registry needs the 1 GB of tools/jvm.flags: at the JDK's 240 MB default
    * the JIT switches itself off once the cache fills. */
  def codeCacheMb: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
      .map(_.getUsage.getMax).sum >> 20
}
