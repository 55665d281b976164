package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Registry, T}

/** A warm re-run of a query redoes none of the fixed per-query work that can
  * be kept: no generated class is compiled again (the codegen cache of
  * [[SpillDefaults]]) and no table read infers its schema again (the footer
  * memo of [[T.schema]]).
  */
class WarmRunSpec extends AnyFunSuite {
  import TestSession._

  /** Keys whose warm run still compiles, with the cause measured at sf0.001
    * by diffing the codegen cache's keys before and after a run. */
  private val recompiling = Map(
    "stream_dsv2_source" -> ("1 class on every warm run: the micro-batch's filter stage, " +
      "identical source each run, compiled under a new executor class loader, since each " +
      "streaming query runs in a cloned session and the codegen cache is keyed by loader"))

  /** The benchmark's registry workload (perfbench/workloads.json): one key
    * from each of the twelve largest ops modules. A cold pass over the
    * eleven kept here compiles ~180 classes, more than Spark's 100-entry
    * default cache holds: at that default the warm pass recompiled 159.
    */
  private val keys = Seq(
    "sim_simhash_bands", "evt_funnel_windowed", "ml_auc_by_segment",
    "scan_json_struct", "txt_chunk_dedup", "agg_hash_groupby",
    "join_bucketed_colocated", "win_drawdown", "stream_dsv2_source",
    "dt_funcs", "qc_fk_orphans", "txt_doc_stats").filterNot(recompiling.contains)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by one pass over `keys`, swept between keys as
    * Bench does. */
  private def pass(): Long = {
    val before = compiles
    for (k <- keys) {
      Registry.queries(k)(spark, sf).collect()
      GraftSession.sweep(spark)
    }
    compiles - before
  }

  test("a warm re-run of the registry workload compiles no generated class") {
    val cold = pass()
    info(s"cold pass compiled $cold classes")
    assert(pass() == 0, s"warm pass recompiled classes (cold pass compiled $cold)")
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftTestBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftTestBridge.drainListeners(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("a second build of qc_fk_orphans starts no Spark job") {
    val build = Registry.queries("qc_fk_orphans")
    build(spark, sf)
    assert(jobsDuring(build(spark, sf)) == 0)
  }

  test("a table overwritten at the same path is read back with its new schema") {
    val dir = T.scratch("schema_memo_fixture")
    spark.range(3).select(col("id").as("a")).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(T.read(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = T.read(spark, dir, "t")
    assert(back.columns.toSeq == Seq("b", "c"))
    assert(back.collect().map(_.getString(1)).toSeq == Seq("x", "x", "x"))
  }
}
