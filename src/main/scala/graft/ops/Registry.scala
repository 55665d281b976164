package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator: a Spark implementation and (unless the op is
  * non-SQL-expressible) a DuckDB-1.0-runnable oracle over the same tables.
  * Table names in oracle SQL are bare (`FROM lineitem`) — the driver points
  * DuckDB at the same parquet files.
  */
final case class Op(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  private lazy val all: Vector[Op] =
    Scans.ops ++ Filters.ops ++ Joins.ops ++ Aggs.ops ++ Windows.ops ++
      SetSort.ops ++ Scalars.ops ++ Text.ops ++ Similarity.ops ++
      Streaming.ops ++ MLPipeline.ops ++ Udfs.ops ++ Multimodal.ops ++
      TextAnalysis.ops ++ Events.ops ++ Graph.ops ++ Quality.ops ++
      SqlShapes.ops

  /** Every op by name. Each one first runs [[graft.GraftExtensions.install]]
    * on its session, so graft's native functions and the TopKPerKey
    * strategy are there whichever session the caller passes.
    *
    * Cache-lifetime contract (r19, ADVICE r18): several ops leave LAZY
    * `persist()` blocks behind after their action completes (the graph
    * tier's edge caches, dedup_cc/sem_dedup's docs cache, …) — they are
    * deliberately NOT unpersisted inside the op, because an in-op
    * blocking unpersist re-introduces the per-query driver stall the r18
    * conversions removed. Bench and Verify call [[graft.GraftSession.sweep]]
    * between keys; any OTHER embedder that runs these queries in sequence
    * must do the same or cache blocks accumulate across queries.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val dups = all.groupBy(_.name).collect { case (n, ops) if ops.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate op names (toMap would silently shadow them): ${dups.mkString(", ")}")
    all.map { o =>
      o.name -> { (s: SparkSession, d: String) =>
        graft.GraftExtensions.install(s)
        o.fn(s, d)
      }
    }.toMap
  }

  lazy val oracles: Map[String, String] =
    all.flatMap(o => o.oracle.map(sql => o.name -> sql)).toMap
}
