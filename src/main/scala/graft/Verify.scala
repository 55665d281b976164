package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional extra args = subset of query keys to run (local iteration
    // only; the driver always passes exactly two args → full run).
    val keyFilter: Set[String] = rest.toSet
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_COALESCE=0 keeps the write parallel (local scale
    // sweeps: coalesce(1) single-threads the whole upstream computation —
    // a 10 M-row window op at sf10 runs in ONE task; the multi-file output
    // loses row order, so pair it with check.py --sort-rows). The driver
    // always runs the default ordered single-file form.
    val coalesce1 = sys.env.getOrElse("SPARK_GRAFT_VERIFY_COALESCE", "1") != "0"
    SparkEntry.queries
      .filter { case (name, _) => keyFilter.isEmpty || keyFilter(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Own try/catch: a sweep failure (e.g. context torn down by a fatal
      // op error) must cost only this key, like the write's isolation.
      try GraftSession.sweep(spark)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name cache sweep failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
