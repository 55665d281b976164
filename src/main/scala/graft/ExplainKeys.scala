package graft

import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main: dump `explain("formatted")` for the named registry keys
  * to one file per key (the r18 optimization-round evidence trail).
  *
  * Usage: tools/run.sh graft.ExplainKeys <sfDir> <outDir> <suffix> key1 key2 ...
  * Writes <outDir>/<key>_<suffix>.txt for each key.
  */
object ExplainKeys {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val keys = args.drop(3)
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.builder(cpus = "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (k <- keys) {
      val plan = ops.Registry.queries(k)(spark, sfDir)
        .queryExecution.explainString(FormattedMode).trim
      java.nio.file.Files.write(
        outDir.resolve(s"${k}_$suffix.txt"),
        (s"# $k -- explain(formatted), $suffix, sfDir=$sfDir\n\n" + plan + "\n")
          .getBytes("UTF-8"))
      println(s"[explain] wrote $k")
    }
    spark.stop()
  }
}
