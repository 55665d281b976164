package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (Verify's config on 4 cores). */
object TestSession {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(cpus = "4")
      // plan-shape guards read PushedFilters/DataFilters out of the plan
      // string; the 100-char default truncates longer filter lists
      .config("spark.sql.maxMetadataStringLength", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
