package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end proof of the `spark.sql.extensions=graft.GraftExtensions`
  * entry point — the "library user" path: a session built with
  * `.withExtensions` gets every native function, the DotProductFusion
  * rewrite, and the TopKPerKey planner strategy WITHOUT any runtime
  * registration call. Registry ops get the same function list through
  * `GraftExtensions.install`; this spec is what proves a pure-SQL user
  * needs none of that.
  *
  * A fresh session must be CREATED for extensions to apply (getOrCreate
  * returns an existing default session unchanged, and newSession() does
  * not re-run extension builders), so the default/active sessions are
  * cleared first and restored after.
  */
class ExtensionsSpec extends AnyFunSuite {

  private def withExtendedSession[A](f: SparkSession => A): A = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // GraftSession's settings: when this suite runs first, this builder
    // creates the SparkContext every later suite shares
    val s = GraftSession.builder(cpus = "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("withExtensions session serves every injected function from pure SQL") {
    withExtendedSession { s =>
      val r = s.sql(
        """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
          |       unicode_norm(concat('e', '́'), 'NFC')                   AS n,
          |       token_ngrams(array('a','b','c'), 2)                     AS t,
          |       char_ngrams('abc', 2)                                   AS c,
          |       simhash60(array('a', 'b'))                              AS s60,
          |       srp_sketch60(array_repeat(CAST(7 AS BIGINT), 64))       AS r60,
          |       md5fold48('')                                           AS f48,
          |       mattr_sum_types(array('a','b','a','a','c'), 3)          AS m""".stripMargin)
        .head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getString(1) == "é")
      assert(r.getSeq[String](2) == Seq("a b", "b c"))
      assert(r.getSeq[String](3) == Seq("ab", "bc"))
      assert(!r.isNullAt(4) && !r.isNullAt(5))
      assert(r.getLong(6) == 0xd41d8cd98f00L)
      val toks = Array[Any]("a", "b", "a", "a", "c")
        .map(t => org.apache.spark.unsafe.types.UTF8String.fromString(t.toString))
      assert(r.getLong(7) == functions.MattrSumTypes.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(toks), 3))
    }
  }

  test("withExtensions session plans TopKPerKey with no runtime strategy registration") {
    withExtendedSession { s =>
      import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
      import org.apache.spark.sql.functions.col
      assert(s.experimental.extraStrategies.isEmpty, "test requires a clean session")
      val base = graft.ops.T.orders(s, TestSession.sf)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val df = graft.plans.TopKPerKey.of(base, 2, Seq("o_custkey"),
        Seq("o_totalprice" -> Descending, "o_orderkey" -> Ascending))
      assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
      assert(s.experimental.extraStrategies.isEmpty, "TopKPerKey.of must install nothing")
      val perKey = df.groupBy(col("o_custkey")).count().collect()
      assert(perKey.nonEmpty && perKey.forall(_.getLong(1) <= 2))
      // the injected strategy already plans the node: install adds no copy
      GraftExtensions.install(s)
      assert(s.experimental.extraStrategies.isEmpty, "install duplicated the injected strategy")
    }
  }

  test("withExtensions session fuses the canonical dot-product fold into vec_dot") {
    withExtendedSession { s =>
      // inputs must be non-foldable or ConstantFolding evaluates the whole
      // fold before the plan can show the rewrite
      val plan = s.sql(
        """SELECT aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |                 CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d
          |FROM (SELECT array(CAST(id AS FLOAT)) AS a,
          |             array(CAST(id + 1 AS FLOAT)) AS b FROM range(3))"""
          .stripMargin)
      assert(plan.queryExecution.optimizedPlan.toString.contains("vec_dot"),
        s"fusion rule not applied: ${plan.queryExecution.optimizedPlan}")
    }
  }
}
