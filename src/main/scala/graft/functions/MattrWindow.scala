package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `mattr_sum_types(toks: array<string>, w) → bigint` — the MATTR
  * numerator: Σ over every w-token window of the window's DISTINCT token
  * count (Covington & McFall 2010), computed with a sliding frequency map
  * in O(n) per document instead of the declarative
  * `transform(sequence(...), i -> size(array_distinct(slice(toks, i, w))))`
  * + `aggregate` form's O(n·w) — which also allocates a fresh w-element
  * slice and distinct array per window and, being a higher-order-function
  * chain, never enters whole-stage codegen. This expression IS
  * codegen-friendly (the generated code calls the static sliding loop, so
  * the surrounding project stays in one codegen span); the measured
  * before/after (24.61 s → 0.68 s at sf1) is recorded in BASELINE.md's
  * "Round-9/10 record" section.
  *
  * Semantics are identical to the form it replaces, pinned by
  * PropertySpec: window enter/leave updates a token→freq map (UTF8String
  * equality = byte equality, exactly Spark's array_distinct semantics;
  * a null element counts as one distinct value, matching array_distinct);
  * fewer than w tokens → 0 windows → 0; null input → null.
  */
case class MattrSumTypes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!DataType.equalsIgnoreNullability(left.dataType, ArrayType(StringType)))
      TypeCheckResult.TypeCheckFailure(
        s"mattr_sum_types expects array<string>, got ${left.dataType}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("mattr_sum_types w must be a literal int")
    else if (window < 1)
      TypeCheckResult.TypeCheckFailure("mattr_sum_types w must be >= 1")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val window: Int = right.eval() match {
    case i: Int => i
    case _      => -1
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "mattr_sum_types"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MattrSumTypes.compute(a.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.MattrSumTypes.compute($a, $window);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MattrSumTypes =
    copy(left = newLeft, right = newRight)
}

object MattrSumTypes {
  /** The O(n) sliding loop: maintain (freq map, live distinct count);
    * token i enters, token i-w leaves, every full window adds the live
    * count. Static so generated code can call it directly. */
  def compute(arr: ArrayData, w: Int): Long = {
    val n = arr.numElements()
    if (n < w) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](w * 2)
    var distinct = 0
    var sum = 0L
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val c = counts.merge(t, 1, (x: Integer, y: Integer) => Integer.valueOf(x + y))
      if (c == 1) distinct += 1
      if (i >= w) {
        val u = if (arr.isNullAt(i - w)) null else arr.getUTF8String(i - w)
        val cu = counts.merge(u, -1, (x: Integer, y: Integer) => Integer.valueOf(x + y))
        if (cu == 0) { counts.remove(u); distinct -= 1 }
      }
      if (i >= w - 1) sum += distinct
      i += 1
    }
    sum
  }

  val builder: Seq[Expression] => Expression = { args =>
    if (args.length != 2)
      throw new IllegalArgumentException(
        s"mattr_sum_types(array<string>, w) takes 2 arguments, got ${args.length}")
    MattrSumTypes(args(0), args(1))
  }
}
