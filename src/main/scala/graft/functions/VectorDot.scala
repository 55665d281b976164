package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two float-array columns.
  *
  * The declarative form (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) is
  * semantically identical but runs as interpreted per-element lambda calls
  * with an intermediate array allocation per row — ~20× slower on the
  * all-pairs similarity ops. This expression is a single fused loop inside
  * whole-stage codegen: no allocation, no virtual calls, stays in the
  * generated code path.
  *
  * Float elements are widened to double BEFORE multiplying and summed
  * sequentially left-to-right — bit-identical to both the higher-order
  * fold it replaces and the DuckDB list_transform/list_sum oracle twin.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => DataType.equalsIgnoreNullability(e.dataType, ArrayType(FloatType))))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  /** Mismatched lengths and null ELEMENTS both yield NULL — exactly the
    * null-padding zip_with/aggregate twin this expression replaces (a
    * padded or genuine null element nulls the whole fold). This exact
    * equivalence is what licenses DotProductFusion as an optimizer rule
    * over nullable (containsNull=true) array columns.
    */
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  /** Arity-checked builder for GraftExtensions' function list — a wrong
    * argument count becomes an analysis-time error naming the signature,
    * not an IndexOutOfBoundsException.
    */
  val builder: Seq[Expression] => Expression = { args =>
    if (args.length != 2)
      throw new IllegalArgumentException(
        s"vec_dot(array<float>, array<float>) takes 2 arguments, got ${args.length}")
    VectorDot(args(0), args(1))
  }
}
