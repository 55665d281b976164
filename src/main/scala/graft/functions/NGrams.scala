package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd n-gram constructors.
  *
  * The declarative forms — `zip_with(slice(a,1,n-1), slice(a,2,n-1), concat)`
  * for token bigrams, `transform(sequence(1, length(s)-1), i ->
  * substring(s, i, 2))` for char bigrams — run as interpreted per-element
  * lambdas with slice/sequence intermediates allocated per row (higher-order
  * functions never enter whole-stage codegen). These expressions are single
  * fused loops in generated code: the same playbook as
  * [[VectorDot]], applied to the n-gram hot paths (txt_ngrams,
  * sim_shingle_jaccard, txt_lang_id).
  *
  * Semantics are bit-identical to the forms they replace:
  * - TokenNGrams(arr, n): out[i] = arr[i] || ' ' || … || arr[i+n-1]; a null
  *   constituent nulls that element (concat semantics); fewer than n tokens
  *   → empty array; null input → null.
  * - CharNGrams(str, n): all length-n code-point substrings, in order;
  *   shorter input → empty array; null input → null.
  */
case class TokenNGrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!DataType.equalsIgnoreNullability(left.dataType, ArrayType(StringType)))
      TypeCheckResult.TypeCheckFailure(
        s"token_ngrams expects array<string>, got ${left.dataType}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("token_ngrams n must be a literal int")
    else nGram match {
      case n if n >= 2 => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("token_ngrams n must be >= 2")
    }

  private lazy val nGram: Int = right.eval() match {
    case i: Int => i
    case _      => -1
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "token_ngrams"

  private val SEP = UTF8String.fromString(" ")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = nGram
    val m = math.max(0, arr.numElements() - n + 1)
    val out = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = arr.getUTF8String(i + j)
        if (j > 0) parts(2 * j - 1) = SEP
        j += 1
      }
      out(i) = UTF8String.concat(parts: _*) // null if any constituent null
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sep = ctx.addReferenceObj("sep", SEP, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val n = nGram
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val parts = ctx.freshName("parts")
      val out = ctx.freshName("out")
      val u = classOf[UTF8String].getName
      s"""
         |int $m = java.lang.Math.max(0, $a.numElements() - ${n - 1});
         |Object[] $out = new Object[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  $u[] $parts = new $u[${2 * n - 1}];
         |  for (int $j = 0; $j < $n; $j++) {
         |    $parts[2 * $j] = $a.getUTF8String($i + $j);
         |    if ($j > 0) $parts[2 * $j - 1] = $sep;
         |  }
         |  $out[$i] = $u.concat($parts);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenNGrams =
    copy(left = newLeft, right = newRight)
}

case class CharNGrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"char_ngrams expects string, got ${left.dataType}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("char_ngrams n must be a literal int")
    else nGram match {
      case n if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("char_ngrams n must be >= 1")
    }

  private lazy val nGram: Int = right.eval() match {
    case i: Int => i
    case _      => -1
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val s = a.asInstanceOf[UTF8String]
    val n = nGram
    val m = math.max(0, s.numChars() - n + 1)
    val out = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      out(i) = s.substring(i, i + n)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val n = nGram
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $m = java.lang.Math.max(0, $a.numChars() - ${n - 1});
         |Object[] $out = new Object[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  $out[$i] = $a.substring($i, $i + $n);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNGrams =
    copy(left = newLeft, right = newRight)
}

object NGrams {
  private def arity2(name: String, mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { args =>
    if (args.length != 2)
      throw new IllegalArgumentException(s"$name takes 2 arguments, got ${args.length}")
    mk(args(0), args(1))
  }

  val tokenBuilder: Seq[Expression] => Expression =
    arity2("token_ngrams(array<string>, n)", TokenNGrams(_, _))
  val charBuilder: Seq[Expression] => Expression =
    arity2("char_ngrams(string, n)", CharNGrams(_, _))
}
