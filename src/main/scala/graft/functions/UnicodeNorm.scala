package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Unicode normalization expression — `unicode_norm(str, 'NFC')`.
  *
  * Web-scale text ingest sees the same grapheme in several byte encodings
  * (precomposed U+00E9 vs decomposed e+U+0301); every dedup/fingerprint op
  * upstream keys on bytes, so normalization must run BEFORE hashing or the
  * same sentence dedups into different buckets. Spark has no built-in for
  * this (`lower`/`translate` don't touch combining marks), and a Scala UDF
  * would break whole-stage codegen around the hot normalize→hash pipeline —
  * so this is a codegen'd `Expression` over `java.text.Normalizer` (ICU-free,
  * ships with the JDK, stable across JVMs per the Unicode stability policy).
  *
  * The form argument must be a foldable literal in {NFC, NFD, NFKC, NFKD} —
  * resolved once at plan time, never re-parsed per row. Null input → null.
  * Already-normalized ASCII short-circuits inside Normalizer itself (its
  * quick-check pass), so the common all-ASCII corpus pays one scan, no copy.
  */
case class UnicodeNormalize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"unicode_norm expects string, got ${left.dataType}")
    else if (right.dataType != StringType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("unicode_norm form must be a literal string")
    else if (formOpt.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        "unicode_norm form must be one of NFC, NFD, NFKC, NFKD")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val formOpt: Option[Normalizer.Form] = right.eval() match {
    case s: UTF8String =>
      s.toString.toUpperCase match {
        case "NFC"  => Some(Normalizer.Form.NFC)
        case "NFD"  => Some(Normalizer.Form.NFD)
        case "NFKC" => Some(Normalizer.Form.NFKC)
        case "NFKD" => Some(Normalizer.Form.NFKD)
        case _      => None
      }
    case _ => None
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_norm"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val s = a.asInstanceOf[UTF8String]
    UTF8String.fromString(Normalizer.normalize(s.toString, formOpt.get))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The Form enum is plan-time state; ship it into generated code as a
    // reference object so the per-row call is a direct Normalizer.normalize.
    val form = ctx.addReferenceObj("form", formOpt.get, classOf[Normalizer.Form].getName)
    val u = classOf[UTF8String].getName
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = $u.fromString(java.text.Normalizer.normalize($a.toString(), $form));")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnicodeNormalize =
    copy(left = newLeft, right = newRight)
}

object UnicodeNorm {
  val builder: Seq[Expression] => Expression = { args =>
    if (args.length != 2)
      throw new IllegalArgumentException(
        s"unicode_norm(string, form) takes 2 arguments, got ${args.length}")
    UnicodeNormalize(args(0), args(1))
  }
}
