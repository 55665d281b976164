package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `md5fold48(s: string) → bigint` — the 48-bit uniform hash every
  * deterministic-sketch op keys on (KMV, MinHash tuning, dataset
  * fingerprints), as a native codegen'd expression.
  *
  * Semantics are bit-identical to the declarative fold it replaces —
  * `aggregate(transform(sequence(1,12), i -> instr('0123456789abcdef',
  * substring(md5(s), i, 1)) - 1), 0L, (acc, v) -> acc*16 + v)` — i.e. the
  * first 12 hex chars of the md5 parsed as an integer, which is exactly
  * the digest's first 6 bytes big-endian. The DuckDB oracle twins keep the
  * explicit strpos fold, so the equivalence is hash-checked on every
  * oracled op that uses this.
  *
  * Why an expression: the declarative form is a higher-order lambda chain
  * (never enters whole-stage codegen) that formats the full 32-char hex
  * string, then re-parses 12 chars of it through 12 interpreted
  * `instr`/`substring` calls per row. This is one MD5 over the raw UTF-8
  * bytes and a 6-byte shift-or, inside codegen — the [[VectorDot]]
  * playbook applied to the sketch-hash hot path.
  */
object HashFold {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5fold48(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val dig = md.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < 6) {
      acc = (acc << 8) | (dig(i) & 0xffL)
      i += 1
    }
    acc
  }

  val builder: Seq[Expression] => Expression = { args =>
    if (args.length != 1)
      throw new IllegalArgumentException(
        s"md5fold48(string) takes 1 argument, got ${args.length}")
    Md5Fold48(args.head)
  }
}

/** See [[HashFold.md5fold48]]. */
case class Md5Fold48(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"md5fold48 expects string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "md5fold48"

  override protected def nullSafeEval(input: Any): Any =
    HashFold.md5fold48(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashFold.md5fold48($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Fold48 =
    copy(child = newChild)
}
