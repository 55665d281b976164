package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 60-bit sketch builders for the banded near-dup scale paths
  * (sim_simhash_bands, emb_srp_ann), as native codegen'd expressions.
  *
  * Why 60 bits and not 64: every intermediate — the packed sketch, each
  * band divisor `2^(15·band)`, and the oracle's `CAST(pow(2, b) AS
  * BIGINT)` bit weight — must stay exact in SIGNED 64-bit integers in
  * BOTH engines. A 64-bit sketch's top bit weight is 2^63, one past the
  * signed maximum, so the packing sum (and DuckDB's pow-cast) overflows;
  * 60 bits (top weight 2^59) is the widest 4-band geometry where all the
  * integer math is representable. The bands are 4 × 15 bits → 32 768
  * distinct values per band, versus the r2 geometry's 4 × 4 bits → 16
  * values: the band-join key goes from 64 distinct values (a saturated,
  * skewed shuffle whose candidate set grows ~N²/8) to 131 072, and the
  * only candidates that survive are pairs whose 15 sketch bits agree
  * exactly — at 100 TB that is an ordinary hash-partitioned equi-join
  * whose output is dominated by the corpus's true near-dup structure,
  * not by bucket saturation.
  *
  * Why expressions and not SQL lambdas: the r2 construction exploded
  * docs × tokens × bits through an aggregate (~30 M intermediate rows at
  * sf0.1 for 60 bits); these expressions compute the whole sketch in one
  * fused loop per row inside whole-stage codegen — the explode/vote
  * shuffle disappears, and the per-row cost is a few thousand integer
  * ops in compiled code. Both are pure integer math, reproduced
  * term-for-term by the DuckDB oracle SQL of the ops that use them.
  */
object Sketch60 {

  /** Per-band position-hash multipliers, all odd so `(pos * M) % 2^15`
    * cycles the full 15-bit space (the r2 12-bit-degeneracy lesson:
    * a weight that never sets high bits silently narrows the sketch).
    */
  private val M = Array(12289L, 28657L, 40503L, 52289L)

  /** 60-bit SimHash over a token array (distinct tokens; order
    * irrelevant — bit votes are commutative sums). Per token, four
    * independent 15-bit position-weighted char hashes
    * `h_k = Σ_pos codepoint · ((pos · M_k) % 2^15) (mod 2^15)`; sketch
    * bit j takes its vote from bit (j % 15) of h_(j/15). A zero-char
    * token still votes (h = 0, i.e. −1 on every bit): DuckDB's
    * string_split('', '') yields [''] with ascii 0, so the oracle's
    * vote aggregate sees exactly one all-zero hash row for it.
    */
  def simhash60(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    val h = new Array[Long](4)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val s = arr.getUTF8String(t).toString
        java.util.Arrays.fill(h, 0L)
        var i = 0
        var pos = 1L
        while (i < s.length) {
          val cp = s.codePointAt(i)
          var k = 0
          while (k < 4) {
            h(k) = (h(k) + cp * ((pos * M(k)) % 32768L)) % 32768L
            k += 1
          }
          i += Character.charCount(cp)
          pos += 1
        }
        var j = 0
        while (j < 60) {
          votes(j) += (if (((h(j / 15) >> (j % 15)) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      t += 1
    }
    var sk = 0L
    var j = 0
    while (j < 60) {
      if (votes(j) > 0) sk |= (1L << j)
      j += 1
    }
    sk
  }

  /** Fixed SRP projection matrix, 60 bits × 64 dims: two rounds of Knuth
    * multiplicative mixing (same derivation as the r3 16-bit version,
    * extended to b < 60) — a pseudo-random integer matrix both engines
    * recompute identically and never materialize.
    */
  private val W: Array[Long] = Array.tabulate(60 * 64) { idx =>
    ((idx + 1).toLong * 2654435761L) % 4294967296L * 40503L % 4294967296L % 2001L - 1000L
  }

  /** 60-bit sign-random-projection sketch over a quantized (BIGINT)
    * embedding; bit b = sign of the integer dot with projection row b.
    * |q| ≤ ~2000 per coordinate keeps every dot far inside long range.
    */
  def srp60(q: ArrayData): Long = {
    var sk = 0L
    var b = 0
    while (b < 60) {
      var acc = 0L
      var i = 0
      val off = b * 64
      while (i < 64) {
        acc += q.getLong(i) * W(off + i)
        i += 1
      }
      if (acc >= 0L) sk |= (1L << b)
      b += 1
    }
    sk
  }

  val simhashBuilder: Seq[Expression] => Expression = { args =>
    if (args.length != 1)
      throw new IllegalArgumentException(
        s"simhash60(array<string>) takes 1 argument, got ${args.length}")
    Simhash60(args.head)
  }

  val srpBuilder: Seq[Expression] => Expression = { args =>
    if (args.length != 1)
      throw new IllegalArgumentException(
        s"srp_sketch60(array<bigint>) takes 1 argument, got ${args.length}")
    SrpSketch60(args.head)
  }
}

/** simhash60(tokens: array<string>) → bigint — see [[Sketch60.simhash60]].
  * The generated code is a single static call, so the sketch stays inside
  * whole-stage codegen with zero per-element lambda dispatch.
  */
case class Simhash60(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsIgnoreNullability(child.dataType, ArrayType(StringType)))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"simhash60 expects array<string>, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(input: Any): Any =
    Sketch60.simhash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch60.simhash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash60 =
    copy(child = newChild)
}

/** srp_sketch60(q: array<bigint>) → bigint — see [[Sketch60.srp60]].
  * Requires the fixture's 64-dim embedding (quantized); dimensionality is
  * part of the projection matrix's definition, not a tunable.
  */
case class SrpSketch60(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsIgnoreNullability(child.dataType, ArrayType(LongType)))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"srp_sketch60 expects array<bigint>, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_sketch60"

  override protected def nullSafeEval(input: Any): Any =
    Sketch60.srp60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch60.srp60($c)")

  override protected def withNewChildInternal(newChild: Expression): SrpSketch60 =
    copy(child = newChild)
}
