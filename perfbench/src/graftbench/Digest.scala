package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}

/** A query's output digest: its row count, a hash that ignores row order,
  * and a hash over rows in output order (meaningful only when the query
  * sorts its rows). Doubles are rounded to 10 significant digits and floats
  * to 6, so the last-bit noise of a reordered floating sum cannot flip it.
  */
final case class Digest(rows: Long, unordered: String, ordered: String, sorted: Boolean)

object Digest {
  val empty: Digest = Digest(-1L, null, null, sorted = false)

  def of(df: DataFrame, rows: Array[Row]): Digest = {
    var sum = 0L
    val seq = MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val h = MessageDigest.getInstance("MD5").digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
      seq.update(h)
    }
    Digest(rows.length.toLong, f"$sum%016x", hex(seq.digest()),
      sortsOutput(df.queryExecution.optimizedPlan))
  }

  /** the plan's root orders the rows (under projections and limits) */
  private def sortsOutput(p: LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case p: Project => sortsOutput(p.child)
    case l: GlobalLimit => sortsOutput(l.child)
    case l: LocalLimit => sortsOutput(l.child)
    case _ => false
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def round(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(new MathContext(digits)).stripTrailingZeros.toString

  /** canonical text of a value; every element is length-prefixed so
    * delimiters inside strings cannot alias across columns */
  def canon(v: Any): String = {
    val s = v match {
      case null => "N"
      case d: Double => "d" + round(d, 10)
      case f: Float => "d" + round(f.toDouble, 6)
      case b: JBigDecimal => "m" + b.stripTrailingZeros.toPlainString
      case b: scala.math.BigDecimal => "m" + b.bigDecimal.stripTrailingZeros.toPlainString
      case t: java.sql.Timestamp => "t" + (t.getTime / 1000 * 1000000L + t.getNanos / 1000)
      case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
      case i: java.time.Instant => "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
      case d: java.time.LocalDate => "D" + d.toEpochDay
      case b: Array[Byte] => "b" + hex(b)
      case r: Row => "r" + r.toSeq.map(canon).mkString
      case m: scala.collection.Map[_, _] =>
        "M" + m.toSeq.map { case (k, x) => canon(k) + canon(x) }.sorted.mkString
      case s: scala.collection.Seq[_] => "a" + s.map(canon).mkString
      case v: org.apache.spark.ml.linalg.Vector => "v" + v.toArray.map(x => canon(x)).mkString
      case v: org.apache.spark.mllib.linalg.Vector => "v" + v.toArray.map(x => canon(x)).mkString
      case n: java.lang.Number => "i" + n.toString
      case other => "s" + other.toString
    }
    s"${s.length}:$s"
  }
}
