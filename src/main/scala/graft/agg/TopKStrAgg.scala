package graft.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder,
  ExpressionEncoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** [[TopKAgg]] over (score, string-id) pairs — same bounded partial
  * aggregation (each map task keeps ≤ k candidates per group, the
  * exchange moves `groups × k` rows), same deterministic (score DESC,
  * id ASC) total order, for group members identified by a STRING (terms,
  * tokens, domains) instead of a long id. Kept as a sibling rather than
  * a generic because udaf() needs a concrete input Encoder. */
final class TopKStrAgg(k: Int)
    extends Aggregator[(Double, String), Seq[(Double, String)],
      Seq[(Double, String)]] {

  private def lt(a: (Double, String), b: (Double, String)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def insert(buf: Seq[(Double, String)],
                     x: (Double, String)): Seq[(Double, String)] = {
    if (buf.length >= k && !lt(x, buf.last)) buf
    else {
      val (pre, post) = buf.span(lt(_, x))
      (pre :+ x) ++ post.take(k - pre.length - 1)
    }
  }

  override def zero: Seq[(Double, String)] = Vector.empty
  override def reduce(b: Seq[(Double, String)],
                      a: (Double, String)): Seq[(Double, String)] =
    insert(b, a)
  override def merge(x: Seq[(Double, String)],
                     y: Seq[(Double, String)]): Seq[(Double, String)] =
    y.foldLeft(x)(insert)
  override def finish(r: Seq[(Double, String)]): Seq[(Double, String)] = r

  override def bufferEncoder: Encoder[Seq[(Double, String)]] =
    ExpressionEncoder(TopKStrAgg.BufEncoder)
  override def outputEncoder: Encoder[Seq[(Double, String)]] =
    ExpressionEncoder(TopKStrAgg.BufEncoder)
}

object TopKStrAgg {
  /** Derived once per JVM, not per task — see `TopKAgg.BufEncoder`. */
  private val BufEncoder: AgnosticEncoder[Seq[(Double, String)]] =
    ScalaReflection.encoderFor[Seq[(Double, String)]]

  /** Column form: `topK(3)(scoreCol, strIdCol)` → array<struct<score,id>>
    * descending; posexplode for (rank-1, member) rows. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKStrAgg(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.STRING))
    (score, id) => fn(score, id)
  }
}
