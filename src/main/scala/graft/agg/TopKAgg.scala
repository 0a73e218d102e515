package graft.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder,
  ExpressionEncoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k aggregator over (score, id) pairs, ordered by score DESC
  * with id ASC tie-break — the same ordering as
  * `row_number().over(Window.partitionBy(g).orderBy(desc(score), asc(id)))`,
  * but with map-side partial aggregation: each partition keeps only k
  * candidates per group, so the shuffle moves `groups × k` rows instead of
  * every candidate pair. This is what makes brute-force / bucketed ANN
  * viable at cluster scale — the reference's eval keeps a similar bounded
  * buffer on one machine (`core/ConfusionMatrix.java:276`); here the buffer
  * is distributive (update/merge) so Spark runs it partial+final.
  *
  * Selection is deterministic for bit-identical scores: the (−score, id)
  * total order has no FP-summation ambiguity as long as the score itself is
  * computed by a strict in-order fold (see [[graft.expr.DotProduct]]).
  */
final class TopKAgg(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  override def zero: Seq[(Double, Long)] = Vector.empty

  override def reduce(b: Seq[(Double, Long)],
                      a: (Double, Long)): Seq[(Double, Long)] =
    TopKAgg.insert(b, a, k)

  override def merge(x: Seq[(Double, Long)],
                     y: Seq[(Double, Long)]): Seq[(Double, Long)] =
    TopKAgg.merge(x, y, k)

  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder(TopKAgg.BufEncoder)
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder(TopKAgg.BufEncoder)
}

object TopKAgg {
  /** The selection order: score DESC, then id ASC, over Spark's total
    * order of doubles — NaN above every other score (so `desc` puts it
    * first) and -0.0 equal to 0.0. A NaN score (`Cosine.of` over an
    * overflowing pair, Inf/Inf) must still be ordered: with `>` alone it
    * ties with nothing, and the entries `insert` keeps would depend on
    * arrival order, so on the partitioning. */
  def before(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = if (a._1 == b._1) 0 else java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  /** Insert `x` into a descending-sorted buffer of at most `k` entries —
    * the one bounded top-k step: this aggregator, the ANN query's
    * per-partition loop and its driver merge all select through it. */
  def insert(buf: Seq[(Double, Long)], x: (Double, Long),
             k: Int): Seq[(Double, Long)] =
    if (buf.length >= k && !before(x, buf.last)) buf
    else {
      val (pre, post) = buf.span(before(_, x))
      (pre :+ x) ++ post.take(k - pre.length - 1)
    }

  /** Merge two bounded buffers into one of at most `k` entries. */
  def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)],
            k: Int): Seq[(Double, Long)] =
    y.foldLeft(x)(insert(_, _, k))

  /** The buffer/output type's encoder, derived from its TypeTag ONCE per
    * JVM. Spark asks the aggregator for its encoders in every task that
    * runs it, and a TypeTag derivation walks Scala runtime reflection:
    * a global lock, plus class lookups that miss on the task's session
    * class loader and go to the driver over RPC — a per-task cost that
    * grows with load. The agnostic encoder is immutable, so each call
    * above wraps a fresh ExpressionEncoder around the shared one. */
  private val BufEncoder: AgnosticEncoder[Seq[(Double, Long)]] =
    ScalaReflection.encoderFor[Seq[(Double, Long)]]

  /** Column form: `topK(5)(scoreCol, idCol)` → array<struct<score,id>>,
    * descending; explode with posexplode for (rank-1, neighbor) rows. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAgg(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    (score, id) => fn(score, id)
  }
}
