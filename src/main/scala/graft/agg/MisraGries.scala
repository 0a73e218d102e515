package graft.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder,
  ExpressionEncoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Misra–Gries mergeable heavy-hitters sketch (Misra & Gries 1982;
  * merge rule from Agarwal et al., "Mergeable Summaries", PODS 2012 —
  * SpaceSaving and MG are isomorphic). At most `k` counters of bounded
  * state per partial; the guarantee after any sequence of reduces and
  * merges over n items is
  *
  *     true_count − n/(k+1)  ≤  estimate  ≤  true_count
  *
  * so every item with true frequency > n/(k+1) is GUARANTEED present.
  * This is the 100 TB shape for "top domains / tokens / URLs": an exact
  * `groupBy(token)` shuffles the full distinct-token table (10⁸–10⁹
  * rows web-scale) to answer a question whose answer is 100 rows; the
  * sketch keeps ≤ k counters per map task and the exchange moves
  * `tasks × k` rows. Exact counts for the ≤ k survivors can then be
  * re-attached with one semi-join scan if needed.
  */
final class MisraGries(k: Int)
    extends Aggregator[String, Map[String, Long], Seq[(String, Long)]] {

  override def zero: Map[String, Long] = Map.empty

  override def reduce(b: Map[String, Long], x: String): Map[String, Long] =
    // null-gate like HllAgg/CountMinAgg: a null item would become a
    // null Map key and fail the buffer encoder at the partial-agg
    // shuffle — nulls simply do not count
    if (x == null) b
    else b.get(x) match {
      case Some(c) => b.updated(x, c + 1)
      case None if b.size < k => b.updated(x, 1L)
      case None =>
        // decrement-all: drop every counter by 1, remove the zeroed
        b.collect { case (t, c) if c > 1 => t -> (c - 1) }
    }

  /** Pointwise sum, then subtract the (k+1)-th largest count and keep
    * positives — the PODS'12 merge that preserves the ε=1/(k+1) bound. */
  override def merge(a: Map[String, Long],
                     b: Map[String, Long]): Map[String, Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val m = (a.keySet ++ b.keySet).iterator
      .map(t => t -> (a.getOrElse(t, 0L) + b.getOrElse(t, 0L))).toMap
    if (m.size <= k) m
    else {
      val thr = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
      m.collect { case (t, c) if c - thr > 0 => t -> (c - thr) }
    }
  }

  /** Deterministic output order: estimate desc, item asc. */
  override def finish(r: Map[String, Long]): Seq[(String, Long)] =
    r.toSeq.sortBy { case (t, c) => (-c, t) }

  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder(MisraGries.BufEncoder)
  override def outputEncoder: Encoder[Seq[(String, Long)]] =
    ExpressionEncoder(MisraGries.OutEncoder)
}

object MisraGries {
  /** Derived once per JVM, not per task — see `TopKAgg.BufEncoder`. */
  private val BufEncoder: AgnosticEncoder[Map[String, Long]] =
    ScalaReflection.encoderFor[Map[String, Long]]
  private val OutEncoder: AgnosticEncoder[Seq[(String, Long)]] =
    ScalaReflection.encoderFor[Seq[(String, Long)]]

  /** Column form: `sketch(k)(itemCol)` → array<struct<item, est>>. */
  def sketch(k: Int): Column => Column = {
    val fn = udaf(new MisraGries(k), Encoders.STRING)
    item => fn(item)
  }
}
