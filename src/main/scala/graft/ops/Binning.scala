package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bin-boundary computation + the bin-index expression.
  *
  * The reference computes boundaries with 4 streaming algorithms
  * (`core/binning/`, SURVEY §2.4) then counts per-bin pos/neg in a second
  * MR job (`UpdateBinningInfoMapper/Reducer`). Spark design: boundaries come
  * from one agg pass (exact `percentile` at test scale, the SPDT
  * `HistogramAgg` at cluster scale), and bin counting is a plain
  * `groupBy(binId)` where binId is a GENERATED comparison chain — pure
  * Catalyst expressions, whole-stage codegen, no UDF in the hot path.
  *
  * Convention (reference `udf/stats/NumericalVarStats.java`): boundaries are
  * left edges with a -Infinity head; bin i covers [b_i, b_{i+1}); the LAST
  * bin (index = #boundaries) holds missing/invalid values.
  */
object Binning {

  /** Index of the bin containing `value`: count of boundaries (after the
    * -Inf head) that are <= value; null → missingBin (= boundaries.size).
    * Generated descending when-chain — codegen-friendly for the default
    * maxNumBin=10; equivalent of `util/BinUtils.getBinNum` binary search. */
  def binIndex(value: Column, boundaries: Seq[Double]): Column = {
    val bs = boundaries.dropWhile(_.isNegInfinity)
    val missingBin = bs.length + 1
    var c: Column = when(value.isNull, lit(missingBin))
    // highest boundary first: first match wins
    bs.zipWithIndex.reverse.foreach { case (b, i) =>
      c = c.when(value >= lit(b), lit(i + 1))
    }
    c.otherwise(lit(0))
  }

  /** Equal-interval boundaries (reference `core/binning/EqualIntervalBinning`):
    * -Inf, min + w, min + 2w, ... min + (k-1)w with w = (max-min)/k. */
  def equalInterval(min: Double, max: Double, k: Int): Seq[Double] =
    Double.NegativeInfinity +: (1 until k).map(i => min + (max - min) * i / k)

  /** ANSI-safe integer weight: floor of the double, clamped to ±2^62
    * (exactly double-representable, safely inside long range) instead
    * of an ANSI CAST_OVERFLOW crash on an absurd-but-present weight —
    * one bad row must not kill a corpus-wide stats pass (found by the
    * differential fuzz gate's 1e300 weights). NULL stays NULL (the
    * when-chain propagates it), so sum() keeps skipping missing
    * weights. Oracle mirror: QueryUtil.longWeightSql.
    *
    * Spark's floor(double) SATURATES to Long.MaxValue instead of
    * erroring, so without the clamp a single absurd row poisons every
    * downstream long sum into an ANSI ARITHMETIC_OVERFLOW.
    *
    * `bound` picks the headroom trade-off: the 2^62 default keeps
    * nearly the full long range per row (callers must then accumulate
    * in decimal(38,0)); [[MilsClamp]] (2^40) leaves ~8.4e6 rows of
    * plain-long-sum headroom for windowed/grouped milli-unit sums. */
  private[graft] def longWeight(w: Column,
      bound: Double = 4.611686018427387904e18): Column = {
    val c = lit(bound)
    floor(when(w > c, c).when(w < -c, -c).otherwise(w)).cast("long")
  }

  /** 2^40 — the clamp for milli-unit measures that flow into plain
    * long window/group sums (see [[longWeight]]). */
  private[graft] val MilsClamp: Double = 1099511627776.0

  /** WeightEqual* boundaries (reference `ModelStatsConf.java:34-36`
    * WeightEqualPositive/Negative/Total): value v_j such that the running
    * INTEGER weight first reaches j/k of the total. Fully distributed:
    * groupBy(value) compresses ties (RANGE-frame semantics for free),
    * [[RangeScan]] orders the distinct values and hands each partition
    * its mass prefix, and one flatMap emits each crossed threshold. All
    * comparisons are exact integer arithmetic (`cw·k ≥ j·tot`) — no FP
    * summation order anywhere, so any engine agrees bit-for-bit. */
  def weightedEqualBounds(df: DataFrame, valueCol: String, weight: Column,
                          k: Int): Seq[(Int, Double)] = {
    // the per-value sums and all running/threshold arithmetic are
    // 128-bit exact (decimal(38,0) on the wire, BigInt on the driver):
    // clamped per-row weights are ≤ 2^62, so a corpus-wide long sum —
    // and especially the cw·k threshold products — can overflow long
    // while staying comfortably inside 38 digits. DuckDB's
    // sum(BIGINT) → HUGEINT matches exactly. (Fuzz gate: 1e300
    // weights overflowed the old all-long pipeline.)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // coalesce: a value group whose every weight is NULL sums to NULL
    // — it carries zero mass, not a driver NPE; a NULL VALUE has no
    // place on the boundary axis at all (fuzz gate, nulls mode)
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(coalesce(sum(longWeight(weight).cast(dec)),
        lit(0).cast(dec)).as("wv"))
    val sorted = RangeScan.sorted(g, Seq(col("v").asc),
      RangeScan.width(df))(r => (r.getDouble(0),
        BigInt(r.getDecimal(1, 38, 0).toJavaBigDecimal.toBigInteger)))
    val crossings = RangeScan.prefixed(sorted, BigInt(0))(
        _ + _, _.map(_._2).sum) { p =>
      val tot = p.total
      // zero/negative total mass (all-zero or net-negative weights) has
      // no meaningful j/k thresholds — the crossing predicate below would
      // never fire while a naive `cw·k ≥ j·tot` oracle still selects
      // min(v). Both sides declare the quantile axis undefined and return
      // no bounds (oracle mirrors with `tot > 0` in its WHERE).
      if (tot <= 0) Array.empty[(Int, Double)]
      else p.emit { (first, it) =>
        var cum = first
        it.flatMap { case (v, w) =>
          val prev = cum
          cum += w
          // thresholds j with prev·k < j·tot ≤ cum·k, 1 ≤ j ≤ k-1
          (1 until k).filter(j => prev * k < tot * j &&
            tot * j <= cum * k).map(j => (j, v))
        }
      }.collect()
    }
    // NEGATIVE weights make the running sum non-monotone, so one
    // threshold can be crossed several times (fuzz gate) — the bound is
    // the FIRST crossing in value order, i.e. min v per j, which is
    // exactly the oracle's `min(v) WHERE cw·k ≥ j·tot` (the first row
    // to ever reach a threshold necessarily crosses it)
    val bounds = crossings.groupBy(_._1).toSeq
      .map { case (j, vs) => (j, vs.map(_._2).min) }
      .sortBy(_._1)
    bounds
  }

  /** Per-bin pos/neg (+ weighted) counts with missing-last-bin, one shuffle
    * of pre-aggregated partials (reference needed a full MR job:
    * `UpdateBinningInfoMapper.java:349-520` + reducer). */
  def binCounts(df: DataFrame, valueCol: String, boundaries: Seq[Double],
                isPos: Column, weight: Column = lit(1.0)): DataFrame = {
    df.groupBy(binIndex(col(valueCol), boundaries).as("bin_id"))
      .agg(
        sum(when(isPos, 1L).otherwise(0L)).as("cnt_pos"),
        sum(when(isPos, 0L).otherwise(1L)).as("cnt_neg"),
        sum(when(isPos, weight).otherwise(0.0)).as("w_pos"),
        sum(when(isPos, 0.0).otherwise(weight)).as("w_neg"))
  }
}
