package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.catalog.{ColumnProfile, NormType}

/** The 16 normalization transforms (reference `core/Normalizer.java:229-520`,
  * dispatched per (columnType, NormType); enum
  * `container/obj/ModelNormalizeConf.java:33-53`).
  *
  * Reference executes these in a per-row Pig UDF that re-reads the catalog in
  * every task (`udf/NormalizeUDF.java:256-420`). Here each transform is a
  * driver-built Column tree with the catalog values FOLDED IN as literals —
  * the normalize job becomes a pure narrow map stage, fully codegen'd,
  * nothing re-computed per row beyond the arithmetic itself.
  */
object Normalize {

  /** z-score with clamp: clamp((v−μ)/σ, ±cutoff); missing→mean (z=0).
    * Reference `Normalizer.java:444-520` zScoreNormalize, computeZScore
    * :330-345; cutoff default 6 (`ModelNormalizeConf.java:71`). */
  def zscore(v: Column, mean: Double, stdDev: Double,
             cutoff: Double = 6.0): Column = {
    // a non-finite σ (overflowed moment sums — fuzz gate's 1e300
    // column) is the same "no usable spread" case as σ = 0: score 0,
    // don't emit clamp(NaN) = ±cutoff noise
    if (stdDev == 0.0 || !java.lang.Double.isFinite(stdDev) ||
      !java.lang.Double.isFinite(mean)) lit(0.0)
    else {
      val z = (coalesce(v, lit(mean)) - lit(mean)) / lit(stdDev)
      least(greatest(z, lit(-cutoff)), lit(cutoff))
    }
  }

  /** Robust scaling (beyond the reference's 16 types): (v − median)/IQR
    * with the same ±cutoff clamp and missing→center (score 0) discipline
    * as [[zscore]]. Median/IQR come from the catalog's exact
    * p25/median/p75, so like every transform here it folds to literals —
    * one narrow codegen map, and outlier-immune where a tail would drag
    * μ/σ. Degenerate IQR (constant middle half) scores 0. */
  def robustScale(v: Column, median: Double, p25: Double, p75: Double,
                  cutoff: Double = 6.0): Column = {
    val iqr = p75 - p25
    if (iqr <= 0.0) lit(0.0)
    else {
      val z = (coalesce(v, lit(median)) - lit(median)) / lit(iqr)
      least(greatest(z, lit(-cutoff)), lit(cutoff))
    }
  }

  /** Winsorization: clamp values into [lo, hi] (caller supplies tail
    * quantile values from the catalog). Nulls stay null — clipping is a
    * value transform, not an imputation. */
  def winsorize(v: Column, lo: Double, hi: Double): Column = {
    require(lo <= hi, s"winsorize bounds inverted: $lo > $hi")
    // when-chain, NOT least/greatest: those SKIP nulls, so a missing
    // value silently clamped to `lo` — violating the null contract
    // above (found by the fuzz gate's nulls mode)
    when(v > hi, lit(hi)).when(v < lo, lit(lo)).otherwise(v)
  }

  /** WoE lookup: bin the value, map to per-bin woe; missing → last-bin woe.
    * Reference `Normalizer.java:241-243` woeNormalize + `BinUtils.getBinNum`. */
  def woeNumeric(v: Column, boundaries: Seq[Double],
                 binWoe: Seq[Double]): Column = {
    val bs = boundaries.dropWhile(_.isNegInfinity)
    val missingWoe = binWoe.last
    var c: Column = when(v.isNull, lit(missingWoe))
    bs.zipWithIndex.reverse.foreach { case (b, i) =>
      c = c.when(v >= lit(b), lit(binWoe(i + 1)))
    }
    c.otherwise(lit(binWoe.head))
  }

  /** Categorical WoE: category→woe map; unseen/missing → last-bin woe. */
  def woeCategorical(v: Column, categories: Seq[String],
                     binWoe: Seq[Double]): Column = {
    val missingWoe = binWoe.last
    categories.zipWithIndex.foldLeft(when(v.isNull, lit(missingWoe))) {
      case (c, (cat, i)) => c.when(v === lit(cat), lit(binWoe(i)))
    }.otherwise(lit(missingWoe))
  }

  /** Categorical → ordinal index; missing/unseen → k (reference
    * `Normalizer.java:283-345` numZScoreAndCateIndexNorm). */
  def categoryIndex(v: Column, categories: Seq[String]): Column =
    categories.zipWithIndex.foldLeft(when(v.isNull, lit(categories.length))) {
      case (c, (cat, i)) => c.when(v === lit(cat), lit(i))
    }.otherwise(lit(categories.length))

  /** One-hot: k+1 indicator columns, last = missing/unseen
    * (reference `Normalizer.java:379-390`). */
  def oneHot(v: Column, categories: Seq[String]): Seq[Column] = {
    val known = categories.map(c => when(v === lit(c), 1).otherwise(0))
    val missing = when(v.isNull || !v.isin(categories.map(lit): _*), 1)
      .otherwise(0)
    known :+ missing
  }

  /** DISCRETE_ZSCORE: z-score of the bin's lower boundary
    * (reference `Normalizer.java:260`). */
  def discreteZScore(v: Column, boundaries: Seq[Double], mean: Double,
                     stdDev: Double, cutoff: Double = 6.0): Column = {
    // same degenerate-moments rule as [[zscore]]: no usable spread
    // (σ = 0 / overflowed-to-non-finite) scores 0
    if (stdDev == 0.0 || !java.lang.Double.isFinite(stdDev) ||
      !java.lang.Double.isFinite(mean)) return lit(0.0)
    val bs = boundaries.dropWhile(_.isNegInfinity)
    var lower: Column = when(v.isNull, lit(mean))
    bs.reverse.zipWithIndex.foreach { case (b, ri) =>
      lower = lower.when(v >= lit(b), lit(b))
    }
    val lv = lower.otherwise(lit(mean)) // first bin has -Inf lower: use mean
    zscore(lv, mean, stdDev, cutoff)
  }

  /** ASIS_WOE / ASIS_PR numeric passthrough with missing→mean
    * (reference `Normalizer.java:238-240,349-370`). */
  def asIs(v: Column, mean: Double): Column = coalesce(v, lit(mean))

  /** Hybrid: categorical→woe, numeric→zscore (`Normalizer.java:245-247`) —
    * dispatch happens at plan-build time per column profile. */
  def forProfile(v: Column, p: ColumnProfile, norm: NormType,
                 cutoff: Double = 6.0): Column = {
    import graft.catalog.ColumnKind._
    val mean = p.stats.mean.getOrElse(0.0)
    val std  = p.stats.stdDev.getOrElse(1.0)
    val isCat = p.kind == Categorical
    norm match {
      case NormType.ZScale =>
        if (isCat) woeCategorical(v, p.binning.binCategory, p.binning.binCountWoe)
        else zscore(v, mean, std, cutoff)
      case NormType.Woe | NormType.WeightWoe =>
        val woes = if (norm == NormType.WeightWoe) p.binning.binWeightedWoe
                   else p.binning.binCountWoe
        if (isCat) woeCategorical(v, p.binning.binCategory, woes)
        else woeNumeric(v, p.binning.binBoundary, woes)
      case NormType.Hybrid | NormType.WeightHybrid =>
        if (isCat) {
          val woes = if (norm == NormType.WeightHybrid) p.binning.binWeightedWoe
                     else p.binning.binCountWoe
          woeCategorical(v, p.binning.binCategory, woes)
        } else zscore(v, mean, std, cutoff)
      case NormType.AsIsWoe =>
        if (isCat) woeCategorical(v, p.binning.binCategory, p.binning.binCountWoe)
        else asIs(v, mean)
      case NormType.AsIsPr =>
        if (isCat) {
          val pr = p.binning.binPosRate
          categoryLookup(v, p.binning.binCategory, pr, pr.lastOption.getOrElse(0.0))
        } else asIs(v, mean)
      case NormType.ZScaleIndex | NormType.WoeIndex | NormType.WoeZScaleIndex =>
        if (isCat) categoryIndex(v, p.binning.binCategory).cast("double")
        else norm match {
          case NormType.ZScaleIndex => zscore(v, mean, std, cutoff)
          case _ => woeNumeric(v, p.binning.binBoundary, p.binning.binCountWoe)
        }
      case NormType.DiscreteZScore =>
        if (isCat) woeCategorical(v, p.binning.binCategory, p.binning.binCountWoe)
        else discreteZScore(v, p.binning.binBoundary, mean, std, cutoff)
      case NormType.Raw => v.cast("double")
      case _ => if (isCat) woeCategorical(v, p.binning.binCategory,
                  p.binning.binCountWoe)
                else zscore(v, mean, std, cutoff)
    }
  }

  private def categoryLookup(v: Column, categories: Seq[String],
                             vals: Seq[Double], dflt: Double): Column =
    categories.zip(vals).foldLeft(when(v.isNull, lit(dflt))) {
      case (c, (cat, x)) => c.when(v === lit(cat), lit(x))
    }.otherwise(lit(dflt))
}
