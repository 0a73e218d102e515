package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed exact ranking and rank statistics (Spearman correlation).
  *
  * The reference's correlation surface is Pearson/NormPearson only
  * (`core/correlation/CorrelationMapper.java:157-250`,
  * `ModelNormalizeConf.java:60-63`); Spearman — Pearson over average
  * ranks — is the standard robust complement for monotone-but-nonlinear
  * feature/target relations, so the engine carries it as a first-class
  * stat.
  *
  * The scale problem is the RANK, not the correlation: a naive
  * `row_number() OVER (ORDER BY x)` is a single-partition global sort.
  * [[avgRanks]] instead ranks the DISTINCT-value table (never the corpus):
  * groupBy-count per value, then [[RangeScan]] — the engine's one
  * distributed total order — orders the bounded (value, count) rows and
  * hands each partition its count prefix. Ties get the textbook average rank
  * `below + (cnt+1)/2`, exact in IEEE double (a multiple of 0.5 below
  * 2^52), so rank values are engine-reproducible bit for bit.
  */
object Rank {

  /** (value, avg_rank) for every distinct value of `c` (ascending ranks,
    * 1-based, ties averaged). Shuffles O(distinct) rows, never O(rows);
    * the prefix sum crosses partitions via collected per-partition totals
    * (one long per partition on the driver). */
  def avgRanks(df: DataFrame, c: String): DataFrame =
    // derived from the raw counts form — ONE offset-ranking machinery
    // to maintain, and the average-rank formula is exact in IEEE
    // double (int + multiple of 0.5 below 2^52)
    rankCounts(df, c)
      .select(col("v"),
        (col("n_below") + (col("cnt") + 1) / 2.0).as("avg_rank"))

  /** (value, n_below, cnt) per distinct value — the raw form behind
    * [[avgRanks]]; min-rank = n_below + 1, percent-rank =
    * n_below / (n − 1) (SQL PERCENT_RANK uses min-rank, so this is the
    * distributed drop-in for a would-be single-partition
    * `percent_rank() OVER (ORDER BY v)`). */
  def rankCounts(df: DataFrame, c: String): DataFrame = {
    val counts = df.select(col(c).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val sorted = RangeScan.sorted(counts, Seq(col("v").asc),
      RangeScan.width(df))(r => (r.getDouble(0), r.getLong(1)))
    val ranked = RangeScan.prefixed(sorted, 0L)(_ + _, _.map(_._2).sum)(
      _.emit { (first, it) =>
        var below = first
        it.map { case (v, cnt) =>
          val r = (v, below, cnt)
          below += cnt
          r
        }
      })
    df.sparkSession.createDataFrame(ranked).toDF("v", "n_below", "cnt")
  }

  /** Spearman rank correlation of `x` vs `y` over `df`, rounded to
    * `scale` decimals. Two bounded rank tables re-attach via size-gated
    * broadcast joins (hash join on the value otherwise); the final pass
    * is one closed-form moment aggregate — identical formula text to the
    * Pearson oracle so cross-engine parity holds at the rounding scale. */
  def spearman(df: DataFrame, x: String, y: String,
      scale: Int = 6): DataFrame = {
    val d = df.select(col(x).cast("double").as("xv"),
      col(y).cast("double").as("yv"))
      .filter(col("xv").isNotNull && col("yv").isNotNull)
    // the two rank chains are independent (each runs eager offset
    // jobs inside rankCounts) — overlap them (guide §2.6, ops.Jobs)
    val fRx = Jobs.fork(PlanHints.gatedBroadcast(
      avgRanks(d, "xv").withColumnRenamed("v", "xv")
        .withColumnRenamed("avg_rank", "rx")))
    val fRy = Jobs.fork(PlanHints.gatedBroadcast(
      avgRanks(d, "yv").withColumnRenamed("v", "yv")
        .withColumnRenamed("avg_rank", "ry")))
    val (rx, ry) = (Jobs.join(fRx), Jobs.join(fRy))
    val ranked = d.join(rx, Seq("xv")).join(ry, Seq("yv"))
    val n = count(lit(1)).cast("double")
    def s(c: Column) = sum(c)
    ranked.agg(round(
      (n * s(col("rx") * col("ry")) - s(col("rx")) * s(col("ry"))) /
        sqrt((n * s(col("rx") * col("rx")) - s(col("rx")) * s(col("rx"))) *
          (n * s(col("ry") * col("ry")) - s(col("ry")) * s(col("ry")))),
      scale).as("rho"))
  }
}
