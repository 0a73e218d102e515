package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT multi-column quantiles with DISTRIBUTED state — the scale path
  * for the engine's exact-percentile convention.
  *
  * `percentile_approx(v, p, Int.MaxValue)` is exact but funnels every
  * distinct value of a column through ONE aggregation buffer
  * (QuantileSummaries grows toward the distinct count) — the 10× soak
  * measured it superlinear on high-cardinality columns
  * (BENCH_SCALE.md). This operator computes the SAME values from
  * distinct-value prefix sums, the [[Rank.rankCounts]] machinery:
  *
  *  1. ONE scan: stacked (feature, value) distinct counts — a plain
  *     groupBy, map-side combined, O(distinct) ROWS not driver bytes;
  *  2. [[RangeScan]] orders the distinct table by (feature, value) —
  *     the per-feature value runs are contiguous across ordered
  *     partitions — and folds per-(partition, feature) masses into
  *     each partition's prefix on the driver;
  *  3. one more pass over the cached distinct table emits ONLY the
  *     values whose cumulative range covers a target rank — ≤
  *     features × probs rows cross to the driver.
  *
  * Rank convention: `rank = ceil(p·n)`, 1-based into the sorted
  * multiset — empirically the ONLY convention matching exact
  * `percentile_approx` across random multisets (the first case of
  * `ExactQuantilesSpec` checks it bit for bit; the probe main that first
  * found it, `tools.QuantileConvention`, was last carried by `b88db51`),
  * and what DuckDB `quantile_disc` returns, so results are drop-in for
  * the oracle-parity queries.
  * Nulls and NaNs are skipped (finite values only; the built-in ranks
  * NaN greatest but with boundary fuzz from its internal targetError —
  * see the inline note) — spec'd value-for-value against the built-in
  * on NaN-free data.
  */
object ExactQuantiles {

  /** Rows-or-distinct bound above which the distributed prefix-sum path
    * beats the in-aggregate exact sketch (measured crossover, see
    * [[quantilesAuto]]); shared so dispatch sites stay in sync and
    * tests can force either branch. */
  val DefaultDispatchThreshold = 2000000L

  /** Plan-stats bytes bound for the SCAN-FREE dispatch tier of
    * [[quantilesAuto]]: parquet inputs over this size go straight to
    * the distributed path without any deciding job. 48 MB of parquet
    * is ~3–5 M lineitem-shaped rows — the same order as the measured
    * row/distinct crossover (600 k rows fine at ~0.2 s; 6 M rows
    * 20.7 s in-agg vs 2.3 s distributed, BENCH_SCALE.md). */
  val DefaultBytesThreshold = 48L << 20

  /** Driver-sort tier budget of [[quantilesAuto]], in VALUES
    * (rows × columns): inputs whose full column set fits under this
    * collect in ONE limited job and sort driver-side — ~32 MB of
    * primitives (transient Row overhead ~10×, still far under any
    * driver heap). Exists because the in-aggregate exact sketch's
    * fixed cost is percentile_approx(MaxInt) ITSELF (~1.5 s at 600 k
    * rows regardless of plan shape — measured round 10), while a
    * limited collect + Arrays.sort of the same data is ~0.3 s. The
    * [[DefaultBytesThreshold]] tier guarantees no 100 TB-shaped input
    * can ever reach this branch, and the limit bound makes the
    * worst-case extra cost (an over-budget probe that discards) a
    * partial scan capped at the budget. */
  val DefaultCollectBudget = 4000000L

  /** Exact quantiles for every (column, prob): Map(col -> values aligned
    * with `probs`); a column with zero non-null rows maps to NaNs. */
  def quantiles(df: DataFrame, cols: Seq[String],
                probs: Seq[Double]): Map[String, Seq[Double]] = {
    require(cols.nonEmpty, "need at least one column")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probs must be in [0,1], got $probs")
    // Column API explode, never string SQL: hostile column names ('|',
    // quotes, spaces) must not reach a parser
    val pairs = explode(array(cols.map(c =>
      struct(lit(c).as("f"), col(c).cast("double").as("v"))): _*))
    val counts = df.select(pairs.as("p"))
      .select(col("p.f").as("f"), col("p.v").as("v"))
      // nulls AND NaNs are skipped. The built-in includes NaN (sorting
      // greatest), but its ~1e-6 targetError makes block-boundary picks
      // near a NaN run fuzzy — a clean "finite values only" contract is
      // strictly more useful, and the engine's columns are NaN-free, so
      // the value-for-value parity spec holds on all real data
      .filter(col("v").isNotNull && !isnan(col("v")))
      .groupBy("f", "v").agg(count(lit(1)).as("cnt"))
    type Masses = Map[String, Long]
    def add(a: Masses, f: String, n: Long): Masses =
      a.updated(f, a.getOrElse(f, 0L) + n)
    val sorted = RangeScan.sorted(counts, Seq(col("f").asc, col("v").asc),
      RangeScan.width(df))(r =>
      (r.getUTF8String(0).toString, r.getDouble(1), r.getLong(2)))
    val picks = RangeScan.prefixed(sorted, Map.empty: Masses)(
      (a, m) => m.foldLeft(a) { case (acc, (f, n)) => add(acc, f, n) },
      _.foldLeft(Map.empty: Masses) { case (m, (f, _, cnt)) =>
        add(m, f, cnt)
      }) { pre =>
      val targets: Map[String, Seq[Long]] = pre.total.map { case (f, n) =>
        f -> probs.map(p => math.max(1L, math.ceil(p * n).toLong))
      }
      pre.emit { (first, it) =>
        // first(f) = f's mass in the partitions before this one
        val off = collection.mutable.HashMap.empty[String, Long] ++= first
        it.flatMap { case (f, v, cnt) =>
          val below = off.getOrElse(f, 0L)
          off.update(f, below + cnt)
          targets.getOrElse(f, Nil).zipWithIndex.collect {
            case (r, pi) if r > below && r <= below + cnt => ((f, pi), v)
          }
        }
      }.collect().toMap
    }
    cols.map(c =>
      c -> probs.indices.map(pi =>
        picks.getOrElse((c, pi), Double.NaN)).toSeq).toMap
  }

  /** [[quantiles]] with a cost dispatch: on SMALL inputs the
    * in-aggregate exact sketch is cheaper (no shuffle, no
    * range-partitioner sampling pass — measured ~0.2 s vs ~1.5 s fixed
    * cost at 600k rows), but its per-row insert + per-partial merge
    * work grows with rows × buffer (the buffer holds every distinct
    * value), so past a few million rows OR distinct values the
    * distributed prefix-sum path wins and keeps winning (measured
    * 20.7 s → 2.3 s at 6M rows / 583k distinct).
    *
    * The dispatch itself is FREE, in three tiers:
    *  1. optimizer plan stats (`optimizedPlan.stats.sizeInBytes` —
    *     file bytes for parquet scans, row-size estimates for local
    *     relations, `defaultSizeInBytes` = huge when unknown): over
    *     [[DefaultBytesThreshold]] go straight to the distributed
    *     path with NO deciding job — at 100 TB a scan just to decide
    *     is itself the bug;
    *  2. under the bytes bound, ONE limited collect
    *     (`limit(budget/k + 1)`) tries to pull the full cast column
    *     set driver-side; if it fits [[DefaultCollectBudget]], exact
    *     quantiles come from `Arrays.sort` at the same ceil(p·n) rank
    *     — ~5× cheaper than percentile_approx(MaxInt), whose sketch
    *     maintenance is the dominant fixed cost at this size (measured
    *     1.5 s vs 0.3 s at 600 k × 3 cols, round 10);
    *  3. if the probe overflows the budget, ONE fused scan carries
    *     count + approx-distinct AND the in-agg exact sketch together
    *     (the `StatsPipeline.fullNumericStats` pattern). The
    *     row/distinct guard survives as a safety net for misleading
    *     size stats: if the fused pass reveals the input is over
    *     threshold after all, the sketch is discarded and the
    *     distributed path runs (a rare double-pay, bounded by the
    *     small-bytes tier; never a wrong answer).
    * All paths return identical values (spec'd), so the dispatch is
    * purely a cost choice. */
  def quantilesAuto(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                    rowThreshold: Long = DefaultDispatchThreshold,
                    distinctThreshold: Long = DefaultDispatchThreshold,
                    bytesThreshold: Long = DefaultBytesThreshold,
                    collectBudget: Long = DefaultCollectBudget)
      : Map[String, Seq[Double]] = {
    require(cols.nonEmpty, "need at least one column")
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (planBytes > BigInt(bytesThreshold)) return quantiles(df, cols, probs)
    val maxRows = (collectBudget / cols.length).min(Int.MaxValue - 1L).toInt
    val probe: Option[Array[org.apache.spark.sql.Row]] =
      if (maxRows <= 0) None
      else {
        val rows = df
          .select(cols.map(c => col(c).cast("double")): _*)
          .limit(maxRows + 1).collect()
        if (rows.length > maxRows) None else Some(rows)
      }
    probe match {
      case Some(rows) =>
        cols.zipWithIndex.map { case (c, i) =>
          val vals = Array.newBuilder[Double]
          vals.sizeHint(rows.length)
          rows.foreach { r =>
            if (!r.isNullAt(i)) {
              val d = r.getDouble(i)
              if (!d.isNaN) vals += d
            }
          }
          val sorted = vals.result()
          java.util.Arrays.sort(sorted)
          c -> probs.map { p =>
            if (sorted.isEmpty) Double.NaN
            else sorted(
              math.max(1L, math.ceil(p * sorted.length).toLong).toInt - 1)
          }
        }.toMap
      case None =>
        val aggs = (count(lit(1)).as("__rows") +:
          cols.map(c => approx_count_distinct(col(c)).as(s"__d_$c"))) ++
          cols.map(c =>
            percentile_approx(when(!isnan(col(c).cast("double")),
                col(c).cast("double")),
              array(probs.map(lit): _*), lit(Int.MaxValue)).as(s"__q_$c"))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        val rows = r.getLong(0)
        val maxDistinct = cols.indices.map(i => r.getLong(i + 1)).max
        if (rows > rowThreshold || maxDistinct > distinctThreshold)
          quantiles(df, cols, probs)
        else cols.zipWithIndex.map { case (c, i) =>
          val qi = 1 + cols.length + i
          c -> (if (r.isNullAt(qi)) probs.map(_ => Double.NaN)
                else r.getSeq[Double](qi).toSeq)
        }.toMap
    }
  }

  /** Per-GROUP exact quantiles as a DataFrame — (group, p_idx, p, q) —
    * with NO driver state, for unbounded group counts: the window runs
    * over the per-group DISTINCT-VALUE table (a hot group moves its
    * distinct values through one task, usually ≪ its row count; the raw
    * rows were already reduced by the map-combined groupBy), and the
    * probs explode is filtered immediately to the one covering value
    * per (group, prob). Same ceil(p·n) rank convention; spec'd equal to
    * grouped exact `percentile_approx`. */
  def groupedQuantiles(df: DataFrame, group: String, value: String,
                       probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probs must be in [0,1], got $probs")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(group).as("__g"), col(value).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__cnt"))
    val wBelow = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("__g")
    counts
      .withColumn("__below", coalesce(sum("__cnt").over(wBelow), lit(0L)))
      .withColumn("__n", sum("__cnt").over(wAll))
      .select(col("__g"), col("__v"), col("__below"), col("__cnt"),
        col("__n"),
        posexplode(array(probs.map(lit): _*)).as(Seq("p_idx", "p")))
      .withColumn("__target",
        greatest(lit(1L), ceil(col("p") * col("__n")).cast("long")))
      .filter(col("__target") > col("__below") &&
        col("__target") <= col("__below") + col("__cnt"))
      .select(col("__g").as(group), col("p_idx"), col("p"),
        col("__v").as("q"))
  }
}
