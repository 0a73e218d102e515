package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

import graft.catalog._

/** The `shifu stats` step (SURVEY §3.1), Spark-native: one scan computes
  * moments for every candidate column, one scan counts per-bin pos/neg for
  * every column simultaneously (stacked, partial-aggregated), and the tiny
  * per-column vectors get the exact `ColumnStatsCalculator` driver math.
  * The result is the typed catalog that drives normalize/varselect/eval —
  * replacing the reference's two MR jobs + ColumnConfig.json mutation
  * (`MapReducerStatsWorker.java:93-150`, `UpdateBinningInfoReducer`).
  *
  * Scale: both passes are full scans with map-side partial aggregation;
  * shuffled data is O(columns × bins), independent of row count. Both are
  * long format, keyed by column as the reference computes them, so each
  * aggregate stays about a dozen fields wide at any column count (see
  * [[statsAggregate]] for what a row-wide aggregate costs).
  */
object StatsPipeline {

  final case class NumStats(name: String, count: Long, missing: Long,
      sum: Double, sumSq: Double, min: Double, max: Double) {
    def mean: Double = sum / count
    def stdDev: Double = StatsMath.stdDevFromSums(count, sum, sumSq)
  }

  /** [[NumStats]] plus the long tail of ColumnStats: raw 3rd/4th moment
    * sums (→ NIST skewness/kurtosis, `ColumnStatsCalculator.java:185-214`),
    * quartiles, and an HLL distinct estimate. */
  final case class FullNumStats(basic: NumStats, sumCube: Double,
      sumQuartic: Double, p25: Option[Double], median: Option[Double],
      p75: Option[Double], distinct: Long) {
    def skewness: Option[Double] =
      if (basic.count > 0 && basic.stdDev > 0)
        Some(StatsMath.skewness(basic.count, basic.mean, basic.stdDev,
          basic.sum, basic.sumSq, sumCube))
      else None
    def kurtosis: Option[Double] =
      if (basic.count > 0 && basic.stdDev > 0)
        Some(StatsMath.kurtosis(basic.count, basic.mean, basic.stdDev,
          basic.sum, basic.sumSq, sumCube, sumQuartic))
      else None
  }

  /** The shared six moment aggregates over one value column — ONE
    * definition so the lean and full stats passes can never diverge on
    * the null/miss convention. */
  private def momentAggs(v: Column): Seq[Column] =
    Seq(count(v).as("cnt"),
      sum(when(v.isNull, 1L).otherwise(0L)).as("miss"),
      sum(v).as("sum"),
      sum(v * v).as("sumsq"),
      min(v).as("min"),
      max(v).as("max"))
  private def decodeMoments(r: Row, c: String): NumStats =
    NumStats(c,
      r.getAs[Long]("cnt"), r.getAs[Long]("miss"),
      r.getAs[Double]("sum"), r.getAs[Double]("sumsq"),
      r.getAs[Double]("min"), r.getAs[Double]("max"))

  /** The stats aggregate in long format: `stack` unpivots the columns to
    * (column index `ci`, value `v`) rows and one `groupBy(ci)` runs the
    * aggregates — one output row per column, about a dozen fields wide.
    * A row-wide `df.agg` needs ~11 functions per column — 275 for 25
    * columns, past `spark.sql.codegen.maxFields` — and every task then
    * regenerated projection code for the whole width. Within a partition
    * each column's values arrive in the same order as in a one-column
    * aggregate, so every output is bit-identical to it. Past 128 columns
    * the full pass's object-hash aggregate sorts the rest of each task's
    * input instead of hashing it
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`).
    * `full` adds the 3rd/4th moment sums and the HLL distinct, and the
    * sketched quartiles unless `pctAccuracy = Int.MaxValue` (exact
    * quantiles are computed outside). */
  private[graft] def statsAggregate(df: DataFrame, cols: Seq[String],
                                    full: Boolean,
                                    pctAccuracy: Int = 10000): DataFrame = {
    // quoted: a name with '.', '|' or a backtick is one plain column here
    def ref(c: String) = col("`" + c.replace("`", "``") + "`")
    val unpivot = stack(lit(cols.length) +: cols.zipWithIndex.flatMap {
      case (c, i) => Seq(lit(i), ref(c).cast("double")) }: _*)
    val v = col("v")
    val tail =
      if (!full) Nil
      else Seq(sum(v * v * v).as("sum3"), sum(v * v * v * v).as("sum4")) ++
        (if (pctAccuracy == Int.MaxValue) Nil
         else Seq(percentile_approx(v,
           array(lit(0.25), lit(0.5), lit(0.75)), lit(pctAccuracy)).as("pct"))) :+
        approx_count_distinct(v).as("dist")
    val aggs = momentAggs(v) ++ tail
    df.select(unpivot.as(Seq("ci", "v"))).groupBy("ci")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Runs [[statsAggregate]] and returns each column's row, by position
    * in `cols`. A column with no input rows (an empty frame) gets no
    * group; it decodes from an all-null row, exactly as the one-row
    * aggregate of an empty frame did: count 0, sums 0.0, no quartiles. */
  private def statsRows(df: DataFrame, cols: Seq[String], full: Boolean,
                        pctAccuracy: Int = 10000): IndexedSeq[Row] = {
    val agg = statsAggregate(df, cols, full, pctAccuracy)
    val byIndex = agg.collect().map(r => r.getAs[Int]("ci") -> r).toMap
    val empty = new GenericRowWithSchema(
      new Array[Any](agg.schema.length), agg.schema)
    cols.indices.map(i => byIndex.getOrElse(i, empty))
  }

  /** Pass 1: moments for all numeric columns in ONE aggregation. */
  def numericStats(df: DataFrame, cols: Seq[String]): Map[String, NumStats] =
    cols.zip(statsRows(df, cols, full = false))
      .map { case (c, r) => c -> decodeMoments(r, c) }.toMap

  /** Pass 1 extended: the FULL ColumnStats field family for all columns,
    * ONE aggregation / one scan at the (default) sketched accuracy.
    * `pctAccuracy = Int.MaxValue` requests EXACT quantiles — those now
    * route through [[ExactQuantiles]] (distributed distinct-value prefix
    * sums, same values bit-for-bit) instead of an exact in-aggregate
    * sketch whose buffer grows toward the column's distinct count: the
    * 10× soak measured the in-agg exact path superlinear on
    * high-cardinality columns (BENCH_SCALE.md), while the routed path
    * adds one bounded-output pass and stays linear. */
  def fullNumericStats(df: DataFrame, cols: Seq[String],
                       pctAccuracy: Int = 10000,
                       exactDispatchThreshold: Long =
                         ExactQuantiles.DefaultDispatchThreshold)
      : Map[String, FullNumStats] = {
    val exact = pctAccuracy == Int.MaxValue
    val rows = statsRows(df, cols, full = true, pctAccuracy)
    // the main agg already carries counts + approx_count_distinct —
    // dispatch on them directly (see ExactQuantiles.quantilesAuto): the
    // in-agg exact sketch's cost grows with rows × buffer, so past a few
    // million of either the distributed prefix-sum path is the one that
    // stays linear
    val exactPct: Map[String, Seq[Double]] =
      if (!exact) Map.empty
      else if (rows.map(_.getAs[Long]("dist")).max >
            exactDispatchThreshold ||
          rows.map(_.getAs[Long]("cnt")).max >
            exactDispatchThreshold)
        ExactQuantiles.quantiles(df, cols, Seq(0.25, 0.5, 0.75))
      else {
        val pAggs = cols.map(c =>
          // the same NaN guard both ExactQuantiles paths apply — without
          // it, NaN-bearing data would give different results on the two
          // sides of the dispatch threshold
          percentile_approx(when(!isnan(col(c).cast("double")),
              col(c).cast("double")),
            array(lit(0.25), lit(0.5), lit(0.75)),
            lit(Int.MaxValue)).as(c))
        val pr = df.agg(pAggs.head, pAggs.tail: _*).head()
        cols.zipWithIndex.map { case (c, i) =>
          c -> (if (pr.isNullAt(i)) Seq(Double.NaN, Double.NaN, Double.NaN)
                else pr.getSeq[Double](i).toSeq)
        }.toMap
      }
    cols.zip(rows).map { case (c, r) =>
      // arrays come back as mutable.ArraySeq — use the collection root type
      val pct =
        if (exact) Some(exactPct(c)).filter(_.forall(!_.isNaN))
        else Option(r.getAs[scala.collection.Seq[Double]]("pct"))
          .filter(_.length == 3).map(_.toSeq)
      c -> FullNumStats(decodeMoments(r, c),
        r.getAs[Double]("sum3"), r.getAs[Double]("sum4"),
        p25 = pct.map(_(0)), median = pct.map(_(1)), p75 = pct.map(_(2)),
        distinct = r.getAs[Long]("dist"))
    }.toMap
  }

  /** Pass 2: per-bin pos/neg counts for ALL columns in one scan — each row
    * contributes (column, binId, pos) via `stack`, then a single
    * groupBy((col, bin)) with map-side combine. `boundsFor` gives each
    * column's boundary list (missing → last bin inside binIndex). */
  def allBinCounts(df: DataFrame, cols: Seq[String],
                   boundsFor: Map[String, Seq[Double]],
                   isPos: Column,
                   weight: Column = lit(1.0)): DataFrame = {
    val pairs = cols.map { c =>
      struct(lit(c).as("col_name"),
        Binning.binIndex(col(c), boundsFor(c)).as("bin_id"))
    }
    df.select(explode(array(pairs: _*)).as("cb"),
        isPos.cast("long").as("pos"), weight.cast("double").as("w"))
      .select(col("cb.col_name"), col("cb.bin_id"), col("pos"), col("w"))
      .groupBy("col_name", "bin_id")
      .agg(sum("pos").as("cnt_pos"),
        (count(lit(1)) - sum("pos")).as("cnt_neg"),
        sum(when(col("pos") === 1, col("w")).otherwise(0.0)).as("w_pos"),
        sum(when(col("pos") === 1, 0.0).otherwise(col("w"))).as("w_neg"))
  }

  /** Numeric profiling: moments + equal-interval bins + (count AND
    * weighted) bin duals + KS/IV/WoE with their weighted duals, in two
    * scans total. With `full = true` the first scan additionally fills
    * the long tail of the reference's per-column ColumnStats
    * (`udf/CalculateNewStatsUDF.java:86-117`): quartiles,
    * skewness/kurtosis, HLL distinct, missing percentage. The tail's
    * quartile sketch is a typed-imperative aggregate, which keeps the
    * pass out of whole-stage codegen; because the pass is long format
    * ([[statsAggregate]]), the projections each task generates are one
    * value wide whatever the column count. The lifecycle `stats` step
    * opts in while binning-only callers (norm, varsel ranking,
    * posttrain) stay on the lean, moments-only pass.
    * `weight` defaults to 1.0, which makes the weighted duals equal the
    * count metrics (the reference's no-weightColumnName convention). */
  def profileNumeric(df: DataFrame, cols: Seq[String], isPos: Column,
                     k: Int = 10, weight: Column = lit(1.0),
                     pctAccuracy: Int = 10000,
                     full: Boolean = false,
                     boundsOverride: Option[Map[String, Seq[Double]]] = None)
      : Map[String, ColumnProfile] = {
    if (cols.isEmpty) return Map.empty
    val stats: Map[String, FullNumStats] =
      if (full) fullNumericStats(df, cols, pctAccuracy)
      else numericStats(df, cols).map { case (c, b) =>
        c -> FullNumStats(b, 0.0, 0.0, None, None, None, -1L)
      }
    // boundsOverride = the FROZEN-catalog path (incremental stats over a
    // new partition with yesterday's boundaries, eval-norm's contract) —
    // bin counts then ADD across partitions, see ops.StatsMerge
    val bounds = boundsOverride.getOrElse(cols.map { c =>
      val s = stats(c).basic
      c -> Binning.equalInterval(s.min, s.max, k)
    }.toMap)
    val counts = allBinCounts(df, cols, bounds, isPos, weight).collect()
      .groupBy(_.getString(0))
    cols.zipWithIndex.map { case (c, i) =>
      val f = stats(c)
      val s = f.basic
      val nBins = bounds(c).length + 1 // + missing bin
      val pos = Array.fill(nBins)(0.0)
      val neg = Array.fill(nBins)(0.0)
      val wPos = Array.fill(nBins)(0.0)
      val wNeg = Array.fill(nBins)(0.0)
      counts.getOrElse(c, Array.empty).foreach { r =>
        pos(r.getInt(1)) = r.getLong(2).toDouble
        neg(r.getInt(1)) = r.getLong(3).toDouble
        wPos(r.getInt(1)) = r.getDouble(4)
        wNeg(r.getInt(1)) = r.getDouble(5)
      }
      val m = StatsMath.columnMetrics(neg.toIndexedSeq, pos.toIndexedSeq)
      val wm = StatsMath.columnMetrics(wNeg.toIndexedSeq, wPos.toIndexedSeq)
      val total = s.count + s.missing
      c -> ColumnProfile(
        columnNum = i, columnName = c, kind = ColumnKind.Numeric,
        stats = ColumnStats(
          max = Some(s.max), min = Some(s.min), mean = Some(s.mean),
          median = f.median, p25 = f.p25, p75 = f.p75,
          totalCount = total, missingCount = s.missing,
          validNumCount = s.count,
          missingPercentage =
            if (total > 0) s.missing.toDouble / total else 0.0,
          distinctCount = if (full) Some(f.distinct) else None,
          stdDev = Some(s.stdDev),
          ks = m.map(_.ks), iv = m.map(_.iv), woe = m.map(_.woe),
          weightedKs = wm.map(_.ks), weightedIv = wm.map(_.iv),
          weightedWoe = wm.map(_.woe),
          skewness = if (full) f.skewness else None,
          kurtosis = if (full) f.kurtosis else None),
        binning = ColumnBinning(
          binBoundary = bounds(c).toVector,
          binCountPos = pos.map(_.toLong).toVector,
          binCountNeg = neg.map(_.toLong).toVector,
          binPosRate = pos.zip(neg).map { case (p, n) =>
            if (p + n > 0) p / (p + n) else 0.0 }.toVector,
          binWeightedPos = wPos.toVector,
          binWeightedNeg = wNeg.toVector,
          binCountWoe = m.map(_.binWoe).getOrElse(Vector.fill(nBins)(0.0)),
          binWeightedWoe = wm.map(_.binWoe)
            .getOrElse(Vector.fill(nBins)(0.0))))
    }.toMap
  }

  /** Categorical profiling: one scan collects per-category pos/neg counts;
    * categories ordered lexicographically (deterministic catalog).
    * High-cardinality guard: only the `maxCategories` most frequent
    * categories per column ever reach the driver (the reference's
    * MAX_CATEGORICAL_BINC_COUNT cap) — the rank filter runs distributed,
    * partitioned by column. */
  def profileCategorical(df: DataFrame, cols: Seq[String], isPos: Column,
                         maxCategories: Int = 10000,
                         weight: Column = lit(1.0),
                         categoriesOverride:
                           Option[Map[String, Seq[String]]] = None)
      : Map[String, ColumnProfile] = {
    if (cols.isEmpty) return Map.empty
    // categoriesOverride = the FROZEN-catalog path (incremental stats
    // over a new partition with yesterday's category list): values
    // outside the frozen list fold into the missing/invalid slot
    // DISTRIBUTED — the groupBy key space stays bounded by the frozen
    // list, and the resulting profiles merge (ops.StatsMerge)
    val pairs = cols.map { c =>
      val v = categoriesOverride match {
        case Some(frozen) =>
          val allowed = frozen.getOrElse(c, Nil)
          if (allowed.isEmpty) col(c).cast("string")
          else when(col(c).cast("string").isin(allowed.map(lit): _*),
            col(c).cast("string"))
        case None => col(c).cast("string")
      }
      struct(lit(c).as("col_name"), v.as("v"))
    }
    val grouped = df
      .select(explode(array(pairs: _*)).as("cv"),
        // a NULL tag is NOT the positive class (same as the oracles'
        // `CASE WHEN pos THEN 1 ELSE 0`), and a NULL weight carries no
        // mass — left nullable, an all-null group's sum() is NULL and
        // the driver decode crashes (fuzz gate, nulls mode)
        coalesce(isPos.cast("long"), lit(0L)).as("pos"),
        coalesce(weight.cast("double"), lit(0.0)).as("w"))
      .select(col("cv.col_name"), col("cv.v"), col("pos"), col("w"))
      .groupBy("col_name", "v")
      .agg(sum("pos").as("cnt_pos"), (count(lit(1)) - sum("pos")).as("cnt_neg"),
        sum(when(col("pos") === 1, col("w")).otherwise(0.0)).as("w_pos"),
        sum(when(col("pos") === 1, 0.0).otherwise(col("w"))).as("w_neg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("col_name")
      .orderBy((col("cnt_pos") + col("cnt_neg")).desc, col("v").asc)
    val counts = (if (categoriesOverride.isDefined) grouped
      else grouped
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= maxCategories)
        .drop("rnk"))
      .collect()
      .groupBy(_.getString(0))
    cols.zipWithIndex.map { case (c, i) =>
      val rows = counts.getOrElse(c, Array.empty)
        .map(r => (Option(r.getString(1)), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5)))
      val seen = rows.collect { case (Some(v), p, n, wp, wn) =>
        (v, p, n, wp, wn) }.sortBy(_._1)
      // frozen mode: EVERY frozen category gets a slot (zero-filled when
      // absent in this partition) so two partition profiles line up
      val cats = categoriesOverride.flatMap(_.get(c)) match {
        case Some(frozen) if frozen.nonEmpty =>
          val byV = seen.map(t => t._1 -> t).toMap
          frozen.sorted.toArray.map(v =>
            byV.getOrElse(v, (v, 0L, 0L, 0.0, 0.0)))
        case _ => seen
      }
      val missing = rows.collect { case (None, p, n, wp, wn) =>
        (p, n, wp, wn) }
      val pos = cats.map(_._2.toDouble) :+
        missing.map(_._1).sum.toDouble
      val neg = cats.map(_._3.toDouble) :+
        missing.map(_._2).sum.toDouble
      val wPos = cats.map(_._4) :+ missing.map(_._3).sum
      val wNeg = cats.map(_._5) :+ missing.map(_._4).sum
      val m = StatsMath.columnMetrics(neg.toIndexedSeq, pos.toIndexedSeq)
      val wm = StatsMath.columnMetrics(wNeg.toIndexedSeq, wPos.toIndexedSeq)
      val total = (pos.sum + neg.sum).toLong
      val missCnt = missing.map(t => t._1 + t._2).sum
      c -> ColumnProfile(
        columnNum = i, columnName = c, kind = ColumnKind.Categorical,
        stats = ColumnStats(
          totalCount = total,
          missingCount = missCnt,
          missingPercentage =
            if (total > 0) missCnt.toDouble / total else 0.0,
          distinctCount = Some(cats.length.toLong),
          ks = m.map(_.ks), iv = m.map(_.iv), woe = m.map(_.woe),
          weightedKs = wm.map(_.ks), weightedIv = wm.map(_.iv),
          weightedWoe = wm.map(_.woe)),
        binning = ColumnBinning(
          binCategory = cats.map(_._1).toVector,
          binCountPos = pos.map(_.toLong).toVector,
          binCountNeg = neg.map(_.toLong).toVector,
          binPosRate = pos.zip(neg).map { case (p, n) =>
            if (p + n > 0) p / (p + n) else 0.0 }.toVector,
          binWeightedPos = wPos.toVector,
          binWeightedNeg = wNeg.toVector,
          binCountWoe = m.map(_.binWoe)
            .getOrElse(Vector.fill(pos.length)(0.0)),
          binWeightedWoe = wm.map(_.binWoe)
            .getOrElse(Vector.fill(pos.length)(0.0))))
    }.toMap
  }
}
