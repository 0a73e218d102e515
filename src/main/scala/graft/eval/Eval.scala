package graft.eval

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.ops.RangeScan

/** Distributed evaluation operators.
  *
  * The reference sorts all scores with a Hadoop total-order sort
  * (`Eval.pig:39`) then streams them SINGLE-THREADED through the driver
  * (`core/ConfusionMatrix.java:276-520`
  * bufferedComputeConfusionMatrixAndPerformance) — a non-starter at 100 TB.
  * Here every ranking (the bucket sweep and [[Eval.rankAuc]]) runs over
  * the one distributed total order, [[graft.ops.RangeScan]], and only the
  * ≤ numBucket+1 bucket rows ever reach the driver, where the ROC/PR
  * trapezoids are summed (`core/eval/AreaUnderCurve.java:9-60`).
  */
object Eval {

  /** Bucketed confusion matrix: rows ordered by score desc (deterministic
    * tie-break), split into `buckets` equal-frequency buckets (ntile
    * semantics, reference `performanceBucketNum=10`, `EvalConfig.java:46`);
    * emits cumulative TP/FP/TN/FN at each bucket boundary — all integers.
    * Math mirrors `core/PerformanceEvaluator.java:201-330`.
    *
    * Scale note: `ntile().over(Window.orderBy(...))` would funnel every row
    * through ONE partition. Instead ranks come from the range scan's
    * per-partition prefixes, ntile buckets are assigned in closed form,
    * and only `buckets` tiny rows per partition leave the executors. */
  def confusionSweep(df: DataFrame, score: Column, isPos: Column,
                     tieBreak: Seq[Column], buckets: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    sweepBuckets(df, score, isPos, tieBreak, lit(1.0), buckets)
      .map { case (b, tp, fp, fn, tn, _, _, _, _) => (b, tp, fp, fn, tn) }
      .toSeq.toDF("bucket", "tp", "fp", "fn", "tn")
  }

  /** Weighted dual of the sweep (reference PerformanceObject's weighted
    * TP/FP/FN/TN, `core/PerformanceEvaluator.java:201-330`): cumulative
    * POSITIVE-WEIGHT and total-weight sums at the same ntile boundaries. */
  def weightedSweep(df: DataFrame, score: Column, isPos: Column,
                    weight: Column, tieBreak: Seq[Column],
                    buckets: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    sweepBuckets(df, score, isPos, tieBreak, weight, buckets)
      .map { case (b, tp, fp, fn, tn, wtp, wfp, wfn, wtn) =>
        (b, tp, fp, fn, tn, math.rint(wtp * 1e4) / 1e4,
          math.rint(wfp * 1e4) / 1e4, math.rint(wfn * 1e4) / 1e4,
          math.rint(wtn * 1e4) / 1e4)
      }
      .toSeq
      .toDF("bucket", "tp", "fp", "fn", "tn", "wtp", "wfp", "wfn", "wtn")
  }

  /** Operating points at fixed FPR targets (reference
    * `PerformanceEvaluator.java:201-330` buckets performance by FPR /
    * recall as well as action rate): run the distributed sweep at fine
    * resolution, then pick for each target the FIRST bucket whose FPR
    * reaches it — bounded driver selection over ≤ `buckets` rows, no
    * extra scan. */
  def operatingPoints(df: DataFrame, score: Column, isPos: Column,
                      tieBreak: Seq[Column], buckets: Int = 100,
                      fprTargetsPct: Seq[Int] = (10 to 90 by 10))
      : DataFrame =
    firstReaching(df, score, isPos, tieBreak, buckets, fprTargetsPct) {
      (_, fp, _, tn) => fp.toDouble / (fp + tn)
    }

  /** Recall-bucketed dual of [[operatingPoints]] (the reference's other
    * PerformanceObject bucketing mode): first bucket reaching each
    * recall target. */
  def recallPoints(df: DataFrame, score: Column, isPos: Column,
                   tieBreak: Seq[Column], buckets: Int = 100,
                   recallTargetsPct: Seq[Int] = (10 to 90 by 10))
      : DataFrame =
    firstReaching(df, score, isPos, tieBreak, buckets, recallTargetsPct) {
      (tp, _, fn, _) => tp.toDouble / (tp + fn)
    }

  /** (target_pct, bucket, tp, fp, fn, tn): per target, the first bucket
    * whose `rate(tp, fp, fn, tn)` reaches target_pct / 100. */
  private def firstReaching(df: DataFrame, score: Column, isPos: Column,
      tieBreak: Seq[Column], buckets: Int, targetsPct: Seq[Int])(
      rate: (Long, Long, Long, Long) => Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = sweepBuckets(df, score, isPos, tieBreak, lit(1.0), buckets)
    targetsPct.flatMap { t =>
      rows.find(r => rate(r._2, r._3, r._4, r._5) >= t / 100.0)
        .map(r => (t.toLong, r._1.toLong, r._2, r._3, r._4, r._5))
    }.toDF("target_pct", "bucket", "tp", "fp", "fn", "tn")
  }

  /** Shared distributed sweep core over [[graft.ops.RangeScan]]: the
    * range scan's prefixes are row ranks, which place each row in its
    * closed-form ntile bucket; each task returns per-bucket partials and
    * the driver runs the cumulative pass over ≤ buckets rows. */
  private def sweepBuckets(df: DataFrame, score: Column, isPos: Column,
                           tieBreak: Seq[Column], weight: Column,
                           buckets: Int): Array[(Int, Long, Long, Long, Long,
                             Double, Double, Double, Double)] = {
    // NULL tag = not the positive class, NULL weight = no mass (both
    // mirror the oracles' CASE/sum-skip arithmetic; nullable here NPE'd
    // the driver decode — fuzz gate, nulls mode). NULL scores stay:
    // both engines rank them last under DESC.
    val cols = Seq(coalesce(isPos.cast("long"), lit(0L)).as("pos"),
      coalesce(weight.cast("double"), lit(0.0)).as("w"), score.as("s")) ++
      tieBreak.zipWithIndex.map { case (c, i) => c.as(s"tb_$i") }
    val order = col("s").desc +: tieBreak.indices.map(i => col(s"tb_$i").asc)
    val ranked = RangeScan.sorted(df.select(cols: _*), order,
      RangeScan.width(df))(r => (r.getLong(0), r.getDouble(1)))
    val perBucket = RangeScan.prefixed(ranked, 0L)(_ + _, _.size.toLong) {
      p =>
        val n = p.total
        val base = n / buckets
        val rem = (n % buckets).toInt
        val cut = rem * (base + 1) // ranks below this: the +1-sized buckets
        // ≤ buckets tiny tuples per task come to the driver, no shuffle
        p.emit { (first, it) =>
          var r = first
          val acc = new java.util.TreeMap[Int, Array[Double]]()
          it.foreach { case (pos, w) =>
            val b = if (base == 0 || r < cut) (r / (base + 1)).toInt + 1
                    else rem + ((r - cut) / base).toInt + 1
            val slot = acc.computeIfAbsent(b, _ => new Array[Double](4))
            slot(0) += pos; slot(1) += 1
            if (pos == 1L) slot(2) += w
            slot(3) += w
            r += 1
          }
          import scala.jdk.CollectionConverters._
          acc.asScala.iterator.map { case (b, s) =>
            (b, (s(0).toLong, s(1).toLong, s(2), s(3)))
          }
        }.collect()
    }.groupBy(_._1).map { case (b, xs) =>
        // partitions are rank-contiguous: merge order is by partition, and
        // all weights per bucket are integer-valued → sums exact anyway
        (b, xs.map(_._2).reduce((a, c) =>
          (a._1 + c._1, a._2 + c._2, a._3 + c._3, a._4 + c._4)))
      }
      .toArray.sortBy(_._1)
    // cumulative sweep over <= buckets rows: driver math, like the
    // reference's ColumnStatsCalculator pattern
    val totPos = perBucket.map(_._2._1).sum
    val totN = perBucket.map(_._2._2).sum
    val totWPos = perBucket.map(_._2._3).sum
    val totW = perBucket.map(_._2._4).sum
    var cumPos = 0L; var cumN = 0L; var cumWPos = 0.0; var cumW = 0.0
    perBucket.map { case (b, (bPos, bN, bWPos, bW)) =>
      cumPos += bPos; cumN += bN; cumWPos += bWPos; cumW += bW
      (b, cumPos, cumN - cumPos, totPos - cumPos,
        (totN - totPos) - (cumN - cumPos),
        cumWPos, cumW - cumWPos, totWPos - cumWPos,
        (totW - totWPos) - (cumW - cumWPos))
    }
  }

  /** Exact ROC AUC of scored rows: the Mann–Whitney statistic of `score`
    * (NULL scores skipped) with `isPos` positive (NULL is not), ties
    * counted half, summed as 2U in `Long`s — repeatable under any
    * partitioning, unlike MLlib's evaluator, whose ROC bins follow a
    * sampled sort. One pass over [[graft.ops.RangeScan]]'s sorted rows:
    * equal scores share a partition, each folds its run ([[rankFold]]),
    * and the driver adds the cross-partition term ([[foldAuc]]). NaN when
    * a class is empty. */
  private[graft] def rankAuc(df: DataFrame, score: Column,
                             isPos: Column): Double = {
    val scored = df.select(score.cast("double").as("s"),
      coalesce(isPos, lit(false)).as("pos")).filter(col("s").isNotNull)
    foldAuc(RangeScan.sorted(scored, Seq(col("s").asc),
      RangeScan.width(df))(r => (r.getDouble(0), r.getBoolean(1)))
      .mapPartitions(rows => Iterator.single(rankFold(rows)))
      .collect()) // in partition order, i.e. ascending score ranges
  }

  /** [[rankAuc]] of scores held on the driver: one sorted run, the same
    * fold. Spark's ascending order puts NaN last, as `TotalOrdering`
    * does; it keeps -0.0 and 0.0 together, and the fold counts them as
    * one score either way. */
  private[graft] def rankAuc(scored: Array[(Double, Boolean)]): Double =
    foldAuc(Seq(rankFold(
      scored.sortBy(_._1)(Ordering.Double.TotalOrdering).iterator)))

  /** The Mann–Whitney fold of ascending (score, positive) rows: per run of
    * equal scores, its positives each beat the negatives below it (2
    * each) and tie its own negatives (1 each). Returns (positives,
    * negatives, 2U). */
  private def rankFold(rows: Iterator[(Double, Boolean)]): (Long, Long, Long) = {
    var pos, neg, u2, runPos, runNeg = 0L
    var prev = 0.0
    def close(): Unit = {
      u2 += runPos * (2 * neg + runNeg)
      pos += runPos; neg += runNeg; runPos = 0L; runNeg = 0L
    }
    rows.foreach { case (x, isP) =>
      if ((runPos + runNeg) > 0 && !(x == prev || (x.isNaN && prev.isNaN)))
        close()
      prev = x
      if (isP) runPos += 1 else runNeg += 1
    }
    close()
    (pos, neg, u2)
  }

  /** AUC of [[rankFold]]s over ascending, disjoint score ranges: every
    * negative of an earlier range scores strictly lower. */
  private def foldAuc(folds: Seq[(Long, Long, Long)]): Double = {
    var negBelow, u2 = 0L
    folds.foreach { case (p, n, local) =>
      u2 += local + 2 * p * negBelow
      negBelow += n
    }
    val (nPos, nNeg) = (folds.map(_._1).sum, negBelow)
    if (nPos == 0 || nNeg == 0) Double.NaN
    else u2.toDouble / (2.0 * nPos.toDouble * nNeg.toDouble)
  }

  /** Gain-chart rows per bucket (reference `core/eval/GainChart.java` /
    * PerformanceObject fields :34-69): action rate, recall, precision,
    * lift — derived from the integer sweep, rounded for oracle parity. */
  def gainChart(sweep: DataFrame): DataFrame =
    sweep.select(
      col("bucket"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      round((col("tp") + col("fp")).cast("double") /
        (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("action_rate"),
      round(col("tp").cast("double") / (col("tp") + col("fn")), 6).as("recall"),
      round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("precision"),
      round((col("tp").cast("double") / (col("tp") + col("fn"))) /
        ((col("tp") + col("fp")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn"))), 6).as("lift"))

  /** Self-contained HTML gain-chart report (reference `shifu eval`'s
    * `core/eval/GainChart.java:39-110` `generateHtml`; the reference
    * inlines a JS template — here a dependency-free static page): the
    * per-bucket table plus an inline SVG of recall & lift vs action rate.
    * Driver-side rendering of an already-aggregated ≤buckets-row frame —
    * no executor work beyond the sweep itself. */
  def gainChartHtml(gain: DataFrame, path: String,
                    title: String = "graft eval"): Unit = {
    val rows = gain.orderBy("bucket").collect()
    def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    def fmt(v: Any): String = v match {
      case d: Double => f"$d%.6f"
      case x => esc(String.valueOf(x))
    }
    if (rows.isEmpty) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        s"<!DOCTYPE html><html><body><h2>${esc(title)} — gain chart" +
          "</h2><p>no buckets</p></body></html>\n")
      return
    }
    val cols = gain.columns
    val thead = cols.map(c => s"<th>${esc(c)}</th>").mkString
    val tbody = rows.map(r =>
      "<tr>" + cols.indices.map(i => s"<td>${fmt(r.get(i))}</td>").mkString +
        "</tr>").mkString("\n")
    def polyline(xs: Seq[Double], ys: Seq[Double], color: String): String = {
      val pts = xs.zip(ys).map { case (x, y) =>
        f"${40 + x * 500}%.1f,${260 - y * 220}%.1f"
      }.mkString(" ")
      s"""<polyline fill="none" stroke="$color" stroke-width="2" points="$pts"/>"""
    }
    val ar = rows.map(_.getAs[Double]("action_rate"))
    val recall = rows.map(_.getAs[Double]("recall"))
    val maxLift = rows.map(_.getAs[Double]("lift")).max.max(1e-9)
    val lift = rows.map(_.getAs[Double]("lift") / maxLift)
    val svg =
      s"""<svg width="580" height="300" style="border:1px solid #ccc">
         |<line x1="40" y1="260" x2="540" y2="260" stroke="#888"/>
         |<line x1="40" y1="40" x2="40" y2="260" stroke="#888"/>
         |${polyline(ar.toIndexedSeq, recall.toIndexedSeq, "#1f77b4")}
         |${polyline(ar.toIndexedSeq, lift.toIndexedSeq, "#d62728")}
         |<text x="440" y="60" fill="#1f77b4">recall</text>
         |<text x="440" y="80" fill="#d62728">lift (/${f"$maxLift%.2f"})</text>
         |<text x="250" y="285" fill="#555">action rate</text>
         |</svg>""".stripMargin
    val html =
      s"""<!DOCTYPE html><html><head><meta charset="utf-8">
         |<title>${esc(title)}</title>
         |<style>table{border-collapse:collapse}td,th{border:1px solid #999;
         |padding:3px 8px;font:12px monospace}</style></head>
         |<body><h2>${esc(title)} — gain chart</h2>
         |$svg
         |<table><thead><tr>$thead</tr></thead><tbody>
         |$tbody
         |</tbody></table></body></html>
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), html)
  }

  /** PR AUC by trapezoid over the bucket boundaries
    * (`AreaUnderCurve.ofPr`): recall on x, precision on y; the first
    * segment extends flat from recall 0 at the first bucket's precision
    * (the SQL oracle's lag-coalesce). NaN without positives. */
  def prAuc(sweep: DataFrame): DataFrame =
    trapezoids(sweep, "pr_auc") { (tp, fp, fn, _) =>
      (tp.toDouble / (tp + fn), tp.toDouble / (tp + fp))
    }(firstY = y => y)

  /** ROC AUC by trapezoid over the bucket boundaries, with the (0,0)
    * origin prepended (`AreaUnderCurve.ofRoc`). NaN unless both classes
    * are present. */
  def rocAuc(sweep: DataFrame): DataFrame =
    trapezoids(sweep, "auc") { (tp, fp, fn, tn) =>
      (fp.toDouble / (fp + tn), tp.toDouble / (tp + fn))
    }(firstY = _ => 0.0)

  /** Trapezoid area under the points `xy(tp, fp, fn, tn)` of a sweep's
    * ≤ buckets rows, computed on the driver in bucket order from
    * (0, `firstY`) — the reference's AreaUnderCurve loop and the SQL
    * oracles' `round(sum(...), 6)` over lagged points, with Spark's
    * `round` (HALF_UP on the double's shortest decimal form; NaN and
    * ±Inf pass through). One-row local frame; NaN for an empty sweep. */
  private def trapezoids(sweep: DataFrame, name: String)(
      xy: (Long, Long, Long, Long) => (Double, Double))(
      firstY: Double => Double): DataFrame = {
    val pts = sweep.select(Seq("bucket", "tp", "fp", "fn", "tn")
        .map(c => col(c).cast("long")): _*).collect()
      .sortBy(_.getLong(0)).map(r => xy(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // each point paired with the one before it, the first with (0, firstY)
    val sum = if (pts.isEmpty) Double.NaN
      else ((0.0, firstY(pts.head._2)) +: pts).zip(pts).foldLeft(0.0) {
        case (acc, ((x0, y0), (x, y))) => acc + (x - x0) * (y + y0) / 2
      }
    val area = graft.ops.StatsMath.round(sum, 6)
    sweep.sparkSession.createDataFrame(java.util.List.of(Row(area)),
      StructType(Seq(StructField(name, DoubleType))))
  }
}
