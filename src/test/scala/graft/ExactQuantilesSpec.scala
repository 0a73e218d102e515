package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ExactQuantiles must equal exact percentile_approx VALUE-FOR-VALUE
  * (rank = ceil(p·n)), under duplicates, skew, nulls/NaNs, and any
  * partitioning. The first case is the evidence for that rank
  * convention: random multisets with duplicates and nulls, across
  * repartitionings (the one-off probe main `tools.QuantileConvention`
  * that first found it was last carried by `b88db51`). */
class ExactQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("matches percentile_approx(MaxInt) on random multisets with " +
    "nulls, across repartitionings") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val probs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.999)
    (1 to 5).foreach { trial =>
      val n = 500 + rnd.nextInt(2000)
      val rows = (1 to n).map { _ =>
        val a = rnd.nextInt(40).toDouble // heavy duplicates
        val b = rnd.nextGaussian() * 1000
        val c: Option[Double] =
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextDouble())
        (a, b, c)
      }
      val df = rows.toDF("a", "b", "c").repartition(1 + rnd.nextInt(13))
      val got = graft.ops.ExactQuantiles.quantiles(df, Seq("a", "b", "c"),
        probs)
      Seq("a", "b", "c").foreach { cName =>
        val want = df.agg(percentile_approx(col(cName),
            array(probs.map(lit): _*), lit(2147483647)))
          .head().getSeq[Double](0)
        // bit compare: NaN == NaN must hold (percentile of NaN-bearing
        // data is legitimately NaN at high probs)
        assert(got(cName).map(java.lang.Double.doubleToLongBits) ===
          want.toSeq.map(java.lang.Double.doubleToLongBits),
          s"trial $trial column $cName: ${got(cName)} vs $want")
      }
    }
  }

  test("groupedQuantiles matches grouped exact percentile_approx per " +
    "group, including skewed and singleton groups") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 4000).map { _ =>
      val g = // skew: one hot group, several small, some singletons
        if (rnd.nextInt(3) == 0) "hot"
        else s"g${rnd.nextInt(30)}"
      (g, rnd.nextInt(200).toDouble)
    } :+ (("loner", 7.5))
    val df = rows.toDF("g", "v").repartition(7)
    val probs = Seq(0.1, 0.5, 0.9)
    val got = graft.ops.ExactQuantiles
      .groupedQuantiles(df, "g", "v", probs)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getDouble(3)))
      .toMap
    val want = df.groupBy("g").agg(percentile_approx(col("v"),
        array(probs.map(lit): _*), lit(2147483647)).as("q"))
      .collect().flatMap { r =>
        r.getSeq[Double](1).zipWithIndex.map { case (q, i) =>
          ((r.getString(0), i), q)
        }
      }.toMap
    assert(got === want)
    assert(got(("loner", 1)) === 7.5)
  }

  test("fullNumericStats exact quantiles are identical on BOTH sides of " +
    "the dispatch threshold (in-agg sketch vs distributed prefix sums)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    val df = (1 to 3000).map { _ =>
      (rnd.nextInt(500).toDouble,
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextGaussian() * 50))
    }.toDF("x", "y").repartition(5)
    val cols = Seq("x", "y")
    val small = graft.ops.StatsPipeline.fullNumericStats(
      df, cols, pctAccuracy = Int.MaxValue) // under threshold: in-agg
    val dist = graft.ops.StatsPipeline.fullNumericStats(
      df, cols, pctAccuracy = Int.MaxValue,
      exactDispatchThreshold = 1L) // forced distributed branch
    cols.foreach { c =>
      assert(small(c).p25 === dist(c).p25, c)
      assert(small(c).median === dist(c).median, c)
      assert(small(c).p75 === dist(c).p75, c)
    }
    // quantilesAuto's branches agree across ALL THREE dispatch tiers:
    // fused small path, fused-then-fallback (row guard), and the
    // scan-free bytes tier that skips the deciding job entirely
    val a = graft.ops.ExactQuantiles.quantilesAuto(df, cols, Seq(0.5))
    val b = graft.ops.ExactQuantiles.quantilesAuto(df, cols, Seq(0.5),
      rowThreshold = 1L)
    val c2 = graft.ops.ExactQuantiles.quantilesAuto(df, cols, Seq(0.5),
      bytesThreshold = 0L)
    assert(a === b)
    assert(a === c2)
  }

  test("quantilesAuto fused small path runs a single Spark job (the " +
    "standalone count+distinct dispatch pre-pass is gone)") {
    val s = spark
    import s.implicits._
    val df = (1 to 2000).map(i => (i % 97).toDouble).toDF("v")
    val probs = Seq(0.25, 0.5, 0.75)
    val want = df.agg(percentile_approx(col("v"),
        array(probs.map(lit): _*), lit(2147483647)))
      .head().getSeq[Double](0).toSeq
    val sc = s.sparkContext
    sc.setJobGroup("qa_fused_probe", "quantilesAuto job-count probe",
      interruptOnCancel = false)
    val got = try graft.ops.ExactQuantiles.quantilesAuto(df, Seq("v"),
      probs) finally sc.clearJobGroup()
    assert(got("v") === want)
    // one aggregation = ≤2 jobs under AQE (the partial-agg shuffle
    // materializes as its own job); the removed count+distinct
    // pre-pass would have doubled this
    val jobs = sc.statusTracker.getJobIdsForGroup("qa_fused_probe").length
    assert(jobs <= 2,
      s"fused dispatch must cost one aggregation (≤2 AQE jobs), saw $jobs")
  }

  test("all three quantilesAuto tiers return identical values: " +
    "driver-sort collect, fused in-agg (collectBudget=0), distributed " +
    "(thresholds=0)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 3000).map { _ =>
      (rnd.nextInt(50).toDouble,
        if (rnd.nextInt(7) == 0) None else Some(rnd.nextGaussian() * 10))
    }
    val df = rows.toDF("a", "b").repartition(5)
    val probs = Seq(0.1, 0.25, 0.5, 0.75, 0.99)
    val viaCollect = graft.ops.ExactQuantiles.quantilesAuto(
      df, Seq("a", "b"), probs)
    val viaAgg = graft.ops.ExactQuantiles.quantilesAuto(
      df, Seq("a", "b"), probs, collectBudget = 0L)
    val viaDistributed = graft.ops.ExactQuantiles.quantilesAuto(
      df, Seq("a", "b"), probs, rowThreshold = 0L,
      distinctThreshold = 0L, collectBudget = 0L)
    assert(viaCollect === viaAgg)
    assert(viaCollect === viaDistributed)
  }

  test("degenerate shapes: constant column, single row, all-null column") {
    val s = spark
    import s.implicits._
    val df = Seq.fill(100)((5.0, 1.0)).toDF("k", "one")
      .withColumn("nul", lit(null).cast("double"))
    val q = graft.ops.ExactQuantiles.quantiles(df, Seq("k", "nul"),
      Seq(0.0, 0.5, 1.0))
    assert(q("k") === Seq(5.0, 5.0, 5.0))
    assert(q("nul").forall(_.isNaN))
    val one = Seq(42.0).toDF("v")
    assert(graft.ops.ExactQuantiles.quantiles(one, Seq("v"), Seq(0.5))
      .apply("v") === Seq(42.0))
  }
}
