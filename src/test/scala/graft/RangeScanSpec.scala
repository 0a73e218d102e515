package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.ops.RangeScan

/** The shared range scan behind the offset-ranking operators, and the
  * ROC/PR areas summed on the driver from the sweep's bucket rows. */
class RangeScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the single-partition window formulations the driver areas replace,
  // kept here as the reference they must match bit for bit
  private def windowRoc(sweep: DataFrame): Double = {
    val w = Window.partitionBy(lit(1)).orderBy("bucket")
    sweep.select(
      col("bucket"),
      (col("fp").cast("double") / (col("fp") + col("tn"))).as("fpr"),
      (col("tp").cast("double") / (col("tp") + col("fn"))).as("tpr"))
      .select(
        col("fpr"), col("tpr"),
        lag("fpr", 1, 0.0).over(w).as("fpr0"),
        lag("tpr", 1, 0.0).over(w).as("tpr0"))
      .agg(round(sum((col("fpr") - col("fpr0")) *
        (col("tpr") + col("tpr0")) / 2), 6).as("auc"))
      .head().getDouble(0)
  }

  private def windowPr(sweep: DataFrame): Double = {
    val w = Window.partitionBy(lit(1)).orderBy("bucket")
    sweep.select(
      col("bucket"),
      (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
      (col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"))
      .select(
        col("recall"), col("precision"),
        lag("recall", 1, 0.0).over(w).as("r0"),
        lag("precision", 1).over(w).as("p0"))
      .agg(round(sum((col("recall") - col("r0")) *
        (col("precision") + coalesce(col("p0"), col("precision"))) / 2), 6)
        .as("pr_auc"))
      .head().getDouble(0)
  }

  private def roc(sweep: DataFrame) = Eval.rocAuc(sweep).head().getDouble(0)
  private def pr(sweep: DataFrame) = Eval.prAuc(sweep).head().getDouble(0)

  /** `n` rows over a few distinct scores (ties), positives leaning high;
    * `perfect` ranks every positive above every negative. */
  private def scored(seed: Int, n: Int, perfect: Boolean): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val pos = rnd.nextDouble() < 0.35
      val s = if (perfect) (if (pos) 10000.0 else 0.0) - i
              else (rnd.nextInt(12) + (if (pos) 4 else 0)).toDouble
      (i.toLong, s, pos)
    }.toDF("id", "score", "pos")
  }

  private def sweepOf(d: DataFrame, buckets: Int): DataFrame =
    Eval.confusionSweep(d, col("score"), col("pos"), Seq(col("id")), buckets)

  test("driver rocAuc/prAuc equal the window formulation bit for bit on " +
    "seeded sweeps at 1, 2, 10 and 100 buckets (ties, remainder " +
    "buckets, perfect ranking)") {
    for {
      seed <- 1 to 3
      n <- Seq(37, 237)
      perfect <- Seq(false, true)
      buckets <- Seq(1, 2, 10, 100)
    } {
      val sweep = sweepOf(scored(seed, n, perfect), buckets)
      val clue = s"seed $seed, $n rows, perfect $perfect, $buckets buckets"
      assert(sweep.count() === math.min(n, buckets), clue)
      assert(java.lang.Double.doubleToLongBits(roc(sweep)) ===
        java.lang.Double.doubleToLongBits(windowRoc(sweep)), clue)
      assert(java.lang.Double.doubleToLongBits(pr(sweep)) ===
        java.lang.Double.doubleToLongBits(windowPr(sweep)), clue)
    }
    val perfect = sweepOf(scored(4, 100, perfect = true), 10)
    assert(roc(perfect) === 1.0)
  }

  test("single-class sweeps: ROC AUC is NaN for either class missing, PR " +
    "AUC is NaN without positives and keeps its defined value without " +
    "negatives") {
    import spark.implicits._
    val d = (1 to 40).map(i => (i.toLong, (i % 7).toDouble)).toDF("id", "score")
    val allNeg = sweepOf(d.withColumn("pos", lit(false)), 10)
    val allPos = sweepOf(d.withColumn("pos", lit(true)), 10)
    assert(roc(allNeg).isNaN)
    assert(pr(allNeg).isNaN)
    assert(roc(allPos).isNaN)
    // precision is 1 at every bucket: no division by zero, area 1
    assert(java.lang.Double.doubleToLongBits(pr(allPos)) ===
      java.lang.Double.doubleToLongBits(windowPr(allPos)))
    assert(pr(allPos) === 1.0)
    val empty = sweepOf(d.withColumn("pos", lit(true)).filter(lit(false)), 10)
    assert(roc(empty).isNaN && pr(empty).isNaN)
    assert(Eval.rocAuc(allNeg).columns.toSeq === Seq("auc"))
    assert(Eval.prAuc(allNeg).columns.toSeq === Seq("pr_auc"))
  }

  private def jobsOf(body: => Unit): Int =
    org.apache.spark.TestBus.jobsOf(spark.sparkContext)(body)._2.size

  test("job budget: confusionSweep + rocAuc + prAuc run at most 4 jobs") {
    val d = spark.range(0, 3000, 1, 4).select(col("id"),
      (col("id") * 7919 % 1000).cast("double").as("score"),
      (col("id") % 5 === 0).as("pos"))
    var areas = (0.0, 0.0)
    val jobs = jobsOf {
      val sweep = sweepOf(d, 10)
      areas = (roc(sweep), pr(sweep))
    }
    assert(jobs <= 4, s"$jobs jobs")
    assert(!areas._1.isNaN && !areas._2.isNaN)
  }

  test("an input holding a shuffle is scanned at its planned width: " +
    "reading it launches no job, rankCounts and confusionSweep over a " +
    ".repartition(8) frame run one job more than over its source (the " +
    "input's own shuffle), and the results are equal") {
    val base = spark.range(0, 20000, 1, 4).select(col("id"),
      (col("id") * 7919 % 1000).cast("double").as("score"),
      (col("id") % 5 === 0).as("pos"))
    // a fresh frame per use: a Dataset keeps the RDD it built
    def shuffled = base.repartition(8)
    var width = 0
    assert(jobsOf { width = RangeScan.width(shuffled) } === 0)
    assert(width === 8)
    assert(jobsOf { shuffled.rdd.getNumPartitions; () } === 1,
      "the RDD's count runs the shuffle")
    assert(RangeScan.width(base) === 4)
    def ranks(d: DataFrame) = graft.ops.Rank.rankCounts(d, "score")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Double]).toSeq
    def sweep(d: DataFrame) = sweepOf(d, 10).collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Int]).toSeq
    var got = Seq.empty[Seq[Any]]
    var want = Seq.empty[Seq[Any]]
    assert(jobsOf { want = ranks(base) } === 5)
    assert(jobsOf { got = ranks(shuffled) } === 6)
    assert(got === want)
    assert(jobsOf { want = sweep(base) } === 4)
    assert(jobsOf { got = sweep(shuffled) } === 5)
    assert(got === want)
  }

  test("a throwing emit or summary leaves the persistent RDDs as found") {
    val sc = spark.sparkContext
    val d = spark.range(0, 500, 1, 3).select(col("id").cast("double").as("v"))
    def rows = RangeScan.sorted(d, Seq(col("v").asc), 3)(_.getDouble(0))
    val before = sc.getPersistentRDDs.keySet
    intercept[org.apache.spark.SparkException] {
      RangeScan.prefixed(rows, 0L)(_ + _, _.size.toLong)(
        _.emit[Double]((_, _) => throw new IllegalStateException("emit"))
          .collect())
    }
    assert(sc.getPersistentRDDs.keySet === before)
    intercept[org.apache.spark.SparkException] {
      RangeScan.prefixed(rows, 0L)(_ + _,
        _ => throw new IllegalStateException("summary"))(_.total)
    }
    assert(sc.getPersistentRDDs.keySet === before)
    // and a clean call hands each partition its exclusive prefix
    val firsts = RangeScan.prefixed(rows, 0L)(_ + _, _.size.toLong) { p =>
      (p.emit((off, it) => it.take(1).map(v => (off, v))).collect(), p.total)
    }
    assert(firsts._2 === 500L)
    firsts._1.foreach { case (off, v) => assert(off === v.toLong) }
    assert(sc.getPersistentRDDs.keySet === before)
  }
}
