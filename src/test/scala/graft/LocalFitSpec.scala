package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.train.Train

/** `Train.logistic`'s driver fit against MLlib's distributed fit of the
  * same rows (`logisticWith(…, localMax = 0)`), and the driver fit's job
  * budget. */
class LocalFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def lr(t: Train.Trained) =
    t.model.stages.last.asInstanceOf[LogisticRegressionModel]

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Coefficients and intercepts within 1e-9 relative, equal AUCs (NaN
    * on both sides counts as equal), the same stages and the same
    * explicitly set params. */
  private def assertParity(local: Train.Trained, dist: Train.Trained,
                           what: String): Unit = {
    val (a, b) = (lr(local), lr(dist))
    val (ca, cb) = (a.coefficientMatrix.toArray, b.coefficientMatrix.toArray)
    assert(ca.length === cb.length, what)
    ca.zip(cb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(close(x, y), s"$what: coefficient $i $x vs $y")
    }
    a.interceptVector.toArray.zip(b.interceptVector.toArray).foreach {
      case (x, y) => assert(close(x, y), s"$what: intercept $x vs $y")
    }
    assert(local.auc === dist.auc ||
      (local.auc.isNaN && dist.auc.isNaN), s"$what: auc")
    assert(local.model.stages.map(_.getClass).toSeq ===
      dist.model.stages.map(_.getClass).toSeq, what)
    def set(m: LogisticRegressionModel) =
      m.params.flatMap(p => m.get(p).map(p.name -> _)).toMap
    assert(set(a) === set(b), what)
    assert(a.numClasses === b.numClasses, what)
  }

  private def gauss(n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val pos = rnd.nextDouble() < 0.25
      (rnd.nextGaussian() + (if (pos) 1.0 else 0.0),
        rnd.nextGaussian() * 4 - 2, rnd.nextGaussian() * 0.01, pos)
    }.toDF("x1", "x2", "x3", "label")
  }

  test("the driver fit matches MLlib's coefficients and intercept to " +
    "1e-9 relative, with the same AUC, on every fixture, in at most " +
    "2 jobs") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dirty = (1 to 1200).map { i =>
      val pos = rnd.nextDouble() < 0.3
      val x1 = i % 7 match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case 2 => Some(Double.PositiveInfinity)
        case 3 => Some(Double.NegativeInfinity)
        case _ => Some(rnd.nextGaussian() + (if (pos) 0.7 else 0.0))
      }
      (x1, rnd.nextGaussian(), pos)
    }.toDF("x1", "x2", "label")
    val flat = gauss(900, 5).withColumn("x4", lit(2.5))
    val fixtures: Seq[(String, DataFrame, Seq[String], Int)] = Seq(
      ("gaussian", gauss(1500, 1), Seq("x1", "x2", "x3"), 20),
      ("null, NaN and ±Inf features", dirty, Seq("x1", "x2"), 20),
      ("a zero-variance feature", flat, Seq("x1", "x4", "x2"), 20),
      ("maxIter = 1", gauss(1500, 1), Seq("x1", "x2", "x3"), 1),
      ("a 4-partition input", gauss(2000, 9).repartition(4),
        Seq("x1", "x2", "x3"), 20))
    fixtures.foreach { case (what, df, feats, maxIter) =>
      val (local, jobs) = TestBus.jobsOf(spark.sparkContext)(
        Train.logistic(df, feats, col("label"), maxIter))
      // the repartition's shuffle is the input's own job
      assert(jobs.length <= (if (what.contains("partition")) 3 else 2),
        s"$what: ${jobs.length} jobs")
      val dist = Train.logisticWith(df, feats, col("label"), maxIter, 0L)
      assertParity(local, dist, what)
    }
    // the zero-variance feature gets MLlib's zero coefficient
    val t = Train.logistic(flat, Seq("x1", "x4", "x2"), col("label"))
    assert(lr(t).coefficients(1) === 0.0)
  }

  test("rows the driver fit does not cover take MLlib's path: one class, " +
    "a label of 2, no rows") {
    val base = gauss(600, 11)
    val cases: Seq[(String, DataFrame, Column)] = Seq(
      ("one class", base, lit(false)),
      ("a label of 2", base,
        when(col("x2") > 3, lit(2)).otherwise(col("label").cast("int"))),
      ("no rows", base.filter(lit(false)), col("label")))
    cases.foreach { case (what, df, label) =>
      def run(cap: Option[Long]) = scala.util.Try(cap.fold(
        Train.logistic(df, Seq("x1", "x2"), label))(
        Train.logisticWith(df, Seq("x1", "x2"), label, 20, _)))
      (run(None), run(Some(0L))) match {
        case (scala.util.Success(a), scala.util.Success(b)) =>
          assertParity(a, b, what)
        case (scala.util.Failure(a), scala.util.Failure(b)) =>
          assert(a.getClass === b.getClass, what)
          assert(a.getMessage === b.getMessage, what)
        case (a, b) => fail(s"$what: driver path $a, MLlib $b")
      }
    }
    val two = Train.logistic(base, Seq("x1", "x2"),
      when(col("x2") > 3, lit(2)).otherwise(col("label").cast("int")))
    assert(lr(two).numClasses === 3)
  }

  test("the row count behind the cap is exact under local and reliable " +
    "checkpoints, and a fit over the cap runs no job beyond MLlib's") {
    val sc = spark.sparkContext
    val df = gauss(700, 13)
    val feats = Seq("x1", "x2")
    def run(localMax: Long) = TestBus.jobsOf(sc)(
      Train.logisticWith(df, feats, col("label"), 20, localMax))
    def check(ckptJobs: Int, what: String): Unit = {
      val (dist, distJobs) = run(0L)
      val (atCap, atJobs) = run(700L * 2)
      assert(atJobs.length <= ckptJobs + 1, s"$what: ${atJobs.length} jobs")
      assertParity(atCap, dist, s"$what: at the cap")
      val (over, overJobs) = run(700L * 2 - 1)
      assert(overJobs.length === distJobs.length, what)
      assertParity(over, dist, s"$what: one value over the cap")
    }
    check(1, "local checkpoint")
    // a reliable checkpoint computes the rows twice: a count pass, then
    // the write
    val dir = java.nio.file.Files.createTempDirectory("graft_lf_ckpt")
    spark.conf.set(Ckpt.DirKey, dir.toString)
    try check(2, "reliable checkpoint")
    finally spark.conf.unset(Ckpt.DirKey)
  }

  test("job budget: a fit under the cap runs at most 2 jobs, bagged with " +
    "k = 3 at most 6, and the distributed fit more than that") {
    val sc = spark.sparkContext
    val df = spark.range(0, 3000, 1, 4).select(col("id"),
      (pmod(xxhash64(col("id")), lit(1000)) / 100.0).as("x1"),
      (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 250.0).as("x2"),
      (pmod(xxhash64(col("id"), lit(2)), lit(10)) < 3).as("label"))
    val feats = Seq("x1", "x2")
    val (_, one) = TestBus.jobsOf(sc)(Train.logistic(df, feats, col("label")))
    assert(one.length <= 2, s"${one.length} jobs")
    val (_, dist) = TestBus.jobsOf(sc)(
      Train.logisticWith(df, feats, col("label"), 20, 0L))
    assert(dist.length > 6, s"${dist.length} jobs")
    // the bags fit on pool threads, which need not carry this thread's
    // job group: count every job started while `bagged` runs
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    val bags = try Train.bagged(df, feats, col("label"), col("id"), k = 3)
    finally { TestBus.drain(sc); sc.removeSparkListener(l) }
    assert(bags.length === 3)
    assert(started.get <= 6, s"${started.get} jobs")
  }
}
