package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.expr.DotProduct.dot
import graft.train.Train

class TrainDotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("DotProduct expression: interpreted and codegen paths agree") {
    import spark.implicits._
    val d = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val got = d.select(dot(col("a"), col("b"))).head().getDouble(0)
    assert(got === 32.0)
    // null propagation
    val n = Seq((Option.empty[Array[Double]], Option(Array(1.0))))
      .toDF("a", "b")
    assert(n.select(dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("DotProduct matches the HOF formulation on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val rows = (1 to 50).map { _ =>
      (Array.fill(16)(rnd.nextDouble()), Array.fill(16)(rnd.nextDouble()))
    }
    val d = rows.toDF("a", "b")
    val viaExpr = d.select(dot(col("a"), col("b")).as("d")).collect()
      .map(_.getDouble(0))
    val viaHof = d.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 AS double)," +
        " (acc, x) -> acc + x)").as("d")).collect().map(_.getDouble(0))
    viaExpr.zip(viaHof).foreach { case (x, y) => assert(x === y) } // bit-exact
  }

  test("logistic training reaches better-than-random AUC on separable data") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val d = (1 to 2000).map { _ =>
      val pos = rnd.nextBoolean()
      val x1 = rnd.nextGaussian() + (if (pos) 1.5 else -1.5)
      val x2 = rnd.nextGaussian()
      (x1, x2, pos)
    }.toDF("x1", "x2", "label")
    val t = Train.logistic(d, Seq("x1", "x2"), col("label"))
    assert(t.auc > 0.85, s"auc=${t.auc}")
  }

  test("grid search + k-fold picks a model with sane CV metric") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val d = (1 to 600).map { _ =>
      val pos = rnd.nextBoolean()
      (rnd.nextGaussian() + (if (pos) 1.2 else -1.2), rnd.nextGaussian(), pos)
    }.toDF("x1", "x2", "label")
    val (model, cvAuc) = Train.gridSearchLogistic(d, Seq("x1", "x2"),
      col("label"), regParams = Seq(0.0, 0.5), numFolds = 3)
    assert(model.stages.length === 2)
    assert(cvAuc > 0.8, s"cv auc=$cvAuc")
  }

  test("NN (MLP) reaches AUC > 0.8 on separable data; bagged variant too") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val d = (1 to 2000).map { i =>
      val pos = rnd.nextBoolean()
      val x1 = rnd.nextGaussian() + (if (pos) 1.5 else -1.5)
      val x2 = rnd.nextGaussian()
      (i.toLong, x1, x2, pos)
    }.toDF("id", "x1", "x2", "label")
    val t = Train.nn(d, Seq("x1", "x2"), col("label"),
      hidden = Seq(6), maxIter = 60)
    assert(t.auc > 0.8, s"mlp auc=${t.auc}")
    assert(t.model.stages.length === 2)
    val bags = Train.bagged(d, Seq("x1", "x2"), col("label"), col("id"),
      k = 2, trainOne = Train.nn(_, _, _, hidden = Seq(4), maxIter = 40))
    assert(bags.length === 2)
    bags.foreach(b => assert(b.auc > 0.75, s"bagged mlp auc=${b.auc}"))
  }

  test("OneVsRest separates 3 gap-separated bands perfectly on (x, x²)") {
    import spark.implicits._
    // mirrors q_multiclass_ovr: integer feature with wide gaps between
    // bands → every row must classify to its own band
    val qs = (1 to 14) ++ (19 to 31) ++ (36 to 50)
    val d = qs.flatMap(q => Seq.fill(20)(q)).map { q =>
      val band = if (q <= 14) 0.0 else if (q <= 31) 1.0 else 2.0
      (q.toDouble, (q * q).toDouble, band)
    }.toDF("q", "q2", "band")
    val pred = Train.oneVsRest(d, Seq("q", "q2"), col("band"), maxIter = 25)
    val wrong = pred.filter(col("prediction") =!= col("label")).count()
    assert(wrong === 0L, s"$wrong misclassified rows")
  }

  test("OneVsOne pairwise vote separates the 3 bands perfectly too") {
    import spark.implicits._
    val qs = (1 to 14) ++ (19 to 31) ++ (36 to 50)
    val d = qs.flatMap(q => Seq.fill(10)(q)).map { q =>
      val band = if (q <= 14) 0.0 else if (q <= 31) 1.0 else 2.0
      (q.toDouble, (q * q).toDouble, band)
    }.toDF("q", "q2", "band")
    val pred = Train.oneVsOne(d, Seq("q", "q2"), col("band"), maxIter = 25)
    assert(pred.filter(col("prediction") =!= col("label")).count() === 0L)
  }

  test("SVM and DT train and evaluate on separable data") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val d = (1 to 600).map { _ =>
      val pos = rnd.nextBoolean()
      (rnd.nextGaussian() + (if (pos) 1.3 else -1.3), rnd.nextGaussian(), pos)
    }.toDF("x1", "x2", "label")
    assert(Train.svm(d, Seq("x1", "x2"), col("label"), maxIter = 15).auc > 0.8)
    assert(Train.decisionTree(d, Seq("x1", "x2"), col("label"),
      maxDepth = 4).auc > 0.8)
  }

  test("GBT and RF train and evaluate") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val d = (1 to 500).map { _ =>
      val pos = rnd.nextBoolean()
      val x1 = rnd.nextGaussian() + (if (pos) 1.0 else -1.0)
      (x1, rnd.nextGaussian(), pos)
    }.toDF("x1", "x2", "label")
    assert(Train.gbt(d, Seq("x1", "x2"), col("label"), maxIter = 3).auc > 0.7)
    assert(Train.randomForest(d, Seq("x1", "x2"), col("label"),
      numTrees = 5).auc > 0.7)
  }

  test("bagged fits its bags concurrently with the same models as " +
    "sequential logistic fits of the same bag filters") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val d = (1 to 3000).map { i =>
      val pos = rnd.nextDouble() < 0.2
      (i.toLong, rnd.nextGaussian() + (if (pos) 0.8 else 0.0),
        rnd.nextGaussian(), rnd.nextGaussian() * 3, pos)
    }.toDF("id", "x1", "x2", "x3", "label").repartition(4)
    val feats = Seq("x1", "x2", "x3")
    def lr(t: Train.Trained) = t.model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val bags = Train.bagged(d, feats, col("label"), col("id"), k = 3)
    val seq = (0 until 3).map(i =>
      Train.logistic(Train.bag(d, col("id"), i), feats, col("label")))
    assert(bags.length === 3)
    bags.zip(seq).zipWithIndex.foreach { case ((b, s), i) =>
      assert(lr(b).coefficients.toArray.toSeq ===
        lr(s).coefficients.toArray.toSeq, s"bag $i coefficients")
      assert(lr(b).intercept === lr(s).intercept, s"bag $i intercept")
      assert(b.auc === s.auc, s"bag $i auc")
    }
  }

  test("rankAuc is the exact Mann-Whitney AUC, ties counted half, under " +
    "any partitioning; one class gives NaN") {
    import spark.implicits._
    import org.apache.spark.ml.linalg.Vectors
    val rnd = new scala.util.Random(5)
    // few distinct scores, so ties cross partition boundaries
    val rows = (1 to 2000).map { _ =>
      val pos = rnd.nextDouble() < 0.3
      ((rnd.nextInt(40) + (if (pos) 8 else 0)) / 4.0, pos)
    }
    val (ps, ns) = (rows.filter(_._2).map(_._1), rows.filterNot(_._2).map(_._1))
    val u2 = ps.map(p => ns.map(n =>
      if (p > n) 2L else if (p == n) 1L else 0L).sum).sum
    val exact = u2.toDouble / (2.0 * ps.length * ns.length)
    val df = rows.map { case (x, pos) =>
      (Vectors.dense(-x, x), if (pos) 1.0 else 0.0)
    }.toDF("rawPrediction", "label")
    def auc(d: org.apache.spark.sql.DataFrame) = graft.eval.Eval.rankAuc(d,
      org.apache.spark.ml.functions.vector_to_array($"rawPrediction")(1),
      $"label" > 0.5)
    Seq(1, 3, 8).foreach { n =>
      assert(auc(df.repartition(n)) === exact, s"$n partitions")
    }
    assert(auc(df.filter($"label" === 0.0)).isNaN)
  }

  test("bagged raises a failing bag's error after the other bags finish, " +
    "and does not hang") {
    import spark.implicits._
    val d = (1 to 300).map(i => (i.toLong, i % 7 * 1.0, i % 3 == 0))
      .toDF("id", "x1", "label")
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.atomic.AtomicInteger
    val run = scala.concurrent.Future(Train.bagged(d, Seq("x1"),
      col("label"), col("id"), k = 3, trainOne = (sub, f, l) =>
        if (calls.incrementAndGet() == 2)
          throw new IllegalStateException("bag failed")
        else {
          val t = Train.logistic(sub, f, l, maxIter = 2)
          done.incrementAndGet(); t
        }))(scala.concurrent.ExecutionContext.global)
    val ex = intercept[IllegalStateException] {
      scala.concurrent.Await.result(run,
        scala.concurrent.duration.Duration(120, "s"))
    }
    assert(ex.getMessage === "bag failed")
    assert(done.get() === 2, "bagged returned while a bag was still fitting")
  }
}
