package org.apache.spark.ml

import scala.reflect.ClassTag

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS => BreezeLBFGS}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.classification.{LogisticRegression,
  LogisticRegressionModel}
import org.apache.spark.ml.feature.{Instance, InstanceBlock,
  StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, DenseMatrix, Vector, Vectors}
import org.apache.spark.ml.optim.aggregator.BinaryLogisticBlockAggregator
import org.apache.spark.ml.stat.Summarizer

/** Minimal bridge to MLlib's `private[ml]` / `private[spark]` members, as
  * [[org.apache.spark.sql.GraftBridge]] is to `private[sql]` ones: the
  * pieces of `LogisticRegression.train` that a binary fit runs, called on
  * the driver over rows already collected there, and the model
  * constructors `Pipeline.fit` uses. */
object GraftMlBridge {

  /** A broadcast that never leaves the driver: the aggregator reads its
    * inputs through `Broadcast.value`, and here nothing ships them. */
  private final class Held[T: ClassTag](v: T) extends Broadcast[T](-1L) {
    override protected def getValue(): T = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  /** `lr`'s binary fit over `features` (as `VectorAssembler` emits them)
    * and 0/1 `labels`, both classes present — the steps of
    * `LogisticRegression.train` for a binomial, intercept-fitting,
    * unregularized, unbounded, unweighted fit, in its order: the feature
    * summary (`SummarizerBuffer`), the intercept start `log(n1 / n0)`,
    * the standardized 1 MB instance blocks, the block aggregator's loss
    * under breeze `LBFGS(maxIter, 10, tol)` from the mean-adjusted start,
    * and the un-centering and unscaling of the solution. Over one
    * partition's rows in that partition's order, the distributed fit
    * sums the same terms in the same order. */
  def fitBinaryLogistic(lr: LogisticRegression, features: Array[Vector],
                        labels: Array[Double]): LogisticRegressionModel = {
    val summary = Summarizer.createSummarizerBuffer(
      "numNonZeros", "mean", "std", "count")
    features.foreach(summary.add(_, 1.0))
    val mean = summary.mean.toArray
    val std = summary.std.toArray
    val numFeatures = mean.length
    val inverseStd = std.map(s => if (s != 0) 1.0 / s else 0.0)
    val scaledMean = Array.tabulate(numFeatures)(i => inverseStd(i) * mean(i))
    val histogram = Array(labels.count(_ == 0.0).toDouble,
      labels.count(_ == 1.0).toDouble)
    val scale = StandardScalerModel.getTransformFunc(null, inverseStd,
      false, true)
    val blocks = InstanceBlock.blokifyWithMaxMemUsage(
      features.iterator.zip(labels).map { case (v, l) =>
        Instance(l, 1.0, scale(v)) },
      (InstanceBlock.DefaultBlockSizeInMB * 1024L * 1024L).ceil.toLong)
      .toArray
    val bcInverseStd = new Held(inverseStd)
    val bcScaledMean = new Held(scaledMean)
    val loss = new DiffFunction[BDV[Double]] {
      def calculate(x: BDV[Double]): (Double, BDV[Double]) = {
        val agg = new BinaryLogisticBlockAggregator(bcInverseStd,
          bcScaledMean, true, true)(new Held(Vectors.fromBreeze(x)))
        blocks.foreach(agg.add)
        (agg.loss, agg.gradient.asBreeze.toDenseVector)
      }
    }
    val start = new Array[Double](numFeatures + 1)
    start(numFeatures) = math.log(histogram(1) / histogram(0))
    start(numFeatures) += BLAS.javaBLAS.ddot(numFeatures, start, 1,
      scaledMean, 1)
    val states = new BreezeLBFGS[BDV[Double]](lr.getMaxIter, 10, lr.getTol)
      .iterations(new CachedDiffFunction(loss), new BDV(start))
    var last = states.next()
    while (states.hasNext) last = states.next()
    val solution = last.x.toArray
    solution(numFeatures) -= BLAS.javaBLAS.ddot(numFeatures, solution, 1,
      scaledMean, 1)
    val coefficients = Array.tabulate(numFeatures)(j =>
      if (std(j) != 0.0) solution(j) / std(j) else 0.0)
    val model = new LogisticRegressionModel(lr.uid,
      new DenseMatrix(1, numFeatures, coefficients, isTransposed = true)
        .compressed,
      Vectors.dense(solution(numFeatures)).compressed, 2, false)
    // what `Params.copyValues` carries from estimator to model: the two
    // share their defaults, so only the explicitly set params
    lr.params.foreach { p =>
      if (model.hasParam(p.name))
        lr.get(p).foreach(model.set(model.getParam(p.name), _))
    }
    model.setParent(lr)
  }

  /** The model `pipeline.fit` returns for these fitted `stages`. */
  def pipelineModel(pipeline: Pipeline,
                    stages: Array[Transformer]): PipelineModel =
    new PipelineModel(pipeline.uid, stages).setParent(pipeline)
}
