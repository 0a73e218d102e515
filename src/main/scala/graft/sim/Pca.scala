package graft.sim

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder,
  ExpressionEncoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** PCA / whitening for the embedding column — the classic preprocessing in
  * front of ANN/IVF/quantization (reduce 64→k dims, equalize variance so
  * euclidean ≈ mahalanobis; e.g. the OPQ/PCA front of faiss pipelines).
  *
  * Two layers, split by where the work runs:
  *  - [[covariance]] — the DISTRIBUTED heavy lift: one corpus pass
  *    accumulating (n, Σx, upper-triangle Σxxᵀ) in primitive-array
  *    buffers (an `Aggregator`, so Spark runs it partial+final exactly
  *    like a built-in agg; the shuffle moves d(d+1)/2 doubles per
  *    partition, never rows). Sample covariance assembled on the driver
  *    from the single collected buffer.
  *  - [[fitWhiten]] — the DRIVER math: `ml.feature.PCA` on mean-centered
  *    vectors (ml PCA does not center its input; whitening without
  *    centering is wrong), then an optional 1/√λ scale per component so
  *    the projected covariance is the identity. The projection itself is
  *    a narrow per-row map (broadcast model), nothing iterative touches
  *    the corpus.
  *
  * The covariance one-pass co-moment form (Σxy − n·μx·μy) is the same
  * compromise every distributed engine makes (DuckDB's covar_samp
  * included); inputs here are unit-scale floats, where its conditioning
  * is fine. */
object Pca {

  private type CovBuf = (Long, Array[Double], Array[Double])

  private final class CovAgg(d: Int)
      extends Aggregator[Array[Double], CovBuf, CovBuf] {
    override def zero: CovBuf =
      (0L, new Array[Double](d), new Array[Double](d * (d + 1) / 2))
    override def reduce(b: CovBuf, x: Array[Double]): CovBuf = {
      var i = 0
      var off = 0
      while (i < d) {
        b._2(i) += x(i)
        var j = i
        while (j < d) { b._3(off) += x(i) * x(j); j += 1; off += 1 }
        i += 1
      }
      (b._1 + 1, b._2, b._3)
    }
    override def merge(a: CovBuf, b: CovBuf): CovBuf = {
      var i = 0
      while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
      i = 0
      while (i < a._3.length) { a._3(i) += b._3(i); i += 1 }
      (a._1 + b._1, a._2, a._3)
    }
    override def finish(r: CovBuf): CovBuf = r
    override def bufferEncoder: Encoder[CovBuf] = ExpressionEncoder(CovEncoder)
    override def outputEncoder: Encoder[CovBuf] = ExpressionEncoder(CovEncoder)
  }
  /** Derived once per JVM, not per task — see `TopKAgg.BufEncoder`. */
  private val CovEncoder: AgnosticEncoder[CovBuf] =
    ScalaReflection.encoderFor[CovBuf]

  /** Sample covariance of a d-dim array column: (i, j, cov) upper
    * triangle (i ≤ j), rounded at `scale` digits. ONE corpus scan. */
  def covariance(emb: DataFrame, dims: Int, embCol: String = "embedding",
                 scale: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // NULL embeddings carry no coordinates — excluded, like every
    // similarity op (typed Array rows NPE on them; fuzz gate)
    val ds = emb.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<double>").as("value"))
      .as[Array[Double]]
    val (bn, bs, bp) = ds.select(udaf(new CovAgg(dims),
        implicitly[Encoder[Array[Double]]])(col("value")).as("b"))
      .select("b._1", "b._2", "b._3")
      .as[(Long, Array[Double], Array[Double])].head()
    require(bn > 1, s"covariance needs n>1 rows, got $bn")
    val n = bn.toDouble
    val rows = for {
      i <- 0 until dims
      j <- i until dims
    } yield {
      val off = i * dims - i * (i - 1) / 2 + (j - i)
      val cov = (bp(off) - bs(i) * bs(j) / n) / (n - 1)
      // non-finite co-moments (NaN/Inf coordinates in the corpus)
      // surface as-is — BigDecimal cannot represent them (NaN gate)
      val rounded = if (java.lang.Double.isFinite(cov)) BigDecimal(cov)
        .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
      else cov
      (i.toLong, j.toLong, rounded)
    }
    spark.createDataFrame(rows).toDF("i", "j", "cov")
  }

  /** Mean-center, project to the top-k principal components, optionally
    * whiten (per-component 1/√λ). Returns (vec_id, pca: array<double>)
    * plus the explained-variance ratios for callers that want the scree.
    * Projection is a narrow broadcast-model map — corpus is scanned once
    * for the mean, once for the covariance (inside ml PCA), once to
    * transform. */
  def fitWhiten(emb: DataFrame, k: Int, whiten: Boolean = true,
                embCol: String = "embedding",
                idCol: String = "vec_id"): (DataFrame, Array[Double]) = {
    import org.apache.spark.ml.feature.{PCA => MlPca}
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val d = dimsOf(emb, embCol)
    val meanArr = emb
      .select(col(embCol).cast("array<double>").as("e"))
      .agg(array((0 until d)
        .map(i => avg(element_at(col("e"), i + 1))): _*))
      .head().getSeq[Double](0).toArray
    val meanLit = array(meanArr.toIndexedSeq.map(lit): _*)
    val centered = emb.select(col(idCol),
      array_to_vector(zip_with(col(embCol).cast("array<double>"), meanLit,
        (x, m) => x - m)).as("features"))
    val model = new MlPca().setInputCol("features").setOutputCol("pc")
      .setK(k).fit(centered)
    val ev = model.explainedVariance.toArray
    val projected = model.transform(centered)
      .select(col(idCol), vector_to_array(col("pc")).as("proj"))
    val out =
      if (!whiten) projected.withColumnRenamed("proj", "pca")
      else {
        // λ_j = explainedVariance_j × total variance; scale 1/√λ
        val totVar = totalVariance(emb, embCol)
        val scales = array(ev.toIndexedSeq.map(r =>
          lit(1.0 / math.sqrt(math.max(r * totVar, 1e-300)))): _*)
        projected.select(col(idCol),
          zip_with(col("proj"), scales, (x, s) => x * s).as("pca"))
      }
    (out, ev)
  }

  private def dimsOf(emb: DataFrame, embCol: String): Int =
    emb.select(size(col(embCol))).head().getInt(0)

  /** Σ_i Var(x_i) — the covariance trace, one pass. */
  def totalVariance(emb: DataFrame, embCol: String = "embedding"): Double = {
    val d = dimsOf(emb, embCol)
    emb.select(col(embCol).cast("array<double>").as("e"))
      .agg(array((0 until d)
        .map(i => var_samp(element_at(col("e"), i + 1))): _*))
      .head().getSeq[Double](0).sum
  }
}
