package graft.text

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fasttext-style linear quality classifier — the model-based document
  * filter of GPT-3/LLaMA-lineage pipelines (train a cheap linear model on
  * weak quality labels, score the whole corpus, keep the top mass). Two
  * deterministic pieces and one MLlib fit:
  *
  *  1. [[hashedNgramFeatures]] — the HASHING TRICK: word uni+bigrams
  *     md5-hashed into a FIXED `numBuckets`-dim space. No vocabulary
  *     table, no fit, no shuffle beyond one (doc, bucket) groupBy — the
  *     feature space is corpus-size-independent, which is the entire
  *     point at 100 TB (a vocabulary-indexed featurizer needs a giant
  *     distributed dictionary; the hash needs nothing). md5 keeps it
  *     engine-exact and oracle-checkable.
  *  2. [[trainScore]] — distributed L-BFGS logistic fit over the sparse
  *     vectors (MLlib handles partial gradients; the model itself is
  *     `numBuckets` doubles, broadcast at scoring time by transform).
  *
  * Scoring emits P(label=1) as `quality_score` — the corpus cut is then
  * a plain filter or a quantile threshold. */
object QualityModel {

  /** (doc_id, bucket, cnt): hashing-trick bag of word uni+bigrams.
    * Bigrams are built ROW-LOCALLY (adjacent pairs via `transform`, same
    * shape as the bigram LM) — no index window, no self-join. */
  def hashedNgramFeatures(docs: DataFrame,
                          numBuckets: Int = 4096): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val base = docs.select(col("doc_id"),
      filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
    val unis = base.select(col("doc_id"), explode(col("toks")).as("g"))
    val bis = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("g"))
    unis.union(bis)
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("g").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(numBuckets.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Train on `label` (0/1 weak quality signal) and score every doc:
    * (doc_id, label, quality_score). */
  def trainScore(docs: DataFrame, label: Column, numBuckets: Int = 4096,
                 maxIter: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labeled = docs.select(col("doc_id"),
      label.cast("double").as("label"))
    val nb = numBuckets
    // RIGHT join onto the labeled doc list: a token-less doc (empty or
    // null text) has no n-gram rows but must still be SCORED — it gets
    // the empty feature vector (bias-only score) instead of silently
    // vanishing from the output (fuzz gate: full-coverage contract)
    val data = hashedNgramFeatures(docs, numBuckets)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("bucket").as("_1"), col("cnt").as("_2")))
        .as("bc"))
      .join(labeled, Seq("doc_id"), "right")
      .select(col("doc_id"), col("label"),
        coalesce(col("bc"), array().cast(
          "array<struct<_1:bigint,_2:bigint>>")).as("bc"))
      .as[(Long, Double, Seq[(Long, Long)])]
      .map { case (id, l, bc) =>
        val sorted = bc.sortBy(_._1)
        (id, l, Vectors.sparse(nb, sorted.map(_._1.toInt).toArray,
          sorted.map(_._2.toDouble).toArray))
      }.toDF("doc_id", "label", "features")
      // materialize the (two-shuffle) feature assembly ONCE — fit and
      // transform otherwise both replay it from the scan; lineage
      // truncation also keeps the L-BFGS iteration DAG flat (reliable
      // checkpoint when spark.sql.graft.checkpointDir is set)
      .transform(graft.Ckpt.truncate(_))
    val lr = new LogisticRegression().setMaxIter(maxIter)
      .setLabelCol("label").setFeaturesCol("features")
    val scored = lr.fit(data).transform(data)
    val p1 = udf((v: org.apache.spark.ml.linalg.Vector) => v(1))
    scored.select(col("doc_id"), col("label"),
      round(p1(col("probability")), 6).as("quality_score"))
  }

  /** Training-set ROC AUC of [[trainScore]] output — contract helper,
    * the exact rank-sum AUC ([[graft.eval.Eval.rankAuc]]). */
  def aucOf(scored: DataFrame): Double =
    graft.eval.Eval.rankAuc(scored, col("quality_score"), col("label") > 0.5)
}
