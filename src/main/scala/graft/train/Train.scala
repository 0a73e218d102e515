package graft.train

import org.apache.spark.ml.classification.{DecisionTreeClassifier,
  GBTClassifier, LinearSVC, LogisticRegression,
  MultilayerPerceptronClassifier, OneVsRest, RandomForestClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed training (reference `core/dtrain/` Guagua NN/LR/GBT/RF →
  * Spark MLlib pipelines, SURVEY §7.8). Capability parity, not weight
  * parity: the reference trains bagged NN/LR/GBT over normalized columns;
  * here the same dataflow is VectorAssembler → estimator → evaluator, with
  * bagging as k models over deterministic hash-split subsets (the
  * reference's bagging-with-replacement ≈ `BaggingSubsampleUDF`).
  */
object Train {

  final case class Trained(model: PipelineModel, auc: Double)

  private def assemble(features: Seq[String]): VectorAssembler =
    new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("features")

  /** Non-finite feature guard: NULL/NaN/±Inf feature values become 0.0.
    * MLlib's VectorAssembler hard-rejects non-finite entries, so one
    * absurd row (1e300² = Inf — fuzz gate) would otherwise kill a
    * corpus-wide fit. 0.0 is the reference's missing-feature value
    * after normalization (zscale missing → mean → 0). */
  private def finiteFeature(c: String): Column = {
    val d = col(c).cast("double")
    when(d.isNull || isnan(d) || d === Double.PositiveInfinity ||
      d === Double.NegativeInfinity, 0.0).otherwise(d).as(c)
  }

  /** Binary logistic regression: MLlib `LogisticRegression` (no
    * regularization, intercept fitted) behind a `VectorAssembler`.
    *
    * The training rows are materialized once, in one parallel pass that
    * also counts them ([[truncateCounted]]). When they fit under
    * [[LocalFitMaxRows]] and [[LocalFitMaxValues]], they are collected
    * and the fit runs on the driver ([[org.apache.spark.ml.GraftMlBridge]]):
    * MLlib's own summary, standardization, block aggregator and breeze
    * L-BFGS, without the Spark job per loss evaluation that the
    * distributed optimizer pays (a fit is ~10 iterations and ~30 loss
    * evaluations), so a fit is two jobs. It returns the `PipelineModel`
    * `Pipeline.fit` would, with MLlib's coefficients up to summation
    * order, and [[Trained.auc]] is the same exact rank-sum, over the
    * driver's scores. Above the cap, or for rows the driver fit does not
    * cover — no rows, a label outside {0, 1}, one class only —
    * `Pipeline.fit` runs as before, over the same materialized rows. */
  def logistic(df: DataFrame, features: Seq[String], label: Column,
               maxIter: Int = 20): Trained =
    logisticWith(df, features, label, maxIter, LocalFitMaxValues)

  /** Caps of [[logistic]]'s driver fit, in rows and in feature values
    * (rows × features). The driver holds the collected rows, each row's
    * feature vector, its standardized copy in MLlib's instance blocks and
    * its label and score; the sampled peak live heap of a fit was
    * 200–300 B a row at 1–3 features, up to ~320 MB at both caps (2^20
    * rows × 2), and `bagged` holds k such fits at once. The driver fit
    * beat the distributed one at every size measured up to both caps,
    * 1.6× there (CHANGES.md). A `lifecycle_wide` bag is ~8.4k rows and ~70k values;
    * the catalog's largest fit, q_train_lr over sf0.1 lineitem, is 600k
    * rows and 1.8M values. */
  private val LocalFitMaxRows = 1L << 20
  private val LocalFitMaxValues = 1L << 21

  /** [[logistic]] with the driver fit's cap `localMax` in feature values
    * (rows stay capped by [[LocalFitMaxRows]]); 0 always runs
    * `Pipeline.fit`. */
  private[graft] def logisticWith(df: DataFrame, features: Seq[String],
      label: Column, maxIter: Int, localMax: Long): Trained = {
    val lr = new LogisticRegression().setMaxIter(maxIter)
      .setLabelCol("label").setFeaturesCol("features")
    val pipeline = new Pipeline().setStages(Array(assemble(features), lr))
    // the size check reads nothing more than the materializing pass, so
    // a big input is read once, by that pass
    val (data, n) = truncateCounted(trainingRows(df, features, label))
    val local =
      if (features.nonEmpty && n > 0 && n <= LocalFitMaxRows &&
          n * features.length <= localMax)
        fitLocal(pipeline, lr, instances(data.collect()))
      else None
    local.getOrElse(fitRows(data, pipeline))
  }

  /** `rows` materialized ([[graft.Ckpt.truncate]]) and their count, taken
    * in that same pass per partition, so a partition computed twice (a
    * retried task, or the second pass of a reliable checkpoint) counts
    * once. */
  private def truncateCounted(rows: DataFrame): (DataFrame, Long) = {
    import scala.jdk.CollectionConverters._
    val counts =
      rows.sparkSession.sparkContext.collectionAccumulator[(Int, Long)]
    val data = graft.Ckpt.truncate(rows.mapPartitions { it =>
      val task = org.apache.spark.TaskContext.get()
      var n = 0L
      task.addTaskCompletionListener[Unit](_ =>
        counts.add((task.partitionId(), n)))
      it.map { r => n += 1; r }
    }(org.apache.spark.sql.Encoders.row(rows.schema)))
    (data, counts.value.asScala.toMap.values.sum)
  }

  /** Collected (features…, label) rows as the feature vectors
    * `VectorAssembler` builds (its zeros dropped, then `compressed`) and
    * the labels, so the model scores each row exactly as its `transform`
    * would. The rows themselves are not kept. */
  private def instances(rows: Array[org.apache.spark.sql.Row])
      : (Array[org.apache.spark.ml.linalg.Vector], Array[Double]) = {
    val nf = rows.headOption.map(_.length - 1).getOrElse(0)
    (rows.map { r =>
      val idx = (0 until nf).filter(r.getDouble(_) != 0.0).toArray
      org.apache.spark.ml.linalg.Vectors.sparse(nf, idx, idx.map(r.getDouble))
        .compressed
    }, rows.map(_.getDouble(nf)))
  }

  /** The driver fit of [[logistic]] over collected rows ([[instances]]);
    * None when there are no rows, a label outside {0, 1} or only one
    * class. */
  private def fitLocal(pipeline: Pipeline, lr: LogisticRegression,
      rows: (Array[org.apache.spark.ml.linalg.Vector], Array[Double]))
      : Option[Trained] = {
    import org.apache.spark.ml.GraftMlBridge
    val (vectors, labels) = rows
    val (n1, n0) = (labels.count(_ == 1.0), labels.count(_ == 0.0))
    Option.when(n0 > 0 && n1 > 0 && n0 + n1 == labels.length) {
      val lrModel = GraftMlBridge.fitBinaryLogistic(lr, vectors, labels)
      val model = GraftMlBridge.pipelineModel(pipeline,
        Array(pipeline.getStages.head.asInstanceOf[VectorAssembler], lrModel))
      Trained(model, graft.eval.Eval.rankAuc(vectors.indices.toArray.map(i =>
        (lrModel.predictRaw(vectors(i))(1), labels(i) > 0.5))))
    }
  }

  def gbt(df: DataFrame, features: Seq[String], label: Column,
          maxIter: Int = 10, maxDepth: Int = 4): Trained = {
    val g = new GBTClassifier().setMaxIter(maxIter).setMaxDepth(maxDepth)
      .setLabelCol("label").setFeaturesCol("features").setSeed(42L)
    fit(df, features, label, new Pipeline().setStages(Array(assemble(features), g)))
  }

  def randomForest(df: DataFrame, features: Seq[String], label: Column,
                   numTrees: Int = 20, maxDepth: Int = 5): Trained = {
    val rf = new RandomForestClassifier().setNumTrees(numTrees)
      .setMaxDepth(maxDepth).setLabelCol("label").setFeaturesCol("features")
      .setSeed(42L)
    fit(df, features, label, new Pipeline().setStages(Array(assemble(features), rf)))
  }

  /** SVM (reference `ALGORITHM.SVM`, `ModelTrainConf.java:43-45`; Encog
    * SVMTrainer under `core/alg/`): MLlib LinearSVC — distributed hinge
    * loss. rawPrediction is the margin, so the AUC pass ([[rankAuc]])
    * applies unchanged. */
  def svm(df: DataFrame, features: Seq[String], label: Column,
          maxIter: Int = 20, regParam: Double = 0.01): Trained = {
    val s = new LinearSVC().setMaxIter(maxIter).setRegParam(regParam)
      .setLabelCol("label").setFeaturesCol("features")
    fit(df, features, label,
      new Pipeline().setStages(Array(assemble(features), s)))
  }

  /** Single decision tree (reference `ALGORITHM.DT`): MLlib
    * DecisionTreeClassifier — the depth-limited CART the reference's
    * RF/GBT members build on. */
  def decisionTree(df: DataFrame, features: Seq[String], label: Column,
                   maxDepth: Int = 5): Trained = {
    val dt = new DecisionTreeClassifier().setMaxDepth(maxDepth)
      .setLabelCol("label").setFeaturesCol("features").setSeed(42L)
    fit(df, features, label,
      new Pipeline().setStages(Array(assemble(features), dt)))
  }

  /** NN training — the reference's flagship algorithm (`ALGORITHM { NN }`,
    * `ModelTrainConf.java:43-45`; Guagua NN trainer under `core/dtrain/nn/`).
    * MLlib's MultilayerPerceptronClassifier is the 1:1 capability match:
    * `hidden` mirrors the reference's NumHiddenNodes list, data-parallel
    * L-BFGS mirrors Guagua's iterative master/worker aggregation. Output
    * layer is fixed at 2 (binary target, reference default). */
  def nn(df: DataFrame, features: Seq[String], label: Column,
         hidden: Seq[Int] = Seq(8), maxIter: Int = 60): Trained = {
    val layers = (features.length +: hidden :+ 2).toArray
    val mlp = new MultilayerPerceptronClassifier().setLayers(layers)
      .setMaxIter(maxIter).setSeed(42L)
      .setLabelCol("label").setFeaturesCol("features")
    fit(df, features, label,
      new Pipeline().setStages(Array(assemble(features), mlp)))
  }

  /** Multi-class one-vs-rest (reference `MultipleClassification { NATIVE,
    * ONEVSALL, ONEVSREST, ONEVSONE }`, `ModelTrainConf.java:54-58`): one
    * binary base learner per class, argmax over per-class margins — MLlib
    * `OneVsRest` trains the k models in parallel. Returns the fitted model
    * applied to the data: (prediction, label) rows. */
  def oneVsRest(df: DataFrame, features: Seq[String], label: Column,
                maxIter: Int = 30): DataFrame = {
    val base = new LogisticRegression().setMaxIter(maxIter)
      .setLabelCol("label").setFeaturesCol("features")
    val ovr = new OneVsRest().setClassifier(base)
      .setLabelCol("label").setFeaturesCol("features").setParallelism(4)
    val data = trainingRows(df, features, label)
      // k per-class fits + the transform all replay this otherwise
      .transform(graft.Ckpt.truncate(_))
    val pipeline = new Pipeline()
      .setStages(Array(assemble(features), ovr))
    pipeline.fit(data).transform(data)
      .select(col("prediction"), col("label"))
  }

  /** Training rows: the features as non-finite-guarded doubles
    * ([[finiteFeature]]) and the label as a double, unlabeled rows
    * dropped — MLlib raises on a NULL/NaN label; this is the reference's
    * invalid-tag filter shape. */
  private def trainingRows(df: DataFrame, features: Seq[String],
                           label: Column): DataFrame =
    df.select(features.map(finiteFeature) :+
      label.cast("double").as("label"): _*)
      .filter(col("label").isNotNull && !isnan(col("label")))

  private def fit(df: DataFrame, features: Seq[String], label: Column,
                  pipeline: Pipeline): Trained =
    // fit, transform and the AUC pass each replay this projection from
    // the scan otherwise — materialize it once
    fitRows(graft.Ckpt.truncate(trainingRows(df, features, label)), pipeline)

  /** `pipeline.fit` over materialized training rows, and the AUC over
    * them. */
  private def fitRows(data: DataFrame, pipeline: Pipeline): Trained = {
    val model = pipeline.fit(data)
    Trained(model, rankAuc(model.transform(data)))
  }

  /** Exact ROC AUC ([[graft.eval.Eval.rankAuc]]) of scored rows over
    * the margin `rawPrediction[1]` — the score MLlib's binary evaluator
    * reads — with `label > 0.5` positive. */
  private def rankAuc(scored: DataFrame): Double =
    graft.eval.Eval.rankAuc(scored,
      org.apache.spark.ml.functions.vector_to_array(col("rawPrediction"))
        .getItem(1), col("label") > 0.5)

  /** Grid search + k-fold cross validation (reference `gs/` grid configs +
    * `ModelTrainConf` numKFold → `ParamGridBuilder` + `CrossValidator`). */
  def gridSearchLogistic(df: DataFrame, features: Seq[String], label: Column,
                         regParams: Seq[Double] = Seq(0.0, 0.1),
                         numFolds: Int = 3): (PipelineModel, Double) = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val lr = new LogisticRegression().setMaxIter(10)
      .setLabelCol("label").setFeaturesCol("features")
    val pipeline = new Pipeline().setStages(Array(assemble(features), lr))
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, regParams.toArray).build()
    val cv = new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(new BinaryClassificationEvaluator().setLabelCol("label"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setSeed(42L)
    // materialize once, same as fit(): k-fold x grid re-executes the
    // projection lineage (numFolds x gridSize + 1) times otherwise
    val data = trainingRows(df, features, label)
      .transform(graft.Ckpt.truncate(_))
    val model = cv.fit(data)
    (model.bestModel.asInstanceOf[PipelineModel], model.avgMetrics.max)
  }

  /** One-vs-one multi-class (reference `MultipleClassification.ONEVSONE`,
    * `ModelTrainConf.java:54-58`): one binary LR per CLASS PAIR, each
    * trained only on that pair's rows, majority vote over all pairs with
    * ties broken toward the lowest class id. MLlib has no OvO estimator —
    * this composes it from k·(k−1)/2 logistic fits; prediction is a narrow
    * vote expression (no joins: each member model adds one transform
    * pass, like comboScore). Returns (prediction, label) rows. */
  def oneVsOne(df: DataFrame, features: Seq[String], label: Column,
               maxIter: Int = 20): DataFrame = {
    val data = trainingRows(df, features, label)
    val classes = data.select("label").distinct()
      .collect().map(_.getDouble(0)).sorted
    require(classes.length >= 2,
      s"oneVsOne needs ≥2 classes, got ${classes.mkString(",")}")
    val pairs = for {
      i <- classes.indices; j <- (i + 1) until classes.length
    } yield (classes(i), classes(j))
    val withPreds = pairs.zipWithIndex.foldLeft(data) {
      case (cur, ((a, b), idx)) =>
        val sub = data.filter(col("label") === a || col("label") === b)
          .withColumn("pair_label", (col("label") === b).cast("double"))
        val lr = new LogisticRegression().setMaxIter(maxIter)
          .setLabelCol("pair_label").setFeaturesCol("features")
        val m = new Pipeline()
          .setStages(Array(assemble(features), lr)).fit(sub)
        m.transform(cur)
          .withColumn(s"p_$idx",
            when(col("prediction") === 1.0, lit(b)).otherwise(lit(a)))
          .drop("features", "rawPrediction", "probability", "prediction")
    }
    val voteStructs = classes.map { c =>
      val votes = pairs.indices.map(i =>
        when(col(s"p_$i") === c, 1).otherwise(0)).reduce(_ + _)
      struct(votes.as("v"), lit(-c).as("negc"))
    }
    // lexicographic max: most votes, then lowest class id
    val winner = -array_max(array(voteStructs.toIndexedSeq: _*)).getField("negc")
    withPreds.select(winner.as("prediction"), col("label"))
  }

  /** Bridge an MLlib logistic fit to the literal [[graft.score.Score]]
    * model form (weights in `features` order + intercept) — the hand-off
    * that lets a trained model be folded into a scoring plan as literals,
    * exported to PMML/JSON, or fed to the reason-code path. */
  def toLinear(t: Trained, features: Seq[String]): graft.score.Score.LinearModel = {
    val lr = t.model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val cs = lr.coefficients.toArray
    graft.score.Score.LinearModel(features.zip(cs.toIndexedSeq), lr.intercept)
  }

  /** Bridge a fitted MLlib MLP to the literal [[graft.score.Pmml.MlpModel]]
    * form for PMML export and expression-tree scoring. MLlib flattens the
    * weights per affine layer as a COLUMN-MAJOR (numOut × numIn) matrix
    * followed by the bias vector (`ml.ann.AffineLayerModel` wraps breeze
    * `DenseMatrix(numOut, numIn, data, offset)`, breeze default
    * column-major) — w(o)(in) = data(off + in·numOut + o). */
  def toMlp(t: Trained, features: Seq[String]): graft.score.Pmml.MlpModel = {
    val mlp = t.model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel]
    val sizes = mlp.getLayers
    require(sizes.head == features.length,
      s"feature count ${features.length} != input layer ${sizes.head}")
    val data = mlp.weights.toArray
    var off = 0
    val layers = (0 until sizes.length - 1).map { i =>
      val (nIn, nOut) = (sizes(i), sizes(i + 1))
      val w = Vector.tabulate(nOut)(o =>
        Vector.tabulate(nIn)(in => data(off + in * nOut + o)))
      off += nIn * nOut
      val b = Vector.tabulate(nOut)(o => data(off + o))
      off += nOut
      graft.score.Pmml.MlpLayer(w, b)
    }
    require(off == data.length,
      s"weight layout mismatch: consumed $off of ${data.length}")
    graft.score.Pmml.MlpModel(features, layers)
  }

  /** Bridge a fitted MLlib decision tree to the literal
    * [[graft.score.Score.TreeNode]] form, so `shifu encode`-style
    * tree-path encoding ([[graft.score.Score.encodePath]]) can fold a
    * TRAINED tree into a narrow codegen'd projection. Leaf ids are
    * assigned in depth-first (left-first) order. Continuous splits only —
    * the engine's trees are fit on normalized numeric features. */
  def toTree(t: Trained, features: Seq[String]): graft.score.Score.TreeNode = {
    import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, Node}
    val dt = t.model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.DecisionTreeClassificationModel]
    var nextLeaf = -1
    def walk(n: Node): graft.score.Score.TreeNode = n match {
      case i: InternalNode =>
        val s = i.split match {
          case c: ContinuousSplit => c
          case other => throw new IllegalArgumentException(
            s"only continuous splits encode to paths, got $other")
        }
        graft.score.Score.Split(features(s.featureIndex), s.threshold,
          walk(i.leftChild), walk(i.rightChild))
      case leaf =>
        nextLeaf += 1
        graft.score.Score.Leaf(nextLeaf)
    }
    walk(dt.rootNode)
  }

  /** `shifu combo` assembling (reference `ShifuCLI.java:818-866`,
    * ComboModelProcessor): score the data with EVERY member model —
    * possibly different algorithms — and combine per-row P(positive) by
    * mean. Probabilistic members contribute P(1) directly; margin-only
    * members (LinearSVC) contribute sigmoid(margin) — the standard Platt
    * bridge, so SVM members compose too. Each member adds one narrow
    * transform pass; no shuffle, no retraining. Returns the input plus
    * per-member `combo_i` scores and the assembled `combo_mean`. */
  def comboScore(members: Seq[Trained], df: DataFrame): DataFrame = {
    require(members.nonEmpty, "comboScore needs at least one member model")
    import org.apache.spark.ml.functions.vector_to_array
    val scored = members.zipWithIndex.foldLeft(df) { case (cur, (t, i)) =>
      val out = t.model.transform(cur)
      val p =
        if (out.columns.contains("probability"))
          vector_to_array(col("probability"))(1)
        else // margin-only classifier: sigmoid of the raw margin
          lit(1.0) / (lit(1.0) +
            exp(lit(0.0) - vector_to_array(col("rawPrediction"))(1)))
      out.withColumn(s"combo_$i", p)
        .drop("features", "rawPrediction", "probability", "prediction")
    }
    val mean = members.indices.map(i => col(s"combo_$i"))
      .reduce(_ + _) / members.length
    scored.withColumn("combo_mean", mean)
  }

  /** Iterative sensitivity-analysis variable selection (reference ITSA,
    * `core/varselect/itsa/` wrapper over the `VarSelectMapper.java:277-400`
    * masked-score sensitivity): fit → score every row with each feature
    * masked to `fill` → drop the feature whose masking moves the score
    * LEAST → refit on the survivors → repeat, until `keepN` remain or the
    * round budget runs out. Unlike single-pass sensitivity (q_sensitivity),
    * re-fitting between drops lets correlated features re-rank after a
    * proxy is removed — the reason the reference iterates.
    *
    * Per round: ONE MLlib logistic fit plus ONE aggregation pass computing
    * every feature's mean |score − maskedScore| simultaneously (k+1
    * parallel expression trees, narrow + codegen; never k passes).
    * Rounds are driver-bounded (≤ maxRounds, each a blocking fit) — this
    * is a model-selection loop, not a data pipeline stage. */
  def itsaVarsel(df: DataFrame, features: Seq[String], label: Column,
                 keepN: Int, dropPerRound: Int = 1, maxRounds: Int = 20,
                 fill: Double = 0.0, maxIter: Int = 20): Seq[String] = {
    require(keepN >= 1 && keepN <= features.length)
    var current = features
    var round = 0
    while (current.length > keepN && round < maxRounds) {
      val t = logistic(df, current, label, maxIter)
      val lm = toLinear(t, current)
      val deltas = df.select(current.map(f =>
        avg(abs(lm.score - lm.scoreMasked(f, fill))).as(f)): _*).head()
      val ranked = current.indices.map(i => current(i) -> deltas.getDouble(i))
        .sortBy { case (f, d) => (d, f) } // ties broken by name: determinism
      val nDrop = math.min(dropPerRound, current.length - keepN)
      val dropped = ranked.take(nDrop).map(_._1).toSet
      current = current.filterNot(dropped)
      round += 1
    }
    current
  }

  /** Wide-and-deep composite (reference `ALGORITHM.WDL`,
    * `ModelTrainConf.java:44`, `core/dtrain/wdl/` ~5k LoC of custom
    * trainer). MLlib has no jointly-trained wide+deep estimator, so this
    * is the honest Spark composite with the same capability shape:
    *
    *  - DEEP: an MLP over the dense numeric features (the wdl DNN tower).
    *  - WIDE: hashed crossed categorical features (`FeatureHasher` over
    *    the raw categoricals plus their pairwise crosses — the
    *    crossed-column recipe of Cheng et al., "Wide & Deep Learning for
    *    Recommender Systems", DLRS 2016 §3).
    *  - OUTPUT: a logistic layer over [wide hashed vector ++ deep LOGIT]
    *    — stacking instead of joint backprop: sigmoid(w·x_wide + a·z_deep
    *    + b) is exactly the wdl output-unit form, with the deep tower
    *    frozen rather than co-trained.
    *
    * Everything is two MLlib fits plus narrow transforms — distributed,
    * no custom optimizer. */
  final case class WideDeep(deep: Trained, wideModel: PipelineModel,
      wideCols: Seq[String], auc: Double) {
    /** Score new rows: cast the wide columns to string EXACTLY as
      * training did (FeatureHasher treats string input as categorical
      * "col=value" but numeric input as a real-valued feature — without
      * the cast, an Int wide column would hash to entirely different
      * indices than the ones the output layer was fit on), rebuild the
      * crossed columns, add the deep logit, then the hashed wide
      * features + output layer. */
    def score(df: DataFrame): DataFrame = {
      // originals parked under temp names: the string cast is
      // FeatureHasher input plumbing, not a schema change the caller
      // should see in the output
      val parked = wideCols.foldLeft(df)((d, c) =>
        d.withColumn(s"__wd_keep_$c", col(c)))
      val cast = wideCols.foldLeft(parked)((d, c) =>
        d.withColumn(c, col(c).cast("string")))
      val scored = wideModel.transform(WideDeep.withDeepLogit(deep,
        cast.select(col("*") +: WideDeep.crossCols(wideCols): _*)))
      wideCols.foldLeft(scored)((d, c) =>
        d.withColumn(c, col(s"__wd_keep_$c")).drop(s"__wd_keep_$c"))
    }
  }
  object WideDeep {
    /** Pairwise crossed columns (string concat ≡ crossed_column pre-hash). */
    private[train] def crossCols(wideCols: Seq[String]): Seq[Column] =
      wideCols.combinations(2).toSeq.map { pair =>
        val Seq(a, b) = pair
        concat_ws("_", col(a), col(b)).as(s"x_${a}_$b")
      }
    private[train] def withDeepLogit(deep: Trained, df: DataFrame): DataFrame = {
      import org.apache.spark.ml.functions.vector_to_array
      val p = vector_to_array(col("probability"))(1)
      val eps = 1e-12
      val clamped = least(greatest(p, lit(eps)), lit(1 - eps))
      deep.model.transform(df)
        .withColumn("deep_logit", log(clamped / (lit(1.0) - clamped)))
        .drop("features", "rawPrediction", "probability", "prediction")
    }
  }

  def wideAndDeep(df: DataFrame, wideCols: Seq[String], deepCols: Seq[String],
                  label: Column, hidden: Seq[Int] = Seq(8),
                  hashDim: Int = 256, maxIter: Int = 20): WideDeep = {
    import org.apache.spark.ml.feature.FeatureHasher
    require(wideCols.nonEmpty && deepCols.nonEmpty)
    val crosses = WideDeep.crossCols(wideCols)
    val crossNames = wideCols.combinations(2).toSeq.map { pair =>
      val Seq(a, b) = pair; s"x_${a}_$b"
    }
    val data = df.select(
      (deepCols.map(finiteFeature)
        ++ wideCols.map(c => col(c).cast("string").as(c))
        ++ crosses) :+ label.cast("double").as("label"): _*)
      // same hygiene as fit(): unlabeled rows can't be trained on, and
      // the deep tower's inner fit must see the SAME rows as the wide
      // head (fuzz gate, nulls mode)
      .filter(col("label").isNotNull && !isnan(col("label")))
    val deep = nn(data, deepCols, col("label") === 1, hidden, maxIter)
    // the deep model's forward pass is otherwise replayed by the wide
    // fit, the transform AND the evaluator — materialize it once
    val withLogit = graft.Ckpt.truncate(WideDeep.withDeepLogit(deep, data))
    val hasher = new FeatureHasher()
      .setInputCols((wideCols ++ crossNames).toArray)
      .setOutputCol("wide_vec").setNumFeatures(hashDim)
    val outAssembler = new VectorAssembler()
      .setInputCols(Array("wide_vec", "deep_logit")).setOutputCol("features")
    val outLr = new LogisticRegression().setMaxIter(maxIter)
      .setLabelCol("label").setFeaturesCol("features")
    val wideModel = new Pipeline()
      .setStages(Array(hasher, outAssembler, outLr)).fit(withLogit)
    WideDeep(deep, wideModel, wideCols,
      rankAuc(wideModel.transform(withLogit)))
  }

  /** Bagging: k models over deterministic crc32-hash row subsets (~70%
    * of the rows each; the reference replicates rows into k bags,
    * `BaggingSubsampleUDF.java`), scored as the mean of the members'
    * probabilities ([[comboScore]], `Score.ensemble`). The bags fit
    * concurrently from driver threads ([[graft.ops.Jobs]]), as MLlib's
    * `CrossValidator.setParallelism` fits its folds: a logistic bag under
    * the driver-fit cap ([[logistic]]) is two jobs (materialize,
    * collect) and driver work, and the bags' driver fits overlap; above it a fit is dozens of
    * small jobs whose driver-side residue (job submission, planning, the
    * optimizer's driver loop) dominates at bench scale, and overlapping
    * the bags overlaps that residue. Each bag reads the same filtered
    * rows under the same partitioning as a sequential fit would, so the
    * models and their exact AUCs ([[rankAuc]]) equal sequential fits'.
    * If a fit throws, the other bags are awaited and the first failure
    * (in bag order) is raised. */
  def bagged(df: DataFrame, features: Seq[String], label: Column,
             key: Column, k: Int = 3,
             trainOne: (DataFrame, Seq[String], Column) => Trained =
               logistic(_, _, _)): Seq[Trained] =
    graft.ops.Jobs.joinAll((0 until k).map { i =>
      graft.ops.Jobs.fork(trainOne(bag(df, key, i), features, label))
    })

  /** Bag `i`'s rows: ~70% per bag, disjoint-ish, deterministic. */
  private[graft] def bag(df: DataFrame, key: Column, i: Int): DataFrame =
    df.filter(
      pmod(crc32(concat(key.cast("string"), lit(s"_$i")).cast("binary")),
        lit(10)) < lit(7))

  /** External-trainer shell-out — the reference's `ALGORITHM.TENSORFLOW`
    * path (`ModelTrainConf.java:574-587` TF params,
    * `GenericModelConfig.java:34-90` properties + inputnames contract):
    * Shifu materializes the normalized training set, launches an external
    * Python/TF process, and loads the exported model back for scoring.
    *
    * Spark-side contract (the plumbing is real; the trainer binary is the
    * user's, exactly as in the reference — no TF runtime ships here):
    *  1. normalized (features, label) rows land in `workDir/data` as
    *     parquet — written distributed, the only cluster-scale step;
    *  2. `workDir/GenericModelConfig.json` carries inputnames + properties
    *     (algorithm, workDir) with the reference's field names;
    *  3. `cmd workDir` runs (user-supplied trainer: reads data+config,
    *     writes `workDir/model.json`); non-zero exit fails loudly;
    *  4. `model.json` — the engine's literal LinearModel JSON
    *     (`Score.exportJson` shape) — folds back into plans as codegen'd
    *     Column expressions, so serving never touches the external
    *     runtime.
    * Returns the parsed literal models (ensemble if the trainer wrote
    * several). */
  def externalTrainer(df: DataFrame, features: Seq[String], label: Column,
                      cmd: Seq[String], workDir: String)
      : Seq[graft.score.Score.LinearModel] = {
    require(cmd.nonEmpty, "externalTrainer needs a command")
    val dir = java.nio.file.Paths.get(workDir)
    java.nio.file.Files.createDirectories(dir)
    df.select((features.map(col) :+ label.cast("int").as("label")): _*)
      .write.mode("overwrite").parquet(s"$workDir/data")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cfg = mapper.createObjectNode()
    val names = cfg.putArray("inputnames")
    features.foreach(names.add)
    val props = cfg.putObject("properties")
    props.put("algorithm", "TENSORFLOW")
    props.put("workDir", workDir)
    java.nio.file.Files.writeString(dir.resolve("GenericModelConfig.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(cfg))
    val proc = new ProcessBuilder((cmd :+ workDir): _*)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    val code = proc.waitFor()
    require(code == 0, s"external trainer failed (exit $code): $out")
    val modelPath = dir.resolve("model.json")
    require(java.nio.file.Files.exists(modelPath),
      s"external trainer wrote no $modelPath")
    graft.score.Score.importJson(java.nio.file.Files.readString(modelPath))
  }
}
