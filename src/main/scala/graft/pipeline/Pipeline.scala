package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, NumericType}

import graft.catalog._
import graft.expr.Jexl
import graft.ops.{Normalize, StatsPipeline}

/** Step orchestration (SURVEY §7.1 `graft.pipeline`): the reference's CLI
  * verbs `init → stats → varsel → norm → train → eval`
  * (`ShifuCLI.java:174-417`) as one driver-side flow over a DataFrame and
  * a [[DataSpec]]. Each step is DataFrame-in/DataFrame-out with the typed
  * catalog as the side-channel state (persisted via [[CatalogIO]] for
  * ColumnConfig.json compatibility) — no HDFS JSON mutation, no per-task
  * catalog reloads, and every transform folds catalog values in as
  * literals.
  */
object Pipeline {

  final case class Result(
      catalog: Seq[ColumnProfile],
      selected: Seq[String],
      normalized: DataFrame,
      auc: Double)

  /** `init`: tag filter + JEXL purify (lenient), per the reference's
    * AddColumnNumAndFilterUDF valid-tag semantics. */
  def init(df: DataFrame, spec: DataSpec): DataFrame = {
    val tag = trim(lower(col(spec.targetColumn)))
    val tags = (spec.posTags ++ spec.negTags).map(_.toLowerCase)
    val tagged = df.filter(tag.isin(tags.toSeq.map(lit): _*))
    spec.filterExpressions.foldLeft(tagged)((d, e) => d.filter(Jexl.filter(e)))
  }

  def isPos(spec: DataSpec): Column =
    trim(lower(col(spec.targetColumn)))
      .isin(spec.posTags.map(_.toLowerCase).toSeq.map(lit): _*)

  /** `stats`: numeric + categorical profiling into the typed catalog.
    * The spec's weight expression (JEXL) feeds the weighted stat duals;
    * absent → weight 1.0 (weighted fields equal the count metrics, the
    * reference's no-weightColumnName convention). The numeric and the
    * categorical profile share no state, so they run concurrently
    * ([[graft.ops.Jobs]]): each is a short chain of small jobs, and
    * overlapping them overlaps their driver-side residue. */
  def stats(df: DataFrame, spec: DataSpec, numericCols: Seq[String],
            categoricalCols: Seq[String]): Seq[ColumnProfile] = {
    import graft.ops.Jobs
    val w = spec.weightColumn.map(Jexl.translate).getOrElse(lit(1.0))
    val Seq(num, cat) = Jobs.joinAll(Seq(
      Jobs.fork(StatsPipeline.profileNumeric(df, numericCols, isPos(spec),
        spec.maxNumBin, w, full = true)),
      Jobs.fork(StatsPipeline.profileCategorical(df, categoricalCols,
        isPos(spec), weight = w))))
    val all = numericCols.map(num) ++ categoricalCols.map(cat)
    all.zipWithIndex.map { case (p, i) => p.copy(columnNum = i) }
  }

  /** `varsel`: KS-ranked top-N (reference `VariableSelector.java:180-260`,
    * filterBy=KS default), ForceSelect/ForceRemove honored via flags. */
  def varsel(catalog: Seq[ColumnProfile], topN: Int): Seq[ColumnProfile] =
    varselBy(catalog, topN, _.stats.ks.getOrElse(0.0))

  /** [[varsel]] with a caller-chosen ranking metric (reference filterBy=KS
    * or IV, `ModelVarSelectConf.java:83-90`); pure driver math over the
    * catalog, no data scan. */
  def varselBy(catalog: Seq[ColumnProfile], topN: Int,
               metric: ColumnProfile => Double): Seq[ColumnProfile] = {
    // isCandidate already excludes ForceRemove (and meta/weight) — no
    // second flag filter, which would wrongly imply ForceRemove columns
    // could reach the ranking
    val ranked = catalog
      .filter(p => p.isCandidate)
      .sortBy(p => (-metric(p), p.columnName))
    val keep = (catalog.filter(_.flag.contains(ColumnFlag.ForceSelect)) ++
      ranked.take(topN))
      .map(_.columnName).toSet
    catalog.map(p => p.copy(finalSelect = keep(p.columnName)))
  }

  /** `varsel` pareto mode (reference `ModelVarSelectConf.java:83-90`
    * filterBy=pareto): layered non-dominated sorting on (KS, IV) — the
    * first front is every column no other column beats on BOTH metrics;
    * fronts are peeled NSGA-style until `topN` columns are kept (within a
    * front, KS-then-name order). ForceSelect/ForceRemove honored as in
    * [[varsel]]. Pure driver math over the ≤columns-sized catalog. */
  def varselPareto(catalog: Seq[ColumnProfile], topN: Int): Seq[ColumnProfile] = {
    def m(p: ColumnProfile) =
      (p.stats.ks.getOrElse(0.0), p.stats.iv.getOrElse(0.0))
    def dominates(a: ColumnProfile, b: ColumnProfile): Boolean = {
      val ((ka, ia), (kb, ib)) = (m(a), m(b))
      ka >= kb && ia >= ib && (ka > kb || ia > ib)
    }
    val kept = scala.collection.mutable.LinkedHashSet[String]()
    var remaining = catalog.filter(_.isCandidate) // subsumes ForceRemove
    while (kept.size < topN && remaining.nonEmpty) {
      val front = remaining
        .filterNot(p => remaining.exists(q => dominates(q, p)))
      front.sortBy(p => (-p.stats.ks.getOrElse(0.0), p.columnName))
        .take(topN - kept.size).foreach(p => kept += p.columnName)
      val frontNames = front.map(_.columnName).toSet
      remaining = remaining.filterNot(p => frontNames(p.columnName))
    }
    val keep = catalog.filter(_.flag.contains(ColumnFlag.ForceSelect))
      .map(_.columnName).toSet ++ kept
    catalog.map(p => p.copy(finalSelect = keep(p.columnName)))
  }

  /** `varsel -autofilter` (reference usage `ShifuCLI.java`: "Auto filter
    * variables by MissingRate, KS/IV, and Correlation";
    * `VariableSelector` auto-filter path): three screens in sequence —
    *  1. drop columns whose missing rate exceeds `missingThreshold`
    *     (reference default 0.98, `ModelVarSelectConf.java:97`);
    *  2. of every pair with |Pearson corr| > `corrThreshold`, drop the
    *     LOWER-KS member (the redundancy screen — corr comes from ONE
    *     [[graft.ops.Correlation.pearson]] pass over the surviving
    *     numeric candidates, gramian path at wide k);
    *  3. keep the `topN` KS-ranked survivors.
    * ForceSelect/ForceRemove honored as in [[varsel]]. */
  def autoFilter(df: DataFrame, catalog: Seq[ColumnProfile], topN: Int,
                 missingThreshold: Double = 0.98,
                 corrThreshold: Double = 0.9): Seq[ColumnProfile] = {
    require(catalog.exists(p => p.isCandidate && p.stats.totalCount > 0),
      "autofilter needs a stats-populated catalog (run stats first — an " +
        "init skeleton has no missing rates or KS to screen on)")
    val lowMissing = catalog.filter { p =>
      // totalCount == 0 means the column was never observed (e.g. a
      // candidate added after stats ran): its missing rate is DEFINED as
      // 1.0 — dropped by any threshold < 1 as an explicit policy, not as
      // a NaN-comparison accident
      val missingRate =
        if (p.stats.totalCount == 0) 1.0
        else p.stats.missingCount.toDouble / p.stats.totalCount
      p.isCandidate && missingRate <= missingThreshold
    }
    val numericProfiles = lowMissing
      .filter(p => p.kind == ColumnKind.Numeric ||
        p.kind == ColumnKind.Hybrid)
    val numeric = numericProfiles.map(_.columnName)
    val ksOf = catalog.map(p =>
      p.columnName -> p.stats.ks.getOrElse(0.0)).toMap
    val dropped = scala.collection.mutable.Set[String]()
    if (numeric.length >= 2) {
      // mean-impute missing values from the catalog BEFORE the corr pass:
      // the two physical Pearson paths treat nulls differently (stack =
      // pairwise-complete, gramian = listwise deletion), so on nully data
      // the answer would otherwise depend on which side of the wideK
      // dispatch the column count lands. Imputation makes the input
      // null-free — both paths agree exactly — and matches the
      // reference's NormPearson missing→mean convention
      // (`ModelNormalizeConf.java:60-63`). Columns with no computable
      // mean (zero valid numeric values) fall back to 0.0 — constant
      // after imputation, so they produce NaN corr and never hit the
      // redundancy screen.
      val imputed = df.select(numericProfiles.map { p =>
        val c = org.apache.spark.sql.functions.col(p.columnName)
          .cast("double")
        org.apache.spark.sql.functions
          .coalesce(c, org.apache.spark.sql.functions
            .lit(p.stats.mean.getOrElse(0.0)))
          .as(p.columnName)
      }: _*)
      val hot = graft.ops.Correlation.pearsonPairs(imputed, numeric)
        .collect()
        // constant columns yield null corr (stack path) or NaN (gramian):
        // no linear relationship either way — never a redundancy hit
        .filterNot(r => r.isNullAt(2) || r.getDouble(2).isNaN)
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .collect { case (a, b, c) if math.abs(c) > corrThreshold => (a, b) }
        // collect() order after a shuffle is arbitrary, and the greedy
        // loop's outcome depends on pair order for correlation CHAINS —
        // sort by pair label so the selected set is reproducible at any
        // parallelism
        .sortBy { case (a, b) => (a, b) }
      // stronger-KS member survives, ties by name
      hot.foreach { case (a, b) =>
        if (!dropped(a) && !dropped(b)) {
          val loser =
            if (ksOf(a) < ksOf(b) || (ksOf(a) == ksOf(b) && a > b)) a else b
          dropped += loser
        }
      }
    }
    val screened = lowMissing.filterNot(p => dropped(p.columnName))
    val ranked = screened
      .sortBy(p => (-p.stats.ks.getOrElse(0.0), p.columnName))
    val keep = (catalog.filter(_.flag.contains(ColumnFlag.ForceSelect)) ++
      ranked.take(topN)).map(_.columnName).toSet
    catalog.map(p => p.copy(finalSelect = keep(p.columnName)))
  }

  /** `norm`: compact normalized output [tag, selected..., weight]
    * (reference `NormalizeUDF.java:108-135` column order). */
  def norm(df: DataFrame, spec: DataSpec, catalog: Seq[ColumnProfile],
           normType: NormType): DataFrame = {
    val sel = catalog.filter(_.finalSelect)
    val outCols =
      isPos(spec).cast("int").as("tag") +:
        sel.map(p => Normalize.forProfile(col(p.columnName), p, normType,
          spec.stdDevCutOff).as(s"n_${p.columnName}")) :+
        spec.weightColumn.map(w => Jexl.translate(w).as("weight"))
          .getOrElse(lit(1.0).as("weight"))
    df.select(outCols: _*)
  }

  /** `train` + `eval`: MLlib logistic over the normalized features; AUC
    * from the engine's own distributed sweep (not a driver stream). */
  def trainEval(normalized: DataFrame, maxIter: Int = 10): Double = {
    val feats = normalized.columns.filter(_.startsWith("n_")).toSeq
    val t = graft.train.Train.logistic(normalized, feats,
      col("tag") === 1, maxIter)
    t.auc
  }

  /** `init -autotype`: decide numeric vs categorical per candidate column
    * (reference `InitModelProcessor.java:105-210` thresholds via
    * [[graft.ops.AutoType]]) — returns (numericCols, categoricalCols) in
    * the candidates' order. A numeric- or boolean-typed column is kind N
    * from its schema alone, with no job: every non-null numeric value
    * parses back from its string form (an all-null column gives 0 ≥ 0),
    * and a boolean has at most 2 distinct values. Only the other
    * candidates are profiled. */
  def autoColumns(df: DataFrame, candidates: Seq[String],
                  approxDistinct: Boolean = false): (Seq[String], Seq[String]) = {
    val typedN = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] ||
        f.dataType == BooleanType => f.name
    }.toSet
    val rest = candidates.filterNot(typedN)
    val kinds =
      if (rest.isEmpty) Map.empty[String, String]
      else graft.ops.AutoType.profile(df, rest, approxDistinct)
        .select("col_name", "col_kind").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    def kind(c: String) = if (typedN(c)) "N" else kinds(c)
    (candidates.filter(kind(_) == "N"), candidates.filter(kind(_) == "C"))
  }

  /** Lifecycle with auto-typing: columns split by [[autoColumns]] first. */
  def autoRun(df: DataFrame, spec: DataSpec, candidates: Seq[String],
              topN: Int = 5, normType: NormType = NormType.ZScale,
              catalogPath: Option[String] = None): Result = {
    val clean = init(df, spec)
    val (num, cat) = autoColumns(clean, candidates)
    runOn(clean, spec, num, cat, topN, normType, catalogPath)
  }

  /** The whole lifecycle; catalog persisted when `catalogPath` is given. */
  def run(df: DataFrame, spec: DataSpec, numericCols: Seq[String],
          categoricalCols: Seq[String], topN: Int = 5,
          normType: NormType = NormType.ZScale,
          catalogPath: Option[String] = None): Result =
    runOn(init(df, spec), spec, numericCols, categoricalCols, topN,
      normType, catalogPath)

  private def runOn(clean: DataFrame, spec: DataSpec,
          numericCols: Seq[String], categoricalCols: Seq[String],
          topN: Int, normType: NormType,
          catalogPath: Option[String]): Result = {
    val catalog0 = stats(clean, spec, numericCols, categoricalCols)
    val catalog = varsel(catalog0, topN)
    catalogPath.foreach(p => CatalogIO.write(p, catalog))
    val normed = norm(clean, spec, catalog, normType)
    val auc = trainEval(normed)
    Result(catalog, catalog.filter(_.finalSelect).map(_.columnName),
      normed, auc)
  }
}
