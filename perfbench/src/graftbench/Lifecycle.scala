package graftbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{CatalogIO, ColumnProfile, DataSpec, NormType}
import graft.eval.Eval
import graft.pipeline.Pipeline
import graft.score.Score
import graft.train.Train

/** `lifecycle_wide`: the CLI verb sequence as whole passes over a seeded
  * wide risk table (init → autoColumns → stats → autoFilter → catalog
  * write → norm → bagged train → ensemble score → eval sweep). */
object Lifecycle {
  val Rows = 12000
  val WarmupRows = 2000
  /** Pass wall on 4 cores, which sets how many passes fit `--seconds`. */
  val NominalPassS = 12.0
  val Numeric = 24
  /** Categorical level counts; `c00` is informative. */
  val CatLevels = Seq(10, 20, 35, 50)
  val PosRate = 0.06
  /** Missing rate of numeric column j is MaxMissing * j / (Numeric - 1). */
  val MaxMissing = 0.40
  /** Planted informative numeric columns (index → mean shift for the
    * positive class, in units of the column's spread). */
  val Informative = Map(0 -> 1.0, 7 -> 0.8, 14 -> 0.8)
  val NearCopy = "n00_copy"
  val CopyMissing = 0.15
  val TopN = 8
  val AucFloor = 0.70

  def numName(j: Int) = f"n$j%02d"
  def catName(k: Int) = f"c$k%02d"
  val numericCols: Seq[String] = (0 until Numeric).map(numName) :+ NearCopy
  val catCols: Seq[String] = CatLevels.indices.map(catName)
  val candidates: Seq[String] = numericCols ++ catCols
  val informativeCols: Seq[String] =
    Informative.keys.toSeq.sorted.map(numName) :+ catName(0)

  val spec = DataSpec(targetColumn = "tag", posTags = Set("P"),
    negTags = Set("N"), weightColumn = Some("wgt * 2"),
    filterExpressions = Seq("status != 'closed'"))

  /** Writes the table as parquet; returns the row count that survives
    * `init` (valid tag and not closed). */
  def generate(spark: SparkSession, seed: Long, path: String,
               rows: Int = Rows): Long = {
    val rnd = new SplittableRandom(seed)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType),
      StructField("status", StringType),
      StructField("wgt", DoubleType)) ++
      numericCols.map(StructField(_, DoubleType)) ++
      catCols.map(StructField(_, StringType)))
    var clean = 0L
    val data = (0 until rows).map { i =>
      val pos = rnd.nextDouble() < PosRate
      val tag = if (rnd.nextDouble() < 0.02) "U" else if (pos) "P" else "N"
      val status = if (rnd.nextDouble() < 0.05) "closed" else "open"
      if (tag != "U" && status != "closed") clean += 1
      val nums = (0 until Numeric).map { j =>
        val miss = MaxMissing * j / (Numeric - 1)
        val scale = 1.0 + j % 5
        val shift = if (pos) Informative.getOrElse(j, 0.0) else 0.0
        val v = 10.0 * j + scale * (gauss(rnd) + shift)
        if (rnd.nextDouble() < miss) null else java.lang.Double.valueOf(v)
      }
      // near-copy of n00 with 15% missing: mean-imputed |r| stays ~0.92,
      // and the missing share dilutes its KS by a fixed 15%, so the
      // redundancy screen keeps n00 on every seed
      val copy =
        if (rnd.nextDouble() < CopyMissing) null
        else java.lang.Double.valueOf(nums(0).doubleValue + 0.1 * gauss(rnd))
      val cats = CatLevels.zipWithIndex.map { case (levels, k) =>
        if (rnd.nextDouble() < 0.03 * k) null
        else {
          // c00: positives concentrate on its first three levels
          val lv =
            if (k == 0 && pos && rnd.nextDouble() < 0.5) rnd.nextInt(3)
            else rnd.nextInt(levels)
          f"L$lv%02d"
        }
      }
      Row.fromSeq(Seq(i.toLong, tag, status, 0.5 + 1.5 * rnd.nextDouble()) ++
        nums ++ Seq(copy) ++ cats)
    }
    spark.createDataFrame(data.asJava, schema).repartition(4)
      .write.mode("overwrite").parquet(path)
    clean
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** One full pass; returns the ROC AUC when the pass completed. */
  def pass(run: Run, data: String, cleanRows: Long, passId: Long,
           checked: Boolean = true): Option[Double] = {
    val spark = run.spark
    def check(name: String, op: String, ok: Boolean, known: Boolean = false)(
        detail: => String): Unit =
      if (checked) run.check(name, op, passId, ok, known)(detail)
    val raw = spark.read.parquet(data)
    val catalogPath = s"${run.workDir}/ColumnConfig-$passId.json"
    for {
      clean <- run.op("pipeline.init", passId)(Pipeline.init(raw, spec))
      _ = run.op("pipeline.autoColumns", passId)(
        Pipeline.autoColumns(clean, candidates)).foreach { case (num, cat) =>
        val wrong = candidates.filter(c =>
          num.contains(c) != numericCols.contains(c) ||
            cat.contains(c) != catCols.contains(c))
        // AutoType counts nulls against the numeric-parse share, so
        // numeric columns with >5% missing are typed categorical; the
        // pass continues with the declared kinds either way
        check("autotype_matches_declared", "pipeline.autoColumns",
          wrong.isEmpty, known = true)(
          s"${wrong.length} of ${candidates.length} columns typed against " +
            s"their declared kind: ${wrong.take(8).mkString(",")}")
      }
      catalog0 <- run.op("pipeline.stats", passId)(
        Pipeline.stats(clean, spec, numericCols, catCols))
      _ = {
        val bad = catalog0.filter(_.stats.totalCount != cleanRows)
        check("stats_total_count", "pipeline.stats", bad.isEmpty)(
          s"${bad.length} columns with totalCount != $cleanRows, e.g. " +
            bad.headOption.map(p => s"${p.columnName}=${p.stats.totalCount}")
              .getOrElse(""))
      }
      catalog <- run.op("pipeline.autoFilter", passId)(
        Pipeline.autoFilter(clean, catalog0, TopN))
      _ = if (checked) checkSelection(run, catalog, passId)
      _ <- run.op("catalog.write", passId)(CatalogIO.write(catalogPath, catalog))
      normed <- run.op("pipeline.norm", passId)(
        Pipeline.norm(clean, spec, catalog, NormType.ZScale))
      feats = normed.columns.filter(_.startsWith("n_")).toSeq
      keyed = normed.withColumn("rk", xxhash64(feats.map(col): _*))
      models <- run.op("train.bagged", passId)(
        Train.bagged(keyed, feats, col("tag") === 1, col("rk"), k = 3))
      scored <- run.op("score.ensemble", passId)(keyed.select(
        col("tag") +: col("rk") +:
          Score.ensemble(models.map(Train.toLinear(_, feats))): _*))
      auc <- run.op("eval.sweep", passId) {
        val sweep = Eval.confusionSweep(scored, col("score_mean"),
          col("tag") === 1, Seq(col("rk")))
        val roc = Eval.rocAuc(sweep).head().getDouble(0)
        Eval.prAuc(sweep).head().getDouble(0)
        roc
      }
    } yield {
      check("auc_floor", "eval.sweep", auc >= AucFloor)(
        f"ROC AUC $auc%.4f below the floor $AucFloor")
      auc
    }
  }

  private def checkSelection(run: Run, catalog: Seq[ColumnProfile],
                             passId: Long): Unit = {
    val selected = catalog.filter(_.finalSelect).map(_.columnName).toSet
    val missed = informativeCols.filterNot(selected)
    run.check("informative_selected", "pipeline.autoFilter", passId,
      missed.isEmpty)(s"informative columns not selected: ${missed.mkString(",")}")
    run.check("near_copy_dropped", "pipeline.autoFilter", passId,
      !selected(NearCopy))(s"$NearCopy selected; selected=${selected.toSeq.sorted.mkString(",")}")
  }

  def main(run: Run): Unit = {
    val data = s"${run.workDir}/lifecycle.parquet"
    val gen = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val clean = generate(run.spark, run.seed, data)
      ((System.nanoTime() - t0) / 1e9, clean)
    }
    val cleanRows = gen.head._2
    run.values("gen_s") = Stats.median(gen.map(_._1))
    // warm-up: one unchecked pass over a smaller table of the same shape
    // (too few positives for the selection checks to be meaningful)
    val w0 = System.nanoTime()
    val warm = s"${run.workDir}/lifecycle-warmup.parquet"
    val warmRows = generate(run.spark, run.seed, warm, WarmupRows)
    run.step("lifecycle.pass", -1, traced = false)(
      pass(run, warm, warmRows, -1, checked = false))
    run.values("warmup_s") = (System.nanoTime() - w0) / 1e9
    val firstTimed = run.tracer.spans.length
    val aucs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // trace mode runs untraced, traced, untraced passes: the overhead
    // compares the middle pass with its neighbours, which cancels the
    // JIT warm-up trend across passes
    val passes = run.timedUnits(NominalPassS,
        if (run.traceMode) 3 else 1) { n =>
      run.step("lifecycle.pass", n, traced = n % 2 == 1)(
        pass(run, data, cleanRows, n)).flatten.foreach(aucs += _)
    }
    val lat = run.walls("lifecycle.pass", firstTimed)
    run.values("op_samples") = lat
    run.values("items") = cleanRows * passes
    run.values("quality") = Stats.median(aucs.toSeq)
    run.values("shape") = s"$Rows rows x ${4 + candidates.length} columns, " +
      s"numeric missing 0-${(MaxMissing * 100).toInt}%, " +
      s"$cleanRows rows after init"
    if (run.traceMode) {
      val spans = run.tracer.spans.drop(firstTimed)
        .filter(s => s.name == "lifecycle.pass" && !s.failed)
      run.values("traced_op") = spans.filter(_.traced).map(_.wallS)
      run.values("untraced_op") = spans.filterNot(_.traced).map(_.wallS)
    }
  }
}
