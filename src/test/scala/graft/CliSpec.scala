package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The CLI verb surface drives the full lifecycle on real test data. */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val data = "/root/testdata/sf0.001/lineitem.parquet"
  private val base = Map(
    "data" -> data, "target" -> "l_returnflag",
    "pos" -> "R", "neg" -> "A,N",
    "candidates" -> "l_quantity,l_extendedprice,l_discount,l_tax")

  test("run: selects columns, trains, reports AUC, writes outputs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val out = Cli.run(spark, "run", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") + ("out" -> s"$tmp/norm"))
    assert(out.exists(_.startsWith("selected: ")))
    val auc = out.find(_.startsWith("auc: ")).get.drop(5).toDouble
    assert(auc > 0.0 && auc < 1.0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/ColumnConfig.json")))
    assert(spark.read.parquet(s"$tmp/norm").columns.contains("tag"))
  }

  test("init: writes the auto-typed catalog skeleton") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli17").toString
    // l_returnflag: 3 distinct non-numeric values → C (l_linestatus has
    // only 2 and hits the reference's binary-is-numeric rule)
    val out = Cli.run(spark, "init", base +
      ("candidates" -> "l_quantity,l_returnflag") +
      ("catalog" -> s"$tmp/ColumnConfig.json"))
    assert(out.head.contains("1 numeric, 1 categorical"), out.head)
    val cat = graft.catalog.CatalogIO.read(s"$tmp/ColumnConfig.json")
    assert(cat.map(_.columnName) === Seq("l_quantity", "l_returnflag"))
    assert(cat.head.kind === graft.catalog.ColumnKind.Numeric)
    assert(cat(1).kind === graft.catalog.ColumnKind.Categorical)
    assert(cat.forall(!_.finalSelect))
  }

  test("stats then norm: catalog round-trips through the verbs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli2").toString
    val s1 = Cli.run(spark, "stats", base +
      ("catalog" -> s"$tmp/ColumnConfig.json"))
    assert(s1.head.contains("4 columns"))
    val s2 = Cli.run(spark, "norm", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") + ("out" -> s"$tmp/norm") +
      ("normtype" -> "woe"))
    assert(s2.head.startsWith("normalized: "))
    val normed = spark.read.parquet(s"$tmp/norm")
    assert(normed.columns.toSet.contains("weight"))
    assert(normed.count() > 0)
    // --shuffle N rebalances the output into N part-files (reference
    // `norm -shuffle` MapReduceShuffle semantics)
    Cli.run(spark, "norm", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") + ("out" -> s"$tmp/norm3") +
      ("shuffle" -> "3"))
    val parts = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$tmp/norm3")).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    assert(parts === 3)
    assert(spark.read.parquet(s"$tmp/norm3").count() === normed.count())
  }

  test("eval: external meta-score sweep reports AUC and writes the report") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli4").toString
    val out = Cli.run(spark, "eval", base +
      ("score" -> "l_tax") + ("weight" -> "l_quantity") +
      ("out" -> s"$tmp/report.html"))
    val auc = out.find(_.startsWith("auc: ")).get.drop(5).toDouble
    assert(auc > 0.0 && auc < 1.0)
    val html = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/report.html"))
    assert(html.contains("<svg") && html.contains("<th>lift</th>"))
  }

  test("varsel: re-ranks an existing catalog without a data scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli5").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/ColumnConfig.json"))
    Seq("ks", "iv", "pareto").foreach { m =>
      val out = Cli.run(spark, "varsel", Map(
        "catalog" -> s"$tmp/ColumnConfig.json", "topn" -> "2",
        "method" -> m,
        // varsel reads no data; these satisfy the shared spec parse only
        "data" -> data, "target" -> "l_returnflag",
        "pos" -> "R", "neg" -> "A,N", "candidates" -> "x"))
      assert(out.head.startsWith("selected: "), s"method $m")
      assert(out.head.drop(10).split(",").length === 2, s"method $m")
    }
    // catalog-only modes need NO --data/--target at all (lazy context)
    val listed = Cli.run(spark, "varsel", Map(
      "catalog" -> s"$tmp/ColumnConfig.json", "list" -> "true"))
    assert(listed.head.startsWith("selected: "))
    val ranked = Cli.run(spark, "varsel", Map(
      "catalog" -> s"$tmp/ColumnConfig.json", "topn" -> "3",
      "method" -> "iv"))
    assert(ranked.head.drop(10).split(",").length === 3)
    // itsa scans the data (mask -> drop-worst -> refit on real candidates)
    val outItsa = Cli.run(spark, "varsel", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") + ("topn" -> "2") +
      ("method" -> "itsa"))
    assert(outItsa.head.startsWith("selected: "))
    assert(outItsa.head.drop(10).split(",").length === 2)
  }

  test("varsel honors ForceSelect/ForceRemove flags PERSISTED in the " +
    "catalog JSON (reference VariableSelector.java:180-260 semantics)") {
    import graft.catalog._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli18").toString
    val path = s"$tmp/ColumnConfig.json"
    Cli.run(spark, "stats", base + ("catalog" -> path))
    // find the best- and worst-KS candidates, then pin them the WRONG way
    // round through the persisted file — exactly what a reference user
    // editing ColumnConfig.json does
    val cat0 = CatalogIO.read(path)
    val byKs = cat0.sortBy(-_.stats.ks.getOrElse(0.0)).map(_.columnName)
    val (bestKs, worstKs) = (byKs.head, byKs.last)
    CatalogIO.write(path, cat0.map { p =>
      if (p.columnName == bestKs) p.copy(flag = Some(ColumnFlag.ForceRemove))
      else if (p.columnName == worstKs)
        p.copy(flag = Some(ColumnFlag.ForceSelect))
      else p
    })
    Seq("ks", "iv", "pareto").foreach { m =>
      val out = Cli.run(spark, "varsel", Map(
        "catalog" -> path, "topn" -> "2", "method" -> m))
      val sel = out.head.drop(10).split(",").toSet
      assert(sel.contains(worstKs), s"method $m ignored ForceSelect: $sel")
      assert(!sel.contains(bestKs), s"method $m ignored ForceRemove: $sel")
      // flags themselves survive the verb's write-back
      val after = CatalogIO.read(path)
      assert(after.find(_.columnName == bestKs).get.flag ===
        Some(ColumnFlag.ForceRemove), s"method $m")
      assert(after.find(_.columnName == worstKs).get.flag ===
        Some(ColumnFlag.ForceSelect), s"method $m")
    }
  }

  test("new + --spec: ModelConfig-style dataSet file drives the lifecycle") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli11").toString
    val out = Cli.run(spark, "new", Map("out" -> s"$tmp/ModelConfig.json",
      "target" -> "l_returnflag", "pos" -> "R", "neg" -> "A,N"))
    assert(out.head === s"spec: $tmp/ModelConfig.json")
    val spec = graft.catalog.SpecIO.read(s"$tmp/ModelConfig.json")
    assert(spec.targetColumn === "l_returnflag")
    assert(spec.posTags === Set("R") && spec.negTags === Set("A", "N"))
    // run stats WITHOUT --target/--pos/--neg: everything from the file
    val s1 = Cli.run(spark, "stats", Map(
      "data" -> data, "spec" -> s"$tmp/ModelConfig.json",
      "candidates" -> "l_quantity,l_extendedprice,l_discount,l_tax",
      "catalog" -> s"$tmp/ColumnConfig.json"))
    assert(s1.head.contains("4 columns"))
  }

  test("stats sub-modes: --corr, --psi, --rebin update their artifacts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli12").toString
    val out = Cli.run(spark, "stats", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") +
      ("corr" -> s"$tmp/corr") + ("psi" -> "l_linestatus") +
      ("rebin" -> "l_quantity"))
    assert(out.exists(_.startsWith("corr: ")))
    assert(out.exists(_.startsWith("psi: ")))
    assert(out.exists(_.startsWith("rebin: l_quantity")))
    val corr = spark.read.parquet(s"$tmp/corr")
    assert(corr.columns.toSet === Set("pair", "corr"))
    assert(corr.count() === 6) // C(4,2)
    val catalog = graft.catalog.CatalogIO.read(s"$tmp/ColumnConfig.json")
    val q = catalog.find(_.columnName == "l_quantity").get
    assert(q.stats.psi.isDefined)
    // --psi persists the sorted per-unit "unit|psi" strings
    // (ColumnStats.unitStats, one entry per l_linestatus value: O/F)
    assert(q.stats.unitStats.length === 2)
    assert(q.stats.unitStats === q.stats.unitStats.sorted)
    assert(q.stats.unitStats.forall(_.contains("|")))
    assert(q.binning.binBoundary.head.isNegInfinity)
    // rebin counts cover every row: pos+neg across bins == filtered total
    assert(q.binning.binCountPos.sum + q.binning.binCountNeg.sum > 0)
  }

  test("varsel --list and --reset") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli13").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/ColumnConfig.json"))
    val listed = Cli.run(spark, "varsel", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") + ("list" -> "true"))
    assert(listed.head.startsWith("selected: ") &&
      listed.head.length > "selected: ".length)
    Cli.run(spark, "varsel", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") + ("reset" -> "true"))
    val after = graft.catalog.CatalogIO.read(s"$tmp/ColumnConfig.json")
    assert(after.forall(!_.finalSelect))
  }

  test("train: fits the configured algorithm from a frozen catalog") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli6").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/ColumnConfig.json"))
    val out = Cli.run(spark, "train", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") +
      ("algo" -> "lr") + ("out" -> s"$tmp/model.json"))
    val auc = out.find(_.startsWith("auc: ")).get.drop(5).toDouble
    assert(auc > 0.0 && auc <= 1.0)
    val models = graft.score.Score.importJson(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$tmp/model.json")))
    assert(models.head.weights.nonEmpty)
    // a non-LR algorithm saves an MLlib pipeline directory
    val out2 = Cli.run(spark, "train", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") +
      ("algo" -> "dt") + ("out" -> s"$tmp/dtmodel"))
    assert(out2.exists(_ == "algo: dt"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/dtmodel")))
  }

  test("posttrain: writes per-bin average scores back into the catalog") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli7").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/ColumnConfig.json"))
    val out = Cli.run(spark, "posttrain", base +
      ("catalog" -> s"$tmp/ColumnConfig.json"))
    assert(out.head.startsWith("binAvgScore updated: "))
    val catalog = graft.catalog.CatalogIO.read(s"$tmp/ColumnConfig.json")
    val sel = catalog.filter(_.finalSelect)
    assert(sel.nonEmpty)
    sel.foreach { p =>
      assert(p.binning.binAvgScore.length === p.binning.length + 1,
        s"${p.columnName}: expected value bins + missing bin")
      // reference scoreScale=1000: scores land in [0, 1000]
      assert(p.binning.binAvgScore.forall(s => s >= 0.0 && s <= 1000.0))
    }
  }

  test("encode: tree-path encoding round-trips through the verb") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli8").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/ColumnConfig.json"))
    val out = Cli.run(spark, "encode", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") + ("depth" -> "3") +
      ("out" -> s"$tmp/encoded"))
    val nPaths = out.find(_.startsWith("paths: ")).get.drop(7).toLong
    assert(nPaths >= 1 && nPaths <= 8) // depth-3 tree has <= 8 leaves
    val enc = spark.read.parquet(s"$tmp/encoded")
    assert(enc.columns.toSet === Set("tag", "enc_path", "enc_leaf"))
    // every path is L/R steps; leaf ids match the distinct path count
    import spark.implicits._
    val paths = enc.select("enc_path").distinct().as[String].collect()
    assert(paths.forall(_.matches("[LR]+")), paths.mkString(","))
    // leaf ids are in bijection with paths (depth-first assignment)
    assert(enc.select("enc_path", "enc_leaf").distinct().count() === nPaths)
  }

  test("combo: assembles member models and reports both AUCs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli9").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/ColumnConfig.json"))
    val out = Cli.run(spark, "combo", base +
      ("catalog" -> s"$tmp/ColumnConfig.json") +
      ("algos" -> "lr,dt") + ("out" -> s"$tmp/combo"))
    assert(out.count(_.startsWith("member ")) === 2)
    val comboAuc = out.find(_.startsWith("combo auc: ")).get
      .drop(11).toDouble
    assert(comboAuc > 0.0 && comboAuc <= 1.0)
    val scored = spark.read.parquet(s"$tmp/combo")
    assert(scored.columns.toSet ===
      Set("tag", "combo_0", "combo_1", "combo_mean"))
  }

  test("test: filter dry-run reports per-expression match counts") {
    val out = Cli.run(spark, "test", Map(
      "data" -> data, "target" -> "l_returnflag",
      "pos" -> "R", "neg" -> "A,N", "candidates" -> "x",
      "filter" -> "l_quantity > 25;l_returnflag == 'R'", "n" -> "200"))
    assert(out.length === 2)
    val counts = out.map { line =>
      val m = "(\\d+) of (\\d+) records matched$".r
        .findFirstMatchIn(line).get
      (m.group(1).toLong, m.group(2).toLong)
    }
    assert(counts.forall { case (m, t) => t == 200 && m <= t })
    // a filter that matches everything counts every record
    val all = Cli.run(spark, "test", Map(
      "data" -> data, "target" -> "l_returnflag",
      "pos" -> "R", "neg" -> "A,N", "candidates" -> "x",
      "filter" -> "l_quantity > 0", "n" -> "50"))
    assert(all.head.endsWith("50 of 50 records matched"))
    // --filtersep must tokenize the dry-run exactly like the run it
    // previews: one expression containing a literal ';' stays ONE
    // expression under a custom separator (the hard-coded ';' split
    // dry-ran it as two broken halves)
    val sep = Cli.run(spark, "test", Map(
      "data" -> data, "target" -> "l_returnflag",
      "pos" -> "R", "neg" -> "A,N", "candidates" -> "x",
      "filtersep" -> "@@",
      "filter" -> "l_returnflag == 'R;x' @@ l_quantity > 0", "n" -> "50"))
    assert(sep.length === 2, s"'R;x' must stay one expression: $sep")
    assert(sep(0).endsWith("0 of 50 records matched"))
    assert(sep(1).endsWith("50 of 50 records matched"))
  }

  test("export: writes a parseable PMML with the selected predictors") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli3").toString
    val out = Cli.run(spark, "export", base + ("out" -> s"$tmp/model.pmml"))
    assert(out.head.startsWith("pmml: "))
    val xml = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/model.pmml"))
    val models = graft.score.Score.importPmml(xml)
    assert(models.length === 1)
    assert(models.head.weights.nonEmpty)
  }

  test("eval --confmat/--scoreout write the sweep and per-row scores") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli14").toString
    val out = Cli.run(spark, "eval", base +
      ("score" -> "l_tax") + ("confmat" -> s"$tmp/confmat") +
      ("scoreout" -> s"$tmp/scores"))
    assert(out.exists(_.startsWith("confmat: ")))
    assert(out.exists(_.startsWith("scores: ")))
    val cm = spark.read.parquet(s"$tmp/confmat")
    assert(Set("tp", "fp", "fn", "tn").subsetOf(cm.columns.toSet))
    assert(cm.count() === 10) // sweep buckets
    val sc = spark.read.parquet(s"$tmp/scores")
    assert(sc.columns.toSet === Set("row_id", "score", "tag"))
    assert(sc.count() > 0)
  }

  test("eval --perf re-derives the same AUC from a saved confmat after " +
    "the scores are deleted (reference eval -perf: no re-scoring)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli22").toString
    val out = Cli.run(spark, "eval", base +
      ("score" -> "l_tax") + ("confmat" -> s"$tmp/confmat") +
      ("scoreout" -> s"$tmp/scores"))
    val auc = out.find(_.startsWith("auc: ")).get.drop(5).toDouble
    // delete the per-row scores — only the bounded bucket table remains
    def rm(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.foreach(rm)
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(s"$tmp/scores"))
    val perf = Cli.run(spark, "eval",
      Map("perf" -> s"$tmp/confmat", "out" -> s"$tmp/perf.html"))
    val auc2 = perf.find(_.startsWith("auc: ")).get.drop(5).toDouble
    assert(auc2 === auc) // bit-equal: same sweep, same trapezoid
    val pr = perf.find(_.startsWith("pr_auc: ")).get.drop(8).toDouble
    assert(pr > 0.0 && pr <= 1.0)
    assert(perf.exists(_ === "buckets: 10"))
    val html = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/perf.html"))
    assert(html.contains("<svg"))
  }

  test("export -t columnstats/woemapping flatten the catalog") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli15").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/ColumnConfig.json"))
    val o1 = Cli.run(spark, "export", base +
      ("type" -> "columnstats") + ("catalog" -> s"$tmp/ColumnConfig.json") +
      ("out" -> s"$tmp/colstats"))
    assert(o1.head.startsWith("columnstats: "))
    val cs = spark.read.parquet(s"$tmp/colstats")
    assert(cs.count() === 4)
    assert(cs.columns.contains("ks") && cs.columns.contains("iv"))
    val o2 = Cli.run(spark, "export", base +
      ("type" -> "woemapping") + ("catalog" -> s"$tmp/ColumnConfig.json") +
      ("out" -> s"$tmp/woemap"))
    assert(o2.head.startsWith("woemapping: "))
    val wm = spark.read.parquet(s"$tmp/woemap")
    assert(wm.columns.toSet ===
      Set("column_name", "bin_id", "bin_lo_or_category", "woe"))
    assert(wm.count() > 0)
  }

  test("export -t bagging/baggingpmml round-trip the k-member ensemble") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli16").toString
    val o1 = Cli.run(spark, "export", base + ("type" -> "bagging") +
      ("bags" -> "3") + ("out" -> s"$tmp/bagged.json"))
    assert(o1.head.startsWith("bagging: "))
    val models = graft.score.Score.importJson(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$tmp/bagged.json")))
    assert(models.length === 3)
    assert(models.forall(_.weights.nonEmpty))
    val o2 = Cli.run(spark, "export", base + ("type" -> "baggingpmml") +
      ("bags" -> "2") + ("out" -> s"$tmp/bagged.pmml"))
    assert(o2.head.startsWith("baggingpmml: "))
    val pm = graft.score.Score.importPmml(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/bagged.pmml")))
    assert(pm.length === 2)
  }

  test("export --algo nn/dt: NeuralNetwork and TreeModel PMML parse back") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli10").toString
    Cli.run(spark, "export", base +
      ("algo" -> "nn") + ("out" -> s"$tmp/nn.pmml"))
    val mlp = graft.score.Pmml.importNN(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/nn.pmml")))
    assert(mlp.layers.nonEmpty && mlp.layers.last.b.length === 2)
    Cli.run(spark, "export", base +
      ("algo" -> "dt") + ("out" -> s"$tmp/dt.pmml"))
    val tree = graft.score.Pmml.importTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/dt.pmml")))
    assert(tree.isInstanceOf[graft.score.Score.Split])
  }

  test("eval sets: -new/-list/-switch/-run/-delete lifecycle persists " +
    "frozen per-set configs and runs the named set") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli20").toString
    val sets = s"$tmp/EvalSets.json"
    // two sets with different frozen score columns
    Cli.run(spark, "eval", base + ("sets" -> sets) +
      ("new" -> "EvalA") + ("score" -> "l_tax"))
    Cli.run(spark, "eval", base + ("sets" -> sets) +
      ("new" -> "EvalB") + ("score" -> "l_discount") + ("buckets" -> "20"))
    val listed = Cli.run(spark, "eval",
      Map("sets" -> sets, "list" -> "true"))
    assert(listed.head === "evals: EvalA*,EvalB") // first created = current
    Cli.run(spark, "eval", Map("sets" -> sets, "switch" -> "EvalB"))
    assert(Cli.run(spark, "eval", Map("sets" -> sets, "list" -> "true"))
      .head === "evals: EvalA,EvalB*")
    // --run pulls data path, spec, score column AND bucket count from the
    // frozen set — no --data/--target/--score flags at all
    val out = Cli.run(spark, "eval",
      Map("sets" -> sets, "run" -> "EvalB"))
    val auc = out.find(_.startsWith("auc: ")).get.drop(5).toDouble
    assert(auc > 0.0 && auc < 1.0)
    assert(out.exists(_ == "buckets: 20"), out)
    Cli.run(spark, "eval", Map("sets" -> sets, "delete" -> "EvalB"))
    val after = graft.catalog.EvalSetIO.read(sets)
    assert(after.sets.map(_.name) === Vector("EvalA"))
    assert(after.current === None) // deleted set was current
  }

  test("varsel --recover replays the history file and restores the " +
    "pre-varsel selection (reference -recoverauto)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli22").toString
    val cat = s"$tmp/ColumnConfig.json"
    Cli.run(spark, "stats", base + ("catalog" -> cat)) // selects top-5 (all 4)
    val before = graft.catalog.CatalogIO.read(cat)
      .map(p => p.columnName -> p.finalSelect).toMap
    Cli.run(spark, "varsel", Map("catalog" -> cat, "topn" -> "1"))
    val narrowed = graft.catalog.CatalogIO.read(cat)
    assert(narrowed.count(_.finalSelect) === 1)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$cat.varsel_history")))
    val out = Cli.run(spark, "varsel",
      Map("catalog" -> cat, "recover" -> "true"))
    assert(out.head.startsWith("selected: "))
    val after = graft.catalog.CatalogIO.read(cat)
      .map(p => p.columnName -> p.finalSelect).toMap
    assert(after === before, "recover must restore the pre-varsel statuses")
  }

  test("train --algo tensorflow: shells out to the external trainer and " +
    "scores the returned literal model") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli21").toString
    val script = java.nio.file.Paths.get(tmp, "tf.sh")
    java.nio.file.Files.writeString(script,
      """#!/bin/sh
        |set -e
        |test -d "$1/data" && test -f "$1/GenericModelConfig.json"
        |cat > "$1/model.json" <<'EOF'
        |[{"weights":[{"col":"n_l_quantity","w":2.0}],"bias":-0.5}]
        |EOF
        |""".stripMargin)
    script.toFile.setExecutable(true)
    val cat = s"$tmp/ColumnConfig.json"
    Cli.run(spark, "stats", base + ("catalog" -> cat))
    val out = Cli.run(spark, "train", base + ("catalog" -> cat) +
      ("algo" -> "tensorflow") + ("cmd" -> script.toString) +
      ("workdir" -> s"$tmp/work") + ("out" -> s"$tmp/model.json"))
    assert(out.exists(_ == "algo: tensorflow"))
    val auc = out.find(_.startsWith("auc: ")).get.drop(5).toDouble
    assert(auc > 0.0 && auc < 1.0)
    val models = graft.score.Score.importJson(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$tmp/model.json")))
    assert(models.head.weights === Seq("n_l_quantity" -> 2.0))
    // the materialized training set carries every normalized feature
    val data = spark.read.parquet(s"$tmp/work/data")
    assert(data.columns.contains("n_l_quantity") &&
      data.columns.contains("label"))
  }

  test("export --algo rf/gbt: one MiningModel/Segmentation document " +
    "per ensemble parses back with the right combination method") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli19").toString
    Cli.run(spark, "export", base +
      ("algo" -> "rf") + ("trees" -> "3") + ("out" -> s"$tmp/rf.pmml"))
    val rf = graft.score.Pmml.importEnsemble(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/rf.pmml")))
    assert(rf.trees.length === 3 && rf.method === "average")
    Cli.run(spark, "export", base +
      ("algo" -> "gbt") + ("trees" -> "3") + ("out" -> s"$tmp/gbt.pmml"))
    val g = graft.score.Pmml.importEnsemble(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/gbt.pmml")))
    assert(g.trees.length === 3 && g.method === "sum")
    assert(g.weights.head === 1.0)
  }

  test("export -t corr: name-ordered, sorted pair CSV carrying the " +
    "catalog's IV metric (reference ExportModelProcessor corr)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli23").toString
    val cat = s"$tmp/ColumnConfig.json"
    Cli.run(spark, "stats", base + ("catalog" -> cat))
    val out = Cli.run(spark, "export", base + ("type" -> "corr") +
      ("catalog" -> cat) + ("out" -> s"$tmp/corr.csv"))
    assert(out.head === s"corr: $tmp/corr.csv (6 pairs)") // C(4,2)
    val fields = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$tmp/corr.csv"))
      .asScala.toVector.map(_.split(",", -1))
    assert(fields.forall(_.length === 5))
    assert(fields.forall(f => f(0) < f(1)), "pair names ordered left<right")
    val keys = fields.map(f => (f(0), f(1)))
    assert(keys === keys.sorted && keys.distinct === keys)
    assert(fields.forall(f => math.abs(f(2).toDouble) <= 1.0))
    // the metric columns are the catalog's persisted IV, per side
    val iv = graft.catalog.CatalogIO.read(cat)
      .map(p => p.columnName -> p.stats.iv.getOrElse(Double.NaN)).toMap
    assert(fields.forall(f => f(3).toDouble === iv(f(0)) &&
      f(4).toDouble === iv(f(1))))
  }

  test("eval --norm: train-frozen normalization of the named eval set " +
    "matches the norm verb bit-for-bit (reference eval -norm)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli24").toString
    val cat = s"$tmp/ColumnConfig.json"
    Cli.run(spark, "stats", base + ("catalog" -> cat))
    Cli.run(spark, "eval", base + ("sets" -> s"$tmp/EvalSets.json") +
      ("new" -> "e1") + ("score" -> "l_discount"))
    val out = Cli.run(spark, "eval", base +
      ("sets" -> s"$tmp/EvalSets.json") + ("run" -> "e1") +
      ("catalog" -> cat) + ("norm" -> s"$tmp/enorm"))
    assert(out.head.startsWith("evalnorm: ") && out.head.contains("set: e1"))
    val evalNormed = spark.read.parquet(s"$tmp/enorm")
    Cli.run(spark, "norm", base + ("catalog" -> cat) +
      ("out" -> s"$tmp/tnorm"))
    val trainNormed = spark.read.parquet(s"$tmp/tnorm")
    assert(evalNormed.columns.sorted === trainNormed.columns.sorted)
    // same data + same frozen catalog ⇒ identical normalized rows: the
    // eval path must not refit anything
    assert(evalNormed.exceptAll(trainNormed).isEmpty &&
      trainNormed.exceptAll(evalNormed).isEmpty)
  }

  test("flag-sourced --weight with a JEXL-hostile name ('my-weight') " +
    "survives eval-set freezing and eval --run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli25").toString
    spark.read.parquet(data)
      .withColumn("my-weight", org.apache.spark.sql.functions.col("l_quantity"))
      .write.parquet(s"$tmp/wdata")
    Cli.run(spark, "eval", base + ("data" -> s"$tmp/wdata") +
      ("sets" -> s"$tmp/EvalSets.json") + ("new" -> "w1") +
      ("score" -> "l_discount") + ("weight" -> "my-weight"))
    // before the backtick escape this threw at translate/analysis time
    // (the frozen spec's 'my-weight' lexed as `my - weight`)
    val out = Cli.run(spark, "eval", base + ("data" -> s"$tmp/wdata") +
      ("sets" -> s"$tmp/EvalSets.json") + ("run" -> "w1"))
    val auc = out.find(_.startsWith("auc: ")).get.drop(5).toDouble
    assert(auc > 0.0 && auc < 1.0)
  }

  test("varsel --recover pops only the LATEST run and truncates it; " +
    "consecutive recovers unwind run-by-run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli26").toString
    val cat = s"$tmp/ColumnConfig.json"
    Cli.run(spark, "stats", base + ("catalog" -> cat)) // all 4 selected
    Cli.run(spark, "varsel", Map("catalog" -> cat, "topn" -> "2")) // run A
    Cli.run(spark, "varsel", Map("catalog" -> cat, "topn" -> "1")) // run B
    def nSel = graft.catalog.CatalogIO.read(cat).count(_.finalSelect)
    assert(nSel === 1)
    Cli.run(spark, "varsel", Map("catalog" -> cat, "recover" -> "true"))
    assert(nSel === 2, "first recover undoes run B only")
    Cli.run(spark, "varsel", Map("catalog" -> cat, "recover" -> "true"))
    assert(nSel === 4, "second recover undoes run A")
    // history fully consumed — a third recover has nothing to replay
    intercept[IllegalArgumentException] {
      Cli.run(spark, "varsel", Map("catalog" -> cat, "recover" -> "true"))
    }
  }

  test("new verb honors --filtersep when writing the starter spec") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli27").toString
    Cli.run(spark, "new", Map("out" -> s"$tmp/ModelConfig.json",
      "filtersep" -> "@@",
      "filter" -> "l_shipmode == 'a;b' @@ l_quantity > 3"))
    val spec = graft.catalog.SpecIO.read(s"$tmp/ModelConfig.json")
    assert(spec.filterExpressions.length === 2)
    assert(spec.filterExpressions.head.contains("'a;b'"),
      "a literal ';' inside a filter must not split the expression")
  }

  test("stats --merge: two frozen-bounds partition catalogs combine into " +
    "the whole-data catalog (counts exact), mismatched bounds pass through") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_m").toString
    val li = spark.read.parquet(data)
    val cols = Seq("l_quantity", "l_discount")
    val isPos = col("l_returnflag") === "R"
    val whole = graft.ops.StatsPipeline.profileNumeric(
      li, cols, isPos, full = true)
    val bounds: Map[String, Seq[Double]] =
      whole.map { case (c, p) => c -> (p.binning.binBoundary: Seq[Double]) }
    def part(cond: org.apache.spark.sql.Column, path: String) = {
      val prof = graft.ops.StatsPipeline.profileNumeric(li.filter(cond),
        cols, isPos, full = true, boundsOverride = Some(bounds))
      graft.catalog.CatalogIO.write(path, cols.map(prof))
    }
    part(col("l_orderkey") % 2 === 0, s"$tmp/even.json")
    part(col("l_orderkey") % 2 =!= 0, s"$tmp/odd.json")
    val out = Cli.run(spark, "stats", Map(
      "merge" -> s"$tmp/even.json,$tmp/odd.json",
      "catalog" -> s"$tmp/merged.json"))
    assert(out.head.contains("2 catalogs"), out.head)
    assert(out.head.contains("0 passed through"), out.head)
    val merged = graft.catalog.CatalogIO.read(s"$tmp/merged.json")
      .map(p => p.columnName -> p).toMap
    cols.foreach { c =>
      assert(merged(c).stats.totalCount === whole(c).stats.totalCount)
      assert(merged(c).binning.binCountPos === whole(c).binning.binCountPos)
      assert(merged(c).stats.ks === whole(c).stats.ks, s"$c ks exact")
    }
    // a catalog with different boundaries must NOT merge
    val shifted = graft.catalog.CatalogIO.read(s"$tmp/odd.json").map(p =>
      p.copy(binning = p.binning.copy(
        binBoundary = p.binning.binBoundary.map(_ + 0.5))))
    graft.catalog.CatalogIO.write(s"$tmp/shifted.json", shifted)
    val out2 = Cli.run(spark, "stats", Map(
      "merge" -> s"$tmp/even.json,$tmp/shifted.json",
      "catalog" -> s"$tmp/m2.json"))
    assert(out2.exists(_.startsWith("unmerged: ")), out2.mkString("|"))
  }

  test("stats --merge + --hll sidecars: merged catalog regains " +
    "distinctCount from register-wise max; missing sidecar degrades " +
    "gracefully") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_h").toString
    val li = spark.read.parquet(data)
    val cols = Seq("l_quantity", "l_extendedprice")
    val isPos = col("l_returnflag") === "R"
    val whole = graft.ops.StatsPipeline.profileNumeric(
      li, cols, isPos, full = true)
    val bounds: Map[String, Seq[Double]] =
      whole.map { case (c, p) => c -> (p.binning.binBoundary: Seq[Double]) }
    def part(cond: org.apache.spark.sql.Column, path: String) = {
      val d = li.filter(cond)
      val prof = graft.ops.StatsPipeline.profileNumeric(d,
        cols, isPos, full = true, boundsOverride = Some(bounds))
      graft.catalog.CatalogIO.write(path, cols.map(prof))
      val regs = graft.agg.Hll.buildFor(d, cols)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$path.hll"),
        regs.toSeq.sortBy(_._1).map { case (c, r) =>
          s"$c\t${graft.agg.Hll.serialize(r)}"
        }.mkString("\n"))
    }
    part(col("l_orderkey") % 2 === 0, s"$tmp/even.json")
    part(col("l_orderkey") % 2 =!= 0, s"$tmp/odd.json")
    val out = Cli.run(spark, "stats", Map(
      "merge" -> s"$tmp/even.json,$tmp/odd.json",
      "catalog" -> s"$tmp/merged.json"))
    assert(out.exists(_.startsWith("hll: ")), out.mkString("|"))
    assert(new java.io.File(s"$tmp/merged.json.hll").exists())
    val merged = graft.catalog.CatalogIO.read(s"$tmp/merged.json")
      .map(p => p.columnName -> p).toMap
    cols.foreach { c =>
      val exact = li.select(countDistinct(col(c))).head().getLong(0)
      val est = merged(c).stats.distinctCount
      assert(est.isDefined, s"$c should carry a recovered distinctCount")
      assert(math.abs(est.get.toDouble / exact - 1.0) <= 0.05,
        s"$c distinct est ${est.get} vs exact $exact")
    }
    // merged registers == whole-data registers (order independence)
    val wholeRegs = graft.agg.Hll.buildFor(li, cols)
    val sidecar = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$tmp/merged.json.hll"))
    sidecar.forEach { line =>
      val Array(c, s0) = line.split("\t", 2)
      assert(java.util.Arrays.equals(
        graft.agg.Hll.deserialize(s0), wholeRegs(c)), s"$c registers")
    }
    // one partition without a sidecar → merge still works, no hll line
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/odd.json.hll"))
    val out2 = Cli.run(spark, "stats", Map(
      "merge" -> s"$tmp/even.json,$tmp/odd.json",
      "catalog" -> s"$tmp/m2.json"))
    assert(!out2.exists(_.startsWith("hll: ")), out2.mkString("|"))
    val m2 = graft.catalog.CatalogIO.read(s"$tmp/m2.json")
      .map(p => p.columnName -> p).toMap
    assert(m2(cols.head).stats.distinctCount.isEmpty)
  }

  test("stats --drift: catalog-level PSI between frozen-bounds catalogs, " +
    "ALERT above threshold, incomparable catalogs refused") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_d").toString
    val li = spark.read.parquet(data)
    val isPos = col("l_returnflag") === "R"
    val whole = graft.ops.StatsPipeline.profileNumeric(
      li, Seq("l_quantity"), isPos)
    val bounds: Map[String, Seq[Double]] =
      whole.map { case (c, p) => c -> (p.binning.binBoundary: Seq[Double]) }
    def part(cond: org.apache.spark.sql.Column, path: String) =
      graft.catalog.CatalogIO.write(path, Seq(
        graft.ops.StatsPipeline.profileNumeric(li.filter(cond),
          Seq("l_quantity"), isPos,
          boundsOverride = Some(bounds))("l_quantity")))
    part(col("l_quantity") <= 25, s"$tmp/low.json")   // drifted halves
    part(col("l_quantity") > 25, s"$tmp/high.json")
    val out = Cli.run(spark, "stats", Map(
      "drift" -> s"$tmp/high.json", "catalog" -> s"$tmp/low.json"))
    assert(out.head.startsWith("drift: l_quantity psi="), out.head)
    assert(out.head.endsWith(" ALERT"),
      "disjoint quantity ranges are maximal drift")
    // same catalog against itself: psi 0, no alert
    val out0 = Cli.run(spark, "stats", Map(
      "drift" -> s"$tmp/low.json", "catalog" -> s"$tmp/low.json"))
    assert(out0.head.contains("psi=0.000000") && !out0.head.contains("ALERT"))
    // incomparable binning refused
    val shifted = graft.catalog.CatalogIO.read(s"$tmp/low.json").map(p =>
      p.copy(binning = p.binning.copy(
        binBoundary = p.binning.binBoundary.map(_ + 0.5))))
    graft.catalog.CatalogIO.write(s"$tmp/shift.json", shifted)
    assertThrows[IllegalArgumentException] {
      Cli.run(spark, "stats", Map(
        "drift" -> s"$tmp/shift.json", "catalog" -> s"$tmp/low.json"))
    }
  }

  test("stats --sketch + --merge: quantile sidecars merge and the merged " +
    "catalog regains median/p25/p75") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_q").toString
    val li = spark.read.parquet(data)
    val isPos = col("l_returnflag") === "R"
    val whole = graft.ops.StatsPipeline.profileNumeric(
      li, Seq("l_quantity"), isPos)
    val bounds: Map[String, Seq[Double]] =
      whole.map { case (c, p) => c -> (p.binning.binBoundary: Seq[Double]) }
    def part(cond: org.apache.spark.sql.Column, path: String) = {
      val d = li.filter(cond)
      graft.catalog.CatalogIO.write(path, Seq(
        graft.ops.StatsPipeline.profileNumeric(d, Seq("l_quantity"), isPos,
          boundsOverride = Some(bounds))("l_quantity")))
      val sk = graft.ops.QuantileSketch.buildFor(d, Seq("l_quantity"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$path.quantiles"),
        s"l_quantity\t${graft.ops.QuantileSketch.serialize(sk("l_quantity"))}")
    }
    part(col("l_orderkey") % 2 === 0, s"$tmp/even.json")
    part(col("l_orderkey") % 2 =!= 0, s"$tmp/odd.json")
    val out = Cli.run(spark, "stats", Map(
      "merge" -> s"$tmp/even.json,$tmp/odd.json",
      "catalog" -> s"$tmp/merged.json"))
    assert(out.exists(_.startsWith("quantiles: 1 sketches merged")), out)
    val merged = graft.catalog.CatalogIO.read(s"$tmp/merged.json").head
    assert(merged.stats.median.isDefined && merged.stats.p25.isDefined)
    // l_quantity is uniform 1..50: the merged-sketch median sits mid-range
    assert(merged.stats.median.get > 20.0 && merged.stats.median.get < 31.0,
      s"median=${merged.stats.median}")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/merged.json.quantiles")),
      "merged sidecar written for the next day in the chain")
    // the --sketch flag writes the sidecar from the stats verb itself
    val out2 = Cli.run(spark, "stats", base +
      ("catalog" -> s"$tmp/c2.json") + ("sketch" -> "1"))
    assert(out2.exists(_.startsWith("quantiles: ")), out2.mkString("|"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/c2.json.quantiles")))
  }

  test("norm --format orc: normalized output lands as readable ORC") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_orc").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/c.json"))
    val out = Cli.run(spark, "norm", base +
      ("catalog" -> s"$tmp/c.json") + ("out" -> s"$tmp/norm_orc") +
      ("format" -> "orc"))
    assert(out.head.contains("orc"), out.head)
    val back = spark.read.format("orc").load(s"$tmp/norm_orc")
    assert(back.columns.contains("tag") && back.count() > 0)
  }

  test("stats --topk: Misra-Gries heavy hitters for a column, with " +
    "parquet out and the guaranteed heavy item present") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_hh").toString
    val out = Cli.run(spark, "stats", base +
      ("catalog" -> s"$tmp/c.json") + ("topk" -> "l_returnflag") +
      ("topkn" -> "8") + ("topkout" -> s"$tmp/hh"))
    val line = out.find(_.startsWith("topk: ")).get
    // l_returnflag has 3 values over ~60k rows; with k=8 counters all
    // three are guaranteed (freq >> n/9)
    assert(line.contains("l_returnflag"))
    val hh = spark.read.parquet(s"$tmp/hh").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val truth = spark.read.parquet(data).groupBy("l_returnflag").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val n = truth.values.sum
    for ((t, c) <- truth) {
      assert(hh.contains(t), s"heavy item $t missing")
      assert(hh(t) <= c && hh(t) >= c - n / 9, s"$t: est=${hh(t)} true=$c")
    }
  }

  test("posttrain --calibrate: sidecar written; reloaded fn is monotone, " +
    "in [0,1], and matches the MLlib model pointwise") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_cal").toString
    Cli.run(spark, "stats", base + ("catalog" -> s"$tmp/c.json"))
    val out = Cli.run(spark, "posttrain", base +
      ("catalog" -> s"$tmp/c.json") + ("calibrate" -> "true"))
    val line = out.find(_.startsWith("calibration: "))
    assert(line.isDefined, out.mkString("|"))
    val sidecar = s"$tmp/c.json.calibration"
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(sidecar)))
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(sidecar))
    val fn = graft.train.Calibrate.deserializeFn(txt)
    // monotone nondecreasing over a probe grid, all probs in [0,1]
    val probe = (0 to 100).map(_ / 100.0).map(fn)
    assert(probe.zip(probe.drop(1)).forall { case (a, b) => a <= b })
    assert(probe.forall(p => p >= 0.0 && p <= 1.0))
    // pointwise parity with the in-memory model on the sidecar knots
    val rows = txt.split("\n").map(_.split("\t")).map(a =>
      (a(0).toDouble, a(1).toDouble))
    rows.foreach { case (b, p) => assert(fn(b) === p) }
    // interpolation between adjacent distinct knots: midpoint = mean
    rows.sliding(2).foreach {
      case Array((b0, p0), (b1, p1)) if b1 > b0 =>
        assert(math.abs(fn((b0 + b1) / 2) - (p0 + p1) / 2) < 1e-12)
      case _ => ()
    }
  }
  test("validate: data-quality gate reports ppm metrics, writes JSON, " +
    "and flags failures") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cliV").toString
    val orders = "/root/testdata/sf0.001/orders.parquet"
    val customer = "/root/testdata/sf0.001/customer.parquet"
    val out = Cli.run(spark, "validate", Map(
      "data" -> orders,
      "notnull" -> "o_orderpriority",
      "unique" -> "o_orderkey",
      "inset" -> "o_orderstatus:O|F|P",
      "fk" -> s"o_custkey:$customer:c_custkey",
      "out" -> s"$tmp/report.json"))
    assert(out.last === "validate: PASS (4 checks)")
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/report.json"))
    assert(json.contains("\"check\":\"foreign_key\""))
    assert(json.contains("\"metric_ppm\":0,\"ok\":1")) // zero orphans
    // a failing range check flips the summary and the ok flag
    val out2 = Cli.run(spark, "validate", Map(
      "data" -> orders,
      "range" -> "o_totalprice:0:10")) // nothing is under $10
    assert(out2.last.startsWith("validate: FAIL (1 of 1"))
    assert(out2.head.contains("ok=0"))
  }

  test("inspect: malformed specs fail fast with the reference's error " +
    "classes (ModelInspector parity); a sound spec passes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli23").toString
    // sound spec against real data
    graft.catalog.SpecIO.write(s"$tmp/good.json", graft.catalog.DataSpec(
      targetColumn = "l_returnflag", posTags = Set("R"),
      negTags = Set("N", "A")))
    val ok = Cli.run(spark, "inspect",
      Map("spec" -> s"$tmp/good.json", "data" -> data))
    assert(ok.last === "inspect: PASS")
    // tag overlap + bad maxNumBin + bad stdDevCutOff + broken JEXL,
    // all reported in ONE probe (cause list, not first-error-wins)
    graft.catalog.SpecIO.write(s"$tmp/bad.json", graft.catalog.DataSpec(
      targetColumn = "", posTags = Set("R", "X"), negTags = Set("N", "X"),
      filterExpressions = Seq("l_quantity >=== 3"),
      maxNumBin = 40000, stdDevCutOff = -1.0))
    val bad = Cli.run(spark, "inspect", Map("spec" -> s"$tmp/bad.json"))
    assert(bad.last.startsWith("inspect: FAIL"))
    assert(bad.exists(_.contains("The target column name is null or empty.")))
    assert(bad.exists(_.contains("Identical tag(s) in posTags and negTags: X")))
    assert(bad.exists(_.contains("stats#maxNumBin should be in [0, 32767].")))
    assert(bad.exists(_.contains(
      "stdDevCutOff should be positive value in normalize configuration")))
    assert(bad.exists(_.contains("does not parse as JEXL")))
    // numerical target (both tag sets empty): binning-method restrictions
    graft.catalog.SpecIO.write(s"$tmp/numt.json", graft.catalog.DataSpec(
      targetColumn = "y", posTags = Set(), negTags = Set()))
    val numt = Cli.run(spark, "inspect", Map("spec" -> s"$tmp/numt.json",
      "binmethod" -> "EqualPositive", "binalgo" -> "DynamicBinning"))
    assert(numt.exists(_.contains(
      "For numerical target, only EqualInterval and EqualTotal are allowed")))
    assert(numt.exists(_.contains(
      "For numerical target, DynamicBinning is not allowed")))
    // column-role collisions (target in meta; select/remove overlap)
    val roles = Cli.run(spark, "inspect", Map("spec" -> s"$tmp/good.json",
      "meta" -> "l_returnflag,l_comment",
      "forceselect" -> "l_quantity,l_tax",
      "forceremove" -> "l_tax"))
    assert(roles.exists(_.contains(
      "The target column name shouldn't be in the meta column conf.")))
    assert(roles.exists(_.contains("Column - l_tax exists both in force " +
      "select conf and force remove conf.")))
    // missing data path + eval-set name collision
    val es = graft.catalog.EvalSets(Some("e1"), Vector(
      graft.catalog.EvalSet("e1", data,
        graft.catalog.SpecIO.read(s"$tmp/good.json")),
      graft.catalog.EvalSet("e1", s"$tmp/nope.parquet",
        graft.catalog.SpecIO.read(s"$tmp/good.json"))))
    graft.catalog.EvalSetIO.write(s"$tmp/sets.json", es)
    val evr = Cli.run(spark, "inspect", Map("spec" -> s"$tmp/good.json",
      "sets" -> s"$tmp/sets.json", "data" -> s"$tmp/missing.parquet"))
    assert(evr.exists(_.contains(
      "Eval set name 'e1' is defined more than once.")))
    assert(evr.exists(_.contains("Train Set: data path doesn't exist")))
    assert(evr.exists(_.contains("Eval Set - e1: data path doesn't exist")))
  }

  test("gate: one-shot streaming dedup admission over a parquet feed — " +
    "intra keep-first within the drain, checkpointed resume screens " +
    "only new files against the persisted index") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_cli_gate").toString
    def feedFile(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$t/feed")
    feedFile(
      1L -> "cli gate seed document with some words in it",
      2L -> "cli gate seed document with some words in it", // intra dup of 1
      3L -> "a different document that should be admitted")
    val r1 = Cli.run(spark, "gate", Map("feed" -> s"$t/feed",
      "index" -> s"$t/idx", "out" -> s"$t/out",
      "checkpoint" -> s"$t/ckpt", "intra" -> "true"))
    assert(r1.head.startsWith("gate: 3 decisions, 2 kept, 1 rejected"),
      r1.mkString("\n"))
    // second invocation, same checkpoint: only the NEW file is
    // screened, and it dups the first run's seed via the index
    feedFile(4L -> "cli gate seed document with some words in it",
      5L -> "yet another new and unique document arriving later")
    val r2 = Cli.run(spark, "gate", Map("feed" -> s"$t/feed",
      "index" -> s"$t/idx", "out" -> s"$t/out",
      "checkpoint" -> s"$t/ckpt", "intra" -> "true"))
    assert(r2.head.startsWith("gate: 5 decisions, 3 kept, 2 rejected"),
      r2.mkString("\n"))
    val d = spark.read.parquet(s"$t/out")
      .select("doc_id", "kept").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(d(1L) && !d(2L) && d(3L) && !d(4L) && d(5L))
    // takedown: retract the seed's content, then a third run re-admits
    // a fresh copy of it
    Seq(0L -> "cli gate seed document with some words in it")
      .toDF("doc_id", "text").write.parquet(s"$t/takedown")
    val r3 = Cli.run(spark, "gate", Map("index" -> s"$t/idx",
      "retract" -> s"$t/takedown"))
    assert(r3.head.startsWith("gate: retracted"), r3.mkString("\n"))
    feedFile(6L -> "cli gate seed document with some words in it")
    val r4 = Cli.run(spark, "gate", Map("feed" -> s"$t/feed",
      "index" -> s"$t/idx", "out" -> s"$t/out",
      "checkpoint" -> s"$t/ckpt", "intra" -> "true"))
    assert(r4.head.startsWith("gate: 6 decisions, 4 kept"),
      r4.mkString("\n"))
  }

  test("gate takedown lifecycle end-to-end through the CLI: feed -> " +
    "retract -> compacting drains apply then sweep the tombstone -> " +
    "the re-fed content is re-admitted once, stays indexed through the " +
    "sweep, and screens every later arrival") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_cli_td").toString
    val seed = "cli takedown lifecycle seed document please retract me"
    var nextFiller = 0
    def feedFile(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$t/feed")
    // compactevery=1: every drained batch is followed by a compaction,
    // so the drill exercises apply -> logical sweep -> physical sweep
    // through the CLI alone
    def gate(): Unit = {
      Cli.run(spark, "gate", Map("feed" -> s"$t/feed",
        "index" -> s"$t/idx", "out" -> s"$t/out",
        "checkpoint" -> s"$t/ckpt", "compactevery" -> "1"))
      ()
    }
    def decisions(): Map[Long, Boolean] =
      spark.read.parquet(s"$t/out").select("doc_id", "kept").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def tombsOnDisk(): Seq[String] = {
      val p = java.nio.file.Paths.get(t, "idx", "tombs_hashes")
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(p).iterator().asScala
          .map(_.getFileName.toString).toSeq
      }
    }
    def manifest(): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "idx", "manifest.json")), "UTF-8")
    feedFile(1L -> seed, 2L -> "unrelated filler document number two")
    gate()
    feedFile(3L -> seed) // duplicate of the indexed seed
    gate()
    assert(decisions()(1L) && !decisions()(3L))
    // takedown via the CLI
    Seq(9L -> seed).toDF("doc_id", "text").write.parquet(s"$t/take")
    val r = Cli.run(spark, "gate", Map("index" -> s"$t/idx",
      "retract" -> s"$t/take", "tag" -> "tdcase"))
    assert(r.head.startsWith("gate: retracted"))
    assert(tombsOnDisk() === Seq("t_tdcase"))
    // each CLI invocation is a RESTART (fresh drain over the same
    // checkpoint): the re-fed seed is re-admitted while the tombstone
    // lives, and the drain's compaction applies it into the runs
    feedFile(4L -> seed)
    gate()
    assert(decisions()(4L), "re-admitted after retraction")
    assert(manifest().contains("t_tdcase"))
    // keep draining fillers until both kinds sweep (bounded): the
    // tombstone moves tombs -> tswept -> deleted as the run merges
    // roll every seed-holding run forward (the sweep condition IS
    // "every live run postdates the application", so sweep completion
    // proves physical exclusion)
    var i = 0
    while (tombsOnDisk().nonEmpty && i < 10) {
      nextFiller += 1
      feedFile((100L + nextFiller) ->
        s"takedown drill filler document number $nextFiller")
      gate()
      i += 1
    }
    assert(tombsOnDisk().isEmpty, s"tombstone not swept after $i drains")
    assert(!manifest().contains("t_tdcase"))
    // swept ⇒ the pre-retraction copies are physically gone, while the
    // RE-ADMITTED copy's key (source-scoped past the retraction bound)
    // legitimately survives — the value-identical key must appear in
    // the manifest-referenced runs EXACTLY ONCE
    val seedHash = Seq(0L -> seed).toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text").cast("binary")))
      .head().getString(0)
    // .distinct: hashes and bands sections use the SAME run naming
    // scheme, and this regex sees both — without it every hashes dir
    // is read twice and every key double-counted
    val liveRuns = "\\{\"name\": \"(run_[^\"]+)\"".r
      .findAllMatchIn(manifest()).map(_.group(1)).toSeq.distinct
    val liveKeys = liveRuns
      .map(n => spark.read.option("basePath", s"$t/idx/hashes/$n")
        .parquet(s"$t/idx/hashes/$n").select("h"))
      .reduceOption(_ union _)
      .map(_.collect().map(_.getString(0)).toSeq).getOrElse(Seq.empty)
    assert(liveKeys.count(_ == seedHash) === 1,
      "the re-admitted copy's key must survive the sweep exactly once")
    // post-sweep: the re-admitted copy is IN the corpus, so every later
    // arrival screens against it
    feedFile(50L -> seed)
    gate()
    assert(!decisions()(50L),
      "post-sweep arrival must screen against the re-admitted copy")
  }

  test("annindex: ingest an embeddings feed then query top-k through " +
    "the persisted cell-pruned index") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_cli_ann").toString
    val emb = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7))))
      .toDF("vec_id", "embedding")
    emb.coalesce(1).write.parquet(s"$t/feed")
    val r1 = Cli.run(spark, "annindex", Map("feed" -> s"$t/feed",
      "index" -> s"$t/idx", "cells" -> "4", "checkpoint" -> s"$t/ckpt"))
    assert(r1.head.startsWith("annindex: 40 vectors live"),
      r1.mkString("\n"))
    emb.limit(5).coalesce(1).write.parquet(s"$t/q")
    val r2 = Cli.run(spark, "annindex", Map("index" -> s"$t/idx",
      "query" -> s"$t/q", "k" -> "1", "nprobe" -> "4",
      "out" -> s"$t/res"))
    assert(r2.head.startsWith("annindex: 5 neighbor rows"),
      r2.mkString("\n"))
    // probe-all top-1 of an indexed vector is itself at cos 1.0
    val res = spark.read.parquet(s"$t/res")
    assert(res.filter(org.apache.spark.sql.functions.col("nb_id") =!=
      org.apache.spark.sql.functions.col("vec_id")).count() === 0L)
    // takedown: delete two ids, the same query no longer self-hits them
    Seq(0L, 1L).toDF("vec_id").write.parquet(s"$t/del")
    val r3 = Cli.run(spark, "annindex", Map("index" -> s"$t/idx",
      "delete" -> s"$t/del"))
    assert(r3.head.startsWith("annindex: tombstoned 2 ids"),
      r3.mkString("\n"))
    Cli.run(spark, "annindex", Map("index" -> s"$t/idx",
      "query" -> s"$t/q", "k" -> "1", "nprobe" -> "4",
      "out" -> s"$t/res2"))
    val res2 = spark.read.parquet(s"$t/res2")
    assert(res2.filter(org.apache.spark.sql.functions.col("nb_id")
      .isin(0L, 1L)).count() === 0L)
  }

  test("annindex --fold: the CLI drives drift -> split -> takedown -> " +
    "fold end-to-end — the live quantizer grows under --split and " +
    "shrinks back under --fold, with the live view exact throughout") {
    val s = spark
    import s.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_cli_fold").toString
    def emb(ids: Range, base: Double, spread: Double) = ids.map(i =>
      (i.toLong, Array.tabulate(8)(d =>
        base + spread * math.sin(i * 31 + d * 7))))
      .toDF("vec_id", "embedding")
    def feedFile(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(s"$t/feed")
    // compactevery=1: every drained batch is followed by a compaction,
    // so each CLI invocation advances the heal lifecycle one step
    def ann(): Unit = {
      Cli.run(spark, "annindex", Map("feed" -> s"$t/feed",
        "index" -> s"$t/idx", "cells" -> "8", "checkpoint" -> s"$t/ckpt",
        "compactevery" -> "1", "split" -> "2.0", "fold" -> "0.5"))
      ()
    }
    feedFile(emb(0 until 300, 0.0, 1.0)); ann() // freeze 8 cells
    // drift batch: its compaction records high skew — and may already
    // FOLD small base cells (the drift raises the mean), so growth is
    // measured against the post-drift state, not the initial 8
    feedFile(emb(300 until 460, -7.0, 0.01)); ann()
    val preSplit = graft.streaming.AnnIngest.liveCellCount(spark, s"$t/idx")
    feedFile(emb(460 until 500, -7.0, 0.01)); ann() // split fires on lastSkew
    val grown = graft.streaming.AnnIngest.liveCellCount(spark, s"$t/idx")
    assert(grown > preSplit,
      s"--split must extend the live quantizer ($preSplit -> $grown)")
    // takedown the whole drifted cluster through the CLI
    (300L until 500L).toDF("vec_id").write.parquet(s"$t/del")
    val r = Cli.run(spark, "annindex",
      Map("index" -> s"$t/idx", "delete" -> s"$t/del"))
    assert(r.head.startsWith("annindex: tombstoned 200 ids"))
    // the next drain's compaction folds the drained cells (the split
    // trigger may still read stale-high skew, but with no live-hot
    // cell the split is a no-op and the fold proceeds)
    feedFile(emb(500 until 510, 0.0, 1.0)); ann()
    val after = graft.streaming.AnnIngest.liveCellCount(spark, s"$t/idx")
    assert(after < grown,
      s"--fold must shrink the live quantizer ($grown -> $after)")
    val live = graft.streaming.AnnIngest.readIndex(spark, s"$t/idx", None)
    assert(live.count() === 310L) // 300 base + 10 fresh survivors
    assert(live.select("vec_id").distinct().count() === 310L)
  }

  test("warehouse: reports bucketed managed tables and orphan dirs, " +
    "prune deletes only orphans, drop removes the table entry AND dir") {
    val s = spark
    import s.implicits._
    val warehouse = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val df = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    graft.sources.Bucketed.writeBucketed(df, "wh_spec_t1", 4, Seq("k"))
    try {
      // simulate a previous run's leftover: a dir with no catalog entry
      val orphan = new java.io.File(warehouse, "wh_spec_stale")
      orphan.mkdirs()
      java.nio.file.Files.writeString(
        orphan.toPath.resolve("part-0.parquet"), "stale")
      // NOT orphans: another database's root dir, a table that lives
      // in that other database, and an external table whose location
      // happens to sit under the warehouse — all live data a blunt
      // "not a managed table of the current db" prune would destroy
      spark.sql("CREATE DATABASE IF NOT EXISTS wh_spec_db")
      spark.sql("CREATE TABLE wh_spec_db.wh_spec_t2 (k LONG) USING parquet")
      val extLoc = new java.io.File(warehouse, "wh_spec_ext")
      spark.sql("CREATE TABLE wh_spec_ext_t (k LONG) USING parquet " +
        s"LOCATION '${extLoc.getAbsolutePath}'")
      // materialize the location dir (empty external tables have none)
      spark.sql("INSERT INTO wh_spec_ext_t VALUES (42)")
      val report = Cli.run(spark, "warehouse", Map.empty)
      assert(report.exists(l =>
        l.startsWith("table: wh_spec_t1") && l.contains("buckets=4")),
        report.mkString("\n"))
      assert(report.contains("orphan: wh_spec_stale"))
      assert(!report.exists(_.contains("orphan: wh_spec_db.db")),
        "another database's root is not an orphan")
      assert(!report.exists(_.contains("orphan: wh_spec_ext")),
        "an external table location under the warehouse is not an orphan")
      val pruned = Cli.run(spark, "warehouse", Map("prune" -> ""))
      assert(pruned.contains("pruned: wh_spec_stale"))
      assert(!orphan.exists())
      // the live data all survived the prune
      assert(spark.catalog.tableExists("wh_spec_t1"))
      assert(spark.catalog.tableExists("wh_spec_db.wh_spec_t2"))
      assert(extLoc.exists(), "external table data must survive prune")
      val dropped = Cli.run(spark, "warehouse", Map("drop" -> "wh_spec_t1"))
      assert(dropped === Seq("dropped: wh_spec_t1"))
      assert(!spark.catalog.tableExists("wh_spec_t1"))
      assert(!new java.io.File(warehouse, "wh_spec_t1").exists())
      // idempotent: dropping again (or a never-created name) is a no-op
      assert(Cli.run(spark, "warehouse", Map("drop" -> "wh_spec_t1"))
        === Seq("dropped: wh_spec_t1"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS wh_spec_t1")
      spark.sql("DROP TABLE IF EXISTS wh_spec_ext_t")
      spark.sql("DROP DATABASE IF EXISTS wh_spec_db CASCADE")
      Seq("wh_spec_stale", "wh_spec_ext").foreach { n =>
        val d = new java.io.File(warehouse, n)
        if (d.exists()) {
          Option(d.listFiles()).foreach(_.foreach(_.delete())); d.delete()
        }
      }
    }
  }

  test("a CLI-built session carries GraftExtensions: RangeJoinRewrite is " +
    "in the optimizer and the hugeMethodLimit default is set") {
    import org.apache.spark.sql.SparkSession
    val prior = spark // ensure the shared test session exists first
    // the CLI, the oracle gate and the test suite share Harness.session:
    // the suite checks the plans the CLI runs
    assert(prior.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(graft.plans.RangeJoinRewrite))
    // getOrCreate only applies extensions to a NEW session — drop the
    // active/default pointers so Harness.session actually constructs one
    // (over the same SparkContext), then restore the shared session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val built = graft.tools.Harness.session()
      assert(built ne prior)
      assert(built.sessionState.optimizer
        .extendedOperatorOptimizationRules
        .contains(graft.plans.RangeJoinRewrite))
      assert(built.conf.get("spark.sql.codegen.hugeMethodLimit") === "8000")
      assert(built.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("arg fuzzer: random flag soups either parse to exactly the " +
    "typed pairs or fail loudly — never a silently shifted, dropped, " +
    "or last-wins-merged configuration; typo'd flags fail per-verb " +
    "before any work") {
    val rnd = new scala.util.Random(20260816L)
    val flagPool = Seq("--data", "--catalog", "--out", "--filter",
      "--filtersep", "--n", "--target", "--badtypo", "--fitler")
    val valuePool = Seq("x.parquet", "/tmp/p with space/f.json", "a;b",
      "'quoted'", "--", "7", "", "日本語", "a|b")
    (0 until 400).foreach { _ =>
      val toks = (0 until rnd.nextInt(7)).map { _ =>
        if (rnd.nextBoolean()) flagPool(rnd.nextInt(flagPool.length))
        else valuePool(rnd.nextInt(valuePool.length))
      }.toArray
      // reference semantics: strict '--flag value' pairs, no duplicates
      val ps = toks.grouped(2).toSeq
      val expected: Option[Map[String, String]] =
        if (ps.forall(p => p.length == 2 && p(0).startsWith("--") &&
          !p(1).startsWith("--"))) {
          val kv = ps.map(p => p(0).drop(2) -> p(1))
          if (kv.map(_._1).distinct.length == kv.length) Some(kv.toMap)
          else None
        } else None
      (expected, scala.util.Try(Cli.parseArgs(toks))) match {
        case (Some(m), scala.util.Success(got)) =>
          assert(got === m, s"args=[${toks.mkString(" ")}]")
        case (None, scala.util.Failure(e)) =>
          assert(e.isInstanceOf[IllegalArgumentException],
            s"args=[${toks.mkString(" ")}] threw ${e.getClass}")
        case (exp, got) =>
          fail(s"args=[${toks.mkString(" ")}] expected=$exp got=$got")
      }
    }
    // duplicate flags fail loudly instead of last-wins
    val dup = intercept[IllegalArgumentException](
      Cli.parseArgs(Array("--data", "a", "--data", "b")))
    assert(dup.getMessage.contains("--data"))
    // parse is order-independent
    assert(Cli.parseArgs(Array("--a", "1", "--b", "2")) ===
      Cli.parseArgs(Array("--b", "2", "--a", "1")))
    // the per-verb audit rejects a typo'd flag BEFORE any work, for
    // every verb, with the flag named
    Cli.VerbFlags.keys.foreach { v =>
      val e = intercept[IllegalArgumentException](
        Cli.run(spark, v, Map("definitelynotaflag" -> "1")))
      assert(e.getMessage.contains("definitelynotaflag"),
        s"verb $v: ${e.getMessage}")
    }
    // a verb's own known flags pass the audit (later failures are
    // allowed — bogus values — but never as 'unknown flag')
    Cli.VerbFlags.foreach { case (v, fl) =>
      fl.foreach { f =>
        scala.util.Try(
          Cli.run(spark, v, Map(f -> "zz_nonexistent_94"))) match {
          case scala.util.Failure(e: IllegalArgumentException) =>
            assert(!e.getMessage.contains("unknown flag"),
              s"$v --$f: ${e.getMessage}")
          case _ => ()
        }
      }
    }
  }

}
