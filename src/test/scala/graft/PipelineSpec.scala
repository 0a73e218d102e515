package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.catalog.{DataSpec, NormType}
import graft.pipeline.Pipeline

/** End-to-end lifecycle over the sf0.001 lineitem table: init → stats →
  * varsel → norm → train → eval, with ColumnConfig.json round-trip. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("full pipeline runs, selects by KS, persists catalog, yields AUC") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val spec = DataSpec(
      targetColumn = "l_returnflag",
      posTags = Set("R"), negTags = Set("A", "N"),
      filterExpressions = Seq("l_quantity > 0"))
    val tmp = s"/tmp/graft_catalog_${java.util.UUID.randomUUID()}.json"
    val res = Pipeline.run(df, spec,
      numericCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      categoricalCols = Seq("l_linestatus"),
      topN = 3, normType = NormType.Hybrid, catalogPath = Some(tmp))
    assert(res.catalog.length === 5)
    assert(res.selected.length === 3)
    // selection follows KS rank over candidates
    val byKs = res.catalog.sortBy(p => (-p.stats.ks.getOrElse(0.0), p.columnName))
      .take(3).map(_.columnName).toSet
    assert(res.selected.toSet === byKs)
    // normalized output: [tag, n_*..., weight], tag ∈ {0,1}
    assert(res.normalized.columns.head === "tag")
    assert(res.normalized.columns.last === "weight")
    val tags = res.normalized.select("tag").distinct().collect().map(_.getInt(0)).toSet
    assert(tags.subsetOf(Set(0, 1)))
    assert(res.auc >= 0.0 && res.auc <= 1.0)
    // catalog JSON round-trips
    val back = graft.catalog.CatalogIO.read(tmp)
    assert(back.map(_.columnName) === res.catalog.map(_.columnName))
    assert(back.count(_.finalSelect) === 3)
  }

  test("stats forks its numeric and categorical profiles into the catalog " +
    "the sequential profiles build, field for field") {
    import graft.ops.StatsPipeline
    val df = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val spec = DataSpec(
      targetColumn = "l_returnflag",
      posTags = Set("R"), negTags = Set("A", "N"),
      weightColumn = Some("l_quantity"))
    val clean = Pipeline.init(df, spec)
    val num = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val cat = Seq("l_linestatus", "l_returnflag")
    val w = graft.expr.Jexl.translate("l_quantity")
    val numP = StatsPipeline.profileNumeric(clean, num, Pipeline.isPos(spec),
      spec.maxNumBin, w, full = true)
    val catP = StatsPipeline.profileCategorical(clean, cat,
      Pipeline.isPos(spec), weight = w)
    val sequential = (num.map(numP) ++ cat.map(catP)).zipWithIndex
      .map { case (p, i) => p.copy(columnNum = i) }
    val forked = Pipeline.stats(clean, spec, num, cat)
    assert(forked.length === 6)
    forked.zip(sequential).foreach { case (f, s) =>
      assert(f === s, f.columnName)
    }
  }

  test("pareto varsel keeps the non-dominated (KS, IV) front first") {
    import graft.catalog.{ColumnProfile, ColumnStats}
    def prof(n: Int, name: String, ks: Double, iv: Double) =
      ColumnProfile(n, name,
        stats = ColumnStats(ks = Some(ks), iv = Some(iv)))
    val cat = Seq(
      prof(0, "a", 10.0, 1.0),  // dominated by c on both
      prof(1, "b", 30.0, 0.5),  // front: best KS
      prof(2, "c", 20.0, 2.0),  // front: best IV
      prof(3, "d", 5.0, 0.1))   // dominated by everything
    val sel2 = Pipeline.varselPareto(cat, 2)
      .filter(_.finalSelect).map(_.columnName).toSet
    assert(sel2 === Set("b", "c"))
    // topN beyond the first front peels the next layer (a dominates d)
    val sel3 = Pipeline.varselPareto(cat, 3)
      .filter(_.finalSelect).map(_.columnName).toSet
    assert(sel3 === Set("b", "c", "a"))
  }

  test("autoRun types candidates and completes the lifecycle") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val spec = DataSpec(targetColumn = "l_returnflag",
      posTags = Set("R"), negTags = Set("A", "N"))
    // binary l_linestatus (2 distincts) → "N" per the reference's
    // binary-variable detection (InitModelProcessor.java:194); 3-level
    // non-numeric l_returnflag → "C"
    val (num, cat) = Pipeline.autoColumns(df,
      Seq("l_quantity", "l_discount", "l_returnflag"))
    assert(num.toSet === Set("l_quantity", "l_discount"))
    assert(cat === Seq("l_returnflag"))
    val (numB, _) = Pipeline.autoColumns(df, Seq("l_linestatus"))
    assert(numB === Seq("l_linestatus")) // binary → numeric-kind
    val res = Pipeline.autoRun(df, spec,
      Seq("l_quantity", "l_discount"), topN = 2)
    assert(res.catalog.length === 2)
    assert(res.selected.length === 2)
    assert(res.auc >= 0.0 && res.auc <= 1.0)
  }

  test("autotype measures the numeric-parse share over NON-NULL values: " +
    "a numeric column with 30% missing is typed N, a 30%-missing text " +
    "column stays C") {
    val s0 = spark
    import s0.implicits._
    val df = (0 until 100).map { i =>
      val missing = i % 10 < 3
      (if (missing) None else Some(i * 1.5),
        if (missing) None else Some(s"lvl_${i % 7}"))
    }.toDF("x", "t")
    val kinds = graft.ops.AutoType.profile(df, Seq("x", "t")).collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_null"), r.getAs[String]("col_kind"))).toMap
    assert(kinds("x") === (30L, "N"))
    assert(kinds("t") === (30L, "C"))
    val (num, cat) = Pipeline.autoColumns(df, Seq("x", "t"))
    assert(num === Seq("x") && cat === Seq("t"))
  }

  test("autoColumns types numeric- and boolean-typed candidates from the " +
    "schema with no job, and gives a mixed list the kinds of " +
    "AutoType.profile") {
    val s0 = spark
    import s0.implicits._
    val df = (0 until 100).map { i =>
      (if (i % 5 < 2) None else Some(i * 0.25), i % 7, i % 3 == 0,
        s"${i % 4}", if (i % 2 == 0) "a" else s"b$i")
    }.toDF("d", "n", "b", "s_num", "s_txt")
    val (typed, jobs) = org.apache.spark.TestBus.jobsOf(spark.sparkContext)(
      Pipeline.autoColumns(df, Seq("d", "n", "b")))
    assert(typed === ((Seq("d", "n", "b"), Seq.empty[String])))
    assert(jobs.isEmpty)
    val mixed = Seq("s_txt", "d", "s_num", "b", "n")
    val kinds = graft.ops.AutoType.profile(df, mixed)
      .select("col_name", "col_kind").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Pipeline.autoColumns(df, mixed) ===
      ((mixed.filter(kinds(_) == "N"), mixed.filter(kinds(_) == "C"))))
    assert(kinds("s_txt") === "C" && kinds("d") === "N")
  }
}
