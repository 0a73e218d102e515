package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The catalog plan-lint's classifiers (tools.PlanLint): pushable-shape
  * detection, bounded-side exemption, and the three finding kinds on
  * hand-built plans. The catalog-wide run itself is a per-round tool
  * (PLAN_LINT.md); this spec pins the rules it applies. */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def lint(df: org.apache.spark.sql.DataFrame) =
    graft.tools.PlanLint.lintPlan("t", df.queryExecution.sparkPlan)

  test("a pushable filter that DID push down is clean; a computed " +
    "filter that cannot push down is not flagged either") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(lint(li.filter(col("l_quantity") > 10)) === Nil)
    // structurally un-pushable (computed expression) → no false flag
    assert(lint(li.filter(
      size(split(col("l_returnflag"), "x")) > 0)) === Nil)
  }

  test("an unkeyed join of two scans flags cartesian/bnlj; a scalar-" +
    "aggregate or small-literal side is exempt (bounded crossJoin)") {
    val s = spark
    import s.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val unkeyed = li.crossJoin(ord)
    assert(lint(unkeyed).map(_.kind).exists(k =>
      k == "cartesian" || k == "bnlj"), "scan x scan must flag")
    val scalar = li.crossJoin(ord.agg(count(lit(1)).as("n")))
    assert(!lint(scalar).map(_.kind).contains("bnlj"),
      "scalar-aggregate side is the bounded pattern")
    val literal = li.join(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      col("l_orderkey") =!= col("k"))
    assert(!lint(literal).map(_.kind).contains("bnlj"),
      "a small literal frame side is driver-bounded")
  }

  test("scalarSide does not descend past a join: a large side BUILT ON " +
    "a scalar aggregate is still flagged (the r10 false negative)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    // huge side that merely CONTAINS a scalar aggregate in its subtree
    val hugeWithScalar = li.crossJoin(ord.agg(count(lit(1)).as("n")))
    assert(!graft.tools.PlanLint.scalarSide(
      hugeWithScalar.queryExecution.sparkPlan),
      "scalar agg below a join must not exempt the whole side")
    // while a genuine scalar side (through project/exchange) stays exempt
    val scalar = ord.agg(count(lit(1)).as("n")).select(col("n") * 2)
    assert(graft.tools.PlanLint.scalarSide(
      scalar.queryExecution.sparkPlan))
    // ...and the join of huge x (scalar-built-huge) therefore flags
    val joined = li.join(hugeWithScalar.select(col("n")),
      col("l_orderkey") =!= col("n"))
    assert(lint(joined).map(_.kind).contains("bnlj") ||
      lint(joined).map(_.kind).contains("cartesian"),
      s"expected a flag, got ${lint(joined)}")
  }

  test("nondet_reuse: an unordered .limit embedded 2+ times in one plan " +
    "flags (the r15 queryTopK landmine shape); sorted limits, single " +
    "uses, and snapshots stay clean") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    // the pre-fix queryTopK shape: one unordered-limit frame consumed
    // by two subplans (self-join probe + re-attach) — each execution a
    // different legal row set on real executor JVMs
    val frame = li.limit(100)
    val reused = frame.join(frame.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("s")), "l_orderkey")
    assert(lint(reused).map(_.kind).contains("nondet_reuse"),
      s"got ${lint(reused)}")
    // sample reuse flags the same way
    val samp = li.sample(0.5, 7L)
    assert(lint(samp.unionByName(samp)).map(_.kind)
      .contains("nondet_reuse"))
    // a SORTED limit is a pinned row set — reuse is fine
    val sorted = li.orderBy("l_orderkey", "l_quantity").limit(100)
    assert(!lint(sorted.join(sorted.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("s")), "l_orderkey"))
      .map(_.kind).contains("nondet_reuse"))
    // single use is fine (any n rows is a legal answer once)
    assert(!lint(frame.groupBy("l_orderkey").count())
      .map(_.kind).contains("nondet_reuse"))
    // the production fix — snapshotting the frame — lints clean
    val snap = frame.localCheckpoint(true)
    assert(lint(snap.join(snap.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("s")), "l_orderkey")) === Nil)
    // two DIFFERENT limits are two independent answers, not a reuse
    assert(!lint(li.limit(100).unionByName(li.limit(50)))
      .map(_.kind).contains("nondet_reuse"))
  }

  test("nondet_reuse: a first/any_value aggregate over unordered input " +
    "reused 2+ times flags (arbitrary row per group, and even a reused " +
    "exchange's fetch order varies per consumer); a deterministic-agg " +
    "reuse or a sorted first stays clean") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val pick = li.groupBy("l_orderkey").agg(first("l_quantity").as("q"))
    assert(lint(pick.unionByName(pick)).map(_.kind)
      .contains("nondet_reuse"), s"got ${lint(pick.unionByName(pick))}")
    // single use is one legal answer — clean
    assert(!lint(pick).map(_.kind).contains("nondet_reuse"))
    // a deterministic aggregate reused is just a shared subplan
    val det = li.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
    assert(!lint(det.unionByName(det)).map(_.kind)
      .contains("nondet_reuse"))
    // first over SORTED input is pinned (the sort survives below the
    // order-dependent agg) — reuse is fine
    val sortedPick = li.orderBy("l_orderkey", "l_quantity")
      .groupBy("l_orderkey").agg(first("l_quantity").as("q"))
    assert(!lint(sortedPick.unionByName(sortedPick)).map(_.kind)
      .contains("nondet_reuse"),
      s"got ${lint(sortedPick.unionByName(sortedPick))}")
  }

  test("tomb_eager_src: a file-path derivation outside a held tombstone " +
    "set's membership short-circuit flags; under its right branch, or in " +
    "a plan without the test, it does not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pl_src")
      .toString
    spark.range(20).toDF("vec_id").write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir)
    val free = udf((id: java.lang.Long) => id == null || id % 7 != 0)
      .withName(graft.streaming.AnnIngest.TombFreeUdf)
    val src = regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1)
    def kinds(df: org.apache.spark.sql.DataFrame) = lint(df).map(_.kind)
    assert(kinds(rows.filter(free(col("vec_id")) || src =!= lit("x")))
      .isEmpty)
    assert(kinds(rows.filter(free(col("vec_id")) && src =!= lit("x")))
      .contains("tomb_eager_src"))
    assert(kinds(rows.filter(free(col("vec_id"))).select(col("vec_id"),
      src.as("src"))).contains("tomb_eager_src"))
    assert(kinds(rows.select(col("vec_id"), src.as("src"))).isEmpty)
  }

  test("the shipped whitelist matches the committed PLAN_LINT.md " +
    "verdict: every allowed key names a registered query, no key " +
    "repeats, and the committed report's whitelist count equals its " +
    "distinct entry list (no per-node double counting)") {
    graft.tools.PlanLint.Allowed.keys.foreach { case (q, _) =>
      assert(SparkEntry.queries.contains(q), s"stale whitelist entry $q")
    }
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLAN_LINT.md")), "UTF-8")
    val wl = md.split("## Whitelisted").last.linesIterator
      .filter(_.matches("- \\S+ `\\w+`:.*"))
      .map(_.split("`").take(2).mkString("`")).toSeq
    assert(wl === wl.distinct,
      s"PLAN_LINT.md lists a (query, kind) twice: $wl")
    "Whitelisted: (\\d+)".r.findFirstMatchIn(md).foreach { m =>
      assert(m.group(1).toInt === wl.size,
        "whitelist count must equal the distinct entry list")
    }
  }
}
