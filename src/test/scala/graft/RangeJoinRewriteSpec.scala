package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The test session carries GraftExtensions, so every join below runs
  * through RangeJoinRewrite; results are checked against a plain Scala
  * nested loop over the generated tuples, independent of the rule. */
class RangeJoinRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def reference[P, B](pts: Seq[(Long, P)], ivs: Seq[(Long, B, B)])(
      inside: (P, B, B) => Boolean): Seq[(Long, Long)] =
    (for ((p, ts) <- pts; (w, lo, hi) <- ivs if inside(ts, lo, hi))
      yield (p, w)).sorted

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("p_id", "win").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("a bare BETWEEN inner join rewrites to a hash-keyed join with " +
    "the pairs of a nested-loop reference") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    val ptRows = (1 to 4000).map(i => (i.toLong, rnd.nextInt(100000).toLong))
    val ivRows = (1 to 300).map { i =>
      val lo = rnd.nextInt(95000).toLong
      (i.toLong, lo, lo + rnd.nextInt(5000).toLong)
    }
    val pts = ptRows.toDF("p_id", "ts")
    val iv = ivRows.toDF("win", "lo", "hi")
    val cond = col("ts") >= col("lo") && col("ts") <= col("hi")
    val expected = reference(ptRows, ivRows)((ts, lo, hi) => lo <= ts && ts <= hi)
    try {
      spark.conf.set("spark.graft.rangeJoin.bucket", "4096")
      val rewritten = pts.join(iv, cond)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") &&
        !plan.contains("CartesianProduct"),
        s"range join was not rewritten to a hash-keyed join:\n$plan")
      assert(plan.contains("Generate explode"),
        s"expected the interval cell explode in the plan:\n$plan")
      val got = pairs(rewritten)
      assert(got === expected)
      assert(got.nonEmpty)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucket")
  }

  test("strict bounds (lo < ts < hi) rewrite too, with identical results") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val ptRows = (1 to 2000).map(i => (i.toLong, rnd.nextInt(50000).toLong))
    val ivRows = (1 to 200).map { i =>
      val lo = rnd.nextInt(46000).toLong
      (i.toLong, lo, lo + 1 + rnd.nextInt(4000).toLong)
    }
    val pts = ptRows.toDF("p_id", "ts")
    val iv = ivRows.toDF("win", "lo", "hi")
    val cond = col("ts") > col("lo") && col("ts") < col("hi")
    val expected = reference(ptRows, ivRows)((ts, lo, hi) => lo < ts && ts < hi)
    try {
      spark.conf.set("spark.graft.rangeJoin.bucket", "2048")
      val rewritten = pts.join(iv, cond)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") &&
        !plan.contains("CartesianProduct"),
        s"strict-bound range join was not rewritten:\n$plan")
      val got = pairs(rewritten)
      assert(got === expected && got.nonEmpty)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucket")
  }

  test("int-typed points (coerced to Cast(p, long) against long bounds) " +
    "rewrite with identical results") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val ptRows = (1 to 2000).map(i => (i.toLong, rnd.nextInt(50000)))
    val ivRows = (1 to 200).map { i =>
      val lo = rnd.nextInt(46000).toLong
      (i.toLong, lo, lo + rnd.nextInt(4000).toLong)
    }
    val pts = ptRows.toDF("p_id", "ts") // ts is INT
    val iv = ivRows.toDF("win", "lo", "hi") // long bounds → comparison casts the point
    val cond = col("ts") >= col("lo") && col("ts") <= col("hi")
    val expected = reference(ptRows, ivRows)((ts, lo, hi) => lo <= ts && ts <= hi)
    try {
      spark.conf.set("spark.graft.rangeJoin.bucket", "2048")
      val rewritten = pts.join(iv, cond)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") &&
        !plan.contains("CartesianProduct"),
        s"int-point range join was not rewritten:\n$plan")
      val got = pairs(rewritten)
      assert(got === expected && got.nonEmpty)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucket")
  }

  test("native timestamp points quantize via unix_micros and rewrite " +
    "with identical results") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val base = 1700000000L // seconds
    val ptRows = (1 to 1500).map(i =>
      (i.toLong, new java.sql.Timestamp((base + rnd.nextInt(500000)) * 1000L)))
    val ivRows = (1 to 150).map { i =>
      val lo = base + rnd.nextInt(460000)
      (i.toLong, new java.sql.Timestamp(lo * 1000L),
        new java.sql.Timestamp((lo + rnd.nextInt(40000)) * 1000L))
    }
    val pts = ptRows.toDF("p_id", "ts")
    val iv = ivRows.toDF("win", "lo", "hi")
    val cond = col("ts") >= col("lo") && col("ts") <= col("hi")
    val expected = reference(ptRows, ivRows)((ts, lo, hi) =>
      !ts.before(lo) && !ts.after(hi))
    // default timestamp bucket (1 h in µs) — no conf override needed
    val rewritten = pts.join(iv, cond)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"),
      s"timestamp range join was not rewritten:\n$plan")
    assert(plan.contains("unix_micros"),
      s"expected unix_micros quantization in the plan:\n$plan")
    val got = pairs(rewritten)
    assert(got === expected && got.nonEmpty)
  }

  test("bucket widths are per type category: a ns-sized integral " +
    "bucket does not leak onto timestamp joins, which read their own " +
    "bucketTs key") {
    val s = spark
    import s.implicits._
    val ptRows = (1 to 300).map(i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L)))
    val ivRows = Seq((1L,
      new java.sql.Timestamp(1700000050000L),
      new java.sql.Timestamp(1700000100000L)))
    val pts = ptRows.toDF("p_id", "ts")
    val iv = ivRows.toDF("win", "lo", "hi")
    val cond = col("ts") >= col("lo") && col("ts") <= col("hi")
    val expected = reference(ptRows, ivRows)((ts, lo, hi) =>
      !ts.before(lo) && !ts.after(hi))
    try {
      // an events-table ns bucket set in the SAME session must not
      // become the timestamp join's cell width (it is 1000x too wide
      // in the µs domain — the shared-key hazard this split removes)
      spark.conf.set("spark.graft.rangeJoin.bucket", "3600000000000")
      spark.conf.set("spark.graft.rangeJoin.bucketTs", "10000000") // 10 s
      val rewritten = pts.join(iv, cond)
      val optimized = rewritten.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__graft_cell"))
      // 10 s cells over a 50 s window explode to ~6 cells; the ns width
      // misread as µs would cover ~1 cell per HOUR of window — assert
      // the µs key was the one honored by checking results stay exact
      val got = pairs(rewritten)
      assert(got === expected && got.nonEmpty)
      assert(optimized.contains("10000000"),
        s"expected the bucketTs width in the plan:\n$optimized")
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bucket")
      spark.conf.unset("spark.graft.rangeJoin.bucketTs")
    }
  }

  test("sub-long integral points do NOT rewrite without an explicit " +
    "bucket conf (the ns default would put the whole int domain in " +
    "cell 0 — a single-key join worse than the BNLJ it replaces)") {
    val s = spark
    import s.implicits._
    val pts = (1 to 200).map(i => (i.toLong, i * 7)).toDF("p_id", "ts")
    val iv = (1 to 50).map(i => (i.toLong, i.toLong * 5, i.toLong * 5 + 9))
      .toDF("win", "lo", "hi")
    val cond = col("ts") >= col("lo") && col("ts") <= col("hi")
    try {
      // int point, NO bucket conf → untouched plan
      assert(!pts.join(iv, cond).queryExecution.optimizedPlan.toString
        .contains("__graft_cell"))
      // same join WITH a conf → rewrites
      spark.conf.set("spark.graft.rangeJoin.bucket", "64")
      assert(pts.join(iv, cond).queryExecution.optimizedPlan.toString
        .contains("__graft_cell"))
    } finally spark.conf.unset("spark.graft.rangeJoin.bucket")
  }

  test("the rule leaves equi joins, outer joins, and half-open ranges " +
    "alone") {
    val s = spark
    import s.implicits._
    val a = (1 to 100).map(i => (i.toLong, i.toLong * 3)).toDF("k", "ts")
    val b = (1 to 50).map(i => (i.toLong, i.toLong * 5, i.toLong * 5 + 9))
      .toDF("k2", "lo", "hi")
    // equi + range: Spark hashes on the equi key already — no rewrite
    val equi = a.join(b, col("k") === col("k2") &&
      col("ts") >= col("lo") && col("ts") <= col("hi"))
    assert(!equi.queryExecution.optimizedPlan.toString
      .contains("__graft_cell"))
    // half-open (no upper bound): not a containment join — no rewrite
    val half = a.join(b, col("ts") >= col("lo"))
    assert(!half.queryExecution.optimizedPlan.toString
      .contains("__graft_cell"))
    // left outer: semantics differ (unmatched preservation) — no rewrite
    val outer = a.join(b,
      col("ts") >= col("lo") && col("ts") <= col("hi"), "left")
    assert(!outer.queryExecution.optimizedPlan.toString
      .contains("__graft_cell"))
    // results of the untouched joins still correct
    assert(equi.count() ===
      a.collect().map(r => (r.getLong(0), r.getLong(1))).count { case (k, ts) =>
        b.collect().exists(rb => rb.getLong(0) == k &&
          ts >= rb.getLong(1) && ts <= rb.getLong(2)) })
  }
}
