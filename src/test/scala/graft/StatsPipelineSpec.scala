package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.StatsPipeline
import graft.ops.StatsPipeline.{FullNumStats, NumStats}

/** The long-format stats aggregate (`StatsPipeline.statsAggregate`) must
  * equal, bit for bit, a one-column aggregate of the same Spark functions
  * on every column, and must stay narrow at any column count. */
class StatsPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ref(c: String) = col("`" + c.replace("`", "``") + "`")

  /** The narrow reference: one `df.agg` over column `c` alone. */
  private def narrow(df: DataFrame, c: String, acc: Int): FullNumStats = {
    val v = ref(c)
    val r = df.agg(count(v), sum(when(v.isNull, 1L).otherwise(0L)), sum(v),
      sum(v * v), min(v), max(v), sum(v * v * v), sum(v * v * v * v),
      percentile_approx(v, array(lit(0.25), lit(0.5), lit(0.75)), lit(acc)),
      approx_count_distinct(v)).head()
    val pct = Option(r.getAs[scala.collection.Seq[Double]](8)).map(_.toSeq)
    FullNumStats(NumStats(c, r.getAs[Long](0), r.getAs[Long](1),
        r.getAs[Double](2), r.getAs[Double](3), r.getAs[Double](4),
        r.getAs[Double](5)),
      r.getAs[Double](6), r.getAs[Double](7), pct.map(_(0)), pct.map(_(1)),
      pct.map(_(2)), r.getAs[Long](9))
  }

  /** Field values with every double as its bit pattern. NaNs compare
    * equal: Java leaves a NaN result's sign and payload unspecified, and
    * the JIT may swap the operands of `+`. */
  private def d(x: Double) = java.lang.Double.doubleToLongBits(x)
  private def bits(b: NumStats): Seq[Any] = {
    Seq(b.name, b.count, b.missing, d(b.sum), d(b.sumSq), d(b.min), d(b.max))
  }
  private def bits(f: FullNumStats): Seq[Any] = {
    bits(f.basic) ++ Seq(d(f.sumCube), d(f.sumQuartic), f.p25.map(d),
      f.median.map(d), f.p75.map(d), f.distinct)
  }

  private val names = Seq("plain", "a`b", "p|q", "x__cnt", "x", "all_null",
    "edge")

  /** Nulls in every column, NaN and ±Inf in `edge`, an all-null column,
    * several partitions. */
  private def frame(rows: Int): DataFrame = {
    val rnd = new scala.util.Random(41)
    val edges = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 1e300)
    val data = (0 until rows).map { i =>
      def g(missing: Double): java.lang.Double =
        if (rnd.nextDouble() < missing) null
        else java.lang.Double.valueOf(rnd.nextGaussian() * 100 + i % 7)
      val e: java.lang.Double =
        if (i % 11 == 0) java.lang.Double.valueOf(edges(i / 11 % edges.size))
        else g(0.1)
      Row(g(0.0), g(0.2), g(0.05), java.lang.Double.valueOf(i % 13 * 0.5),
        g(0.3), null, e)
    }
    val schema = org.apache.spark.sql.types.StructType(names.map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  test("full stats equal a one-column aggregate on every column, bit " +
    "for bit: nulls, NaN, ±Inf, an all-null column, hostile names") {
    val df = frame(1500)
    Seq(10000, 100).foreach { acc =>
      val got = StatsPipeline.fullNumericStats(df, names, acc)
      names.foreach { c =>
        assert(bits(got(c)) === bits(narrow(df, c, acc)), s"$c acc=$acc")
      }
    }
    val allNull = StatsPipeline.fullNumericStats(df, names)("all_null")
    assert(allNull.basic.count === 0L && allNull.basic.missing === 1500L)
    assert(allNull.median.isEmpty)
  }

  test("lean stats equal a one-column aggregate on every column") {
    val df = frame(800)
    val got = StatsPipeline.numericStats(df, names)
    names.foreach { c =>
      assert(bits(got(c)) === bits(narrow(df, c, 10000).basic), c)
    }
  }

  test("an empty frame decodes as the one-row aggregate did: count 0, " +
    "sums 0.0, no quartiles") {
    val df = frame(50).limit(0)
    val full = StatsPipeline.fullNumericStats(df, names)
    val lean = StatsPipeline.numericStats(df, names)
    names.foreach { c =>
      assert(bits(full(c)) === bits(narrow(df, c, 10000)), c)
      assert(bits(lean(c)) === bits(narrow(df, c, 10000).basic), c)
      assert(full(c) === FullNumStats(NumStats(c, 0L, 0L, 0.0, 0.0, 0.0,
        0.0), 0.0, 0.0, None, None, None, 0L), c)
    }
  }

  test("the stats aggregate stays below spark.sql.codegen.maxFields at " +
    "150 columns") {
    import spark.implicits._
    val cols = (0 until 150).map(i => s"c$i")
    val df = (1 to 20).map(_.toDouble).toDF("v")
      .select(cols.map(c => col("v").as(c)): _*)
    val maxFields = spark.conf.get("spark.sql.codegen.maxFields").toInt
    Seq(true, false).foreach { full =>
      val agg = StatsPipeline.statsAggregate(df, cols, full)
      val widths = agg.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a.output.length
      }
      assert(widths.nonEmpty && widths.forall(_ < maxFields),
        s"full=$full aggregate widths $widths vs maxFields $maxFields")
      assert(agg.schema.length < maxFields)
      assert(agg.count() === 150L)
    }
  }
}
