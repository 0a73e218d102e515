package graft

import org.apache.spark.sql.SparkSession

/** Scale-soak harness: runs each named query at two scale factors in ONE
  * JVM and prints steady-state seconds for both, so sec-per-row drift is
  * measurable without 2·N·reps JVM warm-ups. The empirical complement to
  * ScaleSmokeSpec's linearity assertions — the first real exercise of the
  * banding caps / AQE skew handling beyond the sf0.1 row counts.
  *
  * Usage:
  *   SPARK_GRAFT_SOAK_DIRS=/root/testdata/sf0.1,/tmp/graft_sf1 \
  *     scripts/run.sh graft.Soak q_a q_b ...
  * Output: one TSV line per (query, dir): name, dir, rows, r1, r2, r3,
  * steady (= min of the post-warm reps).
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIRS",
      "/root/testdata/sf0.1,/tmp/graft_sf1").split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPS", "3").toInt
    require(args.nonEmpty, "usage: graft.Soak q_name...")
    val spark = graft.tools.Harness.session(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    def dropLeftovers(): Unit = graft.tools.Harness.dropLeftovers(spark)
    args.foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query $q"))
      dirs.foreach { dir =>
        // a failed rep reads FAILED and is never timed; rows stays -1
        // when every rep failed
        var rows = -1L
        val times = (1 to reps).map(_ =>
          graft.tools.Harness.timed { rows = fn(spark, dir).count() })
        dropLeftovers()
        System.gc()
        // reps=1 is a legal knob: steady falls back to the only rep
        val steady = (if (times.length > 1) times.drop(1) else times)
          .flatten.minOption.fold("FAILED")(t => f"$t%.3f")
        println(("[soak]" +: Seq(q, dir, rows.toString) ++:
          times.map(_.fold("FAILED")(t => f"$t%.3f")) :+ steady)
          .mkString("\t"))
      }
    }
    spark.stop()
  }
}
