package graft
import java.nio.file.{Files, Paths}
import graft.tools.Harness
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query names to dump instead of all
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // SPARK_GRAFT_MASTER=local-cluster[2,2,1536] runs the WHOLE oracle
    // gate on real multi-JVM executors (the multi-executor smoke the
    // local[n] default cannot give)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_STACK")) e.printStackTrace()
      }
      // same hygiene as Bench: operator-internal persists must not
      // accumulate across the 247-query session
      Harness.dropLeftovers(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
