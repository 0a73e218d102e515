package graft.tools

import org.apache.spark.sql.SparkSession

/** The ONE session recipe: the CLI, the oracle gate (graft.Verify), the
  * bench, every measurement tool and the test suite all build their
  * session here, so the plans the gate checks are the plans the bench
  * times and a CLI user runs (GraftExtensions, hugeMethodLimit, AQE
  * coalescing of cached plans, UTC). Hand-rolled builders drifted apart
  * (the gate and the tests once ran without GraftExtensions); do not add
  * another builder. */
object Harness {

  /** The master is SPARK_GRAFT_MASTER, else `local[cpus]`:
    * SPARK_GRAFT_MASTER=local-cluster[2,2,2048] runs any entry point on
    * real multi-JVM executors (the soak battery's wire-format evidence). */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession =
    session(cpus, sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))

  /** Fresh executor JVMs (local-cluster) need the compiled classes and
    * the driver's module opens on their own command lines. */
  def session(cpus: String, master: String): SparkSession = {
    val builder0 = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
    val builderM =
      if (!master.startsWith("local-cluster")) builder0
      else {
        if (!sys.env.contains("SPARK_HOME"))
          System.setProperty("spark.test.home", "/opt/spark")
        val opens = Seq("java.lang", "java.lang.invoke",
          "java.lang.reflect", "java.io", "java.net", "java.nio",
          "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar")
          .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")
        builder0
          .config("spark.executor.extraClassPath", new java.io.File(
            "target/scala-2.13/classes").getAbsolutePath)
          .config("spark.executor.extraJavaOptions", opens)
      }
    val spark = builderM
      // JVM JIT refuses methods past ~8KB bytecode: a whole-stage method
      // bigger than that runs INTERPRETED (measured 18x on
      // wide-expression plans) — fall back to per-operator codegen there
      .config("spark.sql.codegen.hugeMethodLimit", 8000)
      // keep intentional constant-key windows single-partitioned AS
      // DECLARED: EliminateWindowPartitions folds `partitionBy(lit(1))`
      // away, turning every bounded-table global window back into a
      // warning-emitting unpartitioned WindowExec. The "optimization"
      // saves nothing (one partition either way) and erases the
      // engine's declared intent, so it is excluded session-wide.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      // let AQE coalesce shuffles that CONSUME cached frames too (off
      // upstream by default): every persist()-using operator otherwise
      // pins full-width post-shuffle stages on its consumers — dozens
      // of near-empty tasks per job on small inputs, with no effect at
      // scale where AQE keeps them wide by size. Interleaved A/B (r16):
      // q_dedup_keep_best 0.63x, q_ann_recall_ivf 0.81x, q_dedup_cc
      // 0.90x, no reproducible regression. Deliberate repartition(n)
      // respreads are size-exempt from coalescing (REPARTITION_BY_NUM),
      // so the BNLJ parallelism contracts hold.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop leftover cached plans and persistent RDDs (operator-internal
    * cache()/localCheckpoint blocks) so one query's leftovers never tax
    * the next measurement — block-manager growth across hundreds of
    * queries in one session was the round-8 bench-inflation cause. */
  def dropLeftovers(s: SparkSession): Unit = {
    try s.catalog.clearCache() catch { case _: Throwable => () }
    try s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    // memory-sink temp views: the streaming helpers register one
    // stream_<n> table per invocation, each pinning its full result set
    // in memory for the session lifetime — across a 256-query bench
    // session that is leaked storage nothing else reclaims
    try s.catalog.listTables().collect()
      .filter(t => t.isTemporary &&
        (t.name.startsWith("stream_") || t.name.startsWith("warm_")))
      .foreach(t => s.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }

  /** Wall seconds of `body`, or `Left("<Class>: <message>")` (message
    * cut to 120 chars, also printed to stderr) when it throws — a
    * failed rep is never timed as if it had succeeded (a fast failure
    * would otherwise read as a huge speed-up). */
  def attempt(body: => Any): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable =>
      val err = s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(120)
      System.err.println(s"[harness] FAILED $err")
      Left(err)
    }
  }

  /** [[attempt]] without the error text: `None` when `body` throws. */
  def timed(body: => Any): Option[Double] = attempt(body).toOption

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in a query's SQL or an error message would
    * otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
