package graft.tools

import org.apache.spark.sql.functions._

/** Executor-loss drill for the session-level reliable-checkpoint policy
  * (`spark.sql.graft.checkpointDir`, [[graft.Ckpt]]).
  *
  * The policy exists for exactly one failure mode: on a real cluster,
  * `localCheckpoint` blocks die with their executor, so an executor
  * loss mid-iteration kills any lineage-truncated iterative job. This
  * drill runs the engine's heaviest iterative consumer
  * (`TextOps.dedupClustersIterative`) on a REAL multi-JVM cluster
  * (`local-cluster[2,2,...]` — separate executor processes, not
  * local-mode threads), `kill -9`s one executor JVM right after the
  * first checkpoint materializes, and asserts the job completes with
  * the analytically-expected clusters. A second, non-gating phase
  * repeats the kill WITHOUT the conf (localCheckpoint path) to record
  * the failure mode the policy prevents.
  *
  * Usage: `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   scripts/run.sh graft.tools.CkptDrill [chains] [len]`
  * (defaults 20000 × 32 — ~6 label-propagation rounds). The worker's
  * executor launcher needs both env vars: the distro path to build the
  * executor command, and the scala version because a release distro
  * has no `assembly/target` build dirs to sniff it from. Exit 5 on a
  * failed positive phase. Results recorded in BENCH_SCALE.md. */
object CkptDrill {

  private def killOneExecutor(): Option[String] = {
    val out = new String(Runtime.getRuntime
      .exec(Array("pgrep", "-f", "CoarseGrainedExecutorBackend"))
      .getInputStream.readAllBytes(), "UTF-8")
    out.trim.split("\n").filter(_.nonEmpty).headOption.map { pid =>
      Runtime.getRuntime.exec(Array("kill", "-9", pid)).waitFor()
      pid
    }
  }

  def main(args: Array[String]): Unit = {
    val chains = args.headOption.map(_.toInt).getOrElse(20000)
    val len = args.lift(1).map(_.toInt).getOrElse(32)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_drill").toString
    // real executor JVMs; Harness wires their classpath and module opens
    val spark = Harness.session("8", "local-cluster[2,2,1536]")
    def ckptFiles(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    // chain graph: node (c, j) = c·10⁶ + j, edges (j, j+1) within each
    // chain — expected cluster label of every node is its chain head
    // c·10⁶, checkable without a second engine
    def pairs = spark.range(0, chains.toLong * len)
      .select(floor(col("id") / len).cast("long").as("c"),
        (col("id") % len).as("j"))
      .filter(col("j") < len - 1)
      .select((col("c") * 1000000L + col("j")).as("doc_a"),
        (col("c") * 1000000L + col("j") + 1L).as("doc_b"))
    try {
      // wait for both executor JVMs (driver + 2 entries)
      val dl = System.currentTimeMillis() + 60000
      while (spark.sparkContext.getExecutorMemoryStatus.size < 3 &&
        System.currentTimeMillis() < dl) Thread.sleep(200)
      require(spark.sparkContext.getExecutorMemoryStatus.size >= 3,
        "local-cluster executors failed to register")

      // ---- positive phase: reliable checkpoints survive the kill ----
      spark.conf.set(graft.Ckpt.DirKey, ckpt)
      @volatile var killedPos: Option[String] = None
      val killer = new Thread(() => {
        val kdl = System.currentTimeMillis() + 120000
        while (ckptFiles() < 1 && System.currentTimeMillis() < kdl)
          Thread.sleep(100)
        Thread.sleep(500) // land the kill mid-iteration, not mid-write
        killedPos = killOneExecutor()
        println(s"[ckptdrill] killed executor pid " +
          s"${killedPos.getOrElse("NONE")}")
      })
      killer.setDaemon(true)
      killer.start()
      val t0 = System.nanoTime()
      // this drill exists to exercise the DISTRIBUTED loop across
      // executor loss — disable the small-graph driver cut
      val res = graft.text.TextOps.dedupClustersIterativeWith(pairs, 0)
      val expected = (floor(col("doc_id") / 1000000L) * 1000000L)
        .cast("long")
      val n = res.count()
      val bad = res.filter(col("label") =!= expected).count()
      val sec = (System.nanoTime() - t0) / 1e9
      killer.join(2000)
      val ok = bad == 0 && n == chains.toLong * len && killedPos.nonEmpty
      println(f"[ckptdrill] reliable: nodes=$n bad=$bad " +
        f"killed=${killedPos.nonEmpty} wall=$sec%.1f s -> " +
        (if (ok) "PASS" else "FAIL"))
      spark.conf.unset(graft.Ckpt.DirKey)

      // ---- negative control (non-gating): localCheckpoint + kill ----
      // records the failure mode the policy exists for; outcome is
      // evidence either way (a lucky schedule can survive)
      val killer2 = new Thread(() => {
        Thread.sleep(3000)
        val p = killOneExecutor()
        println(s"[ckptdrill] negative-phase kill: ${p.getOrElse("NONE")}")
      })
      killer2.setDaemon(true)
      killer2.start()
      try {
        val r2 = graft.text.TextOps.dedupClustersIterativeWith(pairs, 0)
        val bad2 = r2.filter(col("label") =!= expected).count()
        println(s"[ckptdrill] localCheckpoint survived the kill " +
          s"(bad=$bad2) — blocks were consumed/replicated in time")
      } catch {
        case e: Exception =>
          println("[ckptdrill] localCheckpoint phase FAILED as the " +
            s"policy predicts: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator
              .take(1).mkString}")
      }
      killer2.join(2000)
      if (!ok) sys.exit(5)
    } finally spark.stop()
  }
}
