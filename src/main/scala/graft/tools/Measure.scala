package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Per-query measurement over the registered catalog (graft.SparkEntry),
  * in the one Harness session, over the tables in SPARK_GRAFT_SF_DIR.
  * Every mode prints one `[measure]` line per query; a rep that throws
  * reads FAILED (its error goes to stderr) and is never timed.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> scripts/run.sh graft.tools.Measure
  *   time q… [reps]          seconds of each rep (default 3). The first
  *                           rep carries plan compilation; later reps
  *                           are the steady-state cost.
  *   profile q…              after one warm rep, the plan-to-cost record:
  *                           jobs, stages, tasks, task-seconds, wall and
  *                           residue (wall − taskSec/cores: the
  *                           un-parallelized driver share), plus the wall
  *                           split into build (the query body, including
  *                           any driver-side actions), plan (analysis +
  *                           optimization + physical planning) and exec.
  *   plan <outDir|-> q…      formatted physical plan of the returned
  *                           frame to <outDir>/<q>.txt, or stdout (`-`).
  *   ab <key> <off> <on> q…  same-session A/B of a runtime SQL conf: one
  *                           warm rep per value, then 3 INTERLEAVED reps
  *                           each (sequential blocks bias ~10-20% against
  *                           the later value as session heat builds);
  *                           min per value and the on/off ratio. */
object Measure {
  private val Usage = "usage: graft.tools.Measure time q... [reps] | " +
    "profile q... | plan <outDir|-> q... | ab <key> <off> <on> q..."

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val (mode, rest) = (args.head, args.tail.toSeq)
    val (names, reps) = mode match {
      case "time" if rest.last.forall(_.isDigit) =>
        (rest.init, rest.last.toInt)
      case "time" | "profile" => (rest, 3)
      case "plan" => (rest.drop(1), 0)
      case "ab" => (rest.drop(3), 0)
      case _ => throw new IllegalArgumentException(Usage)
    }
    require(names.nonEmpty, Usage)
    names.foreach(q => require(graft.SparkEntry.queries.contains(q),
      s"unknown query $q"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "set SPARK_GRAFT_SF_DIR to the directory of the parquet tables"))
    val spark = Harness.session()
    def frame(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, sfDir)
    def rep(q: String): Option[Double] = {
      val t = Harness.timed(frame(q).count())
      Harness.dropLeftovers(spark)
      t
    }
    def sec(t: Option[Double]): String = t.fold("FAILED")(v => f"$v%.3f")
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      mode match {
        case "time" => names.foreach { q =>
          println(s"[measure] time $q " +
            Seq.fill(reps)(rep(q)).map(sec).mkString(" "))
        }
        case "profile" =>
          val counters @ Seq(jobs, stages, tasks, taskMs) =
            Seq.fill(4)(new AtomicLong)
          spark.sparkContext.addSparkListener(new SparkListener {
            override def onJobStart(j: SparkListenerJobStart): Unit =
              jobs.incrementAndGet()
            override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
              stages.incrementAndGet()
            override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
              tasks.incrementAndGet()
              if (t.taskMetrics != null)
                taskMs.addAndGet(t.taskMetrics.executorRunTime)
            }
          })
          val cores = spark.sparkContext.defaultParallelism
          names.foreach { q =>
            rep(q)
            counters.foreach(_.set(0))
            var df: DataFrame = null
            val build = Harness.timed { df = frame(q) }
            val plan = build.flatMap(_ => Harness.timed(df.queryExecution.executedPlan))
            val exec = plan.flatMap(_ => Harness.timed(df.count()))
            Harness.dropLeftovers(spark)
            Thread.sleep(300) // the listener bus is async: let counters drain
            val line = exec.fold(s"$q FAILED") { _ =>
              val (wall, taskSec) =
                (build.get + plan.get + exec.get, taskMs.get / 1e3)
              f"$q%-28s jobs=${jobs.get}%4d stages=${stages.get}%4d " +
                f"tasks=${tasks.get}%5d taskSec=$taskSec%8.2f " +
                f"wall=$wall%6.2f residue=${wall - taskSec / cores}%6.2f " +
                s"build=${sec(build)} plan=${sec(plan)} exec=${sec(exec)}"
            }
            println(s"[measure] profile $line")
          }
        case "plan" =>
          val out = rest.head
          if (out != "-") Files.createDirectories(Paths.get(out))
          names.foreach { q =>
            var text = ""
            val ok = Harness.timed {
              text = frame(q).queryExecution.explainString(FormattedMode)
            }.isDefined
            Harness.dropLeftovers(spark)
            println(s"[measure] plan $q " + (
              if (!ok) "FAILED"
              else if (out == "-") s"(${text.length} B)\n$text"
              else {
                Files.writeString(Paths.get(out, s"$q.txt"), text)
                s"-> $out/$q.txt (${text.length} B)"
              }))
          }
        case "ab" =>
          val Seq(key, off, on) = rest.take(3)
          names.foreach { q =>
            def once(v: String): Option[Double] = { spark.conf.set(key, v); rep(q) }
            once(off); once(on) // plan/codegen warm-up, both shapes
            val runs = Seq.fill(3)(Seq(off -> once(off), on -> once(on))).flatten
            def best(v: String) = runs.collect { case (`v`, Some(t)) => t }.minOption
            val line = (best(off), best(on)) match {
              case (Some(a), Some(b)) =>
                f"$q%-26s off=$a%6.2f on=$b%6.2f ratio=${b / a}%5.2f ($key $off->$on)"
              case _ => s"$q FAILED (a value failed every rep)"
            }
            println(s"[measure] ab $line")
          }
      }
    } finally spark.stop()
  }
}
