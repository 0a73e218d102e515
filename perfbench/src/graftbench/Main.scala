package graftbench

import scala.collection.mutable

/** One benchmark run in a fresh JVM:
  * `graftbench.Main --workload <name> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir> --cores <n> --t0-ms <epoch ms>`.
  * `--t0-ms` is when the launcher spawned this JVM, so session start-up
  * includes JVM start. Prints Spark's own logging to stderr and, as its
  * last stdout line, `BENCH_RESULT <json>` with the raw samples, check
  * tallies and (trace mode) the per-layer counters; `perfbench/run.py`
  * turns that into the benchmark's metrics. */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "lifecycle_wide" -> Lifecycle.main,
    "dedup_ingest" -> Dedup.main,
    "ann_serve" -> Ann.main)
  val Parents = Set("lifecycle.pass", "dedup.batch", "ann.cycle")

  private def proc(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    catch { case _: java.io.IOException => "" }

  private def loadavg(): String = proc("/proc/loadavg").trim

  private def peakRssMb(): Double =
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(proc("/proc/self/status"))
      .map(_.group(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val body = Workloads.getOrElse(workload, throw new IllegalArgumentException(
      s"unknown workload '$workload'; one of ${Workloads.keys.mkString(", ")}"))
    val work = a("work")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val load0 = loadavg()
    val spark = graft.tools.Harness.session(cores.toString)
    val sessionS = (System.currentTimeMillis() - a("t0-ms").toLong) / 1e3
    val run = new Run(spark, a("seed").toLong, a("seconds").toDouble, trace,
      work, cores)
    body(run)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      layers ++= run.layerMetrics(Parents)
      run.values.foreach {
        case (k, v: Double) if k.startsWith("index.") => layers(k) = v
        case (k, v: Double) if k.startsWith("ratio.") =>
          layers(k.stripPrefix("ratio.")) = v
        case _ =>
      }
      def med(k: String) = Stats.median(
        run.values.get(k).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq)
          .getOrElse(Nil))
      layers("trace.overhead_frac") = med("traced_op") / med("untraced_op") - 1
      run.tracer.write(s"$work/spans.jsonl", workload, s"seed${run.seed}",
        run.counters)
    }
    val checks = run.checks.map { case (name, t) =>
      scala.collection.immutable.ListMap("name" -> name,
        "passed" -> t.passed, "failed" -> t.failed,
        "known_defect" -> t.knownDefect, "detail" -> t.detail)
    }
    println("BENCH_RESULT " + Json.obj(
      "workload" -> workload,
      "seed" -> run.seed,
      "trace" -> trace,
      "cores" -> cores,
      "session_s" -> sessionS,
      "window_s" -> run.windowS,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "errors" -> run.errorLines,
      "checks" -> checks,
      "values" -> run.values.filterNot(_._1.contains('.')),
      "layers" -> layers,
      "peak_rss_mb" -> peakRssMb(),
      "loadavg_start" -> load0,
      "loadavg_end" -> loadavg()))
    spark.stop()
  }
}
