package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Tally of one named output check across a run. */
final class CheckTally(val knownDefect: Boolean) {
  var passed = 0L
  var failed = 0L
  var detail = ""
}

/** State of one benchmark run: the span recorder, op and check
  * accounting, latency samples and the timed window.
  *
  * Failure accounting: an op that throws, or whose output fails a
  * check, counts once as failed. A thrown op also marks every enclosing
  * span failed, so its latency — and its parent step's — is left out of
  * the latency samples. */
final class Run(val spark: SparkSession, val seed: Long,
                val seconds: Double, val traceMode: Boolean,
                val workDir: String, val cores: Int) {
  val tracer = new Tracer(spark.sparkContext, cores)
  val checks = mutable.LinkedHashMap.empty[String, CheckTally]
  /** Scalar results the Python side turns into metrics. */
  val values = mutable.LinkedHashMap.empty[String, Any]
  private val failedOps = mutable.LinkedHashSet.empty[(String, Long)]
  private val errors = ArrayBuffer.empty[String]
  var attempted = 0L
  /** Sum of the timed units' walls, excluding paused check work. */
  var windowS = 0.0
  private var pausedNs = 0L
  private var windowOpen = false

  def failed: Long = failedOps.size

  /** Span counters, attributed once after the last traced step. */
  lazy val counters: Map[Int, Counters] = tracer.attribute()

  /** Run one public call inside a span. A throw is recorded, not
    * rethrown: the caller gets None and carries on or abandons the
    * step. */
  def op[T](name: String, opId: Long)(body: => T): Option[T] = {
    attempted += 1
    try Some(tracer.span(name, opId)(body))
    catch {
      case NonFatal(e) =>
        tracer.failOpenSpans()
        failedOps += ((name, opId))
        if (errors.length < 20) errors += s"$name#$opId threw $e"
        None
    }
  }

  /** Record one check on the output of op (`opName`, `opId`). */
  def check(name: String, opName: String, opId: Long, ok: Boolean,
            knownDefect: Boolean = false)(detail: => String): Boolean = {
    val t = checks.getOrElseUpdate(name, new CheckTally(knownDefect))
    if (ok) t.passed += 1
    else {
      t.failed += 1
      if (t.detail.isEmpty) t.detail = detail
      failedOps += ((opName, opId))
    }
    ok
  }

  /** A workload's parent step. In trace mode only `traced` steps inside
    * the timed window run with the Spark listener attached; the others
    * give the untraced latencies the tracing overhead is measured
    * against. */
  def step[T](name: String, id: Long, traced: Boolean)(body: => T): Option[T] = {
    if (traceMode && traced && windowOpen) tracer.attach()
    try op(name, id)(body)
    finally tracer.detach()
  }

  /** Check work inside a timed unit that must not count as window time. */
  def paused[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }

  /** Run the timed window: the whole number of units nearest to
    * `seconds` at the workload's nominal unit length (at least
    * `minUnits`). The count does not depend on how fast this run goes,
    * so every run of a workload does the same work. Returns the count. */
  def timedUnits(nominalUnitS: Double, minUnits: Int = 1)(unit: Int => Unit)
      : Int = {
    val n = math.max(minUnits, math.round(seconds / nominalUnitS).toInt)
    windowOpen = true
    (0 until n).foreach { i =>
      val p0 = pausedNs
      val t0 = System.nanoTime()
      unit(i)
      windowS += (System.nanoTime() - t0 - (pausedNs - p0)) / 1e9
    }
    windowOpen = false
    n
  }

  /** Wall times of the non-failed spans named `name` opened at or after
    * span `fromId` (the timed window's first span). */
  def walls(name: String, fromId: Int): Seq[Double] =
    tracer.spans.iterator.filter(s => s.name == name && s.id >= fromId &&
      !s.failed && s.endNs >= 0).map(_.wallS).toSeq

  def errorLines: Seq[String] = errors.toSeq

  /** Per-layer counters over the traced spans: for each span name,
    * the median across its traced calls of each counter. */
  def layerMetrics(parents: Set[String]): Map[String, Double] = {
    tracer.spans.filter(s => s.traced && !s.failed && s.endNs >= 0)
      .groupBy(_.name).flatMap { case (name, ss) =>
        def med(f: Span => Double) = Stats.median(ss.map(f).toSeq)
        def c(s: Span) = counters.getOrElse(s.id, new Counters)
        val base = Seq(
          s"$name.wall_s" -> med(_.wallS),
          s"$name.jobs" -> med(c(_).jobs.toDouble),
          s"$name.tasks" -> med(c(_).tasks.toDouble),
          s"$name.task_s" -> med(c(_).taskMs / 1e3),
          s"$name.residue_s" -> med(s => s.wallS - c(s).taskMs / 1e3 / cores),
          s"$name.shuffle_bytes" -> med(c(_).shuffleBytes.toDouble),
          s"$name.spill_bytes" -> med(c(_).spillBytes.toDouble),
          s"$name.rows_read" -> med(c(_).rowsRead.toDouble))
        val self =
          if (parents(name)) Seq(s"$name.self_s" -> med(tracer.selfS))
          else Nil
        base ++ self
      }
  }

  /** Sum of one counter over the traced spans named `name`. */
  def counterSum(name: String, f: Counters => Long): Long = {
    tracer.spans.filter(s => s.traced && s.name == name)
      .map(s => counters.get(s.id).map(f).getOrElse(0L)).sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
