package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One span around a public engine call (or a workload's parent step).
  * Wall time comes from `nanoTime`; the epoch-ms bounds exist to match
  * Spark job submit times, which the scheduler reports in epoch ms. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val opId: Long, val traced: Boolean) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs: Long = -1L
  var endNs: Long = -1L
  var failed: Boolean = false
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
}

/** Records raw job-start and task-end events; attribution to spans
  * happens once, after the run, in [[Tracer.attribute]]. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[(Int, Long)]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add((e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Array(e.stageId.toLong, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead))
  }
}

/** Span recorder for one benchmark run. Spans nest on the single client
  * thread and stay in memory until [[write]]. While tracing is on, a
  * [[JobListener]] is attached and each Spark job is charged to the
  * innermost traced span that was open when the job was submitted — by
  * submit time, so jobs that engine-side thread pools submit are
  * charged correctly too. */
final class Tracer(sc: SparkContext, val cores: Int) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new JobListener
  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener); attached = true
  }

  /** Detach after every queued event has been delivered, so the last
    * traced op keeps its counters. */
  def detach(): Unit = if (attached) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener); attached = false
  }

  def span[T](name: String, opId: Long)(body: => T): T = {
    val s = new Span(spans.length, name, stack.headOption.map(_.id)
      .getOrElse(-1), opId, attached)
    spans += s
    stack = s :: stack
    try body
    catch { case t: Throwable => s.failed = true; throw t }
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  /** Flag every span still open: a throw inside them voids their
    * latency. */
  def failOpenSpans(): Unit = stack.foreach(_.failed = true)

  /** Counters per traced span id. Call after [[detach]]. */
  def attribute(): Map[Int, Counters] = {
    val traced = spans.filter(s => s.traced && s.endNs >= 0)
    val jobSpan = listener.jobs.asScala.toSeq.flatMap { case (job, t) =>
      // innermost = the latest-opened span containing t
      traced.filter(s => s.startMs <= t && t <= s.endMs)
        .maxByOption(_.id).map(s => job -> s.id)
    }.toMap
    val out = scala.collection.mutable.Map.empty[Int, Counters]
    def of(id: Int) = out.getOrElseUpdate(id, new Counters)
    jobSpan.values.foreach(id => of(id).jobs += 1)
    listener.tasks.asScala.foreach { t =>
      Option(listener.stageJob.get(t(0).toInt)).flatMap(j =>
        jobSpan.get(j)).foreach { id =>
        val c = of(id)
        c.tasks += 1; c.taskMs += t(1); c.shuffleBytes += t(2)
        c.spillBytes += t(3); c.rowsRead += t(4)
      }
    }
    out.toMap
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo)
      if (b > lo) { covered += b - lo; upTo = b }
    }
    s.wallS - covered / 1e9
  }

  /** Write every span (one JSON object per line) once, at run end. */
  def write(path: String, workload: String, run: String,
            counters: Map[Int, Counters]): Unit = {
    val lines = spans.map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      Json.obj("workload" -> workload, "run" -> run, "op" -> s.opId,
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "self_s" -> selfS(s), "traced" -> s.traced, "failed" -> s.failed,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
        "rows_read" -> c.rowsRead)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
