package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** On-disk index counters, read from the index directory by the
  * benchmark: live bytes and files, and bytes ever written (every file
  * seen new or resized between steps). Observed only in trace mode, and
  * outside the timed window's clock. */
object IndexStats {
  private val sizes = mutable.Map.empty[String, mutable.Map[Path, Long]]
  private val written = mutable.Map.empty[String, Long]

  private def files(dir: String): Map[Path, Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toMap
      finally s.close()
    }
  }

  def observe(run: Run, kind: String, dir: String): Unit =
    if (run.traceMode) run.paused {
      val seen = sizes.getOrElseUpdate(kind, mutable.Map.empty)
      files(dir).foreach { case (p, n) =>
        if (!seen.get(p).contains(n))
          written(kind) = written.getOrElse(kind, 0L) + n
        seen(p) = n
      }
    }

  def report(run: Run, kind: String, dir: String, userBytes: Long): Unit = {
    val live = files(dir)
    val u = math.max(1L, userBytes).toDouble
    run.values(s"index.$kind.bytes_per_user_byte") = live.values.sum / u
    run.values(s"index.$kind.write_amp") = written.getOrElse(kind, 0L) / u
    run.values(s"index.$kind.files") = live.size.toDouble
  }
}
