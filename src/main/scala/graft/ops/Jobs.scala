package graft.ops

import java.util.concurrent.{SynchronousQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6):
  * Spark's scheduler runs concurrent jobs fine — actions are only
  * sequential because driver code calls them sequentially. The
  * multi-action contract queries (profile even half / odd half / HLL
  * sketches / exact duals) each submit a chain of small jobs whose
  * tasks leave most cores idle; overlapping them back-fills the
  * cluster. Results are whatever each thunk computes — determinism is
  * untouched, only WHEN the jobs run changes.
  *
  * Daemon pool of at most `cap` threads with no queue: a driver thread
  * per in-flight job chain, NOT per task, and a fork that finds every
  * thread busy runs inline on the forking thread (`CallerRunsPolicy`).
  * A queue could deadlock: QueriesR8 peaks at 8 concurrent chains and
  * Rank.spearman itself forks, so a forking operator called from inside
  * a forked chain could wait on a queued task while every thread blocks
  * in Await.result. Without one, every forked body is running on some
  * thread, and the cap bounds driver threads even for a per-row or
  * per-partition fork. Idle threads exit after a minute. */
class Jobs private[graft] (cap: Int) {
  private val started = new AtomicInteger

  private lazy val pool = ExecutionContext.fromExecutorService(
    new ThreadPoolExecutor(0, cap, 60L, TimeUnit.SECONDS,
      new SynchronousQueue[Runnable],
      (r: Runnable) => {
        val t = new Thread(r, s"graft-jobs-${started.incrementAndGet()}")
        t.setDaemon(true); t
      },
      new ThreadPoolExecutor.CallerRunsPolicy))

  /** Threads this pool has started so far. */
  private[graft] def threadsStarted: Int = started.get

  def fork[T](body: => T): Future[T] = Future(body)(pool)

  def join[T](f: Future[T]): T = Await.result(f, Duration.Inf)

  /** Every result, in order. Waits for ALL the futures before raising
    * the first failure, so no forked chain still submits jobs after the
    * caller has moved on. */
  def joinAll[T](fs: Seq[Future[T]]): Seq[T] = {
    fs.foreach(Await.ready(_, Duration.Inf))
    fs.map(join)
  }
}

/** The engine's pool: 64 threads, several times the ~10 chains the call
  * sites start at most. */
object Jobs extends Jobs(64)
