package graft.ops

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
  * Cached (elastic) daemon pool: a driver thread per in-flight job
  * chain, NOT per task. A FIXED pool here can deadlock: QueriesR8
  * already peaks at 8 concurrent chains and Rank.spearman itself
  * forks, so a forking operator called from inside a forked chain
  * would starve a bounded pool with every thread blocked in
  * Await.result. The cached pool grows on demand (threads are cheap,
  * they just block on Spark actions; actual job concurrency is
  * bounded by the call sites, ≤ ~10 chains) and shrinks when idle. */
object Jobs {
  private lazy val pool = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-jobs-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      }))

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
