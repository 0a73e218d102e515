package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Jobs

/** The driver fork pool (ops.Jobs): bounded, and deadlock-free under
  * nested forks because a fork that finds every thread busy runs
  * inline instead of waiting for one. */
class JobsSpec extends AnyFunSuite {

  test("nested fork/joinAll chains deeper than the pool's cap all " +
    "complete with results in order, on no more threads than the cap") {
    val cap = 3
    val jobs = new Jobs(cap)
    // a tree of forks 4 deep and 3 wide, 120 nested forks, each level
    // blocking in joinAll on the level below while holding its thread
    def tree(depth: Int, id: Int): Seq[Int] =
      if (depth == 0) { Thread.sleep(2); Seq(id) }
      else jobs.joinAll((0 until 3).map(i =>
        jobs.fork(tree(depth - 1, id * 3 + i)))).flatten
    val f = jobs.fork(tree(4, 0))
    val out = scala.concurrent.Await.result(f,
      scala.concurrent.duration.Duration(60, "s"))
    assert(out === (0 until 81))
    assert(jobs.threadsStarted <= cap, s"${jobs.threadsStarted} threads")
  }

  test("a failing body that ran inline at the cap surfaces from joinAll, " +
    "not from fork, after every sibling has finished") {
    val jobs = new Jobs(1)
    val done = new java.util.concurrent.atomic.AtomicInteger
    val fs = (0 until 6).map(i => jobs.fork {
      Thread.sleep(5)
      done.incrementAndGet()
      if (i == 1) throw new IllegalStateException("boom")
      i
    })
    val e = intercept[IllegalStateException](jobs.joinAll(fs))
    assert(e.getMessage === "boom")
    assert(done.get === 6)
  }
}
