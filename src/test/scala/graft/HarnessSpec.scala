package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Harness

class HarnessSpec extends AnyFunSuite {
  test("timed returns None for a throwing body (a failed rep is never " +
    "timed) and Some(t >= 0) otherwise; attempt names the error") {
    assert(Harness.timed(throw new IllegalStateException("boom")).isEmpty)
    val t = Harness.timed((1 to 1000).sum)
    assert(t.exists(_ >= 0.0), t)
    assert(Harness.attempt(throw new IllegalStateException("x" * 500)) ===
      Left("IllegalStateException: " + "x" * 120))
  }
}
