package graft

import org.scalatest.funsuite.AnyFunSuite

/** An isolated bench fork is bounded by the adjudication budget: a child
  * still running when its time runs out is killed, and one that finishes
  * in time hands back its whole stdout. */
class BenchForkSpec extends AnyFunSuite {

  test("a child over its budget is killed") {
    val p = new ProcessBuilder("sleep", "30").start()
    val t0 = System.nanoTime()
    assert(Bench.awaitBounded(p, 1.0).isEmpty)
    assert(!p.isAlive, "the child outlived its budget")
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }

  test("a child within its budget returns its stdout") {
    val p = new ProcessBuilder("seq", "1", "20000").start()
    val out = Bench.awaitBounded(p, 30.0)
    assert(out.map(_.size).contains(20000))
    assert(out.exists(_.last == "20000"))
  }
}
