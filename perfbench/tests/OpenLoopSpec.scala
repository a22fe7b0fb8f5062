package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {
  test("items are due on the schedule, whatever happened to earlier ones") {
    val loop = new OpenLoop(startNanos = 1000L, ratePerSec = 4000.0)
    assert(loop.dueNanos(0) == 1000L)
    assert(loop.dueNanos(1) == 1000L + 250000L)
    assert(loop.dueNanos(4000) == 1000L + 1000000000L)
  }

  test("a stalled sender owes every item that fell due meanwhile") {
    val loop = new OpenLoop(0L, 1000.0)
    // nothing sent for 10.5 ms: items 0..10 are due, 11 is not
    assert(loop.dueBy(0, 10500000L) == 11)
    assert(loop.dueBy(11, 10500000L) == 11)
  }

  test("lateness is measured from the due time, never negative") {
    val loop = new OpenLoop(0L, 1000.0)
    assert(loop.lateNanos(5, 5000000L) == 0L)
    assert(loop.lateNanos(5, 7500000L) == 2500000L)
    assert(loop.lateNanos(5, 4000000L) == 0L)
  }
}
