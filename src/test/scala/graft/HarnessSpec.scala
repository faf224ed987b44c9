package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Harness failure rule: build → force → Cleanup.drain(), the
  * drain runs on failure too, a NonFatal throw is a failed run, and a
  * fatal error is rethrown.
  */
class HarnessSpec extends AnyFunSuite {
  import TestSpark.spark

  private def registerOne(): Unit =
    Cleanup.register(spark.range(3).toDF("x").localCheckpoint())

  test("a clean run is not failed and its registrations are drained") {
    val r = Harness.run("[spec] clean") { registerOne(); Harness.force(spark.range(5).toDF()) }
    assert(!r.failed && r.sec >= 0 && Cleanup.pendingCount == 0)
  }

  test("a throwing builder gives a failed run with its registrations drained") {
    val r = Harness.run("[spec] throwing builder") {
      registerOne(); throw new IllegalStateException("builder failed")
    }
    assert(r.error.map(_.getMessage).contains("builder failed"))
    assert(Cleanup.pendingCount == 0)
  }

  test("a fatal error is rethrown after the drain") {
    intercept[LinkageError] {
      Harness.run("[spec] fatal") { registerOne(); throw new LinkageError("fatal") }
    }
    assert(Cleanup.pendingCount == 0)
  }
}
