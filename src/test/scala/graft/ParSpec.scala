package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.pipeline.Par
import org.scalatest.funsuite.AnyFunSuite

/** Failure semantics of the bounded driver-side pool: once one
  * element fails, QUEUED work must not keep running side effects in
  * the background after the exception has propagated to the caller
  * (a failed stage stops issuing writes). */
class ParSpec extends AnyFunSuite {

  test("foreach rethrows the first failure unwrapped") {
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException](
      Par.foreach(1 to 4, par = 2)(i => if (i == 1) throw boom))
    assert(e eq boom)
  }

  test("foreach on failure cancels queued tasks instead of draining them") {
    // pool of 1: element 1 fails immediately; elements 2..40 are
    // queued behind it and must be cancelled, not executed
    val ran = new AtomicInteger(0)
    intercept[RuntimeException](
      Par.foreach(1 to 40, par = 1) { i =>
        if (i == 1) throw new RuntimeException("first fails")
        else { ran.incrementAndGet(); Thread.sleep(50) }
      })
    // the worker may already have dequeued one or two tasks while the
    // failure propagated; the ~38 still queued must never run
    Thread.sleep(300)
    assert(ran.get() <= 3, s"queued tasks ran after failure: ${ran.get()}")
  }

  test("foreach completes all elements on success") {
    val ran = new AtomicInteger(0)
    Par.foreach(1 to 17, par = 4)(_ => ran.incrementAndGet())
    assert(ran.get() == 17)
  }

  test("both returns both results") {
    assert(Par.both(1 + 1, "x" * 3) == ((2, "xxx")))
  }

  test("both: one side's failure reaches the caller at once; the other side is cancelled") {
    for (failLeft <- Seq(true, false)) {
      val boom = new IllegalStateException("boom")
      val interrupted = new java.util.concurrent.CountDownLatch(1)
      val finished = new AtomicInteger(0)
      def slow(): Int =
        try { Thread.sleep(10000); finished.incrementAndGet() }
        catch { case _: InterruptedException => interrupted.countDown(); -1 }
      def fail(): Int = { Thread.sleep(50); throw boom }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](
        if (failLeft) Par.both(fail(), slow()) else Par.both(slow(), fail()))
      val waitedMs = (System.nanoTime() - t0) / 1000000
      assert(e eq boom)
      assert(waitedMs < 5000, s"the caller waited ${waitedMs}ms for the other side")
      assert(interrupted.await(5, java.util.concurrent.TimeUnit.SECONDS),
        "the other side was not cancelled")
      assert(finished.get == 0)
    }
  }
}
