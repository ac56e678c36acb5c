package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.engine.Par]] — the §2.6 independent-action overlap helper.
  * Pins the contract the overlapped query paths (bucketed_join,
  * dq_gated_promotion) rely on: results in thunk order, ALL thunks run
  * to completion, and the first failure (in thunk order) is rethrown
  * after the join — never a half-started fire-and-forget. */
class ParSpec extends AnyFunSuite {
  import graft.engine.Par

  test("runAll returns results in thunk order, all thunks executed") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val rs = Par.runAll(
      () => { ran.incrementAndGet(); "a" },
      () => { ran.incrementAndGet(); "b" },
      () => { ran.incrementAndGet(); "c" })
    assert(rs == Seq("a", "b", "c"))
    assert(ran.get == 3)
  }

  test("runAll actually overlaps (both thunks in flight at once)") {
    val gate = new java.util.concurrent.CyclicBarrier(2)
    // each thunk blocks until the OTHER arrives: only concurrent
    // execution can pass; a sequential runner would deadlock the
    // barrier (await would time out and throw)
    val rs = Par.runAll(
      () => { gate.await(10, java.util.concurrent.TimeUnit.SECONDS); 1 },
      () => { gate.await(10, java.util.concurrent.TimeUnit.SECONDS); 2 })
    assert(rs == Seq(1, 2))
  }

  test("first failure in thunk order is rethrown; later thunks still ran") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Par.run(
        () => { ran.incrementAndGet(); throw new IllegalStateException("first") },
        () => ran.incrementAndGet(),
        () => { ran.incrementAndGet(); throw new RuntimeException("later") })
    }
    assert(e.getMessage == "first")
    assert(ran.get == 3)
  }

  test("a failure surfaces only after every sibling thunk has finished") {
    @volatile var siblingDone = 0L
    intercept[IllegalStateException] {
      Par.run(
        () => throw new IllegalStateException("fails at once"),
        () => { Thread.sleep(500); siblingDone = System.nanoTime() })
    }
    val caught = System.nanoTime()
    assert(siblingDone != 0L && siblingDone <= caught,
      "the failure reached the caller while a sibling was still running")
  }
}
