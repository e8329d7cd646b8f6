package graft

import graft.queries.SeedPar

/** The seed fan-out helper (guide §2.6 job overlap inside one build
  * entry) must keep the sequential spelling's observable contract:
  * results in item order, every thunk runs exactly once, and a thunk's
  * failure propagates to the caller. */
class SeedParSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("mapAll returns results in item order and runs every item once") {
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val out = SeedPar.mapAll(1 to 64) { i =>
      // Jitter so pool completion order differs from item order.
      Thread.sleep((i * 7) % 5)
      assert(ran.add(i), s"item $i ran twice")
      i * 10
    }
    assert(out == (1 to 64).map(_ * 10))
    assert(ran.size == 64)
  }

  test("a thunk failure propagates; the other thunks still complete") {
    val done = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[RuntimeException] {
      SeedPar.all(Seq(
        () => { Thread.sleep(10); done.incrementAndGet() },
        () => throw new RuntimeException("seed boom"),
        () => { Thread.sleep(10); done.incrementAndGet() }))
    }
    assert(e.getMessage == "seed boom")
  }

  test("a failure surfaces only after a slow sibling has finished") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      SeedPar.all(Seq(
        () => { Thread.sleep(500); finished.set(true) },
        () => throw new RuntimeException("seed boom")))
    }
    assert(e.getMessage == "seed boom")
    assert(finished.get, "the failure surfaced while a sibling was still running")
  }

  test("nested fan-out makes progress (the DML seeder shape)") {
    // A fan-out whose thunks themselves fan out: on a bounded pool the
    // outer Awaits can starve the inner tasks; the cached pool must not.
    val out = SeedPar.mapAll(1 to 8) { i =>
      SeedPar.mapAll(1 to 8)(j => i * 100 + j).sum
    }
    assert(out == (1 to 8).map(i => (1 to 8).map(j => i * 100 + j).sum))
  }
}
