package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("results return in index order") {
    val out = Par.mapIndexed(0 until 16) { i =>
      Thread.sleep((16 - i) * 5L); i * 2
    }
    assert(out.toSeq == (0 until 16).map(_ * 2))
  }

  test("a body failure cancels the outstanding siblings before rethrowing") {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = intercept[IllegalStateException] {
      Par.mapIndexed(0 until 32) { i =>
        started.incrementAndGet()
        if (i == 0) { Thread.sleep(50); throw new IllegalStateException("x") }
        Thread.sleep(200)
        finished.incrementAndGet()
      }: Unit
    }
    assert(boom.getMessage == "x")
    // when mapIndexed returns, no body may still be running: everything
    // that started has finished (or was interrupted), nothing new
    // starts — the ADVICE r16 contract (a retry/cleanup must never
    // race a surviving background write)
    val f0 = finished.get()
    val s0 = started.get()
    Thread.sleep(300)
    assert(finished.get() == f0,
      "bodies kept running in the background after the failure rethrew")
    assert(started.get() == s0,
      "bodies started in the background after the failure rethrew")
  }

  /** Runs `callers` threads, each a three-level nest of mapIndexed
    * (4 × 4 × 4 leaves); returns the peak number of leaves running at
    * once. */
  private def nestedPeak(callers: Int): Int = {
    val concurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    def nest(): Int =
      Par.mapIndexed(0 until 4) { a =>
        Par.mapIndexed(0 until 4) { b =>
          Par.mapIndexed(0 until 4) { c =>
            val now = concurrent.incrementAndGet()
            peak.updateAndGet(p => math.max(p, now))
            Thread.sleep(20)
            concurrent.decrementAndGet()
            a * 16 + b * 4 + c
          }.sum
        }.sum
      }.sum
    val sums = new java.util.concurrent.atomic.AtomicIntegerArray(callers)
    val threads = (0 until callers).map(t => new Thread(() => sums.set(t, nest())))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (0 until callers).foreach(t => assert(sums.get(t) == (0 until 64).sum))
    peak.get()
  }

  test("nested Par stays bounded by the global permits, not pool × pool") {
    // the stated bound: 8 pooled bodies + one inline body on the one
    // caller thread — nesting depth adds nothing (a pooled thread runs
    // its inner inline bodies on itself)
    val peak = nestedPeak(callers = 1)
    assert(peak <= 9, s"nested bodies exceeded 8 pooled + 1 inline: $peak")
  }

  test("each outside caller adds at most one inline body to the bound") {
    val peak = nestedPeak(callers = 3)
    assert(peak <= 8 + 3, s"nested bodies exceeded 8 pooled + 3 inline: $peak")
  }

  test("permits are not leaked by the failure/cancellation path") {
    (1 to 3).foreach { _ =>
      intercept[IllegalStateException] {
        Par.mapIndexed(0 until 32) { i =>
          if (i == 0) throw new IllegalStateException("x")
          Thread.sleep(100); i
        }: Unit
      }: Unit
    }
    // if cancelled-before-start tasks leaked permits, repeated failing
    // calls would exhaust the global budget and this map would run
    // fully inline-sequential (~16 × 50 ms); with the budget intact it
    // runs wide. Assert on concurrency, not wall time.
    val concurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    Par.mapIndexed(0 until 16) { i =>
      val c = concurrent.incrementAndGet()
      peak.updateAndGet(p => math.max(p, c))
      Thread.sleep(50)
      concurrent.decrementAndGet()
      i
    }: Unit
    assert(peak.get() >= 4,
      s"global permits appear leaked: post-failure peak concurrency ${peak.get()}")
  }
}
