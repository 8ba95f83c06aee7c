package graft.operators

/** Driver-side concurrency for INDEPENDENT Spark actions (guide §2.6:
  * Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because driver code calls
  * them sequentially). Submitting independent jobs from a small pool
  * lets the next job's tasks back-fill executors freed by the current
  * job's straggler tail — and at benchmark scale it removes the
  * serialized per-action scheduling/collect latency that dominates
  * lifecycle-heavy operators (registry builds, per-subspace fits).
  *
  * Results return in INDEX order, never completion order, so callers'
  * outputs are bit-identical to the sequential loop. Exceptions from
  * the body propagate unwrapped. Only for bodies that are independent
  * (no shared mutable state, disjoint output paths).
  *
  * BOUNDS (r17): two guarantees the r16 version lacked —
  *  - on a body failure the remaining futures are CANCELLED
  *    (`shutdownNow` + await) before the cause rethrows, so sibling
  *    jobs can't keep writing their output paths in the background
  *    while the caller unwinds into a retry or cleanup;
  *  - a GLOBAL permit pool (8) bounds the bodies on worker threads
  *    across every live Par call, nesting included (q220 Par-wraps two
  *    register() calls, each of which Par-maps its grains — the r16
  *    version could multiply pools per level, up to 64 threads). A
  *    body only goes to a worker thread when a permit is free;
  *    otherwise it runs INLINE on the submitting thread — never
  *    blocking on a permit, so nested calls cannot deadlock, and an
  *    inner map still overlaps its siblings whenever capacity exists
  *    (the first sequential-nesting fix measurably cost q220 the
  *    overlap its r16 win came from).
  *
  * The stated bound is therefore: at most 8 pooled bodies, plus one
  * inline body per thread that calls Par from OUTSIDE a Par body. A
  * worker thread that nests a call runs its inline bodies on itself, a
  * thread already counted among the 8; so however deep the nesting, at
  * most 8 + (outside callers) threads run Par bodies at once. A pooled
  * body keeps its permit until it returns, even past the failure path's
  * await timeout.
  */
object Par {

  /** Global concurrency budget across every live Par call: enough
    * in-flight Spark actions to fill scheduling gaps, few enough not
    * to fight for executors. */
  private val permits = new java.util.concurrent.Semaphore(8)

  /** `indexes.map(body)` with the bodies running concurrently under
    * the global permit budget. Results return in INDEX order (FIFO
    * submission keeps earlier jobs first on the scheduler). */
  def mapIndexed[T: scala.reflect.ClassTag](indexes: Range)
      (body: Int => T): Array[T] = {
    val n = indexes.size
    if (n <= 1) return indexes.toArray.map(body)
    val out = new Array[T](n)
    // cached pool: threads spin up only for bodies that actually won a
    // permit, and die after the call (the pool is per-call; the BOUND
    // is the global semaphore, not the pool size)
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    // each pooled body's permit is released exactly once, by whichever
    // side claims the task first: call(), which runs the body and
    // releases when it returns, or abandon(), for a task cancellation
    // or a failed submit kept from ever starting (without it, every
    // cancelled-before-start task would LEAK a global permit). A body
    // still running when the failure path gives up waiting keeps its
    // permit, so the bound holds while it runs.
    final class Task(i: Int)
        extends java.util.concurrent.Callable[T] {
      private val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def abandon(): Unit =
        if (claimed.compareAndSet(false, true)) permits.release()
      override def call(): T =
        if (claimed.compareAndSet(false, true))
          try body(indexes(i)) finally permits.release()
        else throw new java.util.concurrent.CancellationException()
    }
    val tasks = new Array[Task](n)
    val futs = new Array[java.util.concurrent.Future[T]](n)
    try {
      var failure: Throwable = null
      var k = 0
      while (k < n && failure == null) {
        val i = k
        if (permits.tryAcquire()) {
          tasks(i) = new Task(i)
          try futs(i) = pool.submit(tasks(i))
          catch { case t: Throwable => tasks(i).abandon(); failure = t }
        } else {
          // no capacity anywhere (all 8 permits busy across the JVM):
          // run inline — the submitting thread would otherwise idle in
          // get(), and never blocking on a permit keeps nesting
          // deadlock-free by construction while an inner map still
          // overlaps its siblings whenever capacity exists
          try out(i) = body(indexes(i))
          catch { case t: Throwable => failure = t }
        }
        k += 1
      }
      if (failure == null) {
        var j = 0
        try {
          while (j < n) {
            if (futs(j) != null) out(j) = futs(j).get()
            j += 1
          }
        } catch {
          case e: java.util.concurrent.ExecutionException =>
            failure = e.getCause
          case t: Throwable => failure = t
        }
      }
      if (failure != null) {
        // cancel the outstanding siblings and WAIT for in-flight
        // bodies to finish before rethrowing — a retry or cleanup
        // must never race a background write that survived the
        // failure (ADVICE r16); then release the permits of tasks
        // that never started
        futs.foreach(f => if (f != null) f.cancel(true): Unit)
        pool.shutdownNow()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        tasks.foreach(t => if (t != null) t.abandon())
        throw failure
      }
      out
    } finally pool.shutdown()
  }

  /** [[mapIndexed]] over a Seq, preserving element order. */
  def mapSeq[A, T: scala.reflect.ClassTag](xs: Seq[A])(body: A => T): Seq[T] =
    mapIndexed(xs.indices)(i => body(xs(i))).toSeq
}
