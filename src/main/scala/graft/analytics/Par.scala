package graft.analytics

/** Driver-thread overlap of INDEPENDENT Spark actions (optimization guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because the driver calls them
  * sequentially. An index build writes several independent stores (each a
  * job + an output commit, mostly driver/commit latency at small scale and
  * straggler-tail fill at large scale); submitting them from a small pool
  * lets each job's tasks back-fill executors freed by the others' tails
  * instead of serializing the commits.
  *
  * Semantics: runs every task, propagates the FIRST failure (after all
  * tasks have finished — no store is left half-written by a sibling's
  * cancellation), preserves nothing about ordering. An interrupt of the
  * calling thread is deferred the same way: the caller keeps waiting for
  * every task, then rethrows the `InterruptedException` with its interrupt
  * flag restored — returning early would let [[IndexLock.withLock]]
  * release the index lock while sibling writes still run. Callers must
  * pass only tasks that are mutually independent AND read
  * already-materialized (or concurrently-computable) inputs; tasks writing
  * the same directory are NOT independent. Job descriptions are
  * thread-local in Spark, and the pool threads are created per call, so
  * they inherit the caller's: each task's jobs carry the caller's
  * [[graft.obs.Trace.phase]] label (TraceSpec). */
private[graft] object Par {
  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      }))
      var interrupt: Option[InterruptedException] = None
      var firstFailure: Option[Throwable] = None
      fs.foreach { f =>
        var done = false
        while (!done)
          try { f.get(); done = true }
          catch {
            case e: InterruptedException => if (interrupt.isEmpty) interrupt = Some(e)
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure.isEmpty) firstFailure = Some(e.getCause)
              done = true
          }
      }
      interrupt.foreach { e => Thread.currentThread().interrupt(); throw e }
      firstFailure.foreach(throw _)
    } finally pool.shutdown()
  }
}
