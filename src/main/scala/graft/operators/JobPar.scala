package graft.operators

/** Submit independent Spark actions concurrently from a bounded thread
  * pool (optimization guide §2.6, "overlap independent jobs"): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially. The index lifecycles are the motivating case: a
  * maintenance step writes several SELF-CONTAINED relations (docs /
  * postings / hashes), each a bucket-count-sized job that alone cannot
  * fill the cluster — run sequentially, each job's tail leaves most
  * cores idle; overlapped, the next relation's tasks back-fill them.
  * This is a wall-clock win at every scale (FIFO scheduling gives
  * exactly the back-fill behaviour), not a local-mode tune.
  *
  * Semantics: runs every thunk to completion (so no job leaks past the
  * call), then rethrows the FIRST failure if any — callers' staged
  * crash-safety contracts (marker before, meta after) are unchanged
  * because all relation writes still complete (or the step throws)
  * before the commit step runs. Thread-local Spark properties (job
  * group/description) are inherited by the pool threads from the
  * caller, so UI labels and cancellation behave as before.
  *
  * On CALLER interrupt the outstanding futures are cancelled with
  * interruption and the call then waits for EVERY thunk to finish before
  * it re-asserts the interrupt and rethrows — it never returns while a
  * thunk still runs, so a caller's cleanup (e.g. [[IndexStore]] deleting
  * its rewrite tmp) cannot race a live writer. Spark actions respond to
  * the interrupt at their next job wait.
  */
private[graft] object JobPar {
  def run(thunks: (() => Unit)*): Unit = {
    if (thunks.size <= 1) { thunks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        })
      }
      var err: Throwable = null
      var interrupted = false
      futs.foreach { f =>
        if (interrupted) { f.cancel(true); () }
        else try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (err == null) err = e.getCause
          case e: InterruptedException =>
            interrupted = true
            if (err == null) err = e
            f.cancel(true)
        }
      }
      if (interrupted) {
        pool.shutdownNow()
        // a cancelled future reports done at once, but its thread may
        // still be inside the thunk: wait for the pool itself, however
        // often the caller is interrupted again meanwhile
        var drained = false
        while (!drained)
          try drained = pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
          catch { case _: InterruptedException => () }
        Thread.currentThread().interrupt()
      }
      if (err != null) throw err
    } finally pool.shutdown()
  }
}
