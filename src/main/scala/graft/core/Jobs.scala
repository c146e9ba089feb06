package graft.core

/** Driver-side job overlap (optimization guide §2.6): Spark's scheduler
  * runs any number of jobs at once inside one application — actions are
  * only sequential because driver code calls them sequentially. For
  * INDEPENDENT actions (writes to distinct paths, checkpoints of distinct
  * legs of a fuse), submitting them from a bounded pool lets the next
  * job's tasks back-fill executor slots left idle by the current job's
  * straggler tail, and on a many-small-stage lifecycle path it overlaps
  * the per-job scheduling latency itself. FIFO scheduling (the default)
  * keeps the earlier job's resource priority — exactly the back-fill
  * behavior wanted. Results are unchanged: each action's plan is
  * untouched, only the wall-clock overlaps.
  *
  * Contract: the thunks must be independent (no thunk reads state
  * another writes) — the callers here write to DISTINCT paths or
  * checkpoint DISTINCT plans. On the first failure, thunks that have not
  * started are cancelled and running ones are awaited before that
  * failure is rethrown: once the call returns, no sibling is still
  * writing to a path the failed caller abandons (a staging directory a
  * retry is about to overwrite).
  */
object Jobs {

  /** Run the thunks concurrently on a small daemon pool and return their
    * results in input order. `width` bounds in-flight jobs (2-4 is
    * plenty: enough to fill a stage tail, not so many they fight).
    */
  def inParallel[A](thunks: Seq[() => A], width: Int = 4): Seq[A] = {
    if (thunks.size <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(thunks.size, width)),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-jobs-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
    val futures = thunks.map(t =>
      done.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
    try {
      // completion order, so the first failure is seen as soon as it lands
      thunks.foreach { _ =>
        try done.take().get()
        catch { // unwrap so callers see the job's own failure
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
      futures.map(_.get())
    } catch {
      case e: Throwable =>
        futures.foreach(_.cancel(false)) // not started: never runs
        pool.shutdown()
        while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS)) ()
        throw e
    } finally pool.shutdown()
  }
}
