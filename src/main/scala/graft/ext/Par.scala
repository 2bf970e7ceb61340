package graft.ext

/** Concurrent driver actions for INDEPENDENT sub-jobs of one gate
  * (optimization guide §2.6 "overlap independent jobs"): Spark's
  * scheduler runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially, so a gate that eagerly materializes several
  * independent frames (exact pass / routed pass / ground-truth pass)
  * can submit them from a small pool and let the later jobs' tasks
  * back-fill executors freed by the earlier jobs' tails. FIFO
  * scheduling keeps the first job prioritized — exactly the
  * back-fill behavior wanted.
  *
  * Build the DataFrames SEQUENTIALLY first, then hand only the
  * ACTIONS (localCheckpoint(true), count, ...) to [[run]]: actions on
  * already-constructed Datasets are thread-safe; concurrent plan
  * CONSTRUCTION against one session is not worth auditing.
  */
object Par {

  /** Run the thunks concurrently, return results in order. Each thunk
    * runs on its own daemon thread under its own Spark job group. The
    * first failure cancels the other thunks (future + job group) and is
    * rethrown as its original cause, so a failed gate leaves no stray
    * jobs running. Degenerate sizes run inline.
    */
  def run[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      val tag = s"graft-par-${java.util.UUID.randomUUID}"
      val groups = thunks.indices.map(i => s"$tag-$i")
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size,
        (r: Runnable) => { val t = new Thread(r, tag); t.setDaemon(true); t })
      val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
      val futs = thunks.zip(groups).map { case (t, group) =>
        done.submit { () =>
          sc.setJobGroup(group, "graft.ext.Par", interruptOnCancel = true)
          // a job this thread submitted after the caller's cancel sweep
          // is still cancelled here, once the thread stops submitting
          try t() finally if (failed.get) sc.cancelJobGroup(group)
        }
      }
      try {
        futs.foreach(_ => done.take().get())
        futs.map(_.get())
      } catch {
        case e: Throwable =>
          failed.set(true)
          futs.foreach(_.cancel(true))
          groups.foreach(g => sc.cancelJobGroup(g))
          throw (e match {
            case x: java.util.concurrent.ExecutionException => x.getCause
            case x => x
          })
      } finally pool.shutdownNow()
    }
  }
}
