package graft

/** Overlap independent Spark actions from driver threads (optimization
  * guide §2.6): Spark's scheduler runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. The transactional MV maintenance paths issue
  * many SMALL independent jobs per round (one per table: state read,
  * state advance, delta write), each dominated by fixed scheduler/AQE
  * overhead, so overlapping them recovers most of that fixed cost.
  * FIFO scheduling back-fills naturally; results are identical to the
  * sequential loop — only wall-clock changes.
  *
  * A shared bounded pool (not one pool per call) so nested use cannot
  * fork unbounded threads; the pool is daemon so it never pins the JVM.
  */
object Par {
  private lazy val pool = {
    val n = math.max(2, math.min(8, Runtime.getRuntime.availableProcessors() / 4))
    java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => {
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      })
  }

  /** Run independent side-effecting actions (e.g. parquet writes to
    * distinct dirs) concurrently; returns when all completed. */
  def run(thunks: (() => Unit)*): Unit = { map(thunks.toSeq)(_.apply()); () }

  /** START one independent action now and return its join: the body
    * runs on a pool thread (with the caller's Spark job context, the
    * map() discipline) while the caller proceeds; the returned thunk
    * blocks until completion and rethrows the body's failure. From a
    * pool thread the body runs INLINE at start() time (the map()
    * no-deadlock rule: a fixed pool must never block on work that
    * needs another pool thread). A DEDICATED staging pool was
    * measured instead (r18): it overlapped the refresh gates'
    * pool-thread rounds too, and their wall went UP 35-43% (the
    * staged write jobs crowd the round's critical-path merges under
    * FIFO) — inline-on-pool-thread is the measured optimum. */
  def start[T](f: () => T): () => T =
    if (onPool) {
      val r = scala.util.Try(f())
      () => r.get
    } else {
      val fut = pool.submit(withCallerCtx(f))
      () => try fut.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }

  private def onPool: Boolean = Thread.currentThread().getName.startsWith("graft-par")

  // Spark's per-thread job-attribution/cancellation state lives in
  // SparkContext LOCAL PROPERTIES. Pool threads are created lazily and
  // would otherwise permanently inherit whichever caller triggered
  // creation (r17 ADVICE): later Par jobs from other contexts then
  // carry stale descriptions/groups — misattributed in listeners
  // (JobProfile) and unreachable by job-group cancellation. Each
  // submitted task therefore carries the CALLER's values of these keys
  // and restores the worker's own around the body.
  private val CtxKeys = Seq("spark.job.description", "spark.jobGroup.id",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** `f` as a pool task that runs under the CALLER's active session and
    * job-context properties (captured now, on the caller's thread). */
  private def withCallerCtx[T](f: () => T): java.util.concurrent.Callable[T] = {
    import org.apache.spark.sql.SparkSession
    val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val callerProps = session.map(s =>
      CtxKeys.map(k => k -> s.sparkContext.getLocalProperty(k)))
    () => session match {
      case Some(s) =>
        SparkSession.setActiveSession(s)
        val prev = CtxKeys.map(k => k -> s.sparkContext.getLocalProperty(k))
        callerProps.get.foreach { case (k, v) =>
          s.sparkContext.setLocalProperty(k, v) }
        try f()
        finally prev.foreach { case (k, v) =>
          s.sparkContext.setLocalProperty(k, v) }
      case None => f()
    }
  }

  /** Map `f` over `xs` with each element on a pool thread, preserving
    * order. Escapes to a plain map for 0/1 elements. The FIRST failure
    * is rethrown on the caller thread, but only after EVERY sibling
    * has completed (r17 ADVICE: a caller like TxLog.commitWith may
    * clean up and retry on failure — a still-running zombie write from
    * the failed attempt would otherwise race the retry's jobs and
    * leak orphan dirs). */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    // nested use runs inline: a fixed pool must never have a pool
    // thread BLOCK on work that needs another pool thread (deadlock
    // when all workers wait); inline keeps nesting correct and still
    // overlapped at the outermost level
    if (xs.lengthCompare(2) < 0 || onPool) xs.map(f)
    else {
      val futs = xs.map(x => pool.submit(withCallerCtx(() => f(x))))
      var firstErr: Throwable = null
      val out = futs.map { fu =>
        try Some(fu.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstErr == null) firstErr = e.getCause; None
          case e: Throwable =>
            if (firstErr == null) firstErr = e; None
        }
      }
      if (firstErr != null) throw firstErr
      out.map(_.get)
    }
}
