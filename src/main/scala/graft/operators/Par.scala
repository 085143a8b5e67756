package graft.operators

/** Overlap independent Spark jobs (optimization guide §2.6): actions
  * are only sequential because driver code calls them sequentially, so
  * independent writes/appends/compactions are submitted from a small
  * thread pool and the scheduler back-fills executors freed by one
  * job's straggler tail with the next job's tasks. This composes with
  * every scale: on local[N] it overlaps the per-job fixed overhead that
  * dominates small fixtures; on a cluster it fills the tail (FIFO
  * scheduling gives exactly the back-fill behavior — the earlier job
  * gets resources first, later jobs use what is left).
  *
  * Safety invariants the call sites must hold (and the ones here do):
  *  - thunks touch DISJOINT tables/paths (per-family generation swaps,
  *    per-member writes inside one swap);
  *  - no thunk depends on another's side effects; steps whose crash
  *    contract is an ORDER may only go through here once that contract
  *    is upgraded to subset states (the lex append's member writes did
  *    exactly that — see appendToLexIndex's in-body argument — while
  *    its stats fence stays strictly after the block);
  *  - no thunk writes the conf of the session the threads share: it
  *    would reach every plan another thunk builds meanwhile (a body
  *    that needs other read settings reads through its own clone —
  *    [[Generations.bucketedReads]]);
  *  - threads are created FRESH per call: Spark's job-group/description
  *    local properties are InheritableThreadLocal, so fresh threads
  *    inherit the CALLER's group (the bench watchdog can still cancel a
  *    wedged query's whole group). A reused global pool would pin the
  *    group of whichever query first created the threads and let the
  *    watchdog cancel the wrong query's jobs.
  *
  * Failure: the first thrown exception propagates after all threads
  * finish (no half-started thunk is abandoned running while the caller
  * unwinds a lease).
  */
object Par {

  /** Session-conf knob: max concurrently running thunks (the guide's
    * "2-3 jobs in flight is plenty" — enough to fill the tail, not so
    * many that they fight). 1 disables overlap (sequential fallback,
    * same effects in submission order). */
  val MaxConcurrentConf = "graft.par.maxConcurrent"
  val DefaultMaxConcurrent = 4

  /** Session-conf knob: GLOBAL cap on concurrently RUNNING thunks
    * across every (possibly nested) [[run]] in the JVM (r19, round-18
    * verdict ask #5): compactAll overlaps family compactions each of
    * which overlaps member writes, so per-call widths alone admitted
    * ~width² concurrent Spark jobs contending for unified memory
    * (guide §5). A worker that is itself BLOCKED coordinating a nested
    * run releases its permit for the duration (see [[run]]), so the
    * cap bounds running leaf thunks without nested-pool deadlock.
    * Default 8 = bench-neutral here (A/B'd); a memory-tight cluster
    * deployment sets it lower. */
  val GlobalMaxConcurrentConf = "graft.par.globalMaxConcurrent"
  val DefaultGlobalMaxConcurrent = 8

  def maxConcurrent(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(MaxConcurrentConf, DefaultMaxConcurrent.toString).toInt

  /** (cap, semaphore) per session — rebuilt if the conf moves (a
    * config-time event: in-flight runs drain against the old
    * semaphore, which only ever relaxes the bound during the swap). */
  private val globalPermits = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession,
    (Int, java.util.concurrent.Semaphore)]()
  /** The semaphore this worker thread currently holds a permit of
    * (null for non-Par threads). */
  private val heldPermit =
    new ThreadLocal[java.util.concurrent.Semaphore]()
  /** Test hook: the observed maximum of concurrently running thunks
    * since the last [[resetRunningGauge]]. */
  private val running = new java.util.concurrent.atomic.AtomicInteger(0)
  private val runningMax = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def resetRunningGauge(): Unit = { running.set(0); runningMax.set(0) }
  private[graft] def maxObservedRunning: Int = runningMax.get()

  /** Run the thunks with at most `width` in flight locally AND at most
    * `graft.par.globalMaxConcurrent` running across all nested runs;
    * rethrow the first failure once every started thunk has finished.
    * Order of side effects across thunks is deliberately unspecified —
    * call sites guarantee independence. */
  def run(spark: org.apache.spark.sql.SparkSession,
      thunks: Seq[() => Unit]): Unit = {
    val width = math.max(1, math.min(maxConcurrent(spark), thunks.size))
    if (width <= 1 || thunks.size <= 1) { thunks.foreach(_()); return }
    val cap = math.max(1, spark.conf.get(GlobalMaxConcurrentConf,
      DefaultGlobalMaxConcurrent.toString).toInt)
    val sem = globalPermits.compute(spark, (_, cur) =>
      if (cur != null && cur._1 == cap) cur
      else (cap, new java.util.concurrent.Semaphore(cap)))._2
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    thunks.foreach(queue.add)
    val firstFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val workers = (1 to width).map { i =>
      val t = new Thread(() => {
        var next = queue.poll()
        while (next != null && firstFailure.get() == null) {
          sem.acquire()
          heldPermit.set(sem)
          val n = running.incrementAndGet()
          runningMax.getAndUpdate(m => math.max(m, n))
          try next()
          catch { case e: Throwable => firstFailure.compareAndSet(null, e) }
          finally {
            running.decrementAndGet()
            heldPermit.remove()
            sem.release()
          }
          next = queue.poll()
        }
      }, s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    // A worker thread that reaches here is executing a thunk that
    // NESTED another run: it only coordinates (joins) from now until
    // the nested workers finish, so it must not sit on a running-thunk
    // permit — that is both the deadlock guard (leaf thunks can always
    // make progress) and what makes the global cap a bound on RUNNING
    // thunks rather than on stack frames.
    val held = heldPermit.get()
    if (held != null) { running.decrementAndGet(); held.release() }
    try workers.foreach(_.join())
    finally if (held != null) {
      held.acquire()
      val n = running.incrementAndGet()
      runningMax.getAndUpdate(m => math.max(m, n))
    }
    val e = firstFailure.get()
    if (e != null) throw e
  }
}
