package graft.pipeline

/** Bounded driver-side concurrency for INDEPENDENT per-table stage
  * bodies (SURVEY §4.1's allowed optimization). The reference's Glue
  * jobs loop the 18 Synthea tables sequentially — each iteration is a
  * small Spark job whose wall-clock is dominated by fixed scheduling
  * cost, so the loop is driver-bound, not cluster-bound. A SparkSession
  * is thread-safe and its FIFO scheduler interleaves jobs submitted
  * from many threads, so running the per-table bodies on a small pool
  * overlaps those fixed costs while producing byte-identical outputs
  * (each body owns a disjoint target directory / catalog entry; the
  * session catalog serializes its own metadata calls).
  *
  * At cluster scale the same shape holds: concurrent small jobs pack
  * the executors that one-at-a-time jobs would leave idle. */
object Par {

  /** Default pool width — sized by the HOST, not a constant: driver
    * metadata I/O (manifest/footer reads and writes) is latency-bound,
    * so the right depth scales with the machine. `min(2×cores, 32)`:
    * twice the cores overlaps I/O waits; the 32 cap bounds thread and
    * file-handle pressure on very wide hosts. The effective pool is
    * additionally `min(width, work)` below, so a 6-manifest commit
    * never spawns 32 threads. Overridable per call site. */
  def defaultPar: Int =
    math.min(32, 2 * Runtime.getRuntime.availableProcessors())

  /** [[foreach]] that collects results in input order — for
    * independent per-element PARSES (e.g. one Avro manifest each),
    * where the driver-side loop is I/O-latency-bound and a bounded
    * pool overlaps the reads. */
  def map[A, B](xs: Seq[A], par: Int = defaultPar)(fn: A => B): Seq[B] = {
    if (xs.lengthCompare(2) < 0) return xs.map(fn)
    val out = new Array[AnyRef](xs.size)
    foreach(xs.zipWithIndex, par) { case (x, i) => out(i) = fn(x).asInstanceOf[AnyRef] }
    out.toSeq.map(_.asInstanceOf[B])
  }

  /** [[map]] + ordered fold with BOUNDED RESIDENCY: `read` runs on the
    * pool one window (`par` elements) at a time and `consume` sees each
    * result in input order as its window completes — so at most one
    * window of results is resident at once. An unwindowed
    * `Par.map(...).foreach` holds EVERY element's result
    * simultaneously (e.g. all manifests' record lists) before the fold
    * starts; for a snapshot with many large manifests that multiplies
    * driver memory by the manifest count. */
  def foldWindowed[A, B](xs: Seq[A], par: Int = defaultPar)(read: A => B)(
      consume: (A, B) => Unit): Unit =
    xs.grouped(math.max(1, par)).foreach { w =>
      w.zip(map(w, par)(read)).foreach { case (a, b) => consume(a, b) }
    }

  /** Apply `fn` to every element on a bounded pool; rethrows the first
    * failure (unwrapped). Order of side effects across elements is
    * unspecified — callers must only use this for independent work.
    * On failure the pool is shut down with `shutdownNow` and the
    * remaining futures are cancelled — a failed stage must stop
    * issuing side effects (writes), not drain its queue in the
    * background after the exception has propagated. */
  def foreach[A](xs: Seq[A], par: Int = defaultPar)(fn: A => Unit): Unit =
    if (xs.lengthCompare(2) < 0) xs.foreach(fn)
    else run(xs.map(x => () => fn(x)), math.min(par, xs.size))

  /** Run two independent bodies on two threads and return both
    * results — [[foreach]]'s failure rule for a pair: the first
    * failure reaches the caller as soon as it happens and the other
    * body is cancelled, not awaited. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    var ra: Option[A] = None
    var rb: Option[B] = None
    run(Seq(() => ra = Some(a), () => rb = Some(b)), 2)
    (ra.get, rb.get)
  }

  /** Run `tasks` on a pool of `width` threads, taking results in
    * COMPLETION order so the first failure is seen without waiting for
    * tasks that started before it. */
  private def run(tasks: Seq[() => Unit], width: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
    val futures = tasks.map(t => done.submit(() => t()))
    var failed = true
    try {
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
      failed = false
    } finally {
      if (failed) { futures.foreach(_.cancel(true)); pool.shutdownNow() }
      else pool.shutdown()
    }
  }
}
