package graft.core

import org.apache.spark.sql.DataFrame

/** The ONE place the engine materializes an intermediate frame — every
  * `localCheckpoint` call site routes through here so the cluster-semantics
  * caveat lives in a single source of truth instead of being re-derived
  * (or silently relied on) at each site.
  *
  * Why localCheckpoint and not persist: `persist` caches DATA but the
  * logical plan still nests — a frame referenced twice keeps a plan branch
  * per reference, and inside an iterative loop the plan tree DOUBLES every
  * round (exponential growth that OOMs plan stringification after ~8
  * rounds; first hit in Dedup.connectedComponents). `localCheckpoint`
  * truncates the lineage: the returned frame's plan is a scan of the
  * materialized blocks, so (a) a twice-referenced stage executes ONCE, and
  * (b) loop plans keep constant depth.
  *
  * Cluster caveat (the 100-TB fine print): localCheckpoint stores blocks
  * on EXECUTOR-LOCAL storage (memory, spilling to local disk) with the
  * lineage discarded — if an executor is lost, its blocks are gone and the
  * job FAILS instead of recomputing. That trade is right for this engine's
  * uses (bounded intermediate stages inside one job, where the alternative
  * is a multiplicative re-scan of the corpus), and on a long-running
  * cluster with executor churn the same call sites should switch to
  * reliable `checkpoint()` (same shape, blocks on the cluster FS) by
  * setting `spark.sparkContext.setCheckpointDir` and flipping
  * [[reliable]]. Eagerness is deliberate: the stage runs NOW, so a later
  * stage re-referencing it reads blocks, never re-executes — and the
  * barrier also stops Catalyst from fusing interpreted HOF pyramids across
  * stage boundaries (see Curation's signal branches).
  */
object Materialize {

  /** Session-scoped switch: when true, [[stage]] uses reliable
    * `checkpoint()` (requires `setCheckpointDir`); default is
    * executor-local. Flip once at session setup on clusters where executor
    * loss must not fail the job. */
  @volatile var reliable: Boolean = false

  /** Materialize `df` eagerly and return a lineage-truncated frame over
    * the stored blocks. See the object scaladoc for when (and when not)
    * this is safe at cluster scale. */
  def stage(df: DataFrame): DataFrame =
    if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

  /** Run independent driver-side thunks on their own threads and return
    * their results in input order — guide §2.6's overlap-independent-jobs
    * pattern (eager [[stage]] barriers, batch writes, drain barriers).
    * Each call gets a fresh fixed pool sized to the thunks and torn down
    * before returning: Spark local properties (job group, description)
    * are inherited when a thread is CREATED, so a shared pool would carry
    * one caller's properties into another's jobs. A single thunk runs
    * inline. Fails fast: the first thunk to fail cancels (interrupts) the
    * rest, and its own exception is rethrown, never the
    * `ExecutionException` wrapper. The call returns once every pool thread
    * has ended, so a thunk that ignores interrupts is still waited for. */
  def inParallel[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.size <= 1) thunks.map(_())
    else {
      import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
      val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(thunks.size, { (r: Runnable) =>
        val t = Executors.defaultThreadFactory().newThread(r)
        threads.add(t); t
      })
      try {
        val done = new ExecutorCompletionService[T](pool)
        val futures = thunks.map(t => done.submit((() => t()): Callable[T]))
        // completion order: the first failure surfaces without waiting
        // for slower siblings
        thunks.foreach { _ =>
          try done.take().get() catch { case e: ExecutionException => throw e.getCause }
        }
        futures.map(_.get())
      } finally {
        pool.shutdownNow() // interrupts whatever still runs after a failure
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        // a terminated pool's workers can still be exiting: wait for them
        threads.forEach(_.join())
      }
    }

  /** Chainable syntax: `df.select(...).staged` — import Materialize._ */
  implicit final class StageSyntax(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }
}

