package graft.ext

import java.util.concurrent.{Executors, ThreadFactory}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}

import org.apache.spark.sql.DataFrame

/** Overlap INDEPENDENT eager driver-side jobs (optimization guide §2.6
  * "overlap independent jobs"): Spark's scheduler happily runs several
  * jobs at once inside one application — the membrane fixtures' per-tier
  * snapshot projections were sequential only because the driver invoked
  * their `localCheckpoint()` actions one after another. Submitting the
  * independent materializations from a small pool lets one job's task
  * tail back-fill with the next job's tasks, and collapses the fixed
  * per-job cost (scheduling, broadcast, barrier) that dominates the
  * crawl/daily family at bench scale (the r19 verdict's #1 residual:
  * 8 cores beat 32 on these rows — fixed cost, not compute). At
  * production scale the same overlap applies to the real per-day
  * projection builds; nothing here is tuned to local mode.
  *
  * Determinism: `localCheckpoint()` only MATERIALIZES a frame — its
  * content is a pure function of the plan — so completion order cannot
  * change any result (the three-scale oracle run is the empirical
  * check). Failures propagate: a failed job's exception is rethrown to
  * the caller by `await`.
  *
  * Pool: a cached pool of daemon threads, one per task in flight, so no
  * fixture group (`p_incr_crawl` submits 5) queues behind its own
  * workers and an `await` inside a thunk always finds its task running.
  * FIFO scheduling (Spark's default) keeps
  * the earliest job prioritized — exactly the back-fill behavior wanted.
  * Daemon threads: the pool must never block JVM exit (Bench/Verify are
  * short-lived mains).
  *
  * Bounded waits: `await` gives up after [[Timeout]] with an error that
  * names what it was waiting for, so a stuck job fails its fixture
  * loudly instead of hanging the run.
  */
private[graft] object Par {
  /** Far above any fixture's projection build (seconds at bench scale). */
  val Timeout: FiniteDuration = 10.minutes

  private lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      Executors.newCachedThreadPool(new ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-par-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      }))

  /** `localCheckpoint()` every frame with the jobs overlapped; returns
    * the checkpointed frames in input order. The frames must be
    * INDEPENDENT (none reads another's result); `what` names them in a
    * timeout error. */
  def materializeAll(what: String, dfs: Seq[DataFrame]): Seq[DataFrame] =
    dfs.map(df => async(df.localCheckpoint())).zipWithIndex
      .map { case (f, i) => await(f, s"$what, frame $i") }

  /** Kick off an independent action now; `await` it when needed — lets a
    * fixture start a projection build before an unrelated gate's own
    * jobs run, so the two overlap. */
  def async[T](thunk: => T): Future[T] = Future(thunk)(pool)

  /** The result of `f`; a failed task rethrows its own exception. `what`
    * names the awaited fixture or layer in the timeout error. */
  def await[T](f: Future[T], what: String): T =
    try Await.result(f, Timeout)
    catch {
      case _: TimeoutException =>
        throw new TimeoutException(
          s"graft.ext.Par: $what did not finish within $Timeout")
    }
}
