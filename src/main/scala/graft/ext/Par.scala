package graft.ext

import java.util.concurrent.{Executors, ThreadFactory}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}

import org.apache.spark.sql.DataFrame

/** Overlap INDEPENDENT eager driver-side jobs (optimization guide §2.6
  * "overlap independent jobs"): Spark's scheduler happily runs several
  * jobs at once inside one application, so independent materializations
  * submitted from a small pool let one job's task tail back-fill with
  * the next job's tasks, and collapse the fixed per-job cost
  * (scheduling, broadcast, barrier) that dominates short jobs. Callers:
  * [[CrawlSnapshot.build]] materializes the snapshot's signature pass,
  * each day batch's signature pass and the canonical keys together, and
  * the membrane fixtures overlap a day's ship stage or a semantic
  * projection with the next gate. Nothing here is tuned to local mode:
  * at production scale the same overlap applies to the real per-day
  * projection builds.
  *
  * Determinism: materializing a frame does not change its content — a
  * pure function of the plan — so completion order cannot change any
  * result (the three-scale oracle run is the empirical check). Failures
  * propagate: a failed job's exception is rethrown to the caller.
  *
  * Pool: a cached pool of daemon threads, one per task in flight, so no
  * group (`CrawlSnapshot.build` submits one job per day batch plus up to
  * two) queues behind its own workers and an `await` inside a thunk
  * always finds its task running. FIFO scheduling (Spark's default)
  * keeps the earliest job prioritized — exactly the back-fill behavior
  * wanted.
  * Daemon threads: the pool must never block JVM exit (Bench/Verify are
  * short-lived mains).
  *
  * Waits: `await` gives up after [[Timeout]] with an error that names
  * what it was waiting for, so a stuck job fails its fixture loudly
  * instead of hanging the run. [[materializeAll]] waits without a
  * deadline: it is the library's path, where a projection build takes
  * as long as the corpus needs, and its thunks await nothing, so they
  * cannot deadlock.
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

  /** Materialize every frame with the jobs overlapped, on the session's
    * materialize route ([[Dedup.materializeNow]]: localCheckpoint, or
    * the lineage-keeping persist under dynamic allocation or
    * `spark.graft.routeMaterialize=persist`); returns the materialized
    * frames in input order. The frames must be INDEPENDENT (none reads
    * another's result). */
  def materializeAll(dfs: Seq[DataFrame]): Seq[DataFrame] =
    dfs.map(df => async(Dedup.materializeNow(df)))
      .map(Await.result(_, Duration.Inf))

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
