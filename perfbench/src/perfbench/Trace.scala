package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One timed call at a layer boundary. `parent` is the span that was open
  * when this one started (0 = none); `run` numbers the measured cycle. */
final case class Span(id: Long, parent: Long, run: Int, name: String,
    startNs: Long, endNs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work done on behalf of one span. */
final class Work {
  var jobs = 0L
  var taskMs = 0L
  var resultBytes = 0L
  var shuffleBytes = 0L
  /** (start, end) of each job, epoch milliseconds. */
  val jobIntervals = new ArrayBuffer[(Long, Long)]
  def add(o: Work): Unit = {
    jobs += o.jobs; taskMs += o.taskMs; resultBytes += o.resultBytes
    shuffleBytes += o.shuffleBytes; jobIntervals ++= o.jobIntervals
  }
}

/** Counts the Spark work each span causes. The span open on the submitting
  * thread travels with the job as a local property; each task is charged
  * to its stage's job, so the attribution is exact however late the
  * listener bus delivers the events. */
final class SpanCounters extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Long]()
  private val jobStart = mutable.HashMap[Int, (Long, Long)]()
  private val bySpan = mutable.HashMap[Long, Work]()

  private def work(span: Long): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanCounters.Key)))
    span.foreach { s =>
      val id = s.toLong
      e.stageIds.foreach(stageSpan(_) = id)
      jobStart(e.jobId) = (id, e.time)
      work(id).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (id, t0) => work(id).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val w = work(id)
      w.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.resultBytes += m.resultSize
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Work charged to exactly these span ids. Call after [[SpanCounters.drain]]. */
  def workOf(ids: Iterable[Long]): Work = synchronized {
    val out = new Work
    ids.foreach(id => bySpan.get(id).foreach(out.add))
    out
  }
}

object SpanCounters {
  val Key = "perfbench.span"
  private var installed: Option[(SparkContext, SpanCounters)] = None

  /** Installs the counter listener on `sc` once; later calls return the
    * listener already there. */
  def setup(sc: SparkContext): SpanCounters = synchronized {
    installed match {
      case Some((s, l)) if s eq sc => l
      case _ =>
        val l = new SpanCounters
        sc.addSparkListener(l)
        installed = Some((sc, l))
        l
    }
  }

  def drain(sc: SparkContext): Unit = PerfbenchBus.drain(sc)
}

/** A failed layer call or correctness check, already counted. */
final class LayerFailure(name: String, cause: Throwable)
    extends RuntimeException(s"$name failed: $cause", cause)

/** Counts every layer call and correctness check of a run, and records a
  * span per call while `tracing` is on. Spans stay in memory until the run
  * ends. `fault` names one call whose first invocation in a measured cycle
  * throws, to show that a failing layer reaches the error count. */
final class Recorder(sc: SparkContext, fault: Option[String]) {
  var attempted = 0L
  var failed = 0L
  var tracing = false
  var run = 0
  val spans = new ArrayBuffer[Span]
  private var open = 0L
  private var nextId = 1L
  private var faultFired = false
  /** Offset from System.nanoTime to epoch nanoseconds, to line spans up
    * with the listener's job times. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def epochMs(ns: Long): Double = (ns + epochOffsetNs) / 1e6

  /** Opens a span (when tracing) and returns its id, 0 when not tracing. */
  def begin(): Long = {
    if (!tracing) return 0L
    val id = nextId
    nextId += 1
    sc.setLocalProperty(SpanCounters.Key, id.toString)
    id
  }

  /** Closes span `id` opened by [[begin]] with its parent and start time. */
  def end(id: Long, parent: Long, name: String, t0: Long, ok: Boolean): Unit =
    if (id != 0L) {
      spans += Span(id, parent, run, name, t0, System.nanoTime(), ok)
      sc.setLocalProperty(SpanCounters.Key, if (parent == 0L) null else parent.toString)
    }

  /** One layer call: counted, timed as a span when tracing, and a failure
    * is counted once and rethrown as [[LayerFailure]]. */
  def call[T](name: String)(f: => T): T = {
    attempted += 1
    val parent = open
    val t0 = System.nanoTime()
    val id = begin()
    if (id != 0L) open = id
    var ok = false
    try {
      if (run > 0 && fault.contains(name) && !faultFired) {
        faultFired = true
        throw new IllegalStateException(s"fault injected into $name")
      }
      val out = f
      ok = true
      out
    } catch {
      case e: LayerFailure => throw e
      case NonFatal(e) =>
        failed += 1
        throw new LayerFailure(name, e)
    } finally {
      open = parent
      end(id, parent, name, t0, ok)
    }
  }

  /** Opens a child span under the current one for work the caller brackets
    * itself (a boosting round between two callbacks). */
  def beginChild(): (Long, Long, Long) = {
    val parent = open
    val t0 = System.nanoTime()
    val id = begin()
    if (id != 0L) open = id
    (id, parent, t0)
  }

  def endChild(h: (Long, Long, Long), name: String): Unit = {
    open = h._2
    end(h._1, h._2, name, h._3, ok = true)
  }

  /** A correctness check: counted, and a failure is reported on stderr. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: check failed: $name: $detail")
    }
  }

  /** Runs one measured cycle; a failure anywhere in it is counted once and
    * the cycle's figures are discarded. */
  def cycle(f: => Unit): Boolean =
    try { f; true }
    catch {
      case e: LayerFailure =>
        System.err.println(s"perfbench: ${e.getMessage}")
        false
      case NonFatal(e) =>
        attempted += 1
        failed += 1
        System.err.println(s"perfbench: cycle failed: $e")
        false
    }

  def children(id: Long): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** `id` and every span below it. */
  def subtree(id: Long): Seq[Long] = id +: children(id).flatMap(s => subtree(s.id))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"ok":${s.ok}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
