package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are System.nanoTime; `parent` 0 is a root. */
final case class Span(
    id: Long, parent: Long, request: Long, name: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, every call is a plain pass-through
  * so the untraced run measures the program alone. Spans of one
  * benchmark request share its request id; the Spark listener attributes
  * jobs through the `perfbench.span` local property set on the calling
  * thread.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def request[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val req = ids.incrementAndGet()
    record(name, req, req, 0L)(body)
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    stack.get() match {
      case (parent, req) :: _ => record(name, ids.incrementAndGet(), req, parent)(body)
      case Nil =>
        val req = ids.incrementAndGet()
        record(name, req, req, 0L)(body)
    }
  }

  private def record[A](name: String, id: Long, req: Long, parent: Long)(body: => A): A = {
    val saved = stack.get()
    stack.set((id, req) :: saved)
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.req", req.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      stack.set(saved)
      saved.headOption match {
        case Some((p, r)) =>
          sc.setLocalProperty("perfbench.span", p.toString)
          sc.setLocalProperty("perfbench.req", r.toString)
        case None =>
          sc.setLocalProperty("perfbench.span", null)
          sc.setLocalProperty("perfbench.req", null)
      }
    }
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)
  def nextId(): Long = ids.incrementAndGet()
}

/** Engine-side counters from the Spark listener bus: one span per job
  * (parented to the benchmark span that submitted it) with its task
  * count, scanned bytes/rows and shuffle bytes, plus Catalyst phase
  * times from each action's QueryPlanningTracker.
  */
final class EngineListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  // job clocks are epoch millis; map them onto the nanoTime axis
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def toNano(ms: Long): Long = nano0 + (ms - epoch0) * 1000000L

  private final class JobAcc(val parent: Long, val req: Long, val start: Long) {
    var tasks = 0L; var scanBytes = 0L; var scanRows = 0L; var shuffleBytes = 0L
  }
  private val jobs = mutable.HashMap.empty[Int, JobAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val planNs = new LongAdder
  val actions = new LongAdder

  def reset(): Unit = { planNs.reset(); actions.reset() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new JobAcc(prop("perfbench.span"), prop("perfbench.req"), toNano(e.time))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      tracer.add(Span(tracer.nextId(), j.parent, j.req, "spark.job", j.start,
        math.max(j.start, toNano(e.time)),
        Map("tasks" -> j.tasks.toDouble, "scan_bytes" -> j.scanBytes.toDouble,
          "scan_rows" -> j.scanRows.toDouble, "shuffle_bytes" -> j.shuffleBytes.toDouble)))
    }
    stageJob.filterInPlace((_, job) => job != e.jobId)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    planNs.add(ms * 1000000L)
    actions.increment()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {

  def install(spark: SparkSession, tracer: Tracer): Option[EngineListener] =
    if (!tracer.enabled) None
    else {
      val l = new EngineListener(tracer)
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    }

  /** Length of `[lo, hi)` covered by the union of `ivs`. */
  def covered(lo: Long, hi: Long, ivs: Iterable[(Long, Long)]): Long = {
    val clipped = ivs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - covered(s.start, s.end, kids))
    }.toMap
  }

  /** Spans as JSON lines. */
  def writeJsonl(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","$k":$v""" }.mkString
      w.write(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}$attrs}""")
      w.newLine()
    } finally w.close()
  }

  /** The listener buses are asynchronous: wait until nothing new
    * arrives for a few polls.
    */
  def drain(l: EngineListener, tracer: Tracer): Unit = {
    var last = (-1L, -1)
    var stable = 0
    val deadline = System.currentTimeMillis() + 5000L
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val cur = (l.actions.sum(), tracer.spans.size)
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
  }

  def asScala(q: ConcurrentLinkedQueue[Span]): Seq[Span] = q.asScala.toSeq
}
