package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

/** Latency samples from any thread. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(ms: Double): Unit = q.add(ms)
  def size: Int = q.size
  def sorted: Array[Double] = q.asScala.map(_.doubleValue).toArray.sorted
  def p50: Double = Stats.median(sorted)
}

/** Attempted / failed operation counts; the first failures are logged. */
final class Ops {
  val attempted = new LongAdder
  val failed = new LongAdder
  val rowsReturned = new LongAdder
  private val reasons = new ConcurrentLinkedQueue[String]()

  def fail(reason: String): Unit = {
    failed.increment()
    if (reasons.size < 10) reasons.add(reason)
  }

  /** Count one operation; `check` returns a failure reason or None. */
  def check(check: => Option[String]): Unit = {
    attempted.increment()
    try check.foreach(fail)
    catch { case e: Exception => fail(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  def failures: Seq[String] = reasons.asScala.toSeq
}

object Stats {

  def median(xs: Array[Double]): Double = percentile(xs, 50.0)

  /** Linear-interpolated percentile of sorted samples. */
  def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = (sorted.length - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** The highest of a fixed ladder of percentiles that leaves at least
    * ten samples beyond it: (value, percentile, sample count).
    */
  def tail(sorted: Array[Double]): (Double, Double, Int) = {
    val n = sorted.length
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(q => n * (100.0 - q) / 100.0 >= 10.0 - 1e-9).getOrElse(50.0)
    (percentile(sorted, p), p, n)
  }
}
