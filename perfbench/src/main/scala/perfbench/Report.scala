package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Operation outcomes of one phase. A failed operation adds to `failed`
  * and never to the latency sample. */
final class Outcomes {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val lat = new ConcurrentLinkedQueue[Double]()
  private val why = new ConcurrentLinkedQueue[String]()

  def ok(ms: Double): Unit = { attempted.incrementAndGet(); lat.add(ms) }
  def fail(msg: String): Unit = {
    attempted.incrementAndGet(); failed.incrementAndGet()
    if (why.size < 20) why.add(msg)
  }
  /** Record one finished operation; `timed` ones add their latency when
    * they succeed. */
  def record(r: Either[String, Any], ms: Double, timed: Boolean): Unit = r match {
    case Left(msg) => fail(msg)
    case Right(_) => if (timed) ok(ms) else attempted.incrementAndGet()
  }
  def latencies: Vector[Double] = lat.asScala.toVector
  def failures: Seq[String] = why.asScala.toSeq
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0.0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Completed operations per second of a closed loop of `callers` with no
    * think time: callers ÷ mean latency (Little's law). Unlike a count of
    * completions in a window, it has no ±1-per-caller edge effect. */
  def closedLoopRate(callers: Int, latMs: Seq[Double]): Double =
    if (latMs.isEmpty) 0.0 else callers * 1000.0 / (latMs.sum / latMs.size)
}

/** Minimal JSON writer for the artifact and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
