package perfbench

import graft.remote.Proto
import graft.tsdb.{LabelMatcher, MatchType, Sample, SampleStream}

/** Seeded series generator for the serving workloads: the FIXTURES.md §1
  * profile (`http_requests_total`, `node_cpu_seconds_total`,
  * `temperature_celsius`, `sparse_job_runs`) over `instances` instances
  * and `windows` two-hour windows. The seed moves sample phases and
  * values; the series set and sample counts depend only on the profile,
  * so every seed does the same amount of work.
  *
  * Everything is a pure function of (seed, series index), so executors
  * and the driver-side oracle regenerate identical samples. */
final case class Gen(seed: Long, instances: Int, windows: Int) {
  import Gen._

  val t0: Long = Epoch
  val tEnd: Long = Epoch + windows * BlockMs // exclusive

  private val jobs = Seq("api", "api-canary", "web")
  private val codes = Seq("200", "400", "500")
  private val modes = Seq("user", "system", "idle")

  /** Label sets in a fixed order; index = series id. */
  val labels: IndexedSeq[Map[String, String]] = {
    val inst = (0 until instances).map(i => s"i-$i")
    val http = for (j <- jobs; i <- inst; c <- codes) yield
      Map("__name__" -> "http_requests_total", "job" -> j, "instance" -> i, "code" -> c)
    val cpu = for (i <- inst; m <- modes) yield
      Map("__name__" -> "node_cpu_seconds_total", "instance" -> i, "mode" -> m)
    val temp = for (s <- Seq("a", "b"); k <- 0 until 5) yield
      Map("__name__" -> "temperature_celsius", "site" -> s, "sensor" -> s"s-$k")
    val sparse = (0 until SparseRuns).map(r =>
      Map("__name__" -> "sparse_job_runs", "job" -> "batch", "run" -> s"r-$r"))
    (http ++ cpu ++ temp ++ sparse).toIndexedSeq
  }

  /** Samples of series `i`: strictly increasing t inside [t0, tEnd). */
  def samples(i: Int): (Array[Long], Array[Double]) = {
    val rnd = new java.util.Random(seed * 1000003L + i)
    val name = labels(i)("__name__")
    val span = tEnd - t0
    name match {
      case "sparse_job_runs" =>
        (Array(t0 + (rnd.nextDouble() * span).toLong), Array(1.0))
      case _ =>
        val step = if (name == "temperature_celsius") 60000L else 15000L
        val phase = rnd.nextInt(step.toInt).toLong
        val n = ((span - phase + step - 1) / step).toInt
        val ts = Array.tabulate(n)(k => t0 + phase + k * step)
        val vs = new Array[Double](n)
        var v = if (name == "temperature_celsius") rnd.nextGaussian() * 5 else 0.0
        var k = 0
        while (k < n) {
          name match {
            case "http_requests_total" =>
              v = if (rnd.nextInt(2000) == 0) 0.0 else v + rnd.nextInt(10)
            case "node_cpu_seconds_total" =>
              v += math.round(rnd.nextDouble() * 15000) / 1000.0
            case _ =>
              v += math.round(rnd.nextGaussian() * 100) / 100.0
          }
          vs(k) = v; k += 1
        }
        (ts, vs)
    }
  }

  lazy val all: IndexedSeq[(Array[Long], Array[Double])] = labels.indices.map(samples)

  def sampleCount: Long = all.map(_._1.length.toLong).sum

  /** Series of window `w` in the block writer's input shape. */
  def window(w: Int): Seq[(Seq[graft.tsdb.Label], Seq[Sample])] = {
    val lo = t0 + w * BlockMs; val hi = lo + BlockMs
    labels.indices.flatMap { i =>
      val (ts, vs) = all(i)
      val ss = ts.indices.filter(k => ts(k) >= lo && ts(k) < hi).map(k => Sample(ts(k), vs(k)))
      if (ss.isEmpty) None
      else Some(graft.tsdb.Labels.fromMap(labels(i)) -> ss)
    }
  }

  /** Brute-force answer of one remote-read query over windows
    * [0, visibleWindows): series with at least one sample in
    * [mint, maxt], in canonical label order, samples in time order. */
  def oracle(q: Proto.Query, visibleWindows: Int): Seq[SampleStream] = {
    val hi = math.min(q.endMs, t0 + visibleWindows * BlockMs - 1)
    val out = labels.indices.flatMap { i =>
      if (!q.matchers.forall(m => Gen.matches(m, labels(i).getOrElse(m.name, "")))) None
      else {
        val (ts, vs) = all(i)
        val ss = ts.indices.filter(k => ts(k) >= q.startMs && ts(k) <= hi).map(k => Sample(ts(k), vs(k)))
        if (ss.isEmpty) None else Some(SampleStream(labels(i), ss))
      }
    }
    out.sortWith((a, b) => compareLabels(a.labels, b.labels) < 0)
  }
}

object Gen {
  val BlockMs: Long = 2 * 60 * 60 * 1000L
  /** 2023-11-14T22:00:00Z, two-hour aligned. */
  val Epoch: Long = 1699999200000L
  val SparseRuns = 1000

  /** Prometheus matcher semantics, written independently of the program:
    * an absent label reads as "", and regexes match the whole value. */
  def matches(m: LabelMatcher, v: String): Boolean = m.tpe match {
    case MatchType.Eq => v == m.value
    case MatchType.Neq => v != m.value
    case MatchType.Re => java.util.regex.Pattern.compile("^(?:" + m.value + ")$").matcher(v).matches()
    case MatchType.NotRe => !java.util.regex.Pattern.compile("^(?:" + m.value + ")$").matcher(v).matches()
    case MatchType.Prefix => v.startsWith(m.value)
  }

  /** labels.Compare: pairwise on (name, value) in name order, shorter first. */
  def compareLabels(a: Map[String, String], b: Map[String, String]): Int = {
    val x = a.toSeq.sorted; val y = b.toSeq.sorted
    var i = 0
    while (i < x.length && i < y.length) {
      val c = x(i)._1.compareTo(y(i)._1)
      if (c != 0) return c
      val d = x(i)._2.compareTo(y(i)._2)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def eq(n: String, v: String) = LabelMatcher(MatchType.Eq, n, v)
  private def neq(n: String, v: String) = LabelMatcher(MatchType.Neq, n, v)
  private def re(n: String, v: String) = LabelMatcher(MatchType.Re, n, v)
  private def nre(n: String, v: String) = LabelMatcher(MatchType.NotRe, n, v)

  /** The FIXTURES.md §1 matcher mix: equality, anchored regex (`job=~"api"`
    * must not match `api-canary`), negation and absent-label cases. */
  val Selectors: IndexedSeq[(String, Seq[LabelMatcher])] = IndexedSeq(
    "eq" -> Seq(eq("__name__", "http_requests_total"), eq("job", "api")),
    "re_anchored" -> Seq(eq("__name__", "http_requests_total"), re("job", "api")),
    "re_prefix" -> Seq(re("job", "api.*"), eq("code", "500")),
    "neq" -> Seq(eq("__name__", "http_requests_total"), neq("job", "web"), eq("code", "400")),
    "neq_re" -> Seq(eq("__name__", "node_cpu_seconds_total"), nre("instance", "i-[0-4]")),
    "absent_eq" -> Seq(eq("__name__", "temperature_celsius"), eq("mode", "")),
    "absent_neq" -> Seq(neq("mode", "")),
    "sparse_re" -> Seq(eq("__name__", "sparse_job_runs"), re("run", "r-1[0-9]*")))

  val Kinds: IndexedSeq[String] = IndexedSeq("inside", "straddle", "empty")

  /** Request `k` of a run's sequence. Every block of
    * `Selectors.size * Kinds.size` consecutive requests holds each
    * (selector, range kind) pair once, in a seeded order, so every seed
    * runs the same mix. The range lies inside one window, straddles two
    * adjacent windows, or precedes all data (empty); windows are drawn
    * from [0, visible), or the newest one(s) when `newest`. */
  def query(seed: Long, k: Int, visible: Int, newest: Boolean): (String, Proto.Query) = {
    val n = Selectors.size * Kinds.size
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(seed * 31L + k / n))
      .shuffle((0 until n).toVector)
    val combo = perm(k % n)
    val (sname, ms) = Selectors(combo % Selectors.size)
    val kind = Kinds(combo / Selectors.size)
    val rnd = new java.util.Random(seed * 1000003L + k)
    val minute = 60000L
    val (a, b) = kind match {
      case "empty" => (Epoch - 5 * BlockMs, Epoch - 4 * BlockMs)
      case "straddle" =>
        val w = if (newest) visible - 2 else rnd.nextInt(visible - 1)
        val edge = Epoch + (w + 1) * BlockMs
        (edge - (15 + rnd.nextInt(30)) * minute, edge + (15 + rnd.nextInt(30)) * minute)
      case _ =>
        val w = if (newest) visible - 1 else rnd.nextInt(visible)
        val start = Epoch + w * BlockMs + rnd.nextInt(60) * minute
        (start, start + (30 + rnd.nextInt(30)) * minute)
    }
    (s"$sname/$kind", Proto.Query(a, b, ms))
  }
}
