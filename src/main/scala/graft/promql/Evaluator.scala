package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tsdb.{Labels, TsQuerier}

/** Step-based PromQL range-query evaluation over a [[TsQuerier]].
  *
  * Model (Prometheus HTTP range query): evaluation instants are
  * `t_k = mint + k·step` for `k = 0 .. (maxt-mint)/step`. An instant
  * vector at `t_k` holds, per series, the newest sample in the
  * left-open lookback window `(t_k - lookback, t_k]` (Prometheus's
  * 5-minute lookback delta). A range function over `[range]` sees the
  * samples in `(t_k - range, t_k]`.
  *
  * Spark shape — built for the 100 TB case:
  *  - A sample at time `t` can serve the steps in `[t, t + horizon)`.
  *    That's `≤ horizon/step + 1` steps, so the step assignment is a
  *    BOUNDED map-side explode (sequence of step ordinals), never a
  *    per-(series × step) cross join: cost scales with samples, not
  *    with samples × steps.
  *  - After assignment everything is one shuffle keyed on
  *    (fingerprint, step) — aggregations, window folds and joins all
  *    reuse that key.
  *  - Binary operators join two instant vectors on (match-labels, t);
  *    Catalyst broadcasts whichever side statistics call small.
  *
  * By default `rate`/`increase` return the exact counter-reset-
  * corrected increase over the observed span (what a SQL oracle can
  * replicate bit-for-bit, and what several production engines chose);
  * `extrapolate = true` switches them to Prometheus's
  * `extrapolatedRate` estimator — edge extrapolation capped at half
  * the average sample interval per side and at the counter's implied
  * time-to-zero — for drop-in numeric parity with upstream.
  */
final class Evaluator(querier: TsQuerier, mint: Long, maxt: Long,
                      stepMs: Long, lookbackMs: Long = 5 * 60 * 1000L,
                      extrapolate: Boolean = false,
                      downsamples: Seq[(Long, DataFrame)] = Seq.empty) {
  import PromExpr._

  require(stepMs > 0 && maxt >= mint, "bad evaluation window")
  private val nSteps: Long = (maxt - mint) / stepMs + 1

  private val emptyLabels =
    array().cast("array<struct<name:string,value:string>>")

  private def dropName(labels: Column): Column =
    filter(labels, e => e.getField("name") =!= Labels.MetricName)

  private def subset(labels: Column, names: Seq[String]): Column =
    if (names.isEmpty) emptyLabels
    else filter(labels, e => e.getField("name").isin(names.map(x => x: Any): _*))

  // exact integral floor/ceil division for step math (values ≪ 2^53, and
  // the numerator is made exactly divisible first, so the double divide
  // is exact)
  private def floorDiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / b).cast("long")
  private def ceilDiv(a: Column, b: Long): Column =
    (lit(0L) - floorDiv(lit(0L) - a, b)).cast("long")

  /** Raw shifted samples able to serve any step: t ∈ (mint-horizon, maxt]
    * in query time (selection happens in storage time, then shifts by
    * the offset). */
  private def raw(sel: Selector, horizonMs: Long): DataFrame =
    querier
      .selectLong(mint - sel.offsetMs - horizonMs + 1, maxt - sel.offsetMs,
        sel.matchers)
      .withColumn("t", col("t") + sel.offsetMs)

  /** Attach the step ordinals each sample serves — `k` with
    * `t_k ∈ [t, t + horizon)` — as a bounded explode. */
  private def atSteps(df: DataFrame, horizonMs: Long): DataFrame = {
    val kLo = greatest(ceilDiv(col("t") - mint, stepMs), lit(0L))
    val kHi = least(floorDiv(col("t") + horizonMs - 1 - mint, stepMs),
      lit(nSteps - 1))
    df.withColumn("k",
      explode(when(kLo <= kHi, sequence(kLo, kHi))
        .otherwise(array().cast("array<long>"))))
  }

  private def stepT: Column = (lit(mint) + col("k") * stepMs).as("t")

  /** Instant vector of a plain selector: newest sample per series per
    * step within the lookback window. */
  private def instant(sel: Selector): DataFrame = {
    require(sel.rangeMs.isEmpty, "range selector used as instant vector")
    atSteps(raw(sel, lookbackMs), lookbackMs)
      .groupBy(col("fingerprint"), col("labels"), col("k"))
      .agg(max(struct(col("t"), col("v"))).getField("v").as("v"))
      .select(col("labels"), stepT, col("v"))
  }

  private val twoSampleFns = Set("rate", "increase", "delta", "idelta",
    "irate", "resets", "changes")

  /** The sample stream a range function consumes, with its window
    * width: a range selector's raw samples, or a SUBQUERY — the inner
    * instant expression re-evaluated by a child evaluator at the
    * subquery's resolution over the extended window, its instants then
    * becoming the "samples". The child shares the querier, so the inner
    * expression still enjoys store pushdown; its own step grid keeps
    * the bounded-explode property, so a subquery costs (inner samples ×
    * inner-window/inner-step), never a cross join. */
  private def rangeSamples(input: PromExpr): (DataFrame, Long) = input match {
    case sel: Selector => (raw(sel, sel.rangeMs.get), sel.rangeMs.get)
    case Subquery(arg, range, innerStepRaw, offsetMs) =>
      val innerStep = if (innerStepRaw > 0) innerStepRaw else stepMs
      // Prometheus aligns the inner grid to ABSOLUTE multiples of the
      // inner step (the engine bumps a misaligned window start up to
      // the next multiple; an aligned start stays). An instant landing
      // exactly on a left-open window edge is evaluated but then
      // excluded by the range window — same as upstream.
      val rawStart = mint - offsetMs - range
      val rem = Math.floorMod(rawStart, innerStep)
      val alignedStart = if (rem == 0) rawStart else rawStart + (innerStep - rem)
      val inner = new Evaluator(querier, alignedStart,
        maxt - offsetMs, innerStep, lookbackMs, extrapolate)
      val df = inner.eval(arg)
        .withColumn("t", col("t") + offsetMs)
        .withColumn("fingerprint",
          graft.tsdb.TsSchema.fingerprintCol(col("labels")))
      (df, range)
    case other => sys.error(s"$other is not a range expression")
  }

  /** Downsample-aware routing (the Thanos query-path rule applied to
    * PromQL, via [[graft.tsdb.TsDownsample]]): an ALIGNED `*_over_time`
    * or non-extrapolated `increase` over a selector reads the
    * 1-row-per-window materialized form instead of raw samples — a
    * 30-day query at 1h resolution reads ~samples-per-hour× fewer rows.
    * Eligibility: the resolution divides step, range, grid origin and
    * offset, with ≥ 2 windows per range; [[TsDownsample.pick]] then
    * chooses the coarsest usable rung. Semantics are WINDOW-ALIGNED
    * like `TsDownsample.overTime` — step `t_k` combines the windows in
    * `[t_k - range, t_k)`; the raw path's left-open `(t_k - range, t_k]`
    * differs only for samples sitting exactly on a window edge. Routed
    * `increase` is the exact reset-corrected increase (`inc_v` + window
    * boundary deltas); spans with < 2 samples are dropped, matching the
    * raw path. */
  private val downRouteFns = Set("sum_over_time", "count_over_time",
    "min_over_time", "max_over_time", "avg_over_time", "increase")

  private def applyMatchers(df: DataFrame, ms: Seq[graft.tsdb.LabelMatcher]): DataFrame =
    ms.foldLeft(df) { (d, m) =>
      val pc = graft.tsdb.TsSchema.promotedColName(m.name)
      val vc = if (d.columns.contains(pc)) col(pc)
      else graft.tsdb.TsSchema.labelValue(col("labels"), m.name)
      d.where(m.predicate(vc))
    }

  private def downRouted(fn: String, input: PromExpr): Option[DataFrame] = input match {
    case sel: Selector if downsamples.nonEmpty && downRouteFns(fn) &&
        !(fn == "increase" && extrapolate) =>
      val range = sel.rangeMs.get
      val usable = downsamples.map(_._1).filter { r =>
        stepMs % r == 0 && range % r == 0 && mint % r == 0 &&
          sel.offsetMs % r == 0 && range >= 2 * r
      }
      graft.tsdb.TsDownsample.pick(math.min(stepMs, range), usable) match {
        case 0L => None
        case res =>
          val frame = downsamples.find(_._1 == res).get._2
          val shifted = applyMatchers(frame, sel.matchers)
            .withColumn("w_t", col("w_t") + sel.offsetMs)
            // windows serving any step: w_t ∈ [grid mint - range, maxt)
            .where(col("w_t") >= mint - range && col("w_t") < maxt)
          val out = fn match {
            case "increase" =>
              graft.tsdb.TsDownsample
                .increaseAtSteps(shifted, res, mint, maxt, stepMs, range)
                .where(col("n_samples") >= 2)
                .withColumn("v", col("increase"))
            case _ =>
              val o = graft.tsdb.TsDownsample
                .overTime(shifted, res, mint, maxt, stepMs, range)
              val v = fn match {
                case "sum_over_time" => col("sum_v")
                case "count_over_time" => col("n").cast("double")
                case "min_over_time" => col("min_v")
                case "max_over_time" => col("max_v")
                case "avg_over_time" => col("avg_v")
              }
              o.withColumn("v", v)
          }
          Some(out.select(dropName(col("labels")).as("labels"), col("t"), col("v")))
      }
    case _ => None
  }

  /** Range function: per (series, step) aggregate over the samples in
    * the left-open `[range]` window. The sequential fns are expressed
    * as a lag window + grouped aggregate — one sort, one aggregate,
    * all on the (fingerprint, k) key. Aligned over_time/increase over a
    * materialized downsample ladder short-circuit through
    * [[downRouted]]. */
  private def rangeFn(fn: String, input: PromExpr): DataFrame =
    downRouted(fn, input).getOrElse(rangeFnRaw(fn, input))

  private def rangeFnRaw(fn: String, input: PromExpr): DataFrame = {
    val (samples, range) = rangeSamples(input)
    val stepped = atSteps(samples, range)
    val out: DataFrame = fn match {
      case "sum_over_time" | "avg_over_time" | "min_over_time" |
           "max_over_time" | "count_over_time" | "last_over_time" |
           "stddev_over_time" | "stdvar_over_time" =>
        val agg: Column = fn match {
          case "sum_over_time" => sum(col("v"))
          case "avg_over_time" => avg(col("v"))
          case "min_over_time" => min(col("v"))
          case "max_over_time" => max(col("v"))
          case "count_over_time" => count(lit(1)).cast("double")
          case "last_over_time" => max(struct(col("t"), col("v"))).getField("v")
          case "stddev_over_time" => stddev_pop(col("v"))
          case "stdvar_over_time" => var_pop(col("v"))
        }
        stepped.groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg(agg.as("v"))
      case q if q.startsWith("quantile_over_time:") =>
        val phi = q.substring("quantile_over_time:".length).toDouble
        // same ±Inf/NaN stance as the quantile aggregation (upstream parity)
        val qv =
          if (phi.isNaN) lit(Double.NaN)
          else if (phi > 1) lit(Double.PositiveInfinity)
          else if (phi < 0) lit(Double.NegativeInfinity)
          else expr(s"percentile(v, $phi)")
        stepped.groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg(qv.as("v"))
      case "mad_over_time" =>
        // median absolute deviation (experimental upstream): one sorted
        // collect per (series, step); both medians come from the same
        // array with the quantile_cont(0.5) interpolation (= average of
        // the two middle elements), so an external engine's median()
        // reproduces them bit-for-bit — no second shuffle for the
        // deviation pass.
        def med(vs: Column): Column = {
          val n = size(vs)
          (element_at(vs, (floor((n - 1) / 2.0d) + 1).cast("int")) +
            element_at(vs, (ceil((n - 1) / 2.0d) + 1).cast("int"))) / 2.0d
        }
        stepped.groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg(array_sort(collect_list(col("v"))).as("vs"))
          .withColumn("m", med(col("vs")))
          .withColumn("v", med(array_sort(
            transform(col("vs"), x => abs(x - col("m"))))))
          .drop("vs", "m")
      case ts if ts.startsWith("ts_of_") =>
        // ts_of_{max,min,last}_over_time (experimental upstream): the
        // timestamp, in SECONDS, of the extremal/last sample in the
        // window. Ties break to the EARLIEST attaining sample — a
        // deterministic choice (upstream's strict-compare loop keeps the
        // first maximum in iteration order, which is time order).
        val pick: Column = ts match {
          case "ts_of_max_over_time" =>
            max(struct(col("v"), (-col("t")).as("nt"))).getField("nt") * -1L
          case "ts_of_min_over_time" =>
            min(struct(col("v"), col("t"))).getField("t")
          case "ts_of_last_over_time" => max(col("t"))
        }
        stepped.groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg((pick.cast("double") / 1000.0d).as("v"))
      case "present_over_time" =>
        stepped.groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg(lit(1.0d).as("v"))
      case des if des.startsWith("double_exponential_smoothing:") =>
        // upstream funcDoubleExponentialSmoothing (pre-3.x holt_winters):
        // sequential level/trend fold per (series, step window) — sorted
        // collect + the shared PromOps fold, no further exchange
        val parts = des.split(":")
        val (sf, tf) = (parts(1).toDouble, parts(2).toDouble)
        require(sf > 0 && sf < 1 && tf > 0 && tf < 1,
          s"double_exponential_smoothing: sf/tf must be in (0, 1), got $sf/$tf")
        stepped.groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg(array_sort(collect_list(struct(col("t"), col("v")))).as("xs"))
          .where(size(col("xs")) >= 2)
          .withColumn("v", graft.ops.PromOps.desSmooth(col("xs"), sf, tf))
          .drop("xs")
      case f if f == "deriv" || f.startsWith("predict_linear:") =>
        // least-squares regression of v over time in SECONDS, the same
        // built-in regr_* aggregates the relational deriv query uses
        // (mean-centered accumulation, so absolute epoch x-values stay
        // precise). deriv = slope; predict_linear = the regression
        // line's value at (step time + horizon).
        val g = stepped.groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg(regr_slope(col("v"), col("t") / 1000.0d).as("slope"),
            regr_intercept(col("v"), col("t") / 1000.0d).as("icept"),
            count(lit(1)).as("n"))
          .where(col("n") >= 2)
        val value =
          if (f == "deriv") col("slope")
          else {
            val d = f.substring("predict_linear:".length).toDouble
            col("icept") + col("slope") *
              ((lit(mint) + col("k") * stepMs) / 1000.0d + d)
          }
        g.withColumn("v", value)
      case _ if twoSampleFns(fn) =>
        val w = Window.partitionBy(col("fingerprint"), col("k"))
          .orderBy(col("t"), col("v"))
        val prevd = stepped
          .withColumn("pv", lag(col("v"), 1).over(w))
          .withColumn("pt", lag(col("t"), 1).over(w))
        val grouped = prevd
          .groupBy(col("fingerprint"), col("labels"), col("k"))
          .agg(
            count(lit(1)).as("n"),
            min(col("t")).as("min_t"), max(col("t")).as("max_t"),
            min(struct(col("t"), col("v"))).getField("v").as("first_v"),
            max(struct(col("t"), col("v"))).getField("v").as("last_v"),
            // the last row's predecessor: max over the lag pairs
            max(struct(col("pt"), col("pv"))).getField("pv").as("prev_last_v"),
            max(struct(col("pt"), col("pv"))).getField("pt").as("prev_last_t"),
            sum(when(col("pv").isNull, 0.0)
              .when(col("v") >= col("pv"), col("v") - col("pv"))
              .otherwise(col("v"))).as("inc"),
            sum(when(col("pv").isNotNull && col("v") < col("pv"), 1L)
              .otherwise(0L)).cast("double").as("resets"),
            sum(when(col("pv").isNotNull && col("v") =!= col("pv"), 1L)
              .otherwise(0L)).cast("double").as("changes"))
        /** Prometheus's `extrapolatedRate` edge logic (functions.go):
          * scale the observed delta out to the window edges, but never
          * by more than half the average sample interval per side —
          * and, for COUNTERS, never past the point where the counter
          * would have been zero. One definition serves the counter
          * (`zeroCap = true`: rate/increase) and gauge (`delta`)
          * forms. All column arithmetic — no extra pass. */
        def edgeExtrapolated(d: Column, zeroCap: Boolean): Column = {
          val winStart = lit(mint) + col("k") * stepMs - range
          val winEnd = lit(mint) + col("k") * stepMs
          val sampled = (col("max_t") - col("min_t")).cast("double")
          val avgIvl = sampled / (col("n") - 1)
          val toStartRaw = (col("min_t") - winStart).cast("double")
          val toEnd = (winEnd - col("max_t")).cast("double")
          val threshold = avgIvl * 1.1d
          val toStart =
            if (!zeroCap) toStartRaw
            else {
              val toZero = sampled * (col("first_v") / d)
              when(d > 0 && col("first_v") >= 0 && toZero < toStartRaw,
                toZero).otherwise(toStartRaw)
            }
          val extendStart =
            when(toStart < threshold, toStart).otherwise(avgIvl / 2)
          val extendEnd = when(toEnd < threshold, toEnd).otherwise(avgIvl / 2)
          d * ((sampled + extendStart + extendEnd) / sampled)
        }
        def extrapolated(inc: Column): Column =
          edgeExtrapolated(inc, zeroCap = true)
        def gaugeExtrapolated(d: Column): Column =
          edgeExtrapolated(d, zeroCap = false)
        val value: Column = fn match {
          case "increase" =>
            if (extrapolate) extrapolated(col("inc")) else col("inc")
          case "rate" =>
            if (extrapolate) extrapolated(col("inc")) / (lit(range) / 1000.0d)
            else col("inc") * 1000.0d / (col("max_t") - col("min_t"))
          case "delta" =>
            if (extrapolate) gaugeExtrapolated(col("last_v") - col("first_v"))
            else col("last_v") - col("first_v")
          case "idelta" => col("last_v") - col("prev_last_v")
          case "irate" =>
            when(col("last_v") >= col("prev_last_v"),
              col("last_v") - col("prev_last_v")).otherwise(col("last_v")) *
              1000.0d / (col("max_t") - col("prev_last_t"))
          case "resets" => col("resets")
          case "changes" => col("changes")
        }
        val guarded = fn match {
          // a window whose samples share one timestamp has no time span
          case "rate" => grouped.where(col("n") >= 2 &&
            col("max_t") > col("min_t"))
          case "irate" => grouped.where(col("n") >= 2 &&
            col("max_t") > col("prev_last_t"))
          // resets/changes are defined from ONE sample up (0 then) —
          // upstream functions.go returns a value for any non-empty
          // window; the two-sample requirement holds only for the
          // difference/slope family
          case "resets" | "changes" => grouped.where(col("n") >= 1)
          case _ => grouped.where(col("n") >= 2)
        }
        guarded.withColumn("v", value)
      case other => sys.error(s"unsupported range function $other")
    }
    // function results drop the metric name (Prometheus semantics) —
    // EXCEPT last_over_time, which returns the raw sample and keeps it
    // (upstream functions.go funcLastOverTime)
    val outLabels =
      if (fn == "last_over_time") col("labels") else dropName(col("labels"))
    out.select(outLabels.as("labels"), stepT, col("v"))
  }

  private def agg(op: String, by: Seq[String], param: Option[Double],
                  arg: PromExpr, without: Boolean): DataFrame = {
    val in = eval(arg)
    // `by` keeps the listed labels; `without` keeps the complement
    // (minus the metric name, per Prometheus)
    val groupKey: Column => Column =
      if (without)
        filter(_, e => !e.getField("name").isin(
          (Labels.MetricName +: by).map(x => x: Any): _*))
      else subset(_, by)
    op match {
      case "topk" | "bottomk" =>
        val k = param.getOrElse(sys.error(s"$op needs a scalar k")).toInt
        val grouped = in.withColumn("gl", groupKey(col("labels")))
        val ord =
          if (op == "topk") Seq(col("v").desc, col("labels").asc)
          else Seq(col("v").asc, col("labels").asc)
        val w = Window.partitionBy(col("gl"), col("t")).orderBy(ord: _*)
        // topk keeps the SELECTED SERIES' own labels
        grouped.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= k)
          .select(col("labels"), col("t"), col("v"))
      case "limitk" =>
        // upstream (3.x experimental) keeps an ARBITRARY k series per
        // group; this engine keeps the k first in canonical label order
        // — a deterministic subset an external engine can reproduce
        // (documented deviation: deterministic, not sampling-random)
        val k = param.getOrElse(sys.error("limitk needs a scalar k")).toInt
        val grouped = in.withColumn("gl", groupKey(col("labels")))
        val w = Window.partitionBy(col("gl"), col("t")).orderBy(col("labels").asc)
        grouped.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= k)
          .select(col("labels"), col("t"), col("v"))
      case "limit_ratio" =>
        // upstream (3.x experimental) deterministically samples series
        // by a hash of the label set: r ∈ [0,1] keeps ≈ r of them;
        // r < 0 keeps the exact complement of the +|r| selection.
        // Same contract here with md5 as the hash (documented deviation:
        // different hash → different sample, same ratio + complement
        // guarantees, reproducible by the oracle). Map-side filter —
        // no shuffle at all.
        val r = param.getOrElse(sys.error("limit_ratio needs a scalar r"))
        require(r >= -1.0 && r <= 1.0, s"limit_ratio: r must be in [-1, 1], got $r")
        val u = graft.ops.Dedup.hash60(to_json(col("labels"))) /
          lit(1152921504606846976.0d) // 2^60 → uniform [0, 1)
        val keep = if (r >= 0) u < lit(r) else u >= lit(1.0 + r)
        in.where(keep).select(col("labels"), col("t"), col("v"))
      case cv if cv.startsWith("count_values:") =>
        // value-distribution: group on (group key, step, value string),
        // emit the count with the value as an extra label. Integral
        // doubles print without a trailing ".0" (the canonical form an
        // external engine reproduces); Java's shortest-roundtrip
        // rendering covers the rest.
        val lbl = cv.substring("count_values:".length)
        val vstr = when(col("v") === col("v").cast("long").cast("double"),
          col("v").cast("long").cast("string"))
          .otherwise(col("v").cast("string"))
        in.withColumn("gl", groupKey(col("labels")))
          .groupBy(col("gl"), col("t"), vstr.as("vs"))
          .agg(count(lit(1)).cast("double").as("v"))
          .select(array_sort(concat(
            filter(col("gl"), e => e.getField("name") =!= lbl),
            array(struct(lit(lbl).as("name"), col("vs").as("value")))))
            .as("labels"),
            col("t"), col("v"))
      case _ =>
        val fn: Column = op match {
          case "sum" => sum(col("v"))
          case "avg" => avg(col("v"))
          case "min" => min(col("v"))
          case "max" => max(col("v"))
          case "count" => count(lit(1)).cast("double")
          case "stddev" => stddev_pop(col("v"))
          case "stdvar" => var_pop(col("v"))
          // `group`: 1 for every group with at least one series
          case "group" => lit(1.0d)
          case "quantile" =>
            val phi = param.getOrElse(sys.error("quantile needs φ"))
            // upstream returns ±Inf (with a warning) for φ outside
            // [0, 1] and NaN for φ = NaN; Spark's percentile would
            // reject those literals at analysis
            if (phi.isNaN) lit(Double.NaN)
            else if (phi > 1) lit(Double.PositiveInfinity)
            else if (phi < 0) lit(Double.NegativeInfinity)
            else expr(s"percentile(v, $phi)")
          case other => sys.error(s"unsupported aggregation $other")
        }
        in.groupBy(groupKey(col("labels")).as("labels"), col("t"))
          .agg(fn.as("v"))
    }
  }

  // PromQL arithmetic is Go float64 (IEEE 754): x/0 = ±Inf by the sign
  // of x, 0/0 and NaN/0 = NaN, mod-by-zero = NaN — Spark's ANSI mode
  // would throw instead, so zero divisors are routed around the raw
  // operators (CaseWhen branches evaluate conditionally under codegen)
  private def ieeeDiv(a: Column, b: Column): Column =
    when(b =!= 0.0d, a / b)
      .otherwise(when(a > 0.0d, lit(Double.PositiveInfinity))
        .when(a < 0.0d, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN)))
  private def ieeeMod(a: Column, b: Column): Column =
    when(b =!= 0.0d, a % b).otherwise(lit(Double.NaN))
  private val arith: Map[String, (Column, Column) => Column] = Map(
    "+" -> (_ + _), "-" -> (_ - _), "*" -> (_ * _), "/" -> (ieeeDiv(_, _)),
    "%" -> (ieeeMod(_, _)), "^" -> ((a, b) => pow(a, b)),
    "atan2" -> ((a, b) => atan2(a, b)))
  private val cmp: Map[String, (Column, Column) => Column] = Map(
    ">" -> (_ > _), "<" -> (_ < _), ">=" -> (_ >= _), "<=" -> (_ <= _),
    "==" -> (_ === _), "!=" -> (_ =!= _))

  private def session: org.apache.spark.sql.SparkSession =
    querier.selectLong(0, 0, Seq.empty).sparkSession

  /** The full evaluation-step grid `(t)` — nSteps rows, driver-known,
    * always broadcast-sized. */
  private def stepsGrid: DataFrame =
    session.range(nSteps).select((lit(mint) + col("id") * stepMs).as("t"))

  /** Scalar expressions: `time()`, `scalar(v)`, numbers, arithmetic
    * over them, and `bool`-modified comparisons between them (upstream
    * requires `bool` on scalar-scalar comparisons and yields 0/1) —
    * one value per step, never a labeled series. */
  private def isScalarExpr(e: PromExpr): Boolean = e match {
    case TimeE | _: ScalarOf | _: Num => true
    case b: Bin =>
      (arith.contains(b.op) || (b.bool && cmp.contains(b.op))) &&
        isScalarExpr(b.l) && isScalarExpr(b.r)
    case _ => false
  }

  /** Evaluate a scalar expression to `(t, sv)` over the full grid.
    * Only called when [[isScalarExpr]] holds. */
  private def buildScalar(e: PromExpr): DataFrame = e match {
    case TimeE => stepsGrid.withColumn("sv", col("t") / 1000.0d)
    case Num(v) => stepsGrid.withColumn("sv", lit(v))
    case ScalarOf(arg) =>
      // exactly one series at a step ⇒ its value; otherwise NaN
      // (Prometheus scalar() semantics)
      val per = eval(arg).groupBy(col("t"))
        .agg(when(count(lit(1)) === 1, min(col("v")))
          .otherwise(lit(Double.NaN)).as("sv"))
      stepsGrid.join(per, Seq("t"), "left")
        .withColumn("sv", coalesce(col("sv"), lit(Double.NaN)))
    case b: Bin =>
      val fold: (Column, Column) => Column =
        if (arith.contains(b.op)) arith(b.op)
        else (a, c) => when(cmp(b.op)(a, c), 1.0d).otherwise(0.0d)
      buildScalar(b.l).join(
        buildScalar(b.r).withColumnRenamed("sv", "sv2"), Seq("t"))
        .select(col("t"), fold(col("sv"), col("sv2")).as("sv"))
    case other => sys.error(s"$other is not a scalar expression")
  }

  /** Scalar-vector arithmetic/comparison: the scalar frame is grid-
    * sized and broadcasts; the vector side never shuffles. */
  private def scalarVector(op: String, sc: DataFrame, in: DataFrame,
                           scalarLeft: Boolean, bool: Boolean): DataFrame = {
    def boolV(cond: Column): Column = when(cond, 1.0d).otherwise(0.0d)
    val joined = in.join(broadcast(sc), Seq("t"))
    val (a, b) =
      if (scalarLeft) (col("sv"), col("v")) else (col("v"), col("sv"))
    if (!cmp.contains(op))
      joined.select(dropName(col("labels")).as("labels"), col("t"),
        arith(op)(a, b).as("v"))
    else if (bool)
      joined.select(dropName(col("labels")).as("labels"), col("t"),
        boolV(cmp(op)(a, b)).as("v"))
    else
      joined.where(cmp(op)(a, b))
        .select(col("labels"), col("t"), col("v"))
  }

  private def bin(op: String, l: PromExpr, r: PromExpr,
                  on: Option[Seq[String]], bool: Boolean,
                  group: Option[String],
                  groupLabels: Seq[String] = Seq.empty,
                  ignoring: Option[Seq[String]] = None): DataFrame = {
    // `bool` comparisons emit 0/1 and (like arithmetic) drop the name
    def boolV(cond: Column): Column = when(cond, 1.0d).otherwise(0.0d)
    (l, r) match {
      case (a, b) if (op == "and" || op == "or" || op == "unless") &&
          (isScalarExpr(a) || isScalarExpr(b)) =>
        sys.error(s"set operator '$op' needs vector operands")
      case (a, b) if isScalarExpr(a) && isScalarExpr(b) =>
        sys.error(
          s"scalar-scalar '$op' is not a vector — wrap it in vector()")
      // composite scalars (time(), scalar(v), arithmetic over them)
      // broadcast their per-step value onto the vector side
      case (a, e) if isScalarExpr(a) && !a.isInstanceOf[Num] =>
        scalarVector(op, buildScalar(a), eval(e), scalarLeft = true, bool)
      case (e, b) if isScalarExpr(b) && !b.isInstanceOf[Num] =>
        scalarVector(op, buildScalar(b), eval(e), scalarLeft = false, bool)
      case (Num(a), e) =>
        val in = eval(e)
        // arithmetic (like every value-transforming op) drops the
        // metric name; comparison-as-filter keeps the series unchanged
        if (!cmp.contains(op)) in.withColumn("v", arith(op)(lit(a), col("v")))
          .withColumn("labels", dropName(col("labels")))
        else if (bool) in.withColumn("v", boolV(cmp(op)(lit(a), col("v"))))
          .withColumn("labels", dropName(col("labels")))
        else in.where(cmp(op)(lit(a), col("v")))
      case (e, Num(b)) =>
        val in = eval(e)
        if (!cmp.contains(op)) in.withColumn("v", arith(op)(col("v"), lit(b)))
          .withColumn("labels", dropName(col("labels")))
        else if (bool) in.withColumn("v", boolV(cmp(op)(col("v"), lit(b))))
          .withColumn("labels", dropName(col("labels")))
        else in.where(cmp(op)(col("v"), lit(b)))
      case (le, re) =>
        // on(...) keeps the listed labels; ignoring(...) keeps the
        // complement (minus the metric name, like the bare form)
        val key: Column => Column = (on, ignoring) match {
          case (Some(names), _) => subset(_, names)
          case (_, Some(names)) =>
            filter(_, e => !e.getField("name").isin(
              (Labels.MetricName +: names).map(x => x: Any): _*))
          case _ => dropName(_)
        }
        val lf = eval(le).select(key(col("labels")).as("jk"),
          col("labels"), col("t"), col("v"))
        if (op == "and" || op == "unless" || op == "or") {
          // PromQL set operators: series-level semi / anti / union
          // joins on (match-key, step) — left rows keep their own
          // labels and values
          val rKeys = eval(re).select(key(col("labels")).as("jk"), col("t"))
            .distinct()
          return op match {
            case "and" => lf.join(rKeys, Seq("jk", "t"), "left_semi")
              .select(col("labels"), col("t"), col("v"))
            case "unless" => lf.join(rKeys, Seq("jk", "t"), "left_anti")
              .select(col("labels"), col("t"), col("v"))
            case "or" =>
              val lKeys = lf.select(col("jk"), col("t")).distinct()
              val rightOnly = eval(re)
                .select(key(col("labels")).as("jk"), col("labels"),
                  col("t"), col("v"))
                .join(lKeys, Seq("jk", "t"), "left_anti")
              lf.select(col("labels"), col("t"), col("v"))
                .unionByName(rightOnly.select(col("labels"), col("t"), col("v")))
          }
        }
        val rf = eval(re).select(key(col("labels")).as("jk"),
          dropName(col("labels")).as("rlabels"), col("t"), col("v").as("rv"))
        // Prometheus cardinality enforcement: the side(s) the match
        // mode declares unique may hold at most one series per
        // (match group, step); duplicates are a QUERY ERROR
        // ("many-to-many matching not allowed"), never a silent cross
        // product. The check is a count window keyed on the join key,
        // so it rides the join's own (jk, t) exchange.
        def unique(df: DataFrame, vcol: String, side: String): DataFrame = {
          val mode = group.fold("one-to-one")(g => s"group_$g")
          val n = count(lit(1)).over(Window.partitionBy(col("jk"), col("t")))
          df.withColumn(vcol,
            when(n > lit(1), raise_error(concat(
              lit(s"$mode matching: found duplicate series on the $side" +
                s" side for match group "), to_json(col("jk")))))
              .otherwise(col(vcol)))
        }
        val lfU = if (group.contains("left")) lf else unique(lf, "v", "left")
        val rfU = if (group.contains("right")) rf else unique(rf, "rv", "right")
        val joined = lfU.join(rfU, Seq("jk", "t"))
        // one-to-one: the match key IS the output identity; many-to-one
        // (group_left/group_right): the many side's full labels survive,
        // with the group_left(lbl, ...) list COPIED from the one side
        // (conflicting names on the many side are overwritten, as
        // upstream does)
        def copyOnto(base: Column, from: Column): Column =
          if (groupLabels.isEmpty) base
          else array_sort(concat(
            filter(base, e =>
              !e.getField("name").isin(groupLabels.map(x => x: Any): _*)),
            filter(from, e =>
              e.getField("name").isin(groupLabels.map(x => x: Any): _*))))
        val outLabels: Column = group match {
          case Some("left") => copyOnto(dropName(col("labels")), col("rlabels"))
          case Some("right") => copyOnto(col("rlabels"), dropName(col("labels")))
          case _ => col("jk")
        }
        if (!cmp.contains(op))
          joined.select(outLabels.as("labels"), col("t"),
            arith(op)(col("v"), col("rv")).as("v"))
        else if (bool)
          joined.select(outLabels.as("labels"), col("t"),
            boolV(cmp(op)(col("v"), col("rv"))).as("v"))
        else
          // comparison = filter: the left series survives unchanged
          joined.where(cmp(op)(col("v"), col("rv")))
            .select(col("labels"), col("t"), col("v"))
    }
  }

  private def scalarFn(fn: String, arg: PromExpr, ps: Seq[Double]): DataFrame = {
    val in = eval(arg)
    def goLog(base: Column => Column): Column => Column = v =>
      when(v > 0, base(v))
        .when(v === 0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN))
    val f: Column => Column = fn match {
      case "abs" => abs(_)
      case "sgn" => v => signum(v)
      case "round" =>
        val nearest = ps.headOption.getOrElse(1.0d)
        v => round(v / nearest) * nearest
      case "ceil" => ceil(_).cast("double")
      case "floor" => floor(_).cast("double")
      case "exp" => exp(_)
      case "sqrt" => sqrt(_)
      // Go's math.Log semantics (what upstream inherits): log(0) =
      // -Inf, log(<0) = NaN — Spark's log family returns NULL for both
      case "ln" => goLog(log(_))
      case "log2" => goLog(log2(_))
      case "log10" => goLog(log10(_))
      case "clamp" => v => least(greatest(v, lit(ps(0))), lit(ps(1)))
      // trigonometric family (Prometheus 2.31+); deg/rad per upstream
      case "sin" => sin(_)
      case "cos" => cos(_)
      case "tan" => tan(_)
      case "asin" => asin(_)
      case "acos" => acos(_)
      case "atan" => atan(_)
      case "sinh" => sinh(_)
      case "cosh" => cosh(_)
      case "tanh" => tanh(_)
      case "asinh" => asinh(_)
      case "acosh" => acosh(_)
      case "atanh" => atanh(_)
      case "deg" => v => degrees(v)
      case "rad" => v => radians(v)
      case "clamp_min" => v => greatest(v, lit(ps(0)))
      case "clamp_max" => v => least(v, lit(ps(0)))
      // calendar functions read the VALUE as epoch seconds in UTC
      // (the session zone, which GraftSession pins to UTC for every
      // entry point); Prometheus's day_of_week is 0=Sunday while
      // Spark's dayofweek is 1=Sunday
      case "minute" => v => minute(timestamp_seconds(v)).cast("double")
      case "hour" => v => hour(timestamp_seconds(v)).cast("double")
      case "day_of_week" =>
        v => (dayofweek(timestamp_seconds(v)) - 1).cast("double")
      case "day_of_month" => v => dayofmonth(timestamp_seconds(v)).cast("double")
      case "day_of_year" => v => dayofyear(timestamp_seconds(v)).cast("double")
      case "days_in_month" =>
        v => dayofmonth(last_day(timestamp_seconds(v))).cast("double")
      case "month" => v => month(timestamp_seconds(v)).cast("double")
      case "year" => v => year(timestamp_seconds(v)).cast("double")
      case other => sys.error(s"unsupported function $other")
    }
    // value-transforming functions drop the metric name (Prometheus
    // drops __name__ for abs/ceil/floor/clamp*/round/... alike)
    in.withColumn("v", f(col("v")))
      .withColumn("labels", dropName(col("labels")))
  }

  /** `@ start()` / `@ end()` parse to MinValue/MaxValue sentinels —
    * resolve them against this evaluator's own window. */
  private def resolveAt(at: Long): Long =
    if (at == Long.MinValue) mint
    else if (at == Long.MaxValue) maxt
    else at

  /** `@`-pinned expressions: evaluate once at the pinned instant, then
    * replicate the (tiny) per-series result across the step grid. */
  private def pinnedAt(at: Long, e: PromExpr): DataFrame = {
    val once = new Evaluator(querier, at, at, 1L, lookbackMs, extrapolate)
      .eval(e)
    val spark = once.sparkSession
    val steps = spark.range(nSteps)
      .select((lit(mint) + col("id") * stepMs).as("t"))
    once.drop("t").crossJoin(broadcast(steps))
      .select(col("labels"), col("t"), col("v"))
  }

  /** Top-level entry: a scalar-typed query (`2 + 3*4`, `scalar(v)`,
    * `time()`) evaluates as its implicit `vector()` — the single `{}`
    * series, the same rows the HTTP API's scalar result type renders
    * to. Nested scalar contexts are unaffected. */
  def evalTop(e: PromExpr): DataFrame =
    if (isScalarExpr(e)) eval(VectorOf(e)) else eval(e)

  /** Evaluate to the canonical result frame
    * `(labels array<struct<name,value>>, t long, v double)` — one row
    * per series per evaluation step where the expression is defined. */
  def eval(e: PromExpr): DataFrame = e match {
    case s: Selector if s.atMs.isDefined =>
      pinnedAt(resolveAt(s.atMs.get), s.copy(atMs = None))
    case RangeFn(fn, s: Selector) if s.atMs.isDefined =>
      pinnedAt(resolveAt(s.atMs.get), RangeFn(fn, s.copy(atMs = None)))
    case s: Selector => instant(s)
    case RangeFn(fn, arg) => rangeFn(fn, arg)
    case sq: Subquery => sys.error(
      s"subquery [${sq.rangeMs}ms:${sq.stepMs}ms] used as an instant vector")
    case Agg(op, by, param, arg, without) => agg(op, by, param, arg, without)
    case Bin(op, le, re, on, bool, group, groupLabels, ignoring) =>
      bin(op, le, re, on, bool, group, groupLabels, ignoring)
    case TimeE =>
      sys.error("time() is a scalar — wrap it in vector() or use it in arithmetic")
    case _: ScalarOf =>
      sys.error("scalar(v) is a scalar — wrap it in vector() or use it in arithmetic")
    case VectorOf(arg) =>
      if (!isScalarExpr(arg)) sys.error("vector() takes a scalar expression")
      buildScalar(arg)
        .select(emptyLabels.as("labels"), col("t"), col("sv").as("v"))
    // timestamp() over a plain selector reports the SAMPLE's timestamp
    // (the winning lookback sample); over any derived vector the sample
    // time IS the evaluation time
    case ScalarFn("timestamp", s: Selector, _)
        if s.rangeMs.isEmpty && s.atMs.isEmpty =>
      atSteps(raw(s, lookbackMs), lookbackMs)
        .groupBy(col("fingerprint"), col("labels"), col("k"))
        .agg((max(struct(col("t"), col("v"))).getField("t") / 1000.0d).as("v"))
        .select(dropName(col("labels")).as("labels"), stepT, col("v"))
    case ScalarFn("timestamp", arg, _) =>
      eval(arg).withColumn("v", col("t") / 1000.0d)
        .withColumn("labels", dropName(col("labels")))
    case ScalarFn(fn, arg, ps) => scalarFn(fn, arg, ps)
    case LabelFn(fn, arg, strs) =>
      val in = eval(arg)
      val lv: String => Column =
        n => graft.tsdb.TsSchema.labelValue(col("labels"), n)
      val dst = strs.head
      // the new value: a regex expansion (label_replace) or a separator
      // join (label_join); empty ⇒ the destination label is REMOVED
      // (Prometheus semantics for both functions)
      val (apply: Column, newV: Column) = fn match {
        case "label_replace" =>
          val Seq(_, repl, src, regex) = strs
          // same RE2-dialect contract as selector matchers: constructs
          // Prometheus would reject error here too
          graft.tsdb.LabelMatcher.validateRe2Dialect(regex)
          val anchored = graft.tsdb.LabelMatcher.anchored(regex)
          (lv(src).rlike(anchored),
            regexp_replace(lv(src), anchored, repl))
        case "label_join" =>
          (lit(true), concat_ws(strs(1), strs.drop(2).map(lv): _*))
      }
      val without = filter(col("labels"), e => e.getField("name") =!= dst)
      val replaced = array_sort(concat(without,
        array(struct(lit(dst).as("name"), newV.as("value")))))
      in.withColumn("labels",
        when(apply, when(newV === "", without).otherwise(replaced))
          .otherwise(col("labels")))
    case SortFn(fn, arg, ls) =>
      // presentation ordering of the instant vector (upstream sorts
      // only the final result; values and labels pass through): per
      // step, by value (sort / sort_desc) or by the named labels'
      // values (sort_by_label / _desc), full label set as the
      // deterministic tie-break. The result stays schema-compatible,
      // so a sort composes anywhere an instant vector does.
      val in = eval(arg)
      val lv: String => Column =
        n => graft.tsdb.TsSchema.labelValue(col("labels"), n)
      val keys: Seq[Column] = fn match {
        case "sort" => Seq(col("v").asc)
        case "sort_desc" => Seq(col("v").desc)
        case "sort_by_label" => ls.map(l => lv(l).asc)
        case "sort_by_label_desc" => ls.map(l => lv(l).desc)
      }
      in.orderBy((col("t").asc +: keys :+ col("labels").asc): _*)
    case Absent(sel) =>
      // the step grid is tiny and driver-known (nSteps rows) — generate
      // it, anti-join the steps where the selector matched anything, and
      // label the result from the selector's equality matchers
      // (Prometheus absent()/absent_over_time() semantics: the window
      // is the lookback for the instant form, [range] for the range
      // form)
      val steps = stepsGrid
      val present = sel.rangeMs match {
        case Some(r) => atSteps(raw(sel, r), r).select(stepT).distinct()
        case None => instant(sel).select(col("t")).distinct()
      }
      val eqLabels = sel.matchers.collect {
        case m if m.tpe == graft.tsdb.MatchType.Eq &&
          m.name != Labels.MetricName && m.value.nonEmpty =>
          struct(lit(m.name).as("name"), lit(m.value).as("value"))
      }
      val labelsLit =
        if (eqLabels.isEmpty) emptyLabels
        else array_sort(array(eqLabels: _*))
      steps.join(present, Seq("t"), "left_anti")
        .select(labelsLit.as("labels"), col("t"), lit(1.0).as("v"))
    case InfoFn(arg, sel) =>
      // info(v[, {sel}]) (3.x experimental): join v's series with the
      // target_info instant vector on the identifying labels
      // (job, instance) per step and union in the info metric's DATA
      // labels. Deviations, documented: multiple matching info series
      // pick the lexicographically smallest data-label set (upstream
      // errors); series without a match pass through unchanged. The
      // optional selector must match the info series and restricts the
      // copied labels to the names it mentions. One equi-join on
      // (job, instance, t) — the info side is tiny (one row per target
      // per step) and broadcasts.
      val idLabels = Seq("instance", "job")
      val in = eval(arg)
      val infoRaw = instant(Selector(
        Seq(graft.tsdb.LabelMatcher.eq(Labels.MetricName, "target_info")), None, 0))
      val infoSel = sel.foldLeft(infoRaw)((d, m) =>
        d.where(m.predicate(graft.tsdb.TsSchema.labelValue(col("labels"), m.name))))
      val nonId = filter(col("labels"), e =>
        !e.getField("name").isin((Labels.MetricName +: idLabels).map(x => x: Any): _*))
      val copied =
        if (sel.isEmpty) nonId
        else filter(nonId, e =>
          e.getField("name").isin(sel.map(_.name).map(x => x: Any): _*))
      val infoK = infoSel.select(
        graft.tsdb.TsSchema.labelValue(col("labels"), "job").as("job_k"),
        graft.tsdb.TsSchema.labelValue(col("labels"), "instance").as("inst_k"),
        col("t"), copied.as("extra"))
        .groupBy(col("job_k"), col("inst_k"), col("t"))
        .agg(min(col("extra")).as("extra"))
      val dk = in
        .withColumn("job_k", graft.tsdb.TsSchema.labelValue(col("labels"), "job"))
        .withColumn("inst_k", graft.tsdb.TsSchema.labelValue(col("labels"), "instance"))
      dk.join(broadcast(infoK), Seq("job_k", "inst_k", "t"), "left")
        .withColumn("labels", array_sort(concat(col("labels"),
          coalesce(filter(col("extra"), e =>
            !exists(col("labels"), d => d.getField("name") === e.getField("name"))),
            emptyLabels))))
        .select(col("labels"), col("t"), col("v"))
    case HistQ(phi, arg) =>
      // group on labels-minus-(le, name), parse `le` ("+Inf" included),
      // then the shared Prometheus interpolation over the bucket frame
      graft.ops.PromOps.histogramQuantile(
        leBuckets(eval(arg)), phi, Seq("gkey", "t"))
        .select(col("gkey").as("labels"), col("t"), col("quantile").as("v"))
    case HistFrac(lo, hi, arg) =>
      // identical bucket-frame preparation to histogram_quantile, then
      // the shared uniform-within-bucket overlap estimator
      graft.ops.PromOps.histogramFraction(
        leBuckets(eval(arg)), lo, hi, Seq("gkey", "t"))
        .select(col("gkey").as("labels"), col("t"), col("fraction").as("v"))
    case HistStats(stat, arg) => histStats(stat, arg)
    case Num(v) => sys.error(s"bare scalar $v is not a vector expression")
  }

  /** `(gkey = labels − {le, __name__}, t, le, cum)` bucket frame from a
    * classic-view instant vector — the shared preparation for the
    * `histogram_*` family ("+Inf" parses to `Double.PositiveInfinity`;
    * series with no parseable `le` drop out). */
  private def leBuckets(in: DataFrame): DataFrame = {
    val leStr = graft.tsdb.TsSchema.labelValue(col("labels"), "le")
    in.withColumn("gkey", filter(col("labels"), e =>
        e.getField("name") =!= "le" &&
          e.getField("name") =!= Labels.MetricName))
      .withColumn("le",
        when(leStr === "+Inf", lit(Double.PositiveInfinity))
          .otherwise(leStr.cast("double")))
      .where(col("le").isNotNull)
      .select(col("gkey"), col("t"), col("le"), col("v").as("cum"))
  }

  /** The native-histogram stats family over the classic view
    * (Prometheus serves `histogram_count/sum/avg/stddev/stdvar` as
    * PromQL functions on native-histogram samples; here the samples
    * are classic-view `le` bucket series + `_count`/`_sum` companions,
    * so):
    *  - `count` reads the `+Inf` bucket's cumulative value — exact;
    *  - `sum` reads the `_sum` companion series (requires a named
    *    metric selector argument, the classic-view convention) — exact;
    *  - `avg` is their per-(series, step) ratio — exact;
    *  - `stddev`/`stdvar` place each de-cumulated bucket's mass at the
    *    midpoint of `(previous present le | 0, le]` — the same
    *    interpolation family as `histogram_quantile` over the classic
    *    view, where sparse gaps widen the bucket — with `le = 0` (the
    *    zero bucket) a point mass at 0; mass above the largest finite
    *    bucket carries no location and is excluded from the moments. */
  private def histStats(stat: String, arg: PromExpr): DataFrame = {
    // count only ever reads the "+Inf" bucket: push that as a MATCHER
    // into the selector (store-side postings/predicate pushdown) rather
    // than scanning every bucket series and filtering after the grid
    // aggregation — at scale this is a ~|buckets|× input cut
    def counts = {
      val narrowed = arg match {
        case s: Selector if s.rangeMs.isEmpty &&
            !s.matchers.exists(_.name == "le") =>
          s.copy(matchers = s.matchers :+
            graft.tsdb.LabelMatcher.eq("le", "+Inf"))
        case other => other
      }
      // shared-persisted: histogram_count and histogram_avg over the
      // same selector produce this exact (canonicalized) plan — one
      // evaluation serves both arms of a stats query instead of two
      // full store reads; the frame is bounded at series × steps rows
      graft.Persisted(
        leBuckets(eval(narrowed))
          .where(col("le") === Double.PositiveInfinity)
          .groupBy(col("gkey"), col("t")).agg(max(col("cum")).as("v"))
          .select(col("gkey").as("labels"), col("t"), col("v")))
    }
    def sums = arg match {
      case s: Selector if s.rangeMs.isEmpty =>
        val ms = s.matchers.map(m =>
          if (m.name == Labels.MetricName && m.tpe == graft.tsdb.MatchType.Eq)
            m.copy(value = m.value + "_sum")
          else m)
        if (ms == s.matchers)
          sys.error(s"histogram_$stat needs a named metric selector " +
            "(the `_sum` companion series carries the sum)")
        // the function's output drops the metric name (PromQL rule),
        // which also aligns these labels with `counts`' group key
        // shared-persisted for the same reason as `counts`: the _sum
        // companion read is identical between histogram_sum and
        // histogram_avg
        graft.Persisted(
          eval(s.copy(matchers = ms))
            .withColumn("labels", dropName(col("labels"))))
      case _ => sys.error(s"histogram_$stat needs an instant metric selector")
    }
    stat match {
      case "count" => counts
      case "sum" => sums
      case "avg" =>
        val c = counts.select(col("labels"), col("t"), col("v").as("_n"))
        sums.join(c, Seq("labels", "t"))
          .select(col("labels"), col("t"), (col("v") / col("_n")).as("v"))
      case _ => // stddev / stdvar
        val w = Window.partitionBy(col("gkey"), col("t")).orderBy(col("le"))
        // shared-persisted: the de-cumulated bucket frame feeds BOTH the
        // mean aggregation and the deviation aggregation (two subtrees
        // of the self-join below), and histogram_stddev / histogram_stdvar
        // over the same selector canonicalize to this same frame — one
        // store read + window pass instead of four
        val d = graft.Persisted(leBuckets(eval(arg))
          .withColumn("cnt",
            col("cum") - coalesce(lag(col("cum"), 1).over(w), lit(0.0)))
          .withColumn("mid",
            (coalesce(lag(col("le"), 1).over(w), lit(0.0)) + col("le")) / 2))
        val finite = col("le") =!= Double.PositiveInfinity
        // DEVIATION form (upstream's): Σ cnt·(mid − mean)² / n — unlike
        // E[x²]−E[x]², exact zero when all mass sits in one bucket
        // (mid == mean exactly), no catastrophic cancellation for a
        // tiny spread to surface as a spurious 1e-6 stddev
        val mean = d.groupBy(col("gkey"), col("t")).agg(
            max(col("cum")).as("_n"),
            sum(when(finite, col("cnt") * col("mid")).otherwise(0.0)).as("_m1"))
          .select(col("gkey"), col("t"), col("_n"),
            (col("_m1") / col("_n")).as("_mean"))
        val agg = d.join(mean, Seq("gkey", "t"))
          .groupBy(col("gkey"), col("t")).agg(
            max(col("_n")).as("_n"),
            sum(when(finite,
              col("cnt") * (col("mid") - col("_mean")) *
                (col("mid") - col("_mean"))).otherwise(0.0)).as("_dev2"))
        val stdvar = col("_dev2") / col("_n")
        val v = if (stat == "stdvar") stdvar else sqrt(stdvar)
        agg.select(col("gkey").as("labels"), col("t"), v.as("v"))
    }
  }
}

/** Entry points: parse + evaluate a PromQL string against a store. */
object PromQL {
  def parse(query: String): PromExpr = new Parser(query).parse()

  /** Range query: evaluate at each step in `[mint, maxt]`. Returns
    * `(labels, t, v)` rows. `extrapolate = true` switches
    * `rate`/`increase` to Prometheus's edge-extrapolated estimator
    * (`extrapolatedRate`); the default returns the exact
    * reset-corrected increase over the observed span. */
  def rangeQuery(querier: TsQuerier, query: String, mint: Long, maxt: Long,
                 stepMs: Long, lookbackMs: Long = 5 * 60 * 1000L,
                 extrapolate: Boolean = false,
                 downsamples: Seq[(Long, DataFrame)] = Seq.empty): DataFrame =
    new Evaluator(querier, mint, maxt, stepMs, lookbackMs, extrapolate, downsamples)
      .evalTop(parse(query))

  /** Instant query: a range query with a single evaluation step. */
  def instantQuery(querier: TsQuerier, query: String, at: Long,
                   lookbackMs: Long = 5 * 60 * 1000L,
                   extrapolate: Boolean = false): DataFrame =
    rangeQuery(querier, query, at, at, 1L, lookbackMs, extrapolate)
}
