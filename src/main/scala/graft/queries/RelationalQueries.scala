package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Beyond-reference relational operator surface (SURVEY.md §7.2 M6) over
  * the driver's TPC-H-ish tables: aggregation, multi-way join (broadcast
  * for dims), window functions, top-k, set ops, scalar functions, JSON.
  *
  * Scale notes (100 TB): `region/nation/supplier/part/customer` are
  * dimension tables → always `broadcast()`; the only shuffles are on
  * fact-table aggregate keys. Doubles are rounded after aggregation so
  * results hash-compare against the DuckDB oracle.
  */
object RelationalQueries {
  // NO blanket fanOut here (measured round 12): these queries are
  // join/aggregation-bound — their first exchange already parallelizes
  // everything downstream, and the pre-exchange map work (project,
  // cast) is trivial, so a fan-out exchange only added a full-table
  // shuffle pass (q1_agg 0.17→0.68 s, q_semi_anti 0.37→0.86 s measured
  // A/B). The two range-join queries below fan out explicitly: their
  // interval EXPLODE runs before the join exchange and is the one
  // relational map stage heavy enough to pay for the pass.
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // bucketed range join (ops.RangeJoin): per-supplier "in transit on
    // my ship date" — interval = [shipdate, shipdate + deterministic
    // receipt delay], point = shipdate; the inequality join runs as a
    // (key, bucket) EQUI-join with containment as a post-filter, never
    // a nested loop
    "q_range_join" -> ((s, dir) => {
      // points AND intervals below derive from this one projection —
      // without the persist the scan + fan-out exchange run twice, once
      // per join side (plans/r13/q_range_join_before.txt nodes 1-7 vs
      // 8-15). Bounded: 4 long-ish columns of the scanned fact slice
      // (guide §5 — persist a frame with two consumers).
      val li = graft.Persisted(
        Tables.fanOut(t(s, dir, "lineitem")).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey").as("key"),
          datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01")))
            .cast("long").as("d")))
      val points = li.select(col("key"), col("d").as("t"),
        col("l_orderkey"), col("l_linenumber"))
      val intervals = li.select(col("key"), col("d").as("lo"),
        (col("d") + (col("l_orderkey") * 7 + col("l_linenumber")) % 30 + 1).as("hi"))
      graft.ops.RangeJoin.pointInInterval(points, intervals, bucketWidth = 16L)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("in_transit"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // interval×interval overlap join (ops.RangeJoin.intervalOverlap):
    // lineitem transit intervals against deterministic per-supplier
    // maintenance windows — pairs where the shipment was in transit
    // during a window, each pair exactly once (bucket-of-greatest-lo
    // dedup filter, no distinct), overlap length aggregated per
    // supplier
    "q_interval_join" -> ((s, dir) => {
      val li = Tables.fanOut(t(s, dir, "lineitem")).select(
        col("l_suppkey").as("key"),
        datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01")))
          .cast("long").as("lo"),
        (datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01")))
          .cast("long") +
          (col("l_orderkey") * 7 + col("l_linenumber")) % 30 + 1).as("hi"))
      val win = t(s, dir, "supplier").select(
        col("s_suppkey").as("key"),
        (lit(8035L) + (col("s_suppkey") * 97) % 2500).cast("long").as("rlo"),
        (lit(8035L) + (col("s_suppkey") * 97) % 2500 +
          col("s_suppkey") % 60 + 10).cast("long").as("rhi"))
      graft.ops.RangeJoin.intervalOverlap(li, win, bucketWidth = 32L)
        .groupBy(col("key").as("suppkey"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("hi"), col("rhi")) - greatest(col("lo"), col("rlo"))
            + lit(1)).as("overlap_days"))
        .orderBy(col("suppkey"))
    }),

    // TPC-H Q1 shape: scan + groupBy aggregate (map-side partials, one shuffle)
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TPC-H Q3 shape: fact-fact join + top-k (order stabilized by keys)
    "q3_topk" -> ((s, dir) => {
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").where(col("o_orderdate") < lit("1995-03-15"))
      val li = t(s, dir, "lineitem").where(col("l_shipdate") > lit("1995-03-15"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: star join, all dims broadcast; one shuffle on n_name
    "q5_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // semi/anti join: customers with orders vs without
    "q_semi_anti" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders").select(col("o_custkey"))
      val withOrders = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(lit("with_orders").as("bucket"), col("c_custkey"))
      val without = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(lit("no_orders").as("bucket"), col("c_custkey"))
      withOrders.unionByName(without)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
        .orderBy(col("bucket"))
    }),

    // window functions: per-customer order sequencing + running totals
    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_spend", round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).cast("double"))
        .withColumn("prev_price", round(lag(col("o_totalprice"), 1, 0.0).over(w), 2).cast("double"))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn").cast("long").as("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("running_spend"), col("prev_price"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // rank/dense_rank + top-n per group (part price ranking within brand)
    "q_rank_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
      t(s, dir, "part")
        .withColumn("rnk", rank().over(w))
        .where(col("rnk") <= 2)
        .select(col("p_brand"), col("rnk").cast("long").as("rnk"), col("p_partkey"), round(col("p_retailprice"), 2).as("p_retailprice"))
        .orderBy(col("p_brand"), col("rnk"), col("p_partkey"))
    }),

    // set operations: INTERSECT / EXCEPT on key domains
    "q_set_ops" -> ((s, dir) => {
      val liParts = t(s, dir, "lineitem").select(col("l_partkey").as("k")).distinct()
      val allParts = t(s, dir, "part").select(col("p_partkey").as("k")).distinct()
      val both = liParts.intersect(allParts).select(lit("in_both").as("bucket"), col("k"))
      val unused = allParts.except(liParts).select(lit("unused").as("bucket"), col("k"))
      both.unionByName(unused)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // scalar function surface: string/date/math/conditional + JSON extraction
    "q_scalar_json" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("ts", Tables.tsMicros(col("ts")))
        .select(
          col("event_id"),
          upper(col("event_type")).as("etype"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          year(col("ts")).cast("long").as("yr"),
          dayofweek(col("ts")).cast("long").as("dow"),
          round(sqrt(col("value")), 4).as("sqrt_v"),
          round(ln(col("value") + 1), 4).as("ln_v"),
          when(col("value") >= 100, "big").otherwise("small").as("sizecls"),
          get_json_object(col("props"), "$.k").cast("long").as("prop_k"),
          substring(col("event_type"), 1, 2).as("pre2"),
          length(col("event_type")).cast("long").as("tlen"))
        .where(col("event_id") < 500)
        .orderBy(col("event_id"))),

    // time bucketing / date_trunc aggregation (daily rollup)
    "q_time_rollup" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("ts", Tables.tsMicros(col("ts")))
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"),
          round(min(col("value")), 2).as("min_v"), round(max(col("value")), 2).as("max_v"))
        .orderBy(col("day"), col("event_type"))),

    // grouping sets / rollup
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"), col("n"), col("sum_price"))
        .orderBy(col("status"), col("prio"))),

    // PIVOT: per-user event-type sums as columns (the wide-form report
    // shape); one shuffle, Spark's pivot with an EXPLICIT value list so
    // no extra distinct-values job runs
    "q_pivot" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value")), 2))
        .orderBy(col("user_id"))),

    // GROUPING SETS: the general form of rollup/cube — two chosen
    // groupings in one pass over orders
    "q_grouping_sets" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("orders_gs")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
              |       coalesce(o_orderpriority, 'ALL') AS prio,
              |       count(1) AS n, round(sum(o_totalprice), 2) AS sum_price
              |  FROM orders_gs
              | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
              | ORDER BY status, prio""".stripMargin)
    }),

    // batch sessionization: gap-based session assignment per user (new
    // session when >1h since previous event), via a cumulative sum of
    // session-start flags — one shuffle on user, no self-join
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val flagged = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), Tables.tsMillis(col("ts")).as("t"))
        .withColumn("prev_t", lag(col("t"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_t").isNull || col("t") - col("prev_t") > 3600000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("t")).as("session_start"), max(col("t")).as("session_end"))
        .where(col("n_events") >= 3) // keep the interesting sessions, bounds output
        .orderBy(col("user_id"), col("session_id"))
    }),

    // column profiling (the survey you run BEFORE writing constraints):
    // typed extrema in one agg pass, cardinality + mode from a melted
    // (column, value) aggregate — never a per-column pass over the table
    "q_profile" -> ((s, dir) =>
      graft.ops.Profile.profile(
        Tables.load(s, dir, "events")
          .select(col("event_type"), col("user_id"), col("props")),
        Seq("event_type", "user_id", "props"))),

    // declarative data-validation suite (the Deequ pattern): row-local
    // constraints fold into ONE map-side-combined agg, uniqueness is an
    // exact key-tuple distinct, referential integrity a counted
    // anti-join — the report is rows, ready to land in a table and diff
    "q_checks" -> ((s, dir) => {
      import graft.ops.Checks
      Checks.run(t(s, dir, "lineitem"),
        rowChecks = Seq(
          Checks.completeness("l_orderkey"),
          Checks.inRange("l_quantity", 1, 50),
          Checks.inRange("l_discount", 0, 0.05, minFrac = 0.5),
          Checks.inSet("l_returnflag", Seq("A", "N", "R")),
          Checks.RowCheck("matches_regex", "l_shipdate",
            date_format(col("l_shipdate"), "yyyy-MM-dd")
              .rlike("^\\d{4}-\\d{2}-\\d{2}$"), 1.0),
          Checks.nonNegative("l_tax")),
        uniques = Seq(
          Checks.UniqueCheck(Seq("l_orderkey", "l_linenumber")),
          Checks.UniqueCheck(Seq("l_orderkey"), minRatio = 0.9)),
        refs = Seq(Checks.RefCheck("l_orderkey",
          t(s, dir, "orders").select(col("o_orderkey")), broadcastKeys = true)))
    }),

    // numeric drift monitor: the value distribution of the month's
    // first half vs its second, fixed-width binned — PSI / JS / chi2
    "q_drift_value" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("value"), Tables.tsMillis(col("ts")).as("t"))
      val cut = 1705276800000L // 2024-01-15
      graft.ops.Drift.numericDrift(
        ev.where(col("t") < cut), ev.where(col("t") >= cut),
        col("value"), lo = 0.0, hi = 500.0, bins = 20)
    }),

    // ordered funnel (view → click → purchase within 7 days): chained
    // min(when) windows over ONE user partition — greedy-earliest chain,
    // provably the deepest (window anchored at step 1), single shuffle
    "q_funnel" -> ((s, dir) =>
      graft.ops.Behavior.funnel(
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"), Tables.tsMillis(col("ts")).as("t")),
        col("user_id"), col("event_type"), col("t"),
        steps = Seq("view", "click", "purchase"), windowMs = 604800000L)
        .orderBy(col("step"))),

    // cohort retention triangle: cohort = day of first signup, active =
    // any purchase at day offset 0..14 — key-bounded aggregations only
    "q_retention" -> ((s, dir) =>
      graft.ops.Behavior.retention(
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"), Tables.tsMillis(col("ts")).as("t")),
        col("user_id"), col("event_type"), col("t"),
        cohortType = "signup", activityType = "purchase",
        periodMs = 86400000L, epochMs = 1704067200000L, maxOffset = 14)
        .orderBy(col("cohort_period"), col("offset"))),

    // gap-based sessionization (12h idle gap — the synthetic table's
    // users average ~11h between events): lag + range-framed running
    // sum share one user exchange; tie-deterministic by construction
    "q_sessionize" -> ((s, dir) =>
      graft.ops.Behavior.sessionStats(
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"), Tables.tsMillis(col("ts")).as("t")),
        col("user_id"), col("event_type"), col("t"), gapMs = 43200000L)
        .orderBy(col("user"), col("session_idx"))),

    // SCD2 dimension history over the user's event_type state, built
    // INCREMENTALLY: first half-month -> history, second half merged in
    // (the daily-merge path) — oracle checks against the one-shot
    // window chain, the spec holds the incremental ≡ one-shot law
    "q_scd2" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), Tables.tsMillis(col("ts")).as("t"))
      val cut = 1705276800000L // 2024-01-15
      val endOfTime = 4102444800000L
      // scd2Merge reads `current` three times (closed passthrough, open
      // replay, open-row stale-update join). In production `current` is
      // a stored table — three scans; here it is a window pipeline, so
      // without the persist the events scan + key shuffle + sort ran 3×
      val hist = graft.Persisted(
        graft.ops.Scd.scd2(ev.where(col("t") < cut),
          Seq("user_id"), Seq("event_type"), "t", endOfTime))
      graft.ops.Scd.scd2Merge(hist, ev.where(col("t") >= cut),
        Seq("user_id"), Seq("event_type"), "t", endOfTime)
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }),

    // user state-transition matrix: each event range-joins to the SCD2
    // version valid at t-1 (the state it ARRIVED in) via the bucketed
    // containment join; the oracle computes the same matrix with a
    // plain lag — two structurally different plans must agree, which
    // pins the interval boundaries exactly
    "q_scd2_transitions" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), Tables.tsMillis(col("ts")).as("t"))
      val hist = graft.ops.Scd.scd2(ev,
        Seq("user_id"), Seq("event_type"), "t", 4102444800000L)
      graft.ops.Scd.asOf(
        ev.select(col("user_id"), (col("t") - 1).as("t"), col("event_type").as("et")),
        hist.withColumnRenamed("event_type", "prev_state"),
        keyCols = Seq("user_id"), tsCol = "t",
        horizonMs = 1706745600000L, bucketWidth = 86400000L)
        .groupBy(col("prev_state"), col("et"))
        .agg(count(lit(1)).as("n"))
        .select(col("prev_state"), col("et").as("event_type"), col("n"))
        .orderBy(col("prev_state"), col("event_type"))
    }),

    // salted two-stage aggregation (skew mitigation): spread each group
    // key over 16 sub-keys, partially aggregate, combine — exact distinct
    // + sum + count, identical to the direct GROUP BY (oracle-checked)
    "q_salted_agg" -> ((s, dir) => {
      import graft.ops.Skew
      Skew.saltedAgg(
        Tables.load(s, dir, "events")
          .select(col("event_type"), col("user_id"), col("value"), col("event_id")),
        keyCols = Seq(col("event_type")), spread = col("event_id"), salts = 16,
        measures = Seq(
          Skew.Measure("n_users", collect_set(col("user_id")),
            c => size(array_distinct(flatten(collect_list(c)))).cast("long")),
          Skew.Measure("sum_v", sum(col("value")), c => round(sum(c), 2)),
          Skew.Measure("n", count(lit(1)), c => sum(c))))
        .orderBy(col("event_type"))
    }),

    // Z-order (Morton) clustering key for the multi-dimensional write
    // layout: user and time buckets bit-interleaved, then per z-cell
    // (the 16×16 box a clustered file would cover) min/max extents of
    // BOTH dimensions — the tightness of those boxes is exactly the
    // file-statistics pruning a scan gets on either dimension
    "q_zorder" -> ((s, dir) => {
      import graft.ops.ZOrder
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), Tables.tsMillis(col("ts")).as("t"))
        .withColumn("ub", ZOrder.rangeBucket(col("user_id"), 0L, 255L, 8))
        .withColumn("tb", ZOrder.rangeBucket(col("t"),
          1704067200000L, 1706745599999L, 8))
      ev.withColumn("zval", ZOrder.zValue(Seq(col("ub"), col("tb")), 8))
        .groupBy(shiftright(col("zval"), 8).as("zcell"))
        .agg(count(lit(1)).as("n"), sum(col("zval")).as("z_sum"),
          min(col("ub")).as("ub_min"), max(col("ub")).as("ub_max"),
          min(col("tb")).as("tb_min"), max(col("tb")).as("tb_max"))
        .orderBy(col("zcell"))
    }),

    // CUBE + GROUPING(): all four aggregation lattices in one pass, with
    // the grouping bitmap distinguishing which dimensions are rolled up
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"),
          grouping_id().cast("long").as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("gid"), col("n"), col("sum_price"))
        .orderBy(col("gid"), col("status"), col("prio")))
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order
        | FROM lineitem WHERE l_shipdate <= '1998-09-02'
        | GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".om,
    "q3_topk" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
        | GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10""".om,
    "q5_star_join" ->
      """SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, n_name ORDER BY r_name, n_name""".om,
    "q_semi_anti" ->
      """SELECT bucket, count(*) AS n, min(c_custkey) AS min_key FROM (
        | SELECT 'with_orders' AS bucket, c_custkey FROM customer
        |   WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        | UNION ALL
        | SELECT 'no_orders' AS bucket, c_custkey FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |) GROUP BY bucket ORDER BY bucket""".om,
    "q_window" ->
      """SELECT o_custkey, rn, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        | running_spend, prev_price FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER w AS rn,
        |  round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
        |  round(coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS prev_price
        | FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".om,
    "q_rank_per_group" ->
      """SELECT p_brand, rnk, p_partkey, round(p_retailprice, 2) AS p_retailprice FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
        | FROM part) WHERE rnk <= 2 ORDER BY p_brand, rnk, p_partkey""".om,
    "q_set_ops" ->
      """SELECT bucket, count(*) AS n FROM (
        | SELECT 'in_both' AS bucket, k FROM
        |  (SELECT DISTINCT l_partkey AS k FROM lineitem INTERSECT SELECT DISTINCT p_partkey FROM part)
        | UNION ALL
        | SELECT 'unused' AS bucket, k FROM
        |  (SELECT DISTINCT p_partkey AS k FROM part EXCEPT SELECT DISTINCT l_partkey FROM lineitem)
        |) GROUP BY bucket ORDER BY bucket""".om,
    "q_scalar_json" ->
      """SELECT event_id, upper(event_type) AS etype, strftime(ts, '%Y-%m-%d') AS day,
        | year(ts) AS yr, dayofweek(ts) + 1 AS dow,
        | round(sqrt("value"), 4) AS sqrt_v, round(ln("value" + 1), 4) AS ln_v,
        | CASE WHEN "value" >= 100 THEN 'big' ELSE 'small' END AS sizecls,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
        | substr(event_type, 1, 2) AS pre2, length(event_type) AS tlen
        | FROM events WHERE event_id < 500 ORDER BY event_id""".om,
    "q_time_rollup" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        | count(*) AS n, round(sum("value"), 2) AS sum_v,
        | round(min("value"), 2) AS min_v, round(max("value"), 2) AS max_v
        | FROM events GROUP BY 1, 2 ORDER BY day, event_type""".om,
    "q_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio,
        | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        | FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) ORDER BY status, prio""".om,
    "q_pivot" ->
      """SELECT user_id,
        | round(sum(CASE WHEN event_type = 'click' THEN "value" END), 2) AS click,
        | round(sum(CASE WHEN event_type = 'view' THEN "value" END), 2) AS view,
        | round(sum(CASE WHEN event_type = 'purchase' THEN "value" END), 2) AS purchase,
        | round(sum(CASE WHEN event_type = 'signup' THEN "value" END), 2) AS signup,
        | round(sum(CASE WHEN event_type = 'error' THEN "value" END), 2) AS error
        | FROM events GROUP BY user_id ORDER BY user_id""".om,
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio,
        | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        | FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        | ORDER BY status, prio""".om,
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS t,
        |   CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |     OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 3600000 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        | sessions AS (
        |  SELECT user_id, event_id, t,
        |   sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        | SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  min(t) AS session_start, max(t) AS session_end
        | FROM sessions GROUP BY user_id, session_id HAVING count(*) >= 3
        | ORDER BY user_id, session_id""".om,
    "q_profile" ->
      """WITH m AS (
        |  SELECT 'event_type' AS "column", count(*) AS n_rows,
        |   CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |   CAST(min(event_type) AS VARCHAR) AS min_v, CAST(max(event_type) AS VARCHAR) AS max_v FROM events
        |  UNION ALL
        |  SELECT 'user_id', count(*),
        |   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |   CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events
        |  UNION ALL
        |  SELECT 'props', count(*),
        |   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |   CAST(min(props) AS VARCHAR), CAST(max(props) AS VARCHAR) FROM events),
        | melt AS (
        |  SELECT 'event_type' AS "column", CAST(event_type AS VARCHAR) AS v FROM events WHERE event_type IS NOT NULL
        |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events WHERE user_id IS NOT NULL
        |  UNION ALL SELECT 'props', CAST(props AS VARCHAR) FROM events WHERE props IS NOT NULL),
        | vc AS (SELECT "column", v, count(*) AS cnt FROM melt GROUP BY 1, 2),
        | pc AS (SELECT "column", count(*) AS n_distinct FROM vc GROUP BY 1),
        | tp AS (SELECT "column", v AS top_v, cnt AS top_n FROM vc
        |  QUALIFY row_number() OVER (PARTITION BY "column" ORDER BY cnt DESC, v DESC) = 1)
        | SELECT m."column", n_rows, n_null,
        |  round(n_null / CAST(n_rows AS DOUBLE), 6) AS null_frac,
        |  coalesce(n_distinct, 0) AS n_distinct, min_v, max_v, top_v, top_n
        | FROM m LEFT JOIN pc USING ("column") LEFT JOIN tp USING ("column")
        | ORDER BY "column"""".om,
    "q_checks" ->
      """WITH m AS (SELECT count(*) AS n,
        |  sum(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS c0,
        |  sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS c1,
        |  sum(CASE WHEN l_discount BETWEEN 0 AND 0.05 THEN 1 ELSE 0 END) AS c2,
        |  sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS c3,
        |  sum(CASE WHEN regexp_matches(strftime(l_shipdate, '%Y-%m-%d'), '^\d{4}-\d{2}-\d{2}$') THEN 1 ELSE 0 END) AS c4,
        |  sum(CASE WHEN l_tax >= 0 THEN 1 ELSE 0 END) AS c5
        | FROM lineitem),
        | u1 AS (SELECT count(*) AS n, count(DISTINCT (l_orderkey, l_linenumber)) AS d FROM lineitem),
        | u2 AS (SELECT count(*) AS n, count(DISTINCT l_orderkey) AS d FROM lineitem),
        | rf AS (SELECT count(*) AS n,
        |   sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS orphans
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |   ON l.l_orderkey = o.o_orderkey),
        | rep AS (
        |  SELECT 'completeness' AS "check", 'l_orderkey' AS "column",
        |   c0 / CAST(n AS DOUBLE) AS frac, 1.0::DOUBLE AS threshold FROM m
        |  UNION ALL SELECT 'in_range', 'l_quantity', c1 / CAST(n AS DOUBLE), 1.0::DOUBLE FROM m
        |  UNION ALL SELECT 'in_range', 'l_discount', c2 / CAST(n AS DOUBLE), 0.5::DOUBLE FROM m
        |  UNION ALL SELECT 'in_set', 'l_returnflag', c3 / CAST(n AS DOUBLE), 1.0::DOUBLE FROM m
        |  UNION ALL SELECT 'matches_regex', 'l_shipdate', c4 / CAST(n AS DOUBLE), 1.0::DOUBLE FROM m
        |  UNION ALL SELECT 'non_negative', 'l_tax', c5 / CAST(n AS DOUBLE), 1.0::DOUBLE FROM m
        |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber', d / CAST(n AS DOUBLE), 1.0::DOUBLE FROM u1
        |  UNION ALL SELECT 'unique', 'l_orderkey', d / CAST(n AS DOUBLE), 0.9::DOUBLE FROM u2
        |  UNION ALL SELECT 'ref_integrity', 'l_orderkey', 1.0 - orphans / CAST(n AS DOUBLE), 1.0::DOUBLE FROM rf)
        | SELECT "check", "column", round(frac, 6) AS metric, threshold,
        |  frac >= threshold AS pass
        | FROM rep ORDER BY "check", "column"""".om,
    "q_drift_value" ->
      """WITH r0 AS (SELECT CAST(least(greatest(floor(("value" - 0) / 25.0), 0), 19) AS BIGINT) AS b
        |  FROM events WHERE epoch_ms(ts) < 1705276800000 AND "value" IS NOT NULL),
        | c0 AS (SELECT CAST(least(greatest(floor(("value" - 0) / 25.0), 0), 19) AS BIGINT) AS b
        |  FROM events WHERE epoch_ms(ts) >= 1705276800000 AND "value" IS NOT NULL),
        | r AS (SELECT CAST(b AS VARCHAR) AS category, count(*) AS n_ref FROM r0 GROUP BY 1),
        | c AS (SELECT CAST(b AS VARCHAR) AS category, count(*) AS n_cur FROM c0 GROUP BY 1),
        | j AS (SELECT coalesce(r.category, c.category) AS category,
        |   CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
        |   CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
        |  FROM r FULL JOIN c ON r.category = c.category),
        | t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS nr,
        |   CAST(sum(n_cur) AS DOUBLE) AS nc, CAST(count(*) AS DOUBLE) AS k FROM j),
        | y AS (SELECT n_ref, n_cur, nr, nc,
        |   (n_ref + 0.5) / (nr + 0.5 * k) AS p, (n_cur + 0.5) / (nc + 0.5 * k) AS q,
        |   ((n_ref + 0.5) / (nr + 0.5 * k) + (n_cur + 0.5) / (nc + 0.5 * k)) / 2 AS m,
        |   (n_ref + n_cur) / (nr + nc) AS sh
        |  FROM j, t)
        | SELECT CAST(count(*) AS BIGINT) AS n_categories,
        |  CAST(sum(n_ref) AS BIGINT) AS n_ref, CAST(sum(n_cur) AS BIGINT) AS n_cur,
        |  round(sum((p - q) * (ln(p) - ln(q))), 6) AS psi,
        |  round(sum(p * (ln(p) - ln(m)) + q * (ln(q) - ln(m))) / 2, 6) AS js,
        |  round(sum(pow(n_ref - nr * sh, 2) / (nr * sh) +
        |    pow(n_cur - nc * sh, 2) / (nc * sh)), 6) AS chi2
        | FROM y""".om,
    "q_funnel" ->
      """WITH f0 AS (SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS t FROM events),
        | f1 AS (SELECT *, min(CASE WHEN et = 'view' THEN t END)
        |   OVER (PARTITION BY u) AS s1 FROM f0),
        | f2 AS (SELECT *, min(CASE WHEN et = 'click' AND t > s1
        |     AND t <= s1 + 604800000 THEN t END) OVER (PARTITION BY u) AS s2 FROM f1),
        | f3 AS (SELECT *, min(CASE WHEN et = 'purchase' AND t > s2
        |     AND t <= s1 + 604800000 THEN t END) OVER (PARTITION BY u) AS s3 FROM f2),
        | per_u AS (SELECT u, max(s1) AS s1, max(s2) AS s2, max(s3) AS s3
        |  FROM f3 GROUP BY u),
        | c AS (SELECT count(*) AS n0, count(s1) AS n1, count(s2) AS n2,
        |   count(s3) AS n3 FROM per_u)
        | SELECT step, step_name, n_users, conv_from_prev, conv_from_entry FROM (
        |  SELECT 1 AS step, 'view' AS step_name, n1 AS n_users,
        |   round(n1 / nullif(CAST(n0 AS DOUBLE), 0), 6) AS conv_from_prev,
        |   round(n1 / nullif(CAST(n0 AS DOUBLE), 0), 6) AS conv_from_entry FROM c
        |  UNION ALL
        |  SELECT 2, 'click', n2, round(n2 / nullif(CAST(n1 AS DOUBLE), 0), 6),
        |   round(n2 / nullif(CAST(n0 AS DOUBLE), 0), 6) FROM c
        |  UNION ALL
        |  SELECT 3, 'purchase', n3, round(n3 / nullif(CAST(n2 AS DOUBLE), 0), 6),
        |   round(n3 / nullif(CAST(n0 AS DOUBLE), 0), 6) FROM c)
        | ORDER BY step""".om,
    "q_retention" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS et,
        |   CAST(floor((epoch_ms(ts) - 1704067200000) / 86400000) AS BIGINT) AS p
        |  FROM events),
        | cohort AS (SELECT u, min(p) AS cp FROM ev WHERE et = 'signup' GROUP BY u),
        | act AS (SELECT DISTINCT u, p AS ap FROM ev WHERE et = 'purchase'),
        | sizes AS (SELECT cp, count(*) AS n_cohort FROM cohort GROUP BY cp),
        | hit AS (SELECT c.cp, a.ap - c.cp AS off, count(*) AS n_active
        |  FROM act a JOIN cohort c USING (u)
        |  WHERE a.ap >= c.cp AND a.ap - c.cp <= 14 GROUP BY c.cp, a.ap - c.cp)
        | SELECT h.cp AS cohort_period, h.off AS "offset", s.n_cohort, h.n_active,
        |  round(h.n_active / CAST(s.n_cohort AS DOUBLE), 6) AS retention
        | FROM hit h JOIN sizes s USING (cp)
        | ORDER BY cohort_period, "offset"""".om,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS t FROM events),
        | l AS (SELECT u, et, t, lag(t) OVER (PARTITION BY u ORDER BY t) AS pt FROM e),
        | f AS (SELECT u, et, t,
        |   CASE WHEN pt IS NULL OR t - pt > 43200000 THEN 1 ELSE 0 END AS ns FROM l),
        | s AS (SELECT u, et, t,
        |   CAST(sum(ns) OVER (PARTITION BY u ORDER BY t) AS BIGINT) AS sid FROM f)
        | SELECT u AS "user", sid AS session_idx, min(t) AS start_t, max(t) AS end_t,
        |  count(*) AS n_events, count(DISTINCT et) AS n_types,
        |  max(t) - min(t) AS duration_ms
        | FROM s GROUP BY u, sid ORDER BY "user", session_idx""".om,
    "q_scd2" ->
      """WITH u AS (SELECT user_id AS k, event_type AS et, epoch_ms(ts) AS t FROM events),
        | o AS (SELECT k, et, t, lag(et) OVER (PARTITION BY k ORDER BY t, et) AS pe FROM u),
        | ch AS (SELECT k, et, t FROM o WHERE pe IS NULL OR pe <> et),
        | h AS (SELECT k, et, t AS valid_from,
        |   coalesce(lead(t) OVER (PARTITION BY k ORDER BY t, et), 4102444800000)
        |     AS valid_to FROM ch)
        | SELECT k AS user_id, et AS event_type, valid_from, valid_to
        | FROM h ORDER BY user_id, valid_from, event_type""".om,
    "q_scd2_transitions" ->
      """WITH u AS (SELECT user_id AS k, event_type AS et, epoch_ms(ts) AS t FROM events),
        | l AS (SELECT k, et, t, lag(et) OVER (PARTITION BY k ORDER BY t) AS pe FROM u)
        | SELECT pe AS prev_state, et AS event_type, count(*) AS n
        | FROM l WHERE pe IS NOT NULL GROUP BY pe, et ORDER BY prev_state, event_type""".om,
    "q_salted_agg" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | round(sum("value"), 2) AS sum_v, count(*) AS n
        | FROM events GROUP BY event_type ORDER BY event_type""".om,
    "q_zorder" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS t FROM events),
         | b AS (SELECT event_id,
         |   (least(greatest(user_id, 0), 255) * 256 // 256) AS ub,
         |   ((least(greatest(t, 1704067200000), 1706745599999) - 1704067200000)
         |     * 256 // 2678400000) AS tb
         |  FROM ev),
         | z AS (SELECT event_id, ub, tb,
         |   ${graft.ops.ZOrder.zValueSql(Seq("ub", "tb"), 8)} AS zval FROM b)
         | SELECT (zval >> 8) AS zcell, count(*) AS n, sum(zval)::BIGINT AS z_sum,
         |  min(ub) AS ub_min, max(ub) AS ub_max, min(tb) AS tb_min, max(tb) AS tb_max
         | FROM z GROUP BY 1 ORDER BY zcell""".om,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio,
        | CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        | FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) ORDER BY gid, status, prio""".om,
    "q_interval_join" ->
      """WITH li AS (SELECT l_suppkey AS key,
        |   datediff('day', DATE '1970-01-01', l_shipdate) AS lo,
        |   datediff('day', DATE '1970-01-01', l_shipdate)
        |     + (l_orderkey * 7 + l_linenumber) % 30 + 1 AS hi FROM lineitem),
        | win AS (SELECT s_suppkey AS key,
        |   8035 + (s_suppkey * 97) % 2500 AS rlo,
        |   8035 + (s_suppkey * 97) % 2500 + s_suppkey % 60 + 10 AS rhi
        |  FROM supplier)
        | SELECT li.key AS suppkey, count(*) AS n_overlaps,
        |  sum(least(hi, rhi) - greatest(lo, rlo) + 1)::BIGINT AS overlap_days
        | FROM li JOIN win ON li.key = win.key
        |   AND lo <= rhi AND rlo <= hi
        | GROUP BY 1 ORDER BY 1""".om,
    "q_range_join" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_suppkey,
        |   datediff('day', DATE '1970-01-01', l_shipdate) AS d FROM lineitem),
        | iv AS (SELECT l_suppkey, d AS lo,
        |   d + (l_orderkey * 7 + l_linenumber) % 30 + 1 AS hi FROM li)
        | SELECT p.l_orderkey, p.l_linenumber, count(*) AS in_transit
        | FROM li p JOIN iv ON iv.l_suppkey = p.l_suppkey
        |   AND p.d >= iv.lo AND p.d <= iv.hi
        | GROUP BY 1, 2 ORDER BY 1, 2""".om
  )

  implicit private class OneLine(val s: String) extends AnyVal {
    def om: String = s.stripMargin.replace("\n", " ")
  }
}
