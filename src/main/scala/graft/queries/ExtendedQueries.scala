package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Staging
import graft.Tables.t
import graft.functions.Aggregators
import graft.operators.TemporalJoins

/** Extended operator families: temporal joins (as-of / range / session),
  * pivot, grouping sets, string/list aggregation, custom UDAF, statistical
  * aggregates, approximate aggregates (tolerance-checked), and scalar
  * function batteries (date / string / conditional / map / array / explode).
  *
  * Approx-aggregate oracle technique: the query returns the EXACT value plus
  * a boolean `approx_ok` asserting the approximate form landed within
  * tolerance; the oracle computes the exact value and a literal TRUE — so the
  * hash compare verifies both the exact baseline and the sketch's bound.
  */
object ExtendedQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Shared sides of every as-of query: clicks, and purchases made unique
    * per (user, ts) — max event_id wins — so results are deterministic in
    * every engine. The bucketed variant (FormatQueries) writes these same
    * frames as bucketed tables first.
    */
  private[queries] def asofSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    // Cluster the dedup by user_id ALONE (a subset of the group keys
    // satisfies ClusteredDistribution): the aggregate then runs in one
    // pass on that exchange AND its output partitioning already satisfies
    // the downstream as-of join's per-key distribution — the native plan
    // drops a whole exchange+sort on the right side (r9 profile).
    val purchases = ev.filter(col("event_type") === "purchase")
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
        col("m.event_id").as("p_event_id"), col("m.value").as("p_value"))
    (clicks, purchases)
  }

  /** Shared output shape of every as-of query. */
  private[queries] def asofSelect(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"),
      col("p_event_id"), round(col("p_value"), 2).as("p_value"))
      .orderBy(col("event_id"))

  /** Shared DuckDB oracle; `cmp` is the ASOF inequality direction. */
  private[queries] def asofOracle(cmp: String): String =
    s"""WITH p AS (
       |  SELECT user_id, ts, max(event_id) AS p_event_id,
       |    arg_max(value, event_id) AS p_value
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
       |c AS (SELECT event_id, user_id, ts FROM events
       |      WHERE event_type = 'click')
       |SELECT c.event_id, c.user_id, p.p_event_id,
       |  round(p.p_value, 2) AS p_value
       |FROM c ASOF LEFT JOIN p
       |  ON c.user_id = p.user_id AND c.ts $cmp p.ts
       |ORDER BY c.event_id""".stripMargin

  val queries: Map[String, Q] = Map(
    // --- Temporal joins -----------------------------------------------------
    // For each click, the latest prior purchase of the same user. Right side
    // is made unique per (user, ts) first (max event_id wins) so the result
    // is deterministic in every engine.
    "asof_join" -> ((s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      asofSelect(TemporalJoins.asOfJoin(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts",
        Seq("p_event_id", "p_value")))
    }),

    // The same as-of semantics through the NATIVE physical operator
    // (graft.plans.AsOfJoinExec: custom logical node + strategy + exec,
    // sort-merge shape with a carried last-match — one co-partitioned
    // shuffle per side, no union, no window). Same oracle as asof_join:
    // DuckDB's built-in ASOF LEFT JOIN.
    "asof_join_native" -> ((s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      asofSelect(graft.plans.AsOfJoin.asOf(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts"))
    }),

    // FORWARD as-of through the same native operator: for each click, the
    // EARLIEST subsequent purchase (next-purchase attribution). DuckDB's
    // ASOF supports the forward inequality directly.
    "asof_join_forward" -> ((s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      asofSelect(graft.plans.AsOfJoin.asOf(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts", forward = true))
    }),

    // Broadcast interval join: band each event's value into literal buckets.
    "range_join_bucket" -> ((s, dir) => {
      val ranges = s.createDataFrame(Seq(
        ("xs", 0.0, 50.0), ("s", 50.0, 150.0),
        ("m", 150.0, 300.0), ("l", 300.0, 1000.0)))
        .toDF("band", "lo", "hi")
      TemporalJoins.rangeJoin(t(s, dir, "events"), ranges, "value", "lo", "hi")
        .select(col("event_id"), col("band"))
        .orderBy(col("event_id"))
    }),

    // Large x large interval join via bin explosion: purchase-derived value
    // windows [v, v+2) matched against click values as an EQUI join on the
    // bin key — the shape that survives when the ranges side is too big to
    // broadcast (the broadcast form is range_join_bucket). The AUTO width
    // (median interval length / 4 — BinSweep, removed; see
    // `git show e6d0d1b:src/main/scala/graft/tools/BinSweep.scala`)
    // keeps the candidate
    // volume within ~1.25x of the match count; telemetry
    // (range_join_binned_candidates) lands the measured volume in
    // bench_out. Aggregated per click; oracle runs the plain inequality
    // join, so the result is width-invariant by construction.
    "interval_join_binned" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("value"))
      val ranges = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("range_id"), col("value").as("lo"),
          (col("value") + 2.0).as("hi"))
      TemporalJoins.rangeJoinBinnedAuto(clicks, ranges,
          "value", "lo", "hi")
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_ranges"), min(col("range_id")).as("first_range"))
        .orderBy(col("event_id"))
    }),

    // Ordered conversion funnel (view → click → purchase, each step
    // strictly after the user's earliest previous-step event): chained
    // min(when(...)) windows over ONE user-key exchange — never a join or
    // self-join per step. Dump = per-step reach + conversion ppm.
    "conversion_funnel" -> ((s, dir) =>
      graft.operators.Funnel.conversionFunnel(t(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy(col("step"))),

    // Time-to-convert: for every user completing the full funnel, the
    // first-view → first-qualifying-purchase latency in whole seconds
    // (all-integer micros div). Same one-exchange window chain as
    // conversion_funnel — the latency is free once the step timestamps
    // exist.
    "funnel_latency" -> ((s, dir) => {
      val ts = graft.operators.Funnel.stepTimestamps(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      ts.filter(col("__t2").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(col("__t0")).as("t0"), min(col("__t2")).as("t2"))
        .select(col("user_id"),
          expr("(unix_micros(t2) - unix_micros(t0)) div 1000000")
            .as("latency_sec"))
        .orderBy(col("user_id"))
    }),

    // Retention cohorts: users cohorted by first-signup week, active-user
    // counts per week offset. All-integer week math off epoch days (div 7)
    // — engine-exact, no week-start conventions; pre-signup events
    // excluded before the division.
    "retention_cohorts" -> ((s, dir) =>
      graft.operators.Funnel.retentionCohorts(t(s, dir, "events"),
          "user_id", "event_type", "ts", signupType = "signup")
        .orderBy(col("cohort_week"), col("week_offset"))),

    // Top navigation paths: gap-sessionized event-type sequences, counted
    // and ranked. Path assembly is order-deterministic via
    // array_sort(collect_list(struct(ts, event_id, type))) — the struct
    // sort, not collection order, fixes the sequence — and top-k is the
    // total (n desc, path asc) order under an exact global cutoff
    // (TakeOrderedAndProject).
    "session_paths_topk" -> ((s, dir) => {
      val sess = TemporalJoins.sessionize(t(s, dir, "events"),
        "user_id", "ts", gapSeconds = 1800L, tiebreakCol = "event_id")
      sess.groupBy(col("user_id"), col("session_idx"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    }),

    // Gap-based sessionization (30-minute inactivity gap per user).
    "sessionize" -> ((s, dir) =>
      TemporalJoins.sessionize(t(s, dir, "events"),
          "user_id", "ts", gapSeconds = 1800L, tiebreakCol = "event_id")
        .select(col("event_id"), col("user_id"),
          col("session_idx"), col("session_id"))
        .orderBy(col("event_id"))),

    // Full outer join: unmatched rows survive from BOTH sides (users with
    // no orders and orders with out-of-range users).
    "join_full_outer" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val orders = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      cust.join(orders, cust("c_custkey") === orders("o_custkey"),
          "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          coalesce(col("c_mktsegment"), lit("(none)")).as("seg"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("k"))
    }),

    // Fixed-width histogram of a continuous column.
    "histogram_value" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("mean_v"))
        .orderBy(col("bucket"))),

    // Dataset profiling (the df.describe / SUMMARIZE analog): per-column
    // row/null/distinct counts and min/max. stack() unpivots map-side (a
    // narrow 4× row expansion, no join), then one shuffle on col_name;
    // count(DISTINCT) rides Spark's expand + partial aggregation. Columns
    // are profiled through their string form so both engines compare the
    // same representation (dates/ints format identically; doubles would
    // not, so none are profiled here).
    "profile_columns" -> ((s, dir) =>
      t(s, dir, "orders")
        .selectExpr(
          """stack(4,
            |  'o_orderstatus', o_orderstatus,
            |  'o_orderpriority', o_orderpriority,
            |  'o_custkey', cast(o_custkey AS string),
            |  'o_orderdate', cast(o_orderdate AS string)
            |) AS (col_name, v)""".stripMargin)
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_vals"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("col_name"))),

    // Salted shuffle join: hot fact keys spread over 8 reducers, dim side
    // replicated to match — output identical to the plain join (which is
    // exactly what the oracle checks).
    "salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(ev, cust,
          "user_id", "c_custkey", col("event_id"), salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // Skew-resistant two-phase aggregation: pre-aggregate on (key, salt) so a
    // hot key's rows spread over 8 reducers before the final per-key merge.
    // Identical results to the direct groupBy — which is what the oracle
    // checks; the payoff is at 100 TB when one user_id holds 1% of all rows.
    "salted_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("_salt", pmod(col("event_id"), lit(8)))
        .groupBy(col("user_id"), col("_salt"))
        .agg(count(lit(1)).as("c"), sum(col("value")).as("v"))
        .groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"), round(sum(col("v")), 2).as("total"))
        .orderBy(col("user_id"))),

    // Native session windows: events within a 30-minute inactivity gap merge
    // into one [start, last+gap) window per user. The oracle reconstructs
    // identical sessions with lag/cumsum (new session iff gap >= 30 min,
    // matching session_window's ts >= lastEnd semantics).
    "session_window_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("user_id"),
          col("n"), col("total"))
        .orderBy(col("user_id"), col("s_start"))),

    // Time-series resample with gap fill: the full hour × event_type grid
    // (sequence + explode + cross join — both dimension sides are tiny) left-
    // joined to actual hourly counts, empty buckets zero-filled. The grid is
    // generated, never scanned, so the fact side still reads once.
    "resample_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bounds = ev.agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val hours = bounds.select(explode(expr(
        "sequence(lo, hi, interval 1 hour)")).as("hour_start"))
      val types = ev.select(col("event_type")).distinct()
      val grid = hours.crossJoin(types)
      val actual = ev.groupBy(
          date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      grid.join(actual, Seq("hour_start", "event_type"), "left_outer")
        .select(col("hour_start"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // Analytic window battery: ntile/percent_rank/cume_dist/first/last over
    // a per-group frame.
    "window_analytics" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      val wFrame = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"),
          first(col("s_suppkey")).over(wFrame).as("poorest"),
          last(col("s_suppkey")).over(wFrame).as("richest"))
        .orderBy(col("s_suppkey"))
    }),

    // Linear-regression aggregates (slope/intercept/r2).
    "regr_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
            .as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
            .as("intercept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
        .orderBy(col("l_returnflag"))),

    // Blocking-based fuzzy join: candidate pairs share a cheap blocking key
    // (first word of the name) and are verified with edit distance — the
    // classic entity-resolution shape; blocking bounds the pair fan-out the
    // way LSH bands do for minhash.
    "fuzzy_name_join" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_partkey") < 500)
        .select(col("p_partkey").as("id"), col("p_name").as("name"),
          split(col("p_name"), " ").getItem(0).as("blk"))
      p.as("a").join(p.as("b"),
          col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          levenshtein(col("a.name"), col("b.name")).as("dist"))
        .filter(col("dist") <= 3 && col("dist") > 0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- Pivot / grouping sets ---------------------------------------------
    "pivot_status" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .withColumnRenamed("F", "n_f")
        .withColumnRenamed("O", "n_o")
        .withColumnRenamed("P", "n_p")
        .orderBy(col("o_orderpriority"))),

    "grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }),

    // --- String/list aggregation + custom UDAF + statistics -----------------
    "str_agg" -> ((s, dir) =>
      t(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",")
          .as("names"))
        .orderBy(col("s_nationkey"))),

    // Custom typed Aggregator (two-phase mergeable; functions/Aggregators).
    "udaf_geomean" -> ((s, dir) => {
      Aggregators.register(s)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("geo_mean(l_extendedprice)"), 4).as("gm_price"))
        .orderBy(col("l_returnflag"))
    }),

    "corr_covar" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
            .as("qty_price_cov"))
        .orderBy(col("l_returnflag"))),

    // --- Approximate aggregates (tolerance-checked against exact) -----------
    "approx_distinct_check" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count_distinct(col("l_partkey")).as("exact_nd"),
        (abs(approx_count_distinct(col("l_partkey")) -
            count_distinct(col("l_partkey"))).cast("double") <=
          count_distinct(col("l_partkey")).cast("double") * 0.1)
          .as("approx_ok"))),

    "approx_median_check" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 2).as("exact_median"),
        (abs(expr("percentile_approx(l_extendedprice, 0.5, 10000)") -
            expr("percentile(l_extendedprice, 0.5)")) <=
          expr("percentile(l_extendedprice, 0.5)") * 0.01).as("approx_ok"))),

    // Exact decimal arithmetic: money-typed aggregation is exact (no float
    // summation-order drift). The aggregation runs in decimal; the OUTPUT is
    // cast to double+round so both engines dump one concrete representation —
    // Spark's sum(decimal(18,2)) widens to decimal(28,2) while DuckDB widens
    // to DECIMAL(38,2) (and its avg returns DOUBLE), and the driver's hash is
    // sensitive to that representation even when values stringify identically.
    // The exactness claim itself is asserted in DecimalAggSpec.
    "decimal_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price_dec"))
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("price_dec")).cast("double"), 2).as("total_dec"),
          round(avg(col("price_dec")).cast("double"), 2).as("avg_dec"),
          round(max(col("price_dec")).cast("double"), 2).as("max_dec"))
        .orderBy(col("o_orderstatus"))),

    // --- Scalar function batteries ------------------------------------------
    "date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          datediff(lit("2000-01-01").cast("date"),
            col("o_orderdate").cast("date")).as("d_diff"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus3m"),
          last_day(col("o_orderdate").cast("date")).as("eom"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofyear(col("o_orderdate")).as("doy"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy(col("o_orderkey"))),

    "string_funcs" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "(\\w+)$", 1).as("last_word"),
          regexp_replace(col("p_type"), "[AEIOU]", "_").as("defanged"),
          split(col("p_name"), " ").getItem(0).as("first_word"),
          levenshtein(col("p_brand"), lit("Brand#1")).as("lev"),
          lpad(col("p_size").cast("string"), 4, "0").as("size4"),
          reverse(col("p_name")).as("rev"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tr"))
        .orderBy(col("p_partkey"))),

    "cond_null_funcs" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
            lit("(redacted)")).as("seg"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_pos"),
          least(col("c_acctbal"), lit(5000.0)).as("bal_cap"),
          when(col("c_acctbal") < 0, "neg").otherwise("pos").as("sign"))
        .orderBy(col("c_custkey"))),

    "map_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          element_at(map(lit("s"), col("o_orderstatus"),
            lit("p"), col("o_orderpriority")), "s").as("m_status"),
          array_join(map_keys(map(lit("s"), col("o_orderstatus"),
            lit("p"), col("o_orderpriority"))), ",").as("m_keys"),
          element_at(str_to_map(
            concat(lit("a:1,b:"), col("o_orderkey").cast("string"))), "b")
            .as("m_b"))
        .orderBy(col("o_orderkey"))),

    // `+ 0.0` after round: both engines may round a tiny negative to -0.0 or
    // 0.0 differently; IEEE -0.0 + 0.0 = +0.0 normalizes the sign on both.
    "array_funcs" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          (round(element_at(v, 1), 4) + 0.0).as("e1"),
          (round(aggregate(slice(array_sort(v), 1, 5), lit(0.0), _ + _), 4)
            + 0.0).as("sum_low5"),
          round(aggregate(zip_with(v, v, _ * _), lit(0.0), _ + _), 4)
            .as("norm_sq"))
        .orderBy(col("vec_id"))
    }),

    // Lateral explode: token rows with positions (generator/UDTF family).
    "explode_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+")))
        .toDF("doc_id", "pos", "token")
        .orderBy(col("doc_id"), col("pos"))),

    // UDTF surface (§2.10): the native `NgramGenerate` Generator streams
    // one row per bigram window out of the token array under GenerateExec —
    // no per-row n-gram array materialized, unlike the
    // transform(sequence(...))+explode formulation.
    "udtf_ngrams" -> ((s, dir) => {
      graft.functions.HashExpressions.register(s)
      t(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          expr("ngram_gen(split(trim(lower(text)), '\\\\s+'), 2)"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // SCD type-2 history: each per-customer order version carries its
    // validity interval — valid_from = its date, valid_to = the next
    // version's date (open/current when none). One window shuffle on the
    // key; the dimension-history pattern every warehouse keeps.
    "scd2_history" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate").as("valid_from"),
          lead(col("o_orderdate"), 1).over(w).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    }),

    // CDC upsert (MERGE INTO semantics without a table format): a derived
    // changeset — balance updates for custkey%10=0, deletes for %17=0 (when
    // not updated), fresh inserts above the key range — applied to the
    // customer snapshot. One anti-join + union; the oracle rebuilds the
    // same next-snapshot in SQL.
    "cdc_upsert" -> ((s, dir) => {
      val snap = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val updates = snap.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), lit("U").as("op"))
      val deletes = snap
        .filter(col("c_custkey") % 17 === 0 && col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          lit("D").as("op"))
      val inserts = snap.filter(col("c_custkey") % 100 === 7)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          lit("MACHINERY").as("c_mktsegment"), lit(0.0).as("c_acctbal"),
          lit("I").as("op"))
      graft.operators.Cdc.applyChanges(snap,
          updates.union(deletes).union(inserts), "c_custkey", "op")
        .orderBy(col("c_custkey"))
    }),

    // Dataset-version diff (what changed between two corpus snapshots):
    // keyed full-outer compare over EVERY non-key column, null-safe,
    // emitting only added/removed/changed keys — output scales with the
    // churn, not the corpus. Old = orders minus key%7, new = orders minus
    // key%5 with two columns mutated on disjoint key classes.
    "dataset_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldv = orders.filter(col("o_orderkey") % 7 =!= 0)
      val newv = orders.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 50.0)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit("RUSH"))
            .otherwise(col("o_orderpriority")))
      graft.operators.Cdc.snapshotDiff(oldv, newv, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // Parquet schema evolution: two generations of a table written with
    // different schemas (the second adds a column), read back as ONE table
    // with mergeSchema — old rows surface NULL for the new column. The
    // schema-drift posture every long-lived 100 TB dataset needs; merging
    // happens at footer level, scans stay columnar.
    "schema_evolution" -> ((s, dir) => {
      val out = Staging.dir(s, "graft-evolve-")
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          count(col("o_orderpriority")).as("n_with_priority"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    })
  )

  val oracles: Map[String, String] = Map(
    "asof_join" -> asofOracle(">="),

    "asof_join_native" -> asofOracle(">="),

    "asof_join_forward" -> asofOracle("<="),

    "interval_join_binned" ->
      """WITH c AS (SELECT event_id, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT event_id AS range_id, value AS lo, value + 2.0 AS hi
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, count(*) AS n_ranges,
        |  min(r.range_id) AS first_range
        |FROM c JOIN r ON c.value >= r.lo AND c.value < r.hi
        |GROUP BY c.event_id ORDER BY c.event_id""".stripMargin,

    "range_join_bucket" ->
      """SELECT e.event_id, r.band
        |FROM events e
        |JOIN (VALUES ('xs', 0.0, 50.0), ('s', 50.0, 150.0),
        |             ('m', 150.0, 300.0), ('l', 300.0, 1000.0)) r(band, lo, hi)
        |  ON e.value >= r.lo AND e.value < r.hi
        |ORDER BY e.event_id""".stripMargin,

    "conversion_funnel" ->
      """WITH t0 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t
        |  FROM events GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > t0.t
        |        THEN e.ts END) AS t
        |  FROM events e JOIN t0 USING (user_id) GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > t1.t
        |        THEN e.ts END) AS t
        |  FROM events e JOIN t1 USING (user_id) GROUP BY e.user_id),
        |c AS (
        |  SELECT (SELECT count(*) FROM t0) AS n_users,
        |    (SELECT count(*) FROM t0 WHERE t IS NOT NULL) AS n0,
        |    (SELECT count(*) FROM t1 WHERE t IS NOT NULL) AS n1,
        |    (SELECT count(*) FROM t2 WHERE t IS NOT NULL) AS n2)
        |SELECT * FROM (
        |  SELECT 1::BIGINT AS step, 'view' AS event_type,
        |    n0::BIGINT AS n_reached,
        |    (CASE WHEN n_users > 0 THEN n0 * 1000000 // n_users
        |          ELSE 0 END)::BIGINT AS conv_ppm FROM c
        |  UNION ALL
        |  SELECT 2::BIGINT, 'click', n1::BIGINT,
        |    (CASE WHEN n0 > 0 THEN n1 * 1000000 // n0 ELSE 0 END)::BIGINT
        |  FROM c
        |  UNION ALL
        |  SELECT 3::BIGINT, 'purchase', n2::BIGINT,
        |    (CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 ELSE 0 END)::BIGINT
        |  FROM c)
        |ORDER BY step""".stripMargin,

    "funnel_latency" ->
      """WITH t0 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t
        |  FROM events GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > t0.t
        |        THEN e.ts END) AS t
        |  FROM events e JOIN t0 USING (user_id) GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > t1.t
        |        THEN e.ts END) AS t
        |  FROM events e JOIN t1 USING (user_id) GROUP BY e.user_id)
        |SELECT t0.user_id,
        |  (date_diff('microsecond', t0.t, t2.t) // 1000000)::BIGINT
        |    AS latency_sec
        |FROM t0 JOIN t2 USING (user_id)
        |WHERE t2.t IS NOT NULL
        |ORDER BY user_id""".stripMargin,

    "retention_cohorts" ->
      """WITH f AS (
        |  SELECT user_id, min(ts::DATE) AS d0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (
        |  SELECT e.user_id,
        |    ((f.d0 - DATE '1970-01-01') // 7)::BIGINT AS cohort_week,
        |    ((e.ts::DATE - f.d0) // 7)::BIGINT AS week_offset
        |  FROM events e JOIN f USING (user_id)
        |  WHERE e.ts::DATE - f.d0 >= 0)
        |SELECT cohort_week, week_offset,
        |  count(DISTINCT user_id)::BIGINT AS n_active
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "session_paths_topk" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM (
        |    SELECT user_id, ts, event_id, event_type,
        |      CASE WHEN lag(ts) OVER w IS NULL
        |             OR epoch(ts - lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
        |        AS is_new
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))),
        |p AS (
        |  SELECT user_id, session_idx,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY user_id, session_idx)
        |SELECT path, count(*)::BIGINT AS n FROM p GROUP BY path
        |ORDER BY n DESC, path LIMIT 10""".stripMargin,

    "sessionize" ->
      """SELECT event_id, user_id, session_idx,
        |  user_id || '#' || session_idx AS session_id
        |FROM (
        |  SELECT event_id, user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
        |  FROM (
        |    SELECT event_id, user_id, ts,
        |      CASE WHEN lag(ts) OVER w IS NULL
        |             OR epoch(ts - lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
        |        AS is_new
        |    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
        |ORDER BY event_id""".stripMargin,

    "salted_agg" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "join_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS k,
        |  coalesce(c_mktsegment, '(none)') AS seg,
        |  coalesce(n_orders, 0) AS n_orders
        |FROM customer
        |FULL OUTER JOIN (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) o
        |  ON c_custkey = o_custkey
        |ORDER BY k""".stripMargin,

    "profile_columns" ->
      """WITH u AS (
        |  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders)
        |SELECT col_name, count(*) AS n_rows, count(v) AS n_vals,
        |  count(DISTINCT v) AS n_distinct,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,

    "histogram_value" ->
      """SELECT floor(value / 50.0)::BIGINT AS bucket, count(*) AS n,
        |  round(avg(value), 4) AS mean_v
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "salted_join" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "session_window_agg" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts - lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END
        |      AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end,
        |  user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    "resample_fill" ->
      """WITH hours AS (
        |  SELECT unnest(generate_series(
        |    date_trunc('hour', (SELECT min(ts) FROM events)),
        |    date_trunc('hour', (SELECT max(ts) FROM events)),
        |    INTERVAL 1 HOUR)) AS hour_start),
        |types AS (SELECT DISTINCT event_type FROM events),
        |actual AS (
        |  SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT h.hour_start, t.event_type, coalesce(a.n, 0) AS n
        |FROM hours h CROSS JOIN types t
        |LEFT JOIN actual a
        |  ON a.hour_start = h.hour_start AND a.event_type = t.event_type
        |ORDER BY h.hour_start, t.event_type""".stripMargin,

    "window_analytics" ->
      """SELECT s_suppkey, s_nationkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  first_value(s_suppkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS poorest,
        |  last_value(s_suppkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS richest
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,

    "regr_agg" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "fuzzy_name_join" ->
      """WITH p AS (
        |  SELECT p_partkey AS id, p_name AS name,
        |    string_split(p_name, ' ')[1] AS blk
        |  FROM part WHERE p_partkey < 500)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.name, b.name) AS dist
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.name, b.name) <= 3
        |  AND levenshtein(a.name, b.name) > 0
        |ORDER BY id_a, id_b""".stripMargin,

    "pivot_status" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "str_agg" ->
      """SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS names
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "udaf_geomean" ->
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_extendedprice))), 4) AS gm_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "corr_covar" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "approx_distinct_check" ->
      """SELECT count(DISTINCT l_partkey) AS exact_nd, TRUE AS approx_ok
        |FROM lineitem""".stripMargin,

    "approx_median_check" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 2) AS exact_median,
        |  TRUE AS approx_ok
        |FROM lineitem""".stripMargin,

    "decimal_agg" ->
      """SELECT o_orderstatus,
        |  round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 2) AS total_dec,
        |  round(avg(o_totalprice::DECIMAL(18,2))::DOUBLE, 2) AS avg_dec,
        |  round(max(o_totalprice::DECIMAL(18,2))::DOUBLE, 2) AS max_dec
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "date_funcs" ->
      """SELECT o_orderkey,
        |  date_diff('day', o_orderdate::DATE, DATE '2000-01-01') AS d_diff,
        |  (o_orderdate + INTERVAL 3 MONTH)::DATE AS plus3m,
        |  last_day(o_orderdate::DATE) AS eom,
        |  dayofweek(o_orderdate)::INT + 1 AS dow,
        |  quarter(o_orderdate)::INT AS qtr,
        |  dayofyear(o_orderdate)::INT AS doy,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "string_funcs" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '(\w+)$', 1) AS last_word,
        |  regexp_replace(p_type, '[AEIOU]', '_', 'g') AS defanged,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  levenshtein(p_brand, 'Brand#1') AS lev,
        |  lpad(p_size::VARCHAR, 4, '0') AS size4,
        |  reverse(p_name) AS rev,
        |  translate(p_name, 'aeiou', 'AEIOU') AS tr
        |FROM part ORDER BY p_partkey""".stripMargin,

    "cond_null_funcs" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(redacted)') AS seg,
        |  greatest(c_acctbal, 0.0) AS bal_pos,
        |  least(c_acctbal, 5000.0) AS bal_cap,
        |  CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "map_funcs" ->
      """SELECT o_orderkey,
        |  o_orderstatus AS m_status,
        |  's,p' AS m_keys,
        |  o_orderkey::VARCHAR AS m_b
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "array_funcs" ->
      """SELECT vec_id,
        |  len(embedding)::INT AS dim,
        |  round(embedding[1]::DOUBLE, 4) + 0.0 AS e1,
        |  round(list_sum(list_sort(embedding::DOUBLE[])[1:5]), 4) + 0.0
        |    AS sum_low5,
        |  round(list_inner_product(embedding::DOUBLE[],
        |                           embedding::DOUBLE[]), 4) AS norm_sq
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "scd2_history" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w AS valid_to,
        |  (lead(o_orderdate) OVER w IS NULL) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,

    "cdc_upsert" ->
      """WITH snap AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
        |SELECT c_custkey, c_mktsegment, c_acctbal FROM snap
        |WHERE NOT (c_custkey % 10 = 0
        |           OR (c_custkey % 17 = 0 AND c_custkey % 10 != 0))
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_acctbal + 100.0 FROM snap
        |WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey + 10000000, 'MACHINERY', 0.0 FROM snap
        |WHERE c_custkey % 100 = 7
        |ORDER BY c_custkey""".stripMargin,

    "dataset_diff" ->
      """WITH oldv AS (SELECT * FROM orders WHERE o_orderkey % 7 != 0),
        |newv AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 50.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'RUSH'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 5 != 0)
        |SELECT * FROM (
        |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
        |           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |           OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
        |           OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |         THEN 'changed' END AS change
        |  FROM oldv o FULL JOIN newv n ON o.o_orderkey = n.o_orderkey)
        |WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    "schema_evolution" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_priority,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "explode_tokens" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id < 20)
        |SELECT doc_id, i - 1 AS pos, ws[i] AS token
        |FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
        |ORDER BY doc_id, pos""".stripMargin,

    "udtf_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id < 20)
        |SELECT doc_id, i - 1 AS pos, ws[i] || ' ' || ws[i + 1] AS ngram
        |FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |ORDER BY doc_id, pos""".stripMargin
  )
}
