package graft.analytics

import graft.Tables.t
import graft.functions.Parity._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General analytics surface: scan-heavy aggregation, multi-way joins with
  * broadcast dims, window top-N, sessionization. These exercise the engine
  * the way the reference's consumers exercise a topic: full scans, ordered
  * per-key processing, time-bucketed rollups.
  *
  * Scale notes (100 TB): q1 is a single map-side-combinable aggregation (one
  * shuffle of |groups| rows); q3/q5 broadcast every dimension smaller than
  * ~10 MB and let AQE pick shuffle-hash vs sort-merge for the fact joins;
  * windows partition by the natural key (user) so state is bounded per key.
  */
object Analytics {

  def q1(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val price = money(col("l_extendedprice"))
    val disc = rate(col("l_discount"))
    val tax = rate(col("l_tax"))
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(money(col("l_quantity"))).as("sum_qty"),
        dsum(price).as("sum_base_price"),
        dsum(price * (one - disc)).as("sum_disc_price"),
        dsum(price * (one - disc) * (one + tax)).as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  def q3(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-07-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey")
      .agg(
        dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .as("revenue"),
        ms(min(col("o_orderdate"))).as("o_orderdate_ms"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  def q5(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = t(spark, dir, "lineitem")
    // Only genuinely tiny dims carry a broadcast hint (nation/region);
    // customer/supplier are left to AQE, which broadcasts at test scale
    // and shuffles at the multi-GB cluster scale.
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
        .as("revenue"))
  }

  /** Top-3 events by value per user (rank-per-group; deterministic tiebreak
    * on event_id so both engines agree on the cut).
    */
  def topnPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("value").as("val"),
        col("rn").cast("long").as("rn"))
  }

  /** Gap-based sessionization (30-minute inactivity gap) per user. */
  /** The 30-minute sessionization chain — the ONE spelling of the
    * per-user (tms, event_id) lag, the strictly-greater gap split, and
    * the running session id, shared by [[sessionize]] and
    * [[sessionConversion]] so the session rule cannot silently diverge
    * between them (EdgeEventsSpec pins its boundary semantics).
    */
  private def sessionFrame(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").withColumn("tms", nsToMs("ts"))
    val byUser = Window.partitionBy("user_id").orderBy("tms", "event_id")
    e.withColumn("prev", lag("tms", 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("tms") - col("prev") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum("new_s").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    sessionFrame(spark, dir)
      .groupBy("user_id", "sid")
      .agg(
        count(lit(1)).as("n_events"),
        min("tms").as("start_ms"),
        max("tms").as("end_ms"),
        dsum(money(col("value"))).as("sum_val"))
  }

  /** As-of join: attach to every non-signup event the user's most recent
    * signup at or before it (event-time state enrichment — the batch analog
    * of a stream-table join). Expressed as a carry-forward window rather
    * than a custom physical operator: one shuffle on the natural key, and
    * Catalyst/Tungsten keep it codegen'd — preferred over a bespoke
    * SparkPlan when composition expresses the semantics exactly.
    */
  def asofUserState(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").withColumn("tms", nsToMs("ts"))
    val w = Window.partitionBy("user_id").orderBy("tms", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("last_signup_ms",
        max(when(col("event_type") === "signup", col("tms"))).over(w))
      .filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), col("tms"),
        col("last_signup_ms"),
        (col("tms") - col("last_signup_ms")).as("ms_since_signup"))
  }

  /** TPC-H Q6-flavor selective scan: every predicate should reach the
    * parquet scan (PushedFilters) so the aggregation touches a fraction of
    * the rows.
    */
  def q6(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(
        dsum(money(col("l_extendedprice")) * rate(col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n"))

  /** Two-table as-of join through the custom physical operator
    * (graft.plans.AsOfJoinExec): every non-signup event joined to the
    * user's latest signup at-or-before it. The time coordinate folds the
    * event id mod 2^20 into the low bits — total order unless two same-user
    * events share a millisecond AND ids differ by a multiple of 2^20, which
    * needs a million events in one millisecond.
    */
  def asofJoinSignup(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .withColumn("et", expr("(ts div 1000000) * 1048576 + event_id % 1048576"))
    val left = ev.filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), col("et"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("su"),
        col("et").as("st"))
    graft.plans.AsOf.join(left, right, "user_id", "su", "et", "st")
      .select("event_id", "user_id", "et", "signup_id", "st")
  }

  /** Range (interval) join: every event within one hour after the same
    * user's signup. The user key makes this an equi-join with a residual
    * range predicate — the plan Catalyst picks (hash join + filter) is the
    * right one at scale because the band is blocked by a selective key; a
    * time-bucket blocking join would only be needed for keyless bands.
    */
  def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").withColumn("tms", nsToMs("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("tms").as("signup_ms"))
    ev.filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("event_id"), col("tms"))
      .join(signups, "user_id")
      .filter(col("tms") >= col("signup_ms") &&
        col("tms") < col("signup_ms") + 3600000L)
      .select(col("user_id"), col("signup_id"), col("event_id"),
        (col("tms") - col("signup_ms")).as("ms_after_signup"))
  }

  /** Keyless interval join via time-binning — the scale pattern for range
    * joins with NO equi-key: every error event opens a 10-minute incident
    * window, and we count ALL events (any user) landing inside it. A
    * naive plan is a broadcast nested loop over every (event, window)
    * pair; binning both sides to 10-minute grid cells turns it into an
    * equi-join on the cell (each window spans at most 2 cells, so the
    * join fan-out is bounded), with the exact range predicate as the
    * residual. Both join sides are count-compressed first (the
    * value_percentiles discipline): events to (cell, tms, n) and
    * incidents to their DISTINCT start times — denser traffic multiplies
    * the counts, not the join pairs, so pair work is bounded by
    * (distinct starts) x (distinct timestamps per window) at any event
    * rate (the raw-pair form measured 68x at 100x data; this form stays
    * sub-linear). Per-incident counts come back via one equi-join on
    * start_ms. Cells partition time, so the two exploded cells of a
    * window never double-count a timestamp row.
    */
  def incidentBlast(spark: SparkSession, dir: String): DataFrame = {
    val binMs = 600000L // cell size == window length: max 2 cells/window
    val evc = t(spark, dir, "events")
      .select(nsToMs("ts").as("tms"))
      .withColumn("cell", expr(s"tms div $binMs"))
      .groupBy("cell", "tms").agg(count(lit(1)).as("n"))
    val incidents = t(spark, dir, "events")
      .filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), nsToMs("ts").as("start_ms"))
    val starts = incidents.select("start_ms").distinct()
      .withColumn("cell", explode(array(
        expr(s"start_ms div $binMs"), expr(s"start_ms div $binMs") + 1L)))
    val perStart = starts.join(evc, "cell")
      .filter(col("tms") >= col("start_ms") &&
        col("tms") < col("start_ms") + binMs)
      .groupBy("start_ms").agg(sum("n").cast("long").as("n_events"))
    incidents.join(perStart, "start_ms")
      .select("incident_id", "start_ms", "n_events")
  }

  /** Fixed-bucket value histogram per topic (the declarative form of the
    * reference's stats histograms): bucket = floor(value / 50).
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type").as("topic"),
        expr("CAST(floor(`value` / 50.0) AS BIGINT)").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Exact distinct users per topic; the sketch-based estimate the
    * reference's DataSketches stats would produce is covered by a test
    * asserting approx_count_distinct lands within 5% of this.
    */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type").as("topic"))
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))

  /** Ordered funnel: per user, did signup -> view -> purchase happen in
    * that temporal order? Each stage time is the EARLIEST occurrence after
    * the previous stage (not the global first occurrence, which would
    * wrongly fail users whose first view predates their signup). Three
    * per-user aggregations, each joined back through a broadcast of the
    * tiny per-user frame.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    // Time-boxed to the first two days so the stages actually differentiate
    // (over the full month every user completes the funnel).
    val e = t(spark, dir, "events").withColumn("tms", nsToMs("ts"))
      .filter(col("tms") < lit(1704240000000L)) // 2024-01-03 00:00 UTC
    val s1 = e.groupBy("user_id").agg(
      min(when(col("event_type") === "signup", col("tms"))).as("t_signup"))
    val s2 = e.join(broadcast(s1), "user_id")
      .groupBy("user_id").agg(
        min(when(col("event_type") === "view" && col("tms") > col("t_signup"),
          col("tms"))).as("t_view"),
        min("t_signup").as("t_signup"))
    val s3 = e.join(broadcast(s2), "user_id")
      .groupBy("user_id").agg(
        min(when(col("event_type") === "purchase" && col("tms") > col("t_view"),
          col("tms"))).as("t_purchase"),
        min("t_signup").as("t_signup"),
        min("t_view").as("t_view"))
    s3.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("reached_signup"),
      sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("reached_view"),
      sum(when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("reached_purchase"))
  }

  /** Weekly cohort retention: users grouped by first-seen week, counted in
    * each subsequent week they return. The cohort matrix every
    * event-stream product ships.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .withColumn("week", expr("(ts div 1000000) div 604800000"))
    val firstWeek = e.groupBy("user_id").agg(min("week").as("cohort"))
    e.select("user_id", "week").distinct()
      .join(firstWeek, "user_id")
      .groupBy("cohort", "week")
      .agg(countDistinct("user_id").as("n_active"))
      .withColumn("weeks_since", col("week") - col("cohort"))
      .select("cohort", "weeks_since", "n_active")
  }

  /** Two-phase salted aggregation: the 5 event types are a pathologically
    * skewed grouping key (one reducer per key at cluster scale), so phase 1
    * aggregates on (key, salt=event_id mod 16) spreading each hot key over
    * 16 reducers, and phase 2 combines the 80 partials. Result is exactly
    * the direct groupBy (the oracle computes the direct form), cost is two
    * tiny shuffles instead of one skewed one.
    */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"), pmod(col("event_id"), lit(16L)).as("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(money(col("value"))).as("psum"),
        max(col("value")).as("pmax"))
      .groupBy("event_type")
      .agg(
        sum("pn").cast("long").as("n"),
        sum("psum").cast("double").as("sum_val"),
        max("pmax").as("max_val"))

  /** Last-touch attribution: every purchase attributed to the user's most
    * recent view at-or-before it — a second consumer of the custom as-of
    * operator (purchases are the left stream, views the dimension).
    */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .withColumn("et", expr("(ts div 1000000) * 1048576 + event_id % 1048576"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("et"), col("value").as("amount"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"),
        col("et").as("vt"))
    graft.plans.AsOf.join(purchases, views, "user_id", "vu", "et", "vt")
      .select("event_id", "user_id", "et", "amount", "view_id", "vt")
  }

  /** TPC-H Q7-flavor: shipping volume between supplier and customer
    * nations for a nation pair, by year — two broadcast dimension chains
    * hanging off the fact join.
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val n1 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val pairFilter =
      (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3")
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(pairFilter)
      .withColumn("l_year", year(col("l_shipdate")).cast("long"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
        .as("revenue"))
  }

  /** TPC-H Q4-flavor: orders with at least one late line item, counted by
    * priority — the left-semi (EXISTS) join shape.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val late = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"))
    o.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** Parts with no shipment since 2001 — the left-anti (NOT EXISTS) join
    * shape (dormant-inventory report).
    */
  def partsUnordered(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .join(t(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("l_partkey")),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_brand"), col("p_size").cast("long").as("p_size"))

  /** Throughput with ROLLUP subtotals: per (topic, partition), per topic,
    * and grand total in one pass.
    */
  def throughputRollup(spark: SparkSession, dir: String): DataFrame =
    graft.log.LogOps.logBase(spark, dir)
      .rollup("topic", "part")
      .agg(count(lit(1)).as("n"),
        sum(length(col("v"))).cast("long").as("bytes"))

  private val topics = Seq("click", "error", "purchase", "signup", "view")

  /** Per-user activity matrix: one column per topic (pivot). */
  def pivotTopics(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", topics)
      .count()
      .na.fill(0L, topics)

  /** The inverse reshape (unpivot/melt) back to (user_id, topic, n) — the
    * round trip a reporting layer needs in both directions.
    */
  def unpivotTopics(spark: SparkSession, dir: String): DataFrame =
    pivotTopics(spark, dir)
      .unpivot(Array(col("user_id")), topics.map(col).toArray, "topic", "n")

  /** Daily active users with the day's share of the monthly actives
    * (DAU and DAU/MAU stickiness — the engagement rollup every event
    * product reports).
    */
  def dauStickiness(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .withColumn("day", expr("(ts div 1000000) div 86400000"))
    val dau = e.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val mau = e.agg(countDistinct("user_id").as("mau"))
    dau.crossJoin(broadcast(mau))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau") / col("mau")).as("stickiness"))
  }

  /** Per-topic daily error rate: the error-events share of all events that
    * day (operational health rollup).
    */
  def errorRate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("day", expr("(ts div 1000000) div 86400000"))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .withColumn("error_rate", col("n_errors") / col("n_events"))

  /** TPC-H Q15-flavor: the top-revenue supplier(s) for a quarter — the
    * "equal to a scalar aggregate" pattern (rank-free, ties kept).
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
        .as("total_revenue"))
    val best = rev.agg(max("total_revenue").as("best"))
    rev.crossJoin(broadcast(best))
      .filter(col("total_revenue") === col("best"))
      .join(broadcast(t(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** Order-size distribution: how many orders have k line items. */
  def orderSizeDistribution(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"))
      .groupBy("n_items")
      .agg(count(lit(1)).as("n_orders"))

  /** TPC-H Q10 flavor: top-20 customers by revenue lost to returns
    * (l_returnflag = 'R'), with the customer's nation broadcast in.
    */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val n = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(
        dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .as("revenue"),
        min("c_acctbal").as("c_acctbal"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q12 flavor: high- vs low-priority order counts per ship year
    * (the reference schema has no ship mode; priority plays its role).
    */
  def q12(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_year", year(col("l_shipdate")).cast("long"))
      .groupBy("ship_year")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_count"))

  /** TPC-H Q14: promotion revenue share over a month — conditional
    * aggregation with a broadcast part join; the share is a division of
    * two exact decimal sums, so it is bit-identical across engines.
    */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val rev = money(col("l_extendedprice")) * (one - rate(col("l_discount")))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", rev).otherwise(money(lit(0))))
          .as("promo_revenue"),
        dsum(rev).as("total_revenue"))
      .withColumn("promo_share",
        col("promo_revenue") / col("total_revenue"))
  }

  /** TPC-H Q18: large-volume orders — orders whose total quantity exceeds
    * 300 (HAVING over a fact-side aggregate), then customer attribution.
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(dsum(money(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > 300.0)
    big.join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        ms(col("o_orderdate")).as("o_orderdate_ms"),
        money(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("total_qty"))
  }

  /** TPC-H Q8 flavor: a supplier nation's revenue share of the ASIA
    * market per order year — the share is a division of two exact decimal
    * sums over the same joined frame (one pass, conditional numerator).
    */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val rev = money(col("l_extendedprice")) * (one - rate(col("l_discount")))
    val nS = t(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val nC = t(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val asiaC = nC.join(broadcast(t(spark, dir, "region")
        .filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaC), col("c_nationkey") === col("c_nk"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nS), col("s_nationkey") === col("s_nk"))
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .groupBy("o_year")
      .agg(
        dsum(when(col("supp_nation") === "NATION_3", rev)
          .otherwise(money(lit(0)))).as("nation_revenue"),
        dsum(rev).as("total_revenue"))
      .withColumn("mkt_share", col("nation_revenue") / col("total_revenue"))
  }

  /** TPC-H Q9 flavor (product-type profit by nation and year): lineitems
    * of red parts joined through orders (for the year), supplier, and the
    * supplier's nation; profit per (nation, o_year). The testdata carries
    * no partsupp table, so the classic `ps_supplycost * l_quantity`
    * subtrahend is omitted (documented deviation) — what the query
    * exercises is Q9's star topology: the filtered part list and the
    * 25-row nation dim broadcast, the fact side joining only on
    * orderkey/suppkey, profit aggregated with exact decimal arithmetic.
    */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    val profit = money(col("l_extendedprice")) * (one - rate(col("l_discount")))
    val redParts = t(spark, dir, "part")
      .filter(col("p_name").startsWith("red")).select("p_partkey")
    t(spark, dir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      // supplier is the small dim of the star (1/10th of customer): pin the
      // broadcast rather than leaving the choice to AQE's runtime estimate,
      // so the fact side shuffles only for orderkey and the aggregation.
      .join(broadcast(t(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(
        dsum(profit).as("sum_profit"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q16 flavor (parts/supplier relationship): distinct suppliers
    * per (brand, type, size) for a filtered part universe, excluding
    * suppliers on the complaint list — the NOT-IN-subquery shape, planned
    * as a broadcast anti join. The part/supplier bridge comes from
    * lineitem's (l_partkey, l_suppkey) pairs (the testdata has no
    * partsupp table; same documented deviation as q9_profit), and the
    * negative-balance suppliers stand in for Q16's complaints predicate
    * (no s_comment column). Scale: broadcast part filter prunes the fact
    * scan, broadcast anti join removes excluded suppliers before the one
    * aggregation shuffle; the distinct rides inside the aggregate.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(3, 9, 14, 19, 23, 36))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val complained = t(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    t(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(complained), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
  }

  /** TPC-H Q2 flavor (min-cost supplier per part in a region): for each
    * size-15 part, the EUROPE-region supplier(s) quoting the lowest price,
    * where the part/supplier bridge and its quoted cost come from lineitem
    * (min extended price per (part, supplier) — the testdata carries no
    * partsupp table; same documented deviation as q9_profit/q16). Q2's
    * correlated-MIN-subquery shape plans as one window min over the part
    * key. Scale: the bridge aggregates on the fact's natural (partkey,
    * suppkey) key after a broadcast part-filter prune; the supplier ->
    * nation -> region dim chain broadcasts; the window partitions on
    * p_partkey — full parallelism, no global sort.
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part").filter(col("p_size") === 15)
      .select("p_partkey", "p_brand", "p_type")
    val eur = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val bridge = t(spark, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "p_brand", "p_type", "l_suppkey")
      .agg(min(money(col("l_extendedprice"))).as("cost_dec"))
    val w = Window.partitionBy("p_partkey")
    bridge.join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
      .withColumn("min_cost", min("cost_dec").over(w))
      .filter(col("cost_dec") === col("min_cost"))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"),
        col("cost_dec").cast("double").as("supply_cost"))
  }

  /** TPC-H Q11 flavor (important part values): each part's inventory value
    * from one nation's suppliers (exact decimal sum of price x quantity
    * over the lineitem bridge — no partsupp, documented deviation), kept
    * when it exceeds 1/500 of the nation's total — Q11's
    * group-sum-vs-global-threshold shape. The threshold compare runs on
    * the decimal sums cast to double (identical bits on both engines; the
    * division by 500.0 is a single deterministic IEEE op). Scale: one
    * partial-aggregated shuffle on partkey; the global total is a
    * broadcast 1-row frame — no second pass over the fact.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val nat = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation").filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val pv = t(spark, dir, "lineitem")
      .join(broadcast(nat), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(money(col("l_extendedprice")) * money(col("l_quantity")))
        .as("value_dec"))
    val tot = pv.agg(sum("value_dec").cast("double").as("total_value"))
    pv.crossJoin(broadcast(tot))
      .filter(col("value_dec").cast("double") > col("total_value") / 500.0)
      .select(col("p_partkey"), col("value_dec").cast("double").as("part_value"))
  }

  /** TPC-H Q20 flavor (suppliers with excess stock): per (supplier, red
    * part) the quantity shipped in 1995 vs all years (the lineitem bridge
    * stands in for partsupp availability, documented deviation); a part is
    * in excess when its 1995 share is over half the total, and the view
    * lists one nation's suppliers holding at least one excess part — Q20's
    * nested-semi-join shape collapsed to one conditional aggregate + two
    * broadcast joins. The share compare runs in doubles (2.0 * x is exact
    * IEEE scaling). Scale: one partial-aggregated shuffle on the bridge
    * key; supplier/nation dims broadcast.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val redParts = t(spark, dir, "part")
      .filter(col("p_name").startsWith("red")).select("p_partkey")
    val sup = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    t(spark, dir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "p_partkey")
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("qty_total"),
        sum(when(year(col("l_shipdate")) === 1995, money(col("l_quantity")))
          .otherwise(money(lit(0)))).cast("double").as("qty_1995"))
      .filter(col("qty_1995") * 2.0 > col("qty_total"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_excess_parts"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name", "n_excess_parts")
  }

  /** TPC-H Q19 flavor: OR-of-ANDs bracket predicate over a broadcast part
    * join (brand x size-range x quantity-range brackets) — the disjunctive
    * pushdown shape.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val bracket =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(10, 40) &&
        col("l_quantity").between(20, 50))
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(
        dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Native session windows: the same gap-based sessions as [[sessionize]]
    * but through Spark's `session_window` operator — the streaming-capable
    * form (the identical groupBy runs under readStream with a watermark).
    * Boundary semantics differ from the window-function form on one edge:
    * windows merge only when the next event lands strictly inside
    * [start, last + gap), so a gap of exactly 30 min starts a new session;
    * the oracle mirrors that split rule.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .withColumn("tms", nsToMs("ts"))
      .withColumn("ets", timestamp_millis(col("tms")))
    e.groupBy(col("user_id"), session_window(col("ets"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(money(col("value"))).as("sum_val"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"),
        col("n_events"), col("sum_val"))
  }

  /** CUBE over (topic, day-of-week): all four grouping combinations in one
    * pass (per cell, per topic, per dow, grand total) with grouping_id
    * disambiguating the subtotal rows — the reference's stats counters
    * (RequestStats.java) generalized to multi-dimensional rollups.
    */
  def cubeTopicDow(spark: SparkSession, dir: String): DataFrame =
    graft.log.LogOps.logBase(spark, dir)
      .withColumn("dow", expr("(tms div 86400000) % 7"))
      .cube("topic", "dow")
      .agg(
        count(lit(1)).as("n"),
        dsum(money(col("val"))).as("sum_val"),
        grouping_id().as("gid"))

  /** Revenue by region with nation drill-down — ROLLUP(r_name, n_name)
    * semantics (per-nation gid=0, per-region subtotal gid=1, grand
    * total gid=3: DuckDB's GROUPING encoding, which the oracle runs
    * literally) built as ONE fact-scan aggregation to the
    * |nations|-row frame plus two re-aggregations of that frame.
    * Deliberately not Dataset.rollup: its Expand would triple every
    * fact row through the shuffle, while the decimal partial sums here
    * make the subtotals bit-identical at a third of the shuffle volume
    * (and rollup downstream of a join trips Spark's self-join
    * ambiguity detector besides).
    */
  def nationRevenueRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r17: the per-(region, nation) frame is bounded by the nation
    // universe (25 rows) — the auth_failure_delay discipline applies:
    // collect it (it IS the broadcast) and derive the two subtotal
    // grains driver-side instead of localCheckpoint + two
    // re-aggregation jobs (measured: 15 jobs -> 2, 1.81s -> ~1.0s warm
    // at sf0.1; decimal addition is exact and associative, so the
    // driver-side subtotals are bit-identical to the re-aggregated
    // ones, oracle-checked).
    val nat = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("rn"), col("n_name").as("nn"))
      .agg(count(lit(1)).as("n_items"),
        // decimal partial sums: subtotal re-aggregation stays exact
        sum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .as("rev_d"))
      // Collect the decimal as its exact string form: a DecimalType in a
      // collect()'s deserializer fails codegen (SafeProjection falls back
      // to interpreter mode) and the failed compile is re-paid on EVERY
      // collect — measured 1.58s vs 0.09s warm for this 25-row frame.
      // String -> BigDecimal round-trips the value exactly.
      .withColumn("rev_s", col("rev_d").cast("string")).drop("rev_d")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        new java.math.BigDecimal(r.getString(3))))
    def dsumJ(ds: Seq[java.math.BigDecimal]): Double =
      ds.reduce(_.add(_)).doubleValue // exact add, then the same
                                      // Decimal->double cast Spark does
    val nation = nat.map { case (rn, nn, n, d) =>
      (Option(rn), Option(nn), Option(n), Option(d.doubleValue), 0L)
    }
    val region = nat.groupBy(_._1).toSeq.map { case (rn, rs) =>
      (Option(rn), None: Option[String], Option(rs.map(_._3).sum),
        Option(dsumJ(rs.map(_._4).toSeq)), 1L)
    }
    // Empty input: the ungrouped aggregate still yields one row, with
    // null sums — exactly what the old total branch produced.
    val total = Seq((None: Option[String], None: Option[String],
      if (nat.isEmpty) None else Some(nat.map(_._3).sum),
      if (nat.isEmpty) None else Some(dsumJ(nat.map(_._4).toSeq)), 3L))
    (nation.toSeq ++ region ++ total)
      .toDF("r_name", "n_name", "n_items", "revenue", "gid")
  }

  /** Customer spend deciles via NTILE — the tiering view a marketing
    * consumer reads (decile boundaries + population and revenue per
    * tier). Totals are decimal-exact per customer, and the NTILE order
    * is made deterministic by the (total, custkey) tie-break, so both
    * engines assign identical tiers. The window runs on the
    * |customers|-row aggregated frame, not the fact scan.
    */
  def customerSpendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val totals = t(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(dsum(money(col("o_totalprice"))).as("total"))
    // Global rank WITHOUT a single-task ORDER BY window (the NTILE
    // default): $1000-wide value buckets align bucket order with value
    // order, per-bucket counts prefix-sum into a broadcast offset table
    // (the corpus_shuffle 256-bucket discipline, value-keyed), and each
    // bucket ranks in parallel. The tier arithmetic then reproduces
    // NTILE's first-tiles-get-the-remainder split in pure integers —
    // the oracle runs DuckDB's literal NTILE(10), so the two
    // implementations cross-check.
    // |customers|-row frame consumed three times below (offsets, count,
    // rank join) — checkpoint so the orders scan + decimal aggregation
    // run ONCE instead of per consumer.
    // A customer whose every o_totalprice is null has a null total. The
    // oracle's NTILE orders ASC NULLS LAST (DuckDB's default), so null
    // totals take the last bucket and rank after every real total, ties
    // broken by custkey — nulls last there too.
    val b = totals
      .withColumn("bucket", coalesce(
        floor(col("total") / lit(1000.0)).cast("long"), lit(Long.MaxValue)))
      .localCheckpoint()
    // The bucket-count frame is <= |distinct $1000 buckets| rows —
    // metadata at any scale. Collect it ONCE and derive the offset table
    // (exact long prefix sums) and the global count driver-side (guide §5
    // bounded driver work, the nation_revenue_rollup discipline): this
    // replaces the offset window's exchange+sort job AND the separate
    // global-count job with one tiny collect.
    val bucketCounts = b.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = bucketCounts.map(_._2).sum
    val offRows = {
      var acc = 0L
      bucketCounts.map { case (bucket, bn) =>
        val r = org.apache.spark.sql.Row(bucket, acc); acc += bn; r }
    }
    val offs = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("off",
          org.apache.spark.sql.types.LongType, nullable = false))))
    b.join(broadcast(offs), "bucket")
      .withColumn("rank",
        col("off") + row_number().over(
          Window.partitionBy("bucket")
            .orderBy(col("total").asc_nulls_last, col("o_custkey").asc_nulls_last))
          .cast("long"))
      .withColumn("n", lit(n))
      .withColumn("decile",
        expr("""CASE WHEN rank <= (n % 10) * (n div 10 + 1)
               |  THEN (rank - 1) div (n div 10 + 1) + 1
               |  ELSE (n % 10) + (rank - (n % 10) * (n div 10 + 1) - 1)
               |    div (n div 10) + 1 END""".stripMargin))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        min("total").as("min_total"),
        max("total").as("max_total"),
        // decimal re-sum: a raw double sum would be fold-order-dependent
        sum(col("total").cast("decimal(18,2)")).cast("double")
          .as("sum_total"))
  }

  /** Sketch-accuracy evaluation for distinct counting: per event type,
    * the exact distinct-user count next to a fully DETERMINISTIC
    * textbook HLL built from the engine-wide md5 hash — m = 4096
    * registers (idx = low 12 bits, rho = leading-zero rank of the
    * remaining 44 bits), the exact register table summarized
    * (zero-register count — linear counting's sufficient statistic —
    * max/sum of rho), and the raw harmonic estimate
    * alpha·m²/Σ2^(−M_j) evaluated in exact integer arithmetic (the
    * 2^−M_j terms share denominator 2^62, so the sum is an exact
    * DECIMAL(38) numerator; alpha is the quantized 721110 ppm constant
    * for m = 4096). Every column is integer-exact and engine-portable,
    * so the WHOLE evaluation is DuckDB-oracle hash-exact — unlike
    * Spark's approx_count_distinct, whose HLL++ register hashing is
    * engine-specific (that sketch's error bound stays spec-pinned in
    * OperatorSpec next to this frame's register invariants). No
    * small-range correction: the raw formula is reported as defined, and
    * err_ppm is its honest (large, at n << m) quantified bias; the
    * linear-counting estimate a production read path would use below
    * 2.5m derives from n_zero_registers (spec-pinned within 5%).
    *
    * Scale: the register table is the whole point — 4096 fixed-size
    * partials per group replace a user-keyed exchange; the max-per-
    * register aggregation is map-side combinable, and the full-universe
    * left join runs on the |types|·4096 metadata frame.
    */
  /** The exact HLL register table (event_type, idx, m_j) — the ONE
    * spelling shared by [[hllDistinctEval]] and the streaming register
    * monitor (max-per-register is merge- and delivery-order invariant,
    * which is the whole reason HLL replaces a user-keyed exchange at
    * 100 TB).
    */
  private[graft] def hllRegisterRollup(df: DataFrame): DataFrame = {
    import graft.functions.Parity.md5Long
    df.filter(col("user_id").isNotNull)
      .select(col("event_type"),
        md5Long(concat(lit("hll#"), col("user_id"))).as("h"))
      .withColumn("idx", pmod(col("h"), lit(4096L)))
      .withColumn("rest", expr("h div 4096"))
      .withColumn("rho", when(col("rest") === 0L, 45L)
        .otherwise(lit(45L) - length(bin(col("rest")))))
      .groupBy("event_type", "idx")
      .agg(max("rho").cast("long").as("m_j"))
  }

  def hllDistinctEval(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    val regs = hllRegisterRollup(ev)
    val universe = exact.select("event_type")
      .crossJoin(broadcast(spark.range(0, 4096, 1, 1)
        .select(col("id").as("idx"))))
    val sums = universe.join(regs, Seq("event_type", "idx"), "left")
      .withColumn("m_j", coalesce(col("m_j"), lit(0L)))
      .groupBy("event_type")
      .agg(
        sum(when(col("m_j") === 0L, 1L).otherwise(0L)).cast("long")
          .as("n_zero_registers"),
        max("m_j").as("max_rho"),
        sum("m_j").cast("long").as("sum_rho"),
        sum(expr(
          "CAST(shiftleft(1L, CAST(62 - m_j AS INT)) AS DECIMAL(38,0))"))
          .as("sum_q"))
    exact.join(sums, "event_type")
      .withColumn("m_registers", lit(4096L))
      // alpha_ppm(4096)·4096²·2^62 precomputed — 32 digits, inside
      // DECIMAL(38)/HUGEINT; div by (1e6·sum_q) is exact both engines.
      .withColumn("hll_raw_users", expr(
        """CAST(CAST('55793183858067535627031716823040' AS DECIMAL(38,0))
          |  div (CAST(1000000 AS DECIMAL(38,0)) * sum_q) AS BIGINT)"""
          .stripMargin))
      .withColumn("err_ppm",
        // An all-NULL user_id group yields exact_users = 0: degrade to
        // 0 ppm rather than an ANSI DIVIDE_BY_ZERO stage abort.
        expr("""CASE WHEN exact_users > 0
               |  THEN (1000000 * abs(hll_raw_users - exact_users))
               |    div exact_users
               |  ELSE 0 END""".stripMargin))
      .select(col("event_type"), col("exact_users"), col("m_registers"),
        col("n_zero_registers"), col("max_rho"), col("sum_rho"),
        col("hll_raw_users"), col("err_ppm"))
  }

  /** Session-level conversion audit: the 30-minute sessionization chain
    * ([[sessionize]]'s exact session ids) rolled up by session LENGTH —
    * per n_events bucket, the session count, how many contained a
    * purchase, the conversion rate in integer basis points, and the
    * summed dwell time — the "how long do converting journeys run"
    * curve a funnel review reads next to the per-step [[funnel]].
    * Same one per-user window pass as sessionize; the length rollup is
    * a bounded second aggregation (session length is schema-free but
    * its distinct values are tiny).
    */
  def sessionConversion(spark: SparkSession, dir: String): DataFrame = {
    sessionFrame(spark, dir)
      .groupBy("user_id", "sid")
      .agg(
        count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"),
        (max("tms") - min("tms")).as("dur_ms"))
      .groupBy("n_events")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("conv").cast("long").as("n_converted"),
        sum("dur_ms").cast("long").as("sum_dur_ms"))
      .withColumn("conv_bp", expr("(10000 * n_converted) div n_sessions"))
  }

  /** Markov transition matrix over the per-user event chains: each
    * (from, to) transition count normalized into a probability in
    * integer parts-per-million (truncating div — engine-exact) with
    * the per-from rank (count desc, to_type asc), so "what does a user
    * do after X" reads directly off rnk = 1. Rides the same one-pass
    * lag chain as [[eventTransitions]]; the normalization join and the
    * rank window run on the |event_types|² count frame — metadata.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val tr = eventTransitions(spark, dir)
    val tot = tr.groupBy("from_type").agg(sum("n").cast("long").as("n_from"))
    val w = Window.partitionBy("from_type")
      .orderBy(col("n").desc, col("to_type"))
    tr.join(broadcast(tot), "from_type")
      .withColumn("p_ppm", expr("(1000000 * n) div n_from"))
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  /** Second-order Markov transitions: per (e1, e2) event-pair prefix,
    * the next-event distribution in integer ppm with per-prefix ranks —
    * the journey-mining refinement of [[transitionMatrix]] (what a user
    * does after a VIEW depends on whether an ERROR preceded it; the
    * first-order matrix averages that away). One window pass with two
    * lags (same shuffle key as the first-order chain); everything
    * after runs on the |types|³ metadata frame.
    */
  def transitionMatrix2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = t(spark, dir, "events")
      .withColumn("from2", lag(col("event_type"), 1).over(w))
      .withColumn("from1", lag(col("event_type"), 2).over(w))
      .filter(col("from1").isNotNull)
      .groupBy(col("from1"), col("from2"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy("from1", "from2")
      .agg(sum("n").cast("long").as("n_from"))
    val rw = Window.partitionBy("from1", "from2")
      .orderBy(col("n").desc, col("to_type"))
    tr.join(broadcast(tot), Seq("from1", "from2"))
      .withColumn("p_ppm", expr("(1000000 * n) div n_from"))
      .withColumn("rnk", row_number().over(rw).cast("long"))
  }

  /** Cohort lifetime-value curve: per signup-week cohort (first event
    * of ANY type, the [[cohortRetention]] convention) and week-since,
    * the purchase count, that week's decimal-exact value, and the
    * CUMULATIVE value — the LTV trajectory a growth model fits. The
    * cumulative window sums decimals over the (cohort, weeks_since)
    * frame (≤ weeks² rows — metadata), so the running total is exact
    * and only the final surfaces cast to double.
    *
    * Scale: the cohort frame is one user-keyed rollup of the event
    * scan; purchases join it on user_id (the one data-sized join) and
    * roll up to the bounded cohort grid.
    */
  def userLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .withColumn("week", expr("(ts div 1000000) div 604800000"))
    val firstWeek = e.groupBy("user_id").agg(min("week").as("cohort"))
    val cohortSize = firstWeek.groupBy("cohort")
      .agg(count(lit(1)).as("cohort_users"))
    e.filter(col("event_type") === "purchase")
      .join(firstWeek, "user_id")
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("weeks_since"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(money(col("value"))).as("wk_dec"))
      .withColumn("cum_dec",
        sum("wk_dec").over(Window.partitionBy("cohort")
          .orderBy("weeks_since")))
      .join(broadcast(cohortSize), "cohort")
      .select(col("cohort"), col("weeks_since"), col("cohort_users"),
        col("n_purchases"), col("wk_dec").cast("double").as("wk_value"),
        col("cum_dec").cast("double").as("cum_value"))
  }

  /** RFM user segmentation — the classic marketing tiering over the
    * purchase stream: per user, Recency (last purchase day), Frequency
    * (purchase count), and Monetary ($100-quantized decimal spend) each
    * map to a quartile score 1..4 (4 = best), and the segment rollup
    * carries a canonical label (champion / loyal / at_risk / lost /
    * regular). Quartiles are VALUE-level, not row-level: q = 1 +
    * (4 * users_strictly_below) div n, so ties share a score (NTILE
    * would split them arbitrarily) and the assignment is deterministic
    * in both engines with pure integer arithmetic.
    *
    * Scale: ONE user-keyed aggregation of the purchase scan (the frame
    * is localCheckpoint'ed for its four consumers); each dimension's
    * distribution compresses to a (value, count) rollup over a
    * BOUNDED domain — days, small counts, $100 buckets — so the
    * cumulative window runs on metadata and broadcasts back; the final
    * rollup is ≤ 64 segment rows.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val u = t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        max(expr("(ts div 1000000) div 86400000")).as("r_v"),
        count(lit(1)).as("f_v"),
        sum(money(col("value"))).as("m_dec"))
      .withColumn("m_v", expr("CAST(floor(m_dec / 100) AS BIGINT)"))
      .localCheckpoint()
    val nAll = u.agg(count(lit(1)).as("n"))
    def quart(v: String, q: String): DataFrame =
      u.groupBy(v).agg(count(lit(1)).as("c"))
        .withColumn("below",
          coalesce(sum("c").over(Window.orderBy(v)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .crossJoin(broadcast(nAll))
        .select(col(v), (lit(1L) + expr("(4 * below) div n")).as(q))
    u.join(broadcast(quart("r_v", "r_q")), "r_v")
      .join(broadcast(quart("f_v", "f_q")), "f_v")
      .join(broadcast(quart("m_v", "m_q")), "m_v")
      .withColumn("label",
        when(col("r_q") === 4L && col("f_q") === 4L && col("m_q") === 4L,
          "champion")
          .when(col("r_q") >= 3L && col("f_q") >= 3L, "loyal")
          .when(col("r_q") === 1L && col("f_q") >= 3L, "at_risk")
          .when(col("r_q") === 1L && col("f_q") === 1L, "lost")
          .otherwise("regular"))
      .groupBy("r_q", "f_q", "m_q", "label")
      .agg(count(lit(1)).as("n_users"),
        sum("m_dec").cast("double").as("total_value"))
  }

  /** TPC-H Q13 flavor: distribution of per-customer order counts through a
    * LEFT join (customers with zero orders must appear in the 0 bucket),
    * with non-urgent priority as the "special orders excluded" predicate.
    * Two aggregations; the first is on the join key so it reuses the join
    * shuffle, the second is on a handful of distinct counts.
    */
  def q13(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q17 flavor: lineitems of one brand below a fifth of their part's
    * average quantity. The correlated scalar average becomes a broadcast of
    * per-part (sum, count), and the `qty < 0.2 * avg` comparison is
    * cross-multiplied to `5 * qty * cnt < sum` so it stays in exact decimal
    * / integer arithmetic on both engines (no float division anywhere).
    */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val bp = t(spark, dir, "part").filter(col("p_brand") === "Brand#2")
      .select("p_partkey")
    val li = t(spark, dir, "lineitem")
      .join(broadcast(bp), col("l_partkey") === col("p_partkey"))
    val stats = li.groupBy("l_partkey")
      .agg(sum(money(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("cnt"))
    li.join(broadcast(stats.withColumnRenamed("l_partkey", "sp")),
        col("l_partkey") === col("sp"))
      .filter(money(col("l_quantity")) * lit(5L) * col("cnt") < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        dsum(money(col("l_extendedprice"))).as("total_price"))
  }

  /** TPC-H Q21 flavor: suppliers who were the ONLY late supplier on a
    * finished multi-supplier order (late = shipped more than 60 days after
    * the order date). The exists / not-exists pair is rewritten as one
    * per-(order, supplier) aggregation plus a per-order rollup — two
    * narrow shuffles on the natural keys instead of three self-joins.
    */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L).otherwise(0L))
        .as("late"))
    // Carry the unique late supplier THROUGH the per-order aggregate
    // (well-defined exactly when n_late == 1, the only rows kept), so
    // the classic q21 self-join disappears: one fact join + three
    // aggregation levels, no second lineitem pass, no perSupp re-join.
    val perOrder = perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supps"), sum("late").cast("long").as("n_late"),
        max(when(col("late") === 1L, col("l_suppkey"))).as("late_supp"))
    val waits = perOrder
      .filter(col("n_supps") > 1L && col("n_late") === 1L)
      .groupBy(col("late_supp").as("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
    val w = Window.orderBy(col("numwait").desc, col("s_name"))
    waits
      .join(broadcast(t(spark, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("s_name", "numwait", "rnk")
  }

  /** TPC-H Q22 flavor: idle customers (no orders at all) holding an
    * above-average positive balance, rolled up per country code. The
    * global scalar average broadcasts as exact (sum, count) and the
    * comparison cross-multiplies (`bal * n > sum`) to stay in decimal.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val pos = cust.filter(col("c_acctbal") > 0.0)
      .agg(sum(money(col("c_acctbal"))).as("sum_pos"),
        count(lit(1)).as("n_pos"))
    cust.join(t(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(pos))
      .filter(money(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
      .withColumn("cntrycode", (col("c_nationkey") % 5).cast("long"))
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"),
        dsum(money(col("c_acctbal"))).as("totacctbal"))
  }

  /** Semi-structured extraction rollup: parse the JSON `props` payload
    * (the reference carries opaque per-record payloads end-to-end and
    * leaves parsing to consumers — KafkaRequestHandler.java produce path)
    * and aggregate the extracted field per event type. `get_json_object`
    * is a codegen'd path over the scan, so at 100 TB this is one pass +
    * a |event_type|-row shuffle; nothing materializes the parsed JSON.
    */
  def propsJsonStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("kv"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("kv")).as("n_with_k"),
        min("kv").as("min_k"),
        max("kv").as("max_k"),
        sum("kv").as("sum_k"),
        countDistinct(col("kv")).as("distinct_k"))

  /** First-order event-type transition matrix: per user, consecutive
    * (prev, next) event-type pairs by time — the Markov-chain view a
    * product-analytics consumer builds from the funnel stream. One
    * window over (user, time) — state bounded per key — then a
    * |types|^2-row rollup.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** User-lifetime histogram: distinct active days per user, then the
    * user count per activity level — the engagement-distribution view
    * behind retention planning. Two partial-aggregated shuffles, the
    * second over |levels| rows.
    */
  def activitySpan(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("day", expr("(ts div 1000000) div 86400000"))
      .groupBy("user_id")
      .agg(countDistinct(col("day")).as("active_days"),
        ((max("day") - min("day")) + lit(1L)).as("span_days"))
      .groupBy("active_days")
      .agg(count(lit(1)).as("n_users"),
        max("span_days").as("max_span_days"))

  /** Brand discount depth: per part brand, items sold, the mean granted
    * discount in basis points (exact integer mean over per-row
    * quantized discounts), and net decimal revenue — the merchandising
    * view that catches a brand being silently margin-dumped (its mean
    * discount drifting above the portfolio's). One fact scan with the
    * part dim broadcast, |brands|-row rollup.
    */
  def brandDiscountDepth(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part").select(col("p_partkey"), col("p_brand"))
    val discBp = (rate(col("l_discount")) * lit(10000)).cast("long")
    t(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        sum(discBp).cast("long").as("sum_disc_bp"),
        dsum(money(col("l_extendedprice")) *
          (one - rate(col("l_discount")))).as("net_revenue"))
      .select(col("p_brand"), col("n_items"),
        expr("sum_disc_bp div n_items").as("mean_disc_bp"),
        col("net_revenue"))
  }

  /** Order seasonality: monthly order volume and exact decimal revenue
    * with the year-over-year volume ratio in basis points — the
    * calendar rollup every demand forecast starts from (a month whose
    * YoY drops while neighbors hold is a supply incident, not
    * seasonality). Calendar months are UTC on both engines, counts are
    * exact integers, and the YoY ratio divides counts (never floats).
    *
    * Scale: one orders scan partial-aggregated to the |months| frame;
    * the YoY self-join runs on (and broadcasts) that metadata-sized
    * frame.
    */
  def ordersSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val m = t(spark, dir, "orders")
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym"),
        money(col("o_totalprice")).as("p"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n_orders"), dsum(col("p")).as("revenue"))
    val prev = m.select((col("ym") + 100L).as("ym"),
      col("n_orders").as("pn"))
    m.join(broadcast(prev), Seq("ym"), "left")
      .select(col("ym"), col("n_orders"), col("revenue"),
        coalesce(col("pn"), lit(0L)).as("prev_n"))
      .withColumn("yoy_bp",
        expr("""CASE WHEN prev_n > 0 THEN (10000 * n_orders) div prev_n
               |ELSE CAST(0 AS BIGINT) END""".stripMargin))
  }

  /** Customer churn by market segment across the date-span midpoint
    * (1995-06-30, the middle of the TPC-H order window): buyers active
    * only in the first half (churned), only in the second (new), or in
    * both (retained), with the churn rate over the first-half base in
    * basis points — the lifecycle rollup a retention program is
    * measured by.
    *
    * Scale: one orders scan partial-aggregates to two activity flags
    * per customer, then an equi-join to the customer dim (AQE picks
    * broadcast vs shuffle by dim size) and a |segments|-row rollup.
    */
  def customerChurn(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "orders")
      .select(col("o_custkey"),
        (col("o_orderdate") <= lit("1995-06-30").cast("timestamp"))
          .as("h1"))
      .groupBy("o_custkey")
      .agg(max(when(col("h1"), 1L).otherwise(0L)).as("act1"),
        max(when(!col("h1"), 1L).otherwise(0L)).as("act2"))
    per.join(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_buyers"),
        sum(when(col("act1") === 1L && col("act2") === 0L, 1L)
          .otherwise(0L)).cast("long").as("n_churned"),
        sum(when(col("act1") === 0L && col("act2") === 1L, 1L)
          .otherwise(0L)).cast("long").as("n_new"),
        sum(when(col("act1") === 1L && col("act2") === 1L, 1L)
          .otherwise(0L)).cast("long").as("n_retained"))
      .withColumn("churn_bp",
        expr("""CASE WHEN n_churned + n_retained > 0
               |THEN (10000 * n_churned) div (n_churned + n_retained)
               |ELSE CAST(0 AS BIGINT) END""".stripMargin))
  }

  /** Supplier market concentration: per nation, the Herfindahl index
    * over supplier revenue shares (sum of squared shares, in basis
    * points squared: 10^8 = monopoly, 10^8/n = perfectly even) plus the
    * top supplier's share — the supply-risk view behind a procurement
    * review (one supplier carrying 60% of a nation's line revenue is a
    * single point of failure whatever the mean says). Revenue is
    * row-level decimal quantized to an exact BIGINT (1e4 basis) before
    * any sum, and shares are integer basis points, so both engines
    * agree bit-for-bit. At extreme aggregate revenue the 1e4-basis
    * BIGINT would need DECIMAL(38) — same headroom class as every
    * money rollup here.
    *
    * Scale: lineitem joins broadcast supplier + nation dims and
    * partial-aggregates straight to the |suppliers|-row frame; the
    * share window and the HHI rollup run entirely there.
    */
  def supplierShareHhi(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val revq = (money(col("l_extendedprice")) *
      (one - rate(col("l_discount"))) * lit(10000)).cast("long")
    val perSupp = t(spark, dir, "lineitem")
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "s_suppkey")
      .agg(sum(revq).cast("long").as("rev"))
    val byN = Window.partitionBy("n_name")
    perSupp
      // DECIMAL(38) headroom (the basketLift discipline): a nation's
      // 1e4-quantized revenue total wraps BIGINT in the 100 TB regime
      // (~1.4e21 quantized units corpus-wide); shares divide the exact
      // decimal total and the display total follows the repo's money
      // rule — exact DECIMAL cast to double at the end.
      .withColumn("tot",
        sum(col("rev").cast("decimal(38,0)")).over(byN))
      .withColumn("share_bp", expr(
        "CAST((10000 * CAST(rev AS DECIMAL(38,0))) div tot AS BIGINT)"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        max(col("tot")).cast("double").as("rev_total_q"),
        sum(col("share_bp") * col("share_bp")).cast("long").as("hhi"),
        max("share_bp").as("top_share_bp"))
  }

  /** Fulfillment-lag distribution: per order priority, exact nearest-rank
    * quartiles of the order-to-ship lag in whole days — the SLA view a
    * fulfillment org reads per priority class (URGENT shipping slower
    * than 3-LOW is a routing bug, and it hides in the tails a mean
    * would smooth over). Day diffs are floor-divided epoch millis, so
    * both engines agree bit-for-bit.
    *
    * Scale: the lineitem⨝orders fact join is the honest data-sized
    * stage (AQE picks the join strategy); it partial-aggregates to the
    * (priority, lag_days) count frame — |priorities| x ~|days|,
    * metadata — and the quartile rank-pick runs entirely there.
    */
  def fulfillmentLagQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        expr("(unix_millis(l_shipdate) - unix_millis(o_orderdate))" +
          " div 86400000").as("lag_days"))
      .groupBy("priority", "lag_days").agg(count(lit(1)).as("cnt"))
    val byP = Window.partitionBy("priority")
    val ranked = counts
      .withColumn("cum", sum("cnt").over(byP.orderBy("lag_days")))
      .withColumn("n", sum("cnt").over(byP))
      .withColumn("lo", col("cum") - col("cnt") + 1L)
    def pick(p: Double) =
      max(when(expr(s"CAST(ceil(n * $p) AS BIGINT)")
        .between(col("lo"), col("cum")), col("lag_days")))
    ranked.groupBy("priority").agg(
      max("n").as("n_items"),
      pick(0.25).as("q1_days"), pick(0.5).as("median_days"),
      pick(0.75).as("q3_days"), max("lag_days").as("max_days"))
  }

  /** Order-backlog curve: per 30-day epoch bucket, orders placed,
    * orders fully shipped (last lineitem shipped), and the running
    * open-order backlog — the operational WIP series behind capacity
    * planning (a monotonically growing backlog is the demand-exceeds-
    * fulfillment alarm). Buckets are epoch-day floor divisions (no
    * calendar/timezone arithmetic to disagree over).
    *
    * Scale: orders and lineitem each partial-aggregate in one scan (the
    * lineitem side to per-order max ship day — an |orders|-row frame —
    * then to buckets); the cumulative window runs UNpartitioned but on
    * the |buckets|-row frame only, the customer_spend_deciles rule.
    */
  def orderBacklogCurve(spark: SparkSession, dir: String): DataFrame = {
    val placed = t(spark, dir, "orders")
      .select(expr("unix_millis(o_orderdate) div 86400000 div 30").as("d30"))
      .groupBy("d30").agg(count(lit(1)).as("n_placed"))
    val completed = t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(max(expr("unix_millis(l_shipdate)")).as("done_ms"))
      .select(expr("done_ms div 86400000 div 30").as("d30"))
      .groupBy("d30").agg(count(lit(1)).as("n_completed"))
    val w = Window.orderBy("d30")
    placed.join(completed, Seq("d30"), "full")
      .select(col("d30"),
        coalesce(col("n_placed"), lit(0L)).as("n_placed"),
        coalesce(col("n_completed"), lit(0L)).as("n_completed"))
      .withColumn("cum_placed", sum("n_placed").over(w))
      .withColumn("cum_completed", sum("n_completed").over(w))
      .withColumn("backlog", col("cum_placed") - col("cum_completed"))
  }

  /** Inter-arrival time distribution: per event type, exact nearest-rank
    * quartiles of the gaps between a user's consecutive events of that
    * type (ms) — the arrival-process profile a session-gap threshold,
    * an offset-expiration window, or a consumer poll timeout is tuned
    * against. Quartiles are exact integer ms via the rank-pick (no
    * percentile_approx), so both engines agree bit-for-bit.
    *
    * Scale: the lag window partitions by (user, type) — per-key state,
    * never a global sort; the quartile pick is the
    * customer_spend_deciles discipline: minute-granularity gap buckets
    * give a metadata-sized (type, bucket) offset table that broadcasts
    * back, so the only unpartitioned window runs on that |types ×
    * buckets| frame and the per-bucket row_number stays parallel.
    */
  def interarrivalQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val byUserType = Window.partitionBy("user_id", "event_type")
      .orderBy(col("tms"), col("event_id"))
    val gaps = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000000").as("tms"))
      .withColumn("gap", col("tms") - lag("tms", 1).over(byUserType))
      .filter(col("gap").isNotNull)
      .select(col("event_type"), col("event_id"), col("gap"))
      .withColumn("bkt", expr("gap div 60000"))
    val offs = gaps.groupBy("event_type", "bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum("cnt").over(Window.partitionBy("event_type")
          .orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      .select("event_type", "bkt", "off", "n")
    def pick(p: Double) =
      max(when(col("rn") === expr(s"CAST(ceil(n * $p) AS BIGINT)"),
        col("gap")))
    gaps.join(broadcast(offs), Seq("event_type", "bkt"))
      .withColumn("rn",
        col("off") + row_number().over(
          Window.partitionBy("event_type", "bkt")
            .orderBy(col("gap"), col("event_id"))).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        pick(0.25).as("q1_ms"), pick(0.5).as("median_ms"),
        pick(0.75).as("q3_ms"), max("gap").as("max_ms"))
  }

  /** Robust anomaly detection over the event stream: per event type,
    * minute-level volume outliers by exact median absolute deviation —
    * the alerting rollup an operations consumer runs on topic
    * throughput (mean/stddev breaks on the very spikes it should find;
    * median/MAD does not). Medians are exact integers via the windowed
    * rank-pick (no percentile_approx), so both engines agree
    * bit-for-bit.
    *
    * Scale: the raw scan partial-aggregates to the (type, minute) count
    * frame — |types|*|minutes| rows, time-bounded metadata, not data —
    * and every window/join below runs on that compressed frame, with
    * the per-type median frames broadcast back.
    */
  /** The (type, minute) count frame behind [[anomalyMad]] — split out so
    * its plan (one partial-aggregated scan) stays pinnable after the
    * checkpoint truncates lineage.
    */
  private[graft] def anomalyMinuteCounts(
      spark: SparkSession, dir: String): DataFrame =
    mcCache.getOrElseUpdate(
      graft.Tables.freshCacheKey(mcCache, spark, dir, "events"),
      buildAnomalyMinuteCounts(spark, dir).localCheckpoint())

  /** The uncached build — one partial-aggregated scan; split out so
    * PlanShapeSpec pins the BUILD shape (the thing that runs at scale)
    * while consumers ride the checkpointed frame.
    */
  private[graft] def buildAnomalyMinuteCounts(
      spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("minute", expr("(ts div 1000000) div 60000"))
      .groupBy("event_type", "minute")
      .agg(count(lit(1)).as("n"))

  private val mcCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Explicit teardown hook for the minute-count and dev frame caches. */
  def clearAnomalyCache(): Unit = { mcCache.clear(); devCache.clear() }

  /** The per-(type, minute) deviation frame shared by [[anomalyMad]],
    * [[anomalyMinutes]] and the streaming alert feed: columns
    * (event_type, minute, n, med, dev, mad). Fingerprint-cached +
    * localCheckpoint'ed (guide §2.4 — the doc_length_outliers shape):
    * each of the THREE consumers re-planned the two median windows and
    * both broadcast joins over the minute frame per call (4 reads of the
    * checkpoint + 3 window sorts + 2 broadcasts, per consumer); the dev
    * frame is the same |types|*|minutes| time-bounded metadata grain as
    * the count frame it derives from, so caching it is scale-safe.
    */
  private[graft] def anomalyDev(spark: SparkSession, dir: String): DataFrame =
    devCache.getOrElseUpdate(
      graft.Tables.freshCacheKey(devCache, spark, dir, "events"),
      buildAnomalyDev(spark, dir).localCheckpoint())

  private val devCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** The uncached dev-frame build — split out so PlanShapeSpec pins the
    * shape that runs at scale (medians broadcast, no sort-merge join)
    * while consumers ride the checkpointed frame.
    */
  private[graft] def buildAnomalyDev(spark: SparkSession, dir: String): DataFrame = {
    // The count frame feeds four branches (two median picks, the dev
    // join, the rollup) and THREE registered consumers (mad, minutes,
    // rolling_throughput) — fingerprint-cached + checkpointed, so the
    // data-sized scan runs once per (session, data) and every branch
    // reads the |types|*|minutes| rows back.
    val mc = anomalyMinuteCounts(spark, dir)
    def medianOf(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(v), col("minute"))
      df.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col(v).as(out))
    }
    val dev = mc.join(broadcast(medianOf(mc, "n", "med")), "event_type")
      .withColumn("dev", abs(col("n") - col("med")))
    dev.join(broadcast(medianOf(dev, "dev", "mad")), "event_type")
  }

  /** The flagged outlier minutes themselves — the alert rows an
    * operations consumer pages on, where [[anomalyMad]] is the summary.
    */
  def anomalyMinutes(spark: SparkSession, dir: String): DataFrame =
    anomalyDev(spark, dir)
      .filter(col("dev") > lit(3L) * col("mad"))
      .select("event_type", "minute", "n", "med", "mad", "dev")

  def anomalyMad(spark: SparkSession, dir: String): DataFrame =
    anomalyDev(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_minutes"),
        max("med").as("med"),
        max("mad").as("mad"),
        sum(when(col("dev") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        max("dev").as("max_dev"))

  /** Sliding-window throughput: per event type, the 5-minute rolling
    * event volume by RANGE frame over the minute counts — the smoothed
    * rate view an operations dashboard reads next to [[anomalyMad]]'s
    * outlier flags (tumbling rollups like throughput_rollup alias
    * spikes that straddle a boundary; the sliding frame does not).
    * RANGE (not ROWS) so gaps in the minute sequence count as zero
    * traffic, matching wall-clock semantics. Integer frame sums, one
    * double division — bit-exact across engines.
    *
    * Scale: the frame runs on the |types|*|minutes| count frame, never
    * the scan; per-type ordering state is bounded by the 5-minute frame.
    */
  def rollingThroughput(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("minute")
      .rangeBetween(-4L, 0L)
    anomalyMinuteCounts(spark, dir)
      .withColumn("roll_n", sum("n").over(w).cast("long"))
      .withColumn("roll_minutes", count(lit(1)).over(w).cast("long"))
      .withColumn("roll_avg",
        col("roll_n").cast("double") / lit(5.0))
      .withColumn("roll_max", max("n").over(w).cast("long"))
  }

  /** Signup-to-first-purchase conversion lag: per user the gap between
    * first signup and the first purchase at-or-after it, rolled into a
    * whole-day latency histogram — the activation-funnel timing view
    * (funnel counts WHO converts; this measures HOW LONG conversion
    * takes). Two partial-aggregated per-user extremes joined on the
    * user key, then a |days|-row rollup; integer day math end to end.
    */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    // ms-floored on BOTH sides before any comparison or difference, so
    // the day bucket is bit-identical to the oracle's epoch_ms math
    // even for pairs within a millisecond of a day boundary.
    val ev = t(spark, dir, "events")
      .withColumn("tms", expr("ts div 1000000"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tms").as("s_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "tms")
    signups.join(purchases, "user_id")
      .filter(col("tms") >= col("s_ms"))
      .groupBy("user_id", "s_ms").agg(min("tms").as("p_ms"))
      .withColumn("latency_days",
        expr("(p_ms - s_ms) div 86400000"))
      .groupBy("latency_days")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Order-priority mix drift: per (month, priority) the order count,
    * the share within its month, the global priority share, and the
    * signed drift — all in basis points. The ops-drift audit behind
    * [[ordersSeasonality]]' volume curve: volume can hold steady while
    * the URGENT share quietly doubles (an upstream policy change, a
    * failing scheduler), which is exactly what this surfaces. One
    * orders scan partial-aggregated to the (month, priority) count
    * frame; month totals and the global mix are re-aggregations of that
    * frame with the |priorities|-row global frame broadcast back.
    */
  def orderPriorityDrift(spark: SparkSession, dir: String): DataFrame = {
    val mp = t(spark, dir, "orders")
      .select(expr("CAST(year(o_orderdate) * 100 + month(o_orderdate)" +
        " AS BIGINT)").as("ym"), col("o_orderpriority").as("priority"))
      .groupBy("ym", "priority").agg(count(lit(1)).as("n_orders"))
    val mTot = mp.groupBy("ym")
      .agg(sum("n_orders").cast("long").as("m_total"))
    val gTot = mp.groupBy("priority")
      .agg(sum("n_orders").cast("long").as("g_orders"))
      .crossJoin(broadcast(
        mp.agg(sum("n_orders").cast("long").as("g_total"))))
      .select(col("priority"),
        expr("(10000 * g_orders) div g_total").as("global_bp"))
    mp.join(broadcast(mTot), "ym")
      .join(broadcast(gTot), "priority")
      .select(col("ym"), col("priority"), col("n_orders"),
        expr("(10000 * n_orders) div m_total").as("share_bp"),
        col("global_bp"),
        expr("(10000 * n_orders) div m_total - global_bp").as("drift_bp"))
  }

  /** Bounce profile by entry event: for each user's FIRST session, the
    * entry event type, whether the session bounced (exactly one event),
    * rolled to per-entry-type counts with the bounce share in basis
    * points — the acquisition-quality read next to [[eventPaths]] (the
    * path says where journeys go; this says which entrances go NOWHERE).
    * Rides the shared 30-minute session chain ([[sessionFrame]], the
    * EdgeEventsSpec-pinned tie rule), one per-user rollup on top of its
    * window pass, then a |types|-row rollup.
    */
  def bounceRate(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(spark, dir)
      .filter(col("sid") === 1L)
      .groupBy("user_id")
      .agg(
        expr("min_by(event_type, struct(tms, event_id))").as("entry_type"),
        count(lit(1)).as("n_events"))
      .groupBy("entry_type")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_bounced"))
      .withColumn("bounce_bp", expr("(10000 * n_bounced) div n_users"))

  /** Repeat-purchase structure by nation: active customers, how many
    * ordered at least twice, the repeat share in basis points, and the
    * floor-mean orders per active customer in integer percent — the
    * loyalty decomposition behind [[q13]]'s global histogram (WHERE the
    * repeat behavior lives, not just its shape). One orders scan
    * partial-aggregates to per-customer counts; the customer join is
    * key-co-located, the nation name broadcast.
    */
  def customerRepeatRate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      .join(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("n_orders") >= 2L, 1L).otherwise(0L)).cast("long")
          .as("n_repeat"),
        sum("n_orders").cast("long").as("n_total"))
      .join(broadcast(t(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_active"), col("n_repeat"),
        expr("(10000 * n_repeat) div n_active").as("repeat_bp"),
        expr("(100 * n_total) div n_active").as("orders_per_cust_pct"))

  /** Per-supplier fulfillment health: item volume, floor-mean
    * order-to-ship lag in whole days, and the share shipped within 30
    * days in basis points — the vendor scorecard behind
    * [[fulfillmentLagQuartiles]]' global curve (the quartiles say the
    * network drifted; this says WHICH supplier). One honest fact join
    * (lineitem ⨝ orders on the order key), partial-aggregated to the
    * |suppliers|-row frame before the broadcast name join; lag math is
    * the shared ms-floored integer-day spelling.
    */
  def supplierFulfillment(spark: SparkSession, dir: String): DataFrame = {
    val agg = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(t(spark, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        expr("(unix_millis(l_shipdate) - unix_millis(o_orderdate))" +
          " div 86400000").as("lag_days"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"),
        sum("lag_days").cast("long").as("sum_lag"),
        sum(when(col("lag_days") <= 30L, 1L).otherwise(0L)).cast("long")
          .as("n_on_time"))
    agg.join(broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_items"),
        expr("sum_lag div n_items").as("mean_lag_days"),
        expr("(10000 * n_on_time) div n_items").as("on_time_bp"))
  }

  /** Discount-elasticity curve: per whole discount percent, the item
    * count, exact decimal quantity mass, discounted revenue, and the
    * mean quantity — does a deeper discount actually move volume, or
    * just erode margin ([[brandDiscountDepth]] slices by brand; this is
    * the policy-level curve). ONE fact scan partial-aggregated to <= 11
    * rows; money math in DECIMAL cast to double at the end (the q1
    * parity discipline), the mean a division of engine-identical
    * doubles by an exact count.
    */
  def discountQtyCurve(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(
        expr("CAST(floor(l_discount * 100.0D + 0.5D) AS BIGINT)")
          .as("disc_pct"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .groupBy("disc_pct")
      .agg(count(lit(1)).as("n_items"),
        dsum(money(col("l_quantity"))).as("sum_qty"),
        dsum(money(col("l_extendedprice")) *
          (one - rate(col("l_discount")))).as("net_revenue"))
      .withColumn("avg_qty", col("sum_qty") / col("n_items"))

  /** First-trajectory profile: each user's first three events (ordered
    * by ms-floored timestamp with event_id as the deterministic tie
    * rule — the EdgeEventsSpec contract) joined into a '>'-separated
    * path, counted across users with each path's share of all users in
    * basis points. The entry-path table a growth review reads before
    * the per-step [[funnel]]: it says WHAT journeys actually open, not
    * just how one prescribed journey converts.
    *
    * Scale: one user-keyed top-3 window (per-key bounded state — the
    * topn_per_group shape), the path assembly in-row off the <= 3
    * collected structs, then a |paths|-row rollup with the scalar
    * total broadcast back.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    val p = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000").as("tms"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(expr(
        """array_join(transform(
          |  array_sort(collect_list(struct(rn, event_type))),
          |  s -> s.event_type), '>')""".stripMargin).as("path"))
    val tot = p.agg(count(lit(1)).as("n_total"))
    p.groupBy("path").agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("path"), col("n_users"),
        expr("(10000 * n_users) div n_total").as("share_bp"))
  }

  /** Cumulative activation curve: how many signed-up users convert to a
    * first purchase within 0/1/3/7/14/30 days — [[conversionLag]]'s
    * histogram integrated to the decision-ready "day-N conversion"
    * numbers, with the rate over ALL signup users (not just converters)
    * in basis points. Rides the same two partial-aggregated extremes;
    * the window spine and both scalar/histogram frames are
    * metadata-sized, so every join broadcasts.
    */
  def conversionWindowCurve(spark: SparkSession, dir: String): DataFrame = {
    val lat = conversionLag(spark, dir)
    val nSign = t(spark, dir, "events")
      .filter(col("event_type") === "signup")
      .agg(countDistinct("user_id").as("n_signups"))
    val wins = nSign.select(explode(array(
      lit(0L), lit(1L), lit(3L), lit(7L), lit(14L), lit(30L)))
      .as("win_days"), col("n_signups"))
    wins.join(broadcast(lat), col("latency_days") <= col("win_days"),
        "left")
      .groupBy("win_days", "n_signups")
      .agg(sum(coalesce(col("n_users"), lit(0L))).cast("long")
        .as("n_converted"))
      .select(col("win_days"), col("n_converted"), col("n_signups"),
        // zero-signup degradation (the hll_distinct_eval guard style)
        expr("""CASE WHEN n_signups > 0
               |  THEN (10000 * n_converted) div n_signups
               |  ELSE 0 END""".stripMargin).as("conv_bp"))
  }

  /** Market-basket co-occurrence: part pairs bought together in the
    * same order, counted across orders and kept where they repeat —
    * the association-mining primitive behind recommendations. Pairs
    * generate IN-ROW from each order's sorted distinct part list (the
    * substring_dup_pairs comprehension — order sizes are schema-bounded
    * at 7 lineitems, so per-row pair work is O(21) and nothing
    * quadratic ever crosses the shuffle); the oracle cross-checks with
    * a DuckDB self-join, a structurally different plan.
    */
  def basketPairs(spark: SparkSession, dir: String): DataFrame =
    basketPairCounts(spark, dir)
      .withColumnRenamed("n_both", "n_orders")

  /** The per-order sorted distinct part list — the shared base of the
    * basket family ([[basketPairs]], [[basketLift]]), fingerprint-cached
    * per (session, data) and localCheckpoint'ed so the lineitem
    * scan+shuffle is paid once, not per consumer (the knn/anomaly cache
    * discipline).
    */
  private[graft] def basketSets(spark: SparkSession, dir: String): DataFrame =
    basketSetsCache.getOrElseUpdate(
      graft.Tables.freshCacheKey(basketSetsCache, spark, dir, "lineitem"), {
        // SERIALIZED persist, not localCheckpoint: the order->parts frame
        // is array-heavy, and its deserialized blocks at 1000x data fill
        // the protected storage pool until downstream aggregations can't
        // acquire execution memory (measured: AGGREGATE_OUT_OF_MEMORY in
        // the pair rollup at 32g/8 threads). Serialized blocks are ~4x
        // smaller and evict cleanly. withWideState: the per-order
        // collect_set is the object-agg-over-fact-keys class that needs
        // the 16x reducer fan-out at 1000x (measured OOM without it) —
        // paid HERE, once, at build, not by every consumer's plan.
        graft.GraftSession.withWideState(spark) {
          val ps = buildBasketSets(spark, dir)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          ps.count()
          ps
        }
      })

  private val basketSetsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** The uncached ps build — split out so PlanShapeSpec pins the BUILD
    * shape (one partial-aggregated fact scan) after the checkpoint
    * truncates lineage.
    */
  private[graft] def buildBasketSets(
      spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey")
      // collect_set dedups in-row — a separate distinct() would add a
      // second full shuffle of the fact for nothing
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** The repeated (p1, p2, n_both) co-occurrence counts off the cached
    * [[basketSets]] frame — likewise cached; serves both registry
    * entries.
    */
  private[graft] def basketPairCounts(
      spark: SparkSession, dir: String): DataFrame =
    basketPairsCache.getOrElseUpdate(
      graft.Tables.freshCacheKey(basketPairsCache, spark, dir, "lineitem"),
      basketSets(spark, dir)
        .filter(size(col("ps")) >= 2)
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  transform(slice(ps, i + 2, size(ps)), y ->
            |    struct(x AS p1, y AS p2))))""".stripMargin)).as("pr"))
        .select(col("pr.p1"), col("pr.p2"))
        .groupBy("p1", "p2")
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 2L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  private val basketPairsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Association lift over the repeated basket pairs: n_both·N /
    * (n_p1·n_p2) in ppm — [[basketPairs]] counts co-occurrence, lift
    * says whether it EXCEEDS chance (lift_q > 1e6) or is just two
    * popular parts colliding (the mistake raw pair counts invite).
    * Integer-exact: one quantized ratio of four exact counts. The
    * 1e6·n_both·n_all numerator wants DECIMAL(38) headroom at extreme
    * order counts — the HHI class.
    *
    * Scale: one ps build (the basketPairs shape) serves the pair
    * counts, the per-part counts, and the order total; the part-count
    * frames broadcast back into the pair frame.
    */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    val ps = basketSets(spark, dir)
    val nAll = ps.agg(count(lit(1)).as("n_all"))
    // NOT force-broadcast: perPart is |parts|-sized — auto-broadcastable
    // at survey scale but a driver OOM at 1000x (measured); AQE picks
    // broadcast under the threshold and a co-keyed join above it.
    val perPart = ps.select(explode(col("ps")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("n_part"))
    basketPairCounts(spark, dir)
      .join(perPart.select(col("pk").as("p1"),
        col("n_part").as("n_p1")), "p1")
      .join(perPart.select(col("pk").as("p2"),
        col("n_part").as("n_p2")), "p2")
      .crossJoin(broadcast(nAll))
      .select(col("p1"), col("p2"), col("n_both"), col("n_p1"),
        col("n_p2"),
        // DECIMAL(38,0) headroom (the collocations discipline): raw
        // BIGINT would overflow the numerator at large order counts.
        expr("""CAST((CAST(n_both AS DECIMAL(38,0)) * 1000000 * n_all)
               |  DIV (CAST(n_p1 AS DECIMAL(38,0)) * n_p2) AS BIGINT)"""
          .stripMargin).as("lift_q"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "basket_pairs" -> basketPairs,
    "basket_lift" -> basketLift,
    "conversion_lag" -> conversionLag,
    "conversion_window_curve" -> conversionWindowCurve,
    "event_paths" -> eventPaths,
    "supplier_fulfillment" -> supplierFulfillment,
    "discount_qty_curve" -> discountQtyCurve,
    "order_priority_drift" -> orderPriorityDrift,
    "customer_repeat_rate" -> customerRepeatRate,
    "bounce_rate" -> bounceRate,
    "rolling_throughput" -> rollingThroughput,
    "nation_revenue_rollup" -> nationRevenueRollup,
    "customer_spend_deciles" -> customerSpendDeciles,
    "anomaly_mad" -> anomalyMad,
    "anomaly_minutes" -> anomalyMinutes,
    "props_json_stats" -> propsJsonStats,
    "event_transitions" -> eventTransitions,
    "activity_span" -> activitySpan,
    "interarrival_quartiles" -> interarrivalQuartiles,
    "fulfillment_lag_quartiles" -> fulfillmentLagQuartiles,
    "order_backlog_curve" -> orderBacklogCurve,
    "supplier_share_hhi" -> supplierShareHhi,
    "customer_churn" -> customerChurn,
    "orders_seasonality" -> ordersSeasonality,
    "brand_discount_depth" -> brandDiscountDepth,
    "incident_blast" -> incidentBlast,
    "q13_custdist" -> q13,
    "q17_small_qty" -> q17,
    "q21_waiting" -> q21,
    "q22_idle_balance" -> q22,
    "q8_market_share" -> q8,
    "q9_profit" -> q9,
    "q2_min_cost_supplier" -> q2,
    "q11_important_parts" -> q11,
    "q20_excess_suppliers" -> q20,
    "q16_supplier_counts" -> q16,
    "q19_brackets" -> q19,
    "q10_returns" -> q10,
    "q12_priority" -> q12,
    "q14_promo" -> q14,
    "q18_large_orders" -> q18,
    "session_window_agg" -> sessionWindowAgg,
    "cube_topic_dow" -> cubeTopicDow,
    "top_supplier" -> topSupplier,
    "order_size_distribution" -> orderSizeDistribution,
    "dau_stickiness" -> dauStickiness,
    "error_rate" -> errorRate,
    "pivot_topics" -> pivotTopics,
    "unpivot_topics" -> unpivotTopics,
    "q4_semi" -> q4,
    "parts_unordered" -> partsUnordered,
    "throughput_rollup" -> throughputRollup,
    "q7_volume" -> q7,
    "purchase_attribution" -> purchaseAttribution,
    "salted_agg" -> saltedAgg,
    "funnel" -> funnel,
    "cohort_retention" -> cohortRetention,
    "rfm_segments" -> rfmSegments,
    "transition_matrix" -> transitionMatrix,
    "session_conversion" -> sessionConversion,
    "hll_distinct_eval" -> hllDistinctEval,
    "transition_matrix2" -> transitionMatrix2,
    "user_ltv" -> userLtv,
    "range_join_events" -> rangeJoinEvents,
    "value_histogram" -> valueHistogram,
    "distinct_users" -> distinctUsers,
    "asof_join_signup" -> asofJoinSignup,
    "asof_user_state" -> asofUserState,
    "q6_filter" -> q6,
    "q1_agg" -> q1,
    "q3_topn" -> q3,
    "q5_join" -> q5,
    "topn_per_group" -> topnPerGroup,
    "sessionize" -> sessionize)

  private val pivotSql: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "basket_lift" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    COUNT(*) AS n_both
        |  FROM op a JOIN op b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY p1, p2
        |  HAVING COUNT(*) >= 2),
        |pp AS (SELECT l_partkey AS pk, COUNT(*) AS n_part
        |  FROM op GROUP BY pk),
        |na AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_all
        |  FROM lineitem)
        |SELECT p1, p2, n_both,
        |  a.n_part AS n_p1, b.n_part AS n_p2,
        |  CAST((CAST(n_both AS HUGEINT) * 1000000 * n_all)
        |    // (CAST(a.n_part AS HUGEINT) * b.n_part) AS BIGINT) AS lift_q
        |FROM pairs JOIN pp a ON pairs.p1 = a.pk
        |JOIN pp b ON pairs.p2 = b.pk CROSS JOIN na""".stripMargin,
    "basket_pairs" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |  COUNT(*) AS n_orders
        |FROM op a JOIN op b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY p1, p2
        |HAVING COUNT(*) >= 2""".stripMargin,
    "conversion_lag" ->
      """WITH s AS (
        |  SELECT user_id, MIN(epoch_ms(ts)) AS s_ms
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, s_ms, MIN(epoch_ms(e.ts)) AS p_ms
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s_ms
        |  GROUP BY e.user_id, s_ms)
        |SELECT (p_ms - s_ms) // 86400000 AS latency_days,
        |  COUNT(*) AS n_users
        |FROM fp GROUP BY latency_days""".stripMargin,
    "conversion_window_curve" ->
      """WITH s AS (
        |  SELECT user_id, MIN(epoch_ms(ts)) AS s_ms
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, s_ms, MIN(epoch_ms(e.ts)) AS p_ms
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s_ms
        |  GROUP BY e.user_id, s_ms),
        |lat AS (
        |  SELECT (p_ms - s_ms) // 86400000 AS latency_days,
        |    COUNT(*) AS n_users
        |  FROM fp GROUP BY latency_days),
        |ns AS (
        |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_signups
        |  FROM events WHERE event_type = 'signup'),
        |w AS (
        |  SELECT unnest([0, 1, 3, 7, 14, 30]) AS win_days)
        |SELECT CAST(win_days AS BIGINT) AS win_days,
        |  CAST(SUM(COALESCE(n_users, 0)) AS BIGINT) AS n_converted,
        |  n_signups,
        |  CASE WHEN n_signups > 0
        |    THEN (10000 * CAST(SUM(COALESCE(n_users, 0)) AS BIGINT))
        |      // n_signups
        |    ELSE 0 END AS conv_bp
        |FROM w CROSS JOIN ns
        |LEFT JOIN lat ON lat.latency_days <= w.win_days
        |GROUP BY win_days, n_signups""".stripMargin,
    "event_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM p)
        |SELECT path, COUNT(*) AS n_users,
        |  (10000 * COUNT(*)) // n_total AS share_bp
        |FROM p CROSS JOIN tot GROUP BY path, n_total""".stripMargin,
    "rolling_throughput" ->
      """WITH mc AS (
        |  SELECT event_type, epoch_ms(ts) // 60000 AS minute, COUNT(*) AS n
        |  FROM events GROUP BY event_type, minute)
        |SELECT event_type, minute, n,
        |  CAST(SUM(n) OVER w AS BIGINT) AS roll_n,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS roll_minutes,
        |  CAST(CAST(SUM(n) OVER w AS BIGINT) AS DOUBLE) / 5.0 AS roll_avg,
        |  CAST(MAX(n) OVER w AS BIGINT) AS roll_max
        |FROM mc
        |WINDOW w AS (PARTITION BY event_type ORDER BY minute
        |  RANGE BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,
    "nation_revenue_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |    AS DOUBLE) AS revenue,
        |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "customer_spend_deciles" ->
      """WITH totals AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
        |      AS total
        |  FROM orders GROUP BY o_custkey),
        |tiered AS (
        |  SELECT total,
        |    CAST(NTILE(10) OVER (ORDER BY total, o_custkey) AS BIGINT)
        |      AS decile
        |  FROM totals)
        |SELECT decile, COUNT(*) AS n_customers,
        |  MIN(total) AS min_total, MAX(total) AS max_total,
        |  CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM tiered GROUP BY decile""".stripMargin,
    "anomaly_minutes" ->
      """WITH mc AS (
        |  SELECT event_type, epoch_ms(ts) // 60000 AS minute, COUNT(*) AS n
        |  FROM events GROUP BY event_type, minute),
        |med AS (
        |  SELECT event_type, n AS med FROM (
        |    SELECT event_type, n, minute,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY n, minute) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM mc)
        |  WHERE rn = (cnt + 1) // 2),
        |dev AS (
        |  SELECT mc.event_type, minute, n, med, ABS(n - med) AS dev
        |  FROM mc JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, dev AS mad FROM (
        |    SELECT event_type, dev, minute,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY dev, minute) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM dev)
        |  WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type, minute, n, med, m.mad, dev
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE dev > 3 * m.mad""".stripMargin,
    "anomaly_mad" ->
      """WITH mc AS (
        |  SELECT event_type, epoch_ms(ts) // 60000 AS minute, COUNT(*) AS n
        |  FROM events GROUP BY event_type, minute),
        |med AS (
        |  SELECT event_type, n AS med FROM (
        |    SELECT event_type, n, minute,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY n, minute) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM mc)
        |  WHERE rn = (cnt + 1) // 2),
        |dev AS (
        |  SELECT mc.event_type, minute, n, med, ABS(n - med) AS dev
        |  FROM mc JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, dev AS mad FROM (
        |    SELECT event_type, dev, minute,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY dev, minute) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM dev)
        |  WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type, COUNT(*) AS n_minutes,
        |  MAX(d.med) AS med, MAX(m.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  MAX(d.dev) AS max_dev
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type""".stripMargin,
    "props_json_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(kv) AS n_with_k,
        |  MIN(kv) AS min_k, MAX(kv) AS max_k,
        |  CAST(SUM(kv) AS BIGINT) AS sum_k,
        |  COUNT(DISTINCT kv) AS distinct_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events)
        |SELECT from_type, event_type AS to_type, COUNT(*) AS n
        |FROM seq WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type""".stripMargin,
    "transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |tr AS (
        |  SELECT from_type, event_type AS to_type, COUNT(*) AS n
        |  FROM seq WHERE from_type IS NOT NULL
        |  GROUP BY from_type, to_type),
        |tot AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |  FROM tr GROUP BY from_type)
        |SELECT tr.from_type, tr.to_type, tr.n, tot.n_from,
        |  (1000000 * tr.n) // tot.n_from AS p_ppm,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY tr.from_type
        |    ORDER BY tr.n DESC, tr.to_type) AS BIGINT) AS rnk
        |FROM tr JOIN tot USING (from_type)""".stripMargin,
    "session_conversion" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT *,
        |    SUM(CASE WHEN prev IS NULL OR tms - prev > 1800000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |per AS (
        |  SELECT user_id, sid, COUNT(*) AS n_events,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    MAX(tms) - MIN(tms) AS dur_ms
        |  FROM s GROUP BY user_id, sid)
        |SELECT n_events, COUNT(*) AS n_sessions,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms,
        |  (10000 * CAST(SUM(conv) AS BIGINT)) // COUNT(*) AS conv_bp
        |FROM per GROUP BY n_events""".stripMargin,
    "transition_matrix2" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from2,
        |    LAG(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from1
        |  FROM events),
        |tr AS (
        |  SELECT from1, from2, event_type AS to_type, COUNT(*) AS n
        |  FROM seq WHERE from1 IS NOT NULL
        |  GROUP BY from1, from2, to_type),
        |tot AS (
        |  SELECT from1, from2, CAST(SUM(n) AS BIGINT) AS n_from
        |  FROM tr GROUP BY from1, from2)
        |SELECT tr.from1, tr.from2, tr.to_type, tr.n, tot.n_from,
        |  (1000000 * tr.n) // tot.n_from AS p_ppm,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY tr.from1, tr.from2
        |    ORDER BY tr.n DESC, tr.to_type) AS BIGINT) AS rnk
        |FROM tr JOIN tot USING (from1, from2)""".stripMargin,
    "user_ltv" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    epoch_ms(ts) // 604800000 AS week FROM events),
        |fw AS (SELECT user_id, MIN(week) AS cohort FROM e GROUP BY user_id),
        |cs AS (SELECT cohort, COUNT(*) AS cohort_users FROM fw
        |       GROUP BY cohort),
        |wk AS (
        |  SELECT fw.cohort, e.week - fw.cohort AS weeks_since,
        |    COUNT(*) AS n_purchases,
        |    SUM(CAST(e.value AS DECIMAL(10,2))) AS wk_dec
        |  FROM e JOIN fw USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT cohort, weeks_since, cs.cohort_users, n_purchases,
        |  CAST(wk_dec AS DOUBLE) AS wk_value,
        |  CAST(SUM(wk_dec) OVER (PARTITION BY cohort ORDER BY weeks_since)
        |    AS DOUBLE) AS cum_value
        |FROM wk JOIN cs USING (cohort)""".stripMargin,
    "activity_span" ->
      """WITH per_user AS (
        |  SELECT user_id, COUNT(DISTINCT day) AS active_days,
        |    MAX(day) - MIN(day) + 1 AS span_days
        |  FROM (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events)
        |  GROUP BY user_id)
        |SELECT active_days, COUNT(*) AS n_users,
        |  MAX(span_days) AS max_span_days
        |FROM per_user GROUP BY active_days""".stripMargin,
    "brand_discount_depth" ->
      """WITH j AS (
        |  SELECT p.p_brand,
        |    CAST(CAST(l.l_discount AS DECIMAL(3,2)) * 10000 AS BIGINT)
        |      AS disc_bp,
        |    CAST(l.l_extendedprice AS DECIMAL(10,2)) *
        |      (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
        |      AS net
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(disc_bp) AS BIGINT) // COUNT(*) AS mean_disc_bp,
        |  CAST(SUM(net) AS DOUBLE) AS net_revenue
        |FROM j GROUP BY p_brand""".stripMargin,
    "orders_seasonality" ->
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |    AS BIGINT) AS ym,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
        |      AS revenue
        |  FROM orders GROUP BY ym)
        |SELECT a.ym, a.n_orders, a.revenue,
        |  COALESCE(b.n_orders, 0) AS prev_n,
        |  CASE WHEN COALESCE(b.n_orders, 0) > 0
        |    THEN (10000 * a.n_orders) // b.n_orders
        |    ELSE CAST(0 AS BIGINT) END AS yoy_bp
        |FROM m a LEFT JOIN m b ON a.ym = b.ym + 100""".stripMargin,
    "customer_churn" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN o_orderdate <= TIMESTAMP '1995-06-30'
        |      THEN 1 ELSE 0 END) AS act1,
        |    MAX(CASE WHEN o_orderdate > TIMESTAMP '1995-06-30'
        |      THEN 1 ELSE 0 END) AS act2
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n_buyers,
        |  CAST(SUM(CASE WHEN act1 = 1 AND act2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churned,
        |  CAST(SUM(CASE WHEN act1 = 0 AND act2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN act1 = 1 AND act2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CASE WHEN SUM(CASE WHEN act1 = 1 AND act2 = 0 THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN act1 = 1 AND act2 = 1 THEN 1 ELSE 0 END) > 0
        |    THEN (10000 * CAST(SUM(CASE WHEN act1 = 1 AND act2 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT))
        |      // CAST(SUM(CASE WHEN act1 = 1 AND act2 = 0 THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN act1 = 1 AND act2 = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS churn_bp
        |FROM per JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "supplier_share_hhi" ->
      """WITH ps AS (
        |  SELECT n.n_name, s.s_suppkey,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(10,2)) *
        |      (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
        |      * 10000 AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, s.s_suppkey),
        |w AS (
        |  SELECT n_name, rev,
        |    CAST(SUM(rev) OVER (PARTITION BY n_name) AS HUGEINT) AS tot
        |  FROM ps),
        |sh AS (
        |  SELECT n_name, tot,
        |    CAST((10000 * CAST(rev AS HUGEINT)) // tot AS BIGINT)
        |      AS share_bp
        |  FROM w)
        |SELECT n_name, COUNT(*) AS n_suppliers,
        |  CAST(MAX(tot) AS DOUBLE) AS rev_total_q,
        |  CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi,
        |  MAX(share_bp) AS top_share_bp
        |FROM sh GROUP BY n_name""".stripMargin,
    "customer_repeat_rate" ->
      """WITH pc AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey),
        |a AS (
        |  SELECT c_nationkey, COUNT(*) AS n_active,
        |    CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_repeat,
        |    CAST(SUM(n_orders) AS BIGINT) AS n_total
        |  FROM pc JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey)
        |SELECT n_name AS nation, n_active, n_repeat,
        |  (10000 * n_repeat) // n_active AS repeat_bp,
        |  (100 * n_total) // n_active AS orders_per_cust_pct
        |FROM a JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "order_priority_drift" ->
      """WITH mp AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |    AS BIGINT) AS ym,
        |    o_orderpriority AS priority, COUNT(*) AS n_orders
        |  FROM orders GROUP BY ym, priority),
        |mt AS (SELECT ym, CAST(SUM(n_orders) AS BIGINT) AS m_total
        |  FROM mp GROUP BY ym),
        |gt AS (
        |  SELECT priority,
        |    (10000 * CAST(SUM(n_orders) AS BIGINT)) //
        |      (SELECT CAST(SUM(n_orders) AS BIGINT) FROM mp) AS global_bp
        |  FROM mp GROUP BY priority)
        |SELECT mp.ym, mp.priority, mp.n_orders,
        |  (10000 * n_orders) // m_total AS share_bp,
        |  global_bp,
        |  (10000 * n_orders) // m_total - global_bp AS drift_bp
        |FROM mp JOIN mt USING (ym) JOIN gt USING (priority)""".stripMargin,
    "supplier_fulfillment" ->
      """WITH lg AS (
        |  SELECT l_suppkey,
        |    (epoch_ms(l_shipdate) - epoch_ms(o_orderdate))
        |      // 86400000 AS lag_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |a AS (
        |  SELECT l_suppkey, COUNT(*) AS n_items,
        |    CAST(SUM(lag_days) AS BIGINT) AS sum_lag,
        |    CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_on_time
        |  FROM lg GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, n_items,
        |  sum_lag // n_items AS mean_lag_days,
        |  (10000 * n_on_time) // n_items AS on_time_bp
        |FROM a JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "discount_qty_curve" ->
      """SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |    AS DOUBLE) AS net_revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
        |    / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY disc_pct""".stripMargin,
    "fulfillment_lag_quartiles" ->
      """WITH lg AS (
        |  SELECT o.o_orderpriority AS priority,
        |    (epoch_ms(l.l_shipdate) - epoch_ms(o.o_orderdate))
        |      // 86400000 AS lag_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |r AS (
        |  SELECT priority, lag_days,
        |    ROW_NUMBER() OVER (PARTITION BY priority
        |      ORDER BY lag_days) AS rn,
        |    COUNT(*) OVER (PARTITION BY priority) AS n
        |  FROM lg)
        |SELECT priority, COUNT(*) AS n_items,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
        |    THEN lag_days END) AS q1_days,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
        |    THEN lag_days END) AS median_days,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
        |    THEN lag_days END) AS q3_days,
        |  MAX(lag_days) AS max_days
        |FROM r GROUP BY priority""".stripMargin,
    "order_backlog_curve" ->
      """WITH placed AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 // 30 AS d30,
        |    COUNT(*) AS n_placed
        |  FROM orders GROUP BY d30),
        |completed AS (
        |  SELECT done_ms // 86400000 // 30 AS d30,
        |    COUNT(*) AS n_completed
        |  FROM (
        |    SELECT l_orderkey, MAX(epoch_ms(l_shipdate)) AS done_ms
        |    FROM lineitem GROUP BY l_orderkey)
        |  GROUP BY d30),
        |j AS (
        |  SELECT COALESCE(p.d30, c.d30) AS d30,
        |    COALESCE(n_placed, 0) AS n_placed,
        |    COALESCE(n_completed, 0) AS n_completed
        |  FROM placed p FULL JOIN completed c ON p.d30 = c.d30)
        |SELECT d30, n_placed, n_completed,
        |  CAST(SUM(n_placed) OVER (ORDER BY d30) AS BIGINT) AS cum_placed,
        |  CAST(SUM(n_completed) OVER (ORDER BY d30) AS BIGINT)
        |    AS cum_completed,
        |  CAST(SUM(n_placed) OVER (ORDER BY d30) AS BIGINT)
        |    - CAST(SUM(n_completed) OVER (ORDER BY d30) AS BIGINT)
        |    AS backlog
        |FROM j""".stripMargin,
    "interarrival_quartiles" ->
      """WITH g AS (
        |  SELECT event_type, event_id,
        |    epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY epoch_ms(ts), event_id) AS gap
        |  FROM events),
        |r AS (
        |  SELECT event_type, gap,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY gap, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
        |    THEN gap END) AS q1_ms,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
        |    THEN gap END) AS median_ms,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
        |    THEN gap END) AS q3_ms,
        |  MAX(gap) AS max_ms
        |FROM r GROUP BY event_type""".stripMargin,
    "incident_blast" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_ms(ts) AS tms FROM events),
        |inc AS (
        |  SELECT event_id AS incident_id, epoch_ms(ts) AS start_ms
        |  FROM events WHERE event_type = 'error')
        |SELECT incident_id, start_ms, COUNT(*) AS n_events
        |FROM inc JOIN ev
        |  ON tms >= start_ms AND tms < start_ms + 600000
        |GROUP BY incident_id, start_ms""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#2'),
        |st AS (
        |  SELECT l_partkey AS sp,
        |    SUM(CAST(l_quantity AS DECIMAL(10,2))) AS sum_qty,
        |    COUNT(*) AS cnt
        |  FROM li GROUP BY l_partkey)
        |SELECT COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE)
        |    AS total_price
        |FROM li JOIN st ON l_partkey = sp
        |WHERE CAST(l_quantity AS DECIMAL(10,2)) * 5 * cnt < sum_qty""".stripMargin,
    "q21_waiting" ->
      """WITH per_supp AS (
        |  SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |      THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey, l_suppkey),
        |per_order AS (
        |  SELECT l_orderkey, COUNT(*) AS n_supps,
        |    CAST(SUM(late) AS BIGINT) AS n_late
        |  FROM per_supp GROUP BY l_orderkey),
        |waits AS (
        |  SELECT l_suppkey, COUNT(*) AS numwait
        |  FROM per_supp JOIN per_order USING (l_orderkey)
        |  WHERE late = 1 AND n_supps > 1 AND n_late = 1
        |  GROUP BY l_suppkey)
        |SELECT s_name, numwait, rnk FROM (
        |  SELECT s_name, numwait,
        |    ROW_NUMBER() OVER (ORDER BY numwait DESC, s_name) AS rnk
        |  FROM waits JOIN supplier ON l_suppkey = s_suppkey)
        |WHERE rnk <= 10""".stripMargin,
    "q22_idle_balance" ->
      """WITH pos AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS sum_pos,
        |    COUNT(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey % 5 AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) AS totacctbal
        |FROM customer, pos
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  AND CAST(c_acctbal AS DECIMAL(10,2)) * n_pos > sum_pos
        |GROUP BY c_nationkey % 5""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (3, 9, 14, 19, 23, 36)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_profit,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |bridge AS (
        |  SELECT p_partkey, p_brand, p_type, l_suppkey,
        |    MIN(CAST(l_extendedprice AS DECIMAL(10,2))) AS cost_dec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size = 15
        |  GROUP BY 1, 2, 3, 4)
        |SELECT p_partkey, p_brand, p_type, s_suppkey, s_name, s_acctbal,
        |  n_name, CAST(cost_dec AS DOUBLE) AS supply_cost
        |FROM bridge JOIN eur ON l_suppkey = s_suppkey
        |QUALIFY cost_dec = MIN(cost_dec) OVER (PARTITION BY p_partkey)"""
        .stripMargin,
    "q11_important_parts" ->
      """WITH nat AS (
        |  SELECT s_suppkey FROM supplier JOIN nation
        |    ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'),
        |pv AS (
        |  SELECT l_partkey AS p_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(10,2))
        |        * CAST(l_quantity AS DECIMAL(10,2))) AS value_dec
        |  FROM lineitem JOIN nat ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(value_dec) AS DOUBLE) AS total_value FROM pv)
        |SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
        |FROM pv, tot
        |WHERE CAST(value_dec AS DOUBLE) > total_value / 500.0""".stripMargin,
    "q20_excess_suppliers" ->
      """WITH usage_q AS (
        |  SELECT l_suppkey, p_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
        |      AS qty_total,
        |    CAST(SUM(CASE WHEN year(l_shipdate) = 1995
        |      THEN CAST(l_quantity AS DECIMAL(10,2))
        |      ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE) AS qty_1995
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1, 2),
        |excess AS (
        |  SELECT l_suppkey, COUNT(*) AS n_excess_parts
        |  FROM usage_q WHERE qty_1995 * 2.0 > qty_total
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal, n_name, n_excess_parts
        |FROM excess JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'""".stripMargin,
    "q8_market_share" ->
      """WITH agg AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(SUM(CASE WHEN ns.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
        |      ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE) AS nation_revenue,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY year(o_orderdate))
        |SELECT o_year, nation_revenue, total_revenue,
        |  nation_revenue / total_revenue AS mkt_share
        |FROM agg""".stripMargin,
    "q19_brackets" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
        |        AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
        |        AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |  MIN(c_acctbal) AS c_acctbal
        |FROM lineitem, orders, customer, nation
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q12_priority" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY year(l_shipdate)""".stripMargin,
    "q14_promo" ->
      """WITH agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
        |      ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT promo_revenue, total_revenue,
        |  promo_revenue / total_revenue AS promo_share
        |FROM agg""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) > 300.0)
        |SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  CAST(CAST(o_totalprice AS DECIMAL(10,2)) AS DOUBLE) AS o_totalprice,
        |  total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "session_window_agg" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS tms, "value",
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT *,
        |    SUM(CASE WHEN prev IS NULL OR tms - prev >= 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, MIN(tms) AS start_ms, MAX(tms) + 1800000 AS end_ms,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST("value" AS DECIMAL(10,2))) AS DOUBLE) AS sum_val
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "cube_topic_dow" -> (graft.log.LogOps.logSql +
      """SELECT topic, dow, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(10,2))) AS DOUBLE) AS sum_val,
        |  CAST(GROUPING(topic, dow) AS BIGINT) AS gid
        |FROM (SELECT topic, (tms // 86400000) % 7 AS dow, val FROM log)
        |GROUP BY CUBE(topic, dow)""".stripMargin),
    "top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin,
    "order_size_distribution" ->
      """SELECT n_items, COUNT(*) AS n_orders FROM (
        |  SELECT l_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY l_orderkey)
        |GROUP BY n_items""".stripMargin,
    "dau_stickiness" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM e GROUP BY day),
        |mau AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau FROM e)
        |SELECT day, dau, mau, dau / mau AS stickiness
        |FROM dau CROSS JOIN mau""".stripMargin,
    "error_rate" ->
      """SELECT day, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_errors,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |    / COUNT(*) AS error_rate
        |FROM (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events)
        |GROUP BY day""".stripMargin,
    "pivot_topics" -> pivotSql,
    "unpivot_topics" ->
      (s"""WITH p AS (\n${pivotSql.replace("\n", "\n  ")})\n""" +
        """SELECT user_id, t.topic, t.n FROM p,
          |LATERAL (VALUES ('click', p.click), ('error', p.error),
          |  ('purchase', p.purchase), ('signup', p.signup),
          |  ('view', p.view)) AS t(topic, n)""".stripMargin),
    "q4_semi" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > TIMESTAMP '1997-01-01')
        |GROUP BY o_orderpriority""".stripMargin,
    "parts_unordered" ->
      """SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '2001-01-01')""".stripMargin,
    "throughput_rollup" -> (graft.log.LogOps.logSql +
      """SELECT topic, part, COUNT(*) AS n,
        |  CAST(SUM(length(v)) AS BIGINT) AS bytes
        |FROM log GROUP BY ROLLUP(topic, part)""".stripMargin),
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin,
    "purchase_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, "value",
        |    epoch_ms(ts) * 1048576 + event_id % 1048576 AS et
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, et, event_type, "value",
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY et
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id,
        |    last_value(CASE WHEN event_type = 'view' THEN et END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY et
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vt
        |  FROM ev)
        |SELECT event_id, user_id, et, "value" AS amount, view_id, vt
        |FROM w WHERE event_type = 'purchase'""".stripMargin,
    "salted_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(10,2))) AS DOUBLE) AS sum_val,
        |  MAX("value") AS max_val
        |FROM events GROUP BY event_type""".stripMargin,
    "funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS tms FROM events
        |  WHERE epoch_ms(ts) < 1704240000000),
        |s1 AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN tms END) AS t_signup
        |  FROM e GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id,
        |    MIN(CASE WHEN event_type = 'view' AND tms > t_signup THEN tms END) AS t_view,
        |    MIN(t_signup) AS t_signup
        |  FROM e JOIN s1 ON s1.user_id = e.user_id GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id,
        |    MIN(CASE WHEN event_type = 'purchase' AND tms > t_view THEN tms END) AS t_purchase,
        |    MIN(t_signup) AS t_signup, MIN(t_view) AS t_view
        |  FROM e JOIN s2 ON s2.user_id = e.user_id GROUP BY e.user_id)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS reached_signup,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS reached_view,
        |  CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS reached_purchase
        |FROM s3""".stripMargin,
    "rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(epoch_ms(ts) // 86400000) AS r_v,
        |    COUNT(*) AS f_v,
        |    SUM(CAST(value AS DECIMAL(10,2))) AS m_dec
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |u2 AS (SELECT *, CAST(floor(m_dec / 100) AS BIGINT) AS m_v FROM u),
        |n AS (SELECT COUNT(*) AS n FROM u2),
        |rq AS (
        |  SELECT r_v, 1 + (4 * below) // n.n AS r_q FROM (
        |    SELECT r_v, COALESCE(SUM(c) OVER (ORDER BY r_v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |    FROM (SELECT r_v, COUNT(*) AS c FROM u2 GROUP BY r_v))
        |  CROSS JOIN n),
        |fq AS (
        |  SELECT f_v, 1 + (4 * below) // n.n AS f_q FROM (
        |    SELECT f_v, COALESCE(SUM(c) OVER (ORDER BY f_v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |    FROM (SELECT f_v, COUNT(*) AS c FROM u2 GROUP BY f_v))
        |  CROSS JOIN n),
        |mq AS (
        |  SELECT m_v, 1 + (4 * below) // n.n AS m_q FROM (
        |    SELECT m_v, COALESCE(SUM(c) OVER (ORDER BY m_v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |    FROM (SELECT m_v, COUNT(*) AS c FROM u2 GROUP BY m_v))
        |  CROSS JOIN n),
        |scored AS (
        |  SELECT u2.*, rq.r_q, fq.f_q, mq.m_q,
        |    CASE WHEN rq.r_q = 4 AND fq.f_q = 4 AND mq.m_q = 4
        |        THEN 'champion'
        |      WHEN rq.r_q >= 3 AND fq.f_q >= 3 THEN 'loyal'
        |      WHEN rq.r_q = 1 AND fq.f_q >= 3 THEN 'at_risk'
        |      WHEN rq.r_q = 1 AND fq.f_q = 1 THEN 'lost'
        |      ELSE 'regular' END AS label
        |  FROM u2 JOIN rq USING (r_v) JOIN fq USING (f_v)
        |    JOIN mq USING (m_v))
        |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        |  CAST(m_q AS BIGINT) AS m_q, label, COUNT(*) AS n_users,
        |  CAST(SUM(m_dec) AS DOUBLE) AS total_value
        |FROM scored GROUP BY r_q, f_q, m_q, label""".stripMargin,
    "cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) // 604800000 AS week FROM events),
        |fw AS (SELECT user_id, MIN(week) AS cohort FROM e GROUP BY user_id)
        |SELECT cohort, week - cohort AS weeks_since,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM (SELECT DISTINCT user_id, week FROM e) e
        |JOIN fw ON fw.user_id = e.user_id
        |GROUP BY cohort, week""".stripMargin,
    "range_join_events" ->
      """SELECT e.user_id, s.event_id AS signup_id, e.event_id,
        |  epoch_ms(e.ts) - epoch_ms(s.ts) AS ms_after_signup
        |FROM events e JOIN events s
        |  ON e.user_id = s.user_id AND s.event_type = 'signup'
        |WHERE e.event_type <> 'signup'
        |  AND epoch_ms(e.ts) >= epoch_ms(s.ts)
        |  AND epoch_ms(e.ts) < epoch_ms(s.ts) + 3600000""".stripMargin,
    "value_histogram" ->
      """SELECT event_type AS topic,
        |  CAST(floor("value" / 50.0) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "distinct_users" ->
      """SELECT event_type AS topic,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "hll_distinct_eval" -> {
      import graft.functions.Parity.md5LongSql
      s"""WITH ex AS (
        |  SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        |  FROM events GROUP BY 1),
        |hh AS (
        |  SELECT event_type, ${md5LongSql("'hll#' || user_id")} AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rr AS (
        |  SELECT event_type, h % 4096 AS idx,
        |    CASE WHEN h // 4096 = 0 THEN 45
        |      ELSE 45 - length(bin(h // 4096)) END AS rho
        |  FROM hh),
        |rg AS (SELECT event_type, idx, MAX(rho) AS mj
        |  FROM rr GROUP BY 1, 2),
        |un AS (
        |  SELECT event_type, g.range AS idx
        |  FROM (SELECT DISTINCT event_type FROM ex)
        |  CROSS JOIN range(4096) g),
        |fr AS (
        |  SELECT un.event_type, un.idx, COALESCE(rg.mj, 0) AS mj
        |  FROM un LEFT JOIN rg USING (event_type, idx)),
        |sm AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_registers,
        |    CAST(MAX(mj) AS BIGINT) AS max_rho,
        |    CAST(SUM(mj) AS BIGINT) AS sum_rho,
        |    SUM((1::BIGINT << CAST(62 - mj AS INTEGER))::HUGEINT)
        |      AS sum_q
        |  FROM fr GROUP BY 1)
        |SELECT ex.event_type, exact_users,
        |  CAST(4096 AS BIGINT) AS m_registers,
        |  n_zero_registers, max_rho, sum_rho,
        |  CAST('55793183858067535627031716823040'::HUGEINT
        |    // (1000000::HUGEINT * sum_q) AS BIGINT) AS hll_raw_users,
        |  CAST(CASE WHEN exact_users > 0
        |    THEN (1000000::HUGEINT * abs(
        |      '55793183858067535627031716823040'::HUGEINT
        |        // (1000000::HUGEINT * sum_q) - exact_users))
        |      // exact_users
        |    ELSE 0 END AS BIGINT) AS err_ppm
        |FROM ex JOIN sm USING (event_type)""".stripMargin
    },
    "asof_join_signup" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ms(ts) * 1048576 + event_id % 1048576 AS et
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, et, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY et
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_id,
        |    last_value(CASE WHEN event_type = 'signup' THEN et END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY et
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
        |  FROM ev)
        |SELECT event_id, user_id, et, signup_id, st
        |FROM w WHERE event_type <> 'signup'""".stripMargin,
    "asof_user_state" ->
      """SELECT event_id, user_id, tms, last_signup_ms,
        |  tms - last_signup_ms AS ms_since_signup
        |FROM (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS tms,
        |    MAX(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ms
        |  FROM events)
        |WHERE event_type <> 'signup'""".stripMargin,
    "q6_filter" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topn" ->
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |  epoch_ms(MIN(o_orderdate)) AS o_orderdate_ms
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND l_shipdate > TIMESTAMP '1995-07-01'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q5_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "topn_per_group" ->
      """SELECT user_id, event_id, "value" AS val, CAST(rn AS BIGINT) AS rn
        |FROM (
        |  SELECT user_id, event_id, "value",
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY "value" DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,
    "bounce_rate" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT *,
        |    SUM(CASE WHEN prev IS NULL OR tms - prev > 1800000
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sid
        |  FROM g),
        |f AS (
        |  SELECT user_id, entry_type, n_events FROM (
        |    SELECT user_id, event_type AS entry_type,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY tms, event_id) AS rn,
        |      COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |    FROM s WHERE sid = 1)
        |  WHERE rn = 1)
        |SELECT entry_type, COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounced,
        |  (10000 * CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT)) // COUNT(*) AS bounce_bp
        |FROM f GROUP BY entry_type""".stripMargin,
    "sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, "value", epoch_ms(ts) AS tms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT *,
        |    SUM(CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid, COUNT(*) AS n_events, MIN(tms) AS start_ms,
        |  MAX(tms) AS end_ms,
        |  CAST(SUM(CAST("value" AS DECIMAL(10,2))) AS DOUBLE) AS sum_val
        |FROM s GROUP BY user_id, sid""".stripMargin)
}
