package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational breadth of the engine (SURVEY.md §2.6–§2.9): grouped
  * aggregation, multi-table joins (broadcast + shuffle), semi/anti joins,
  * window functions, rollup/cube, pivot, distinct aggregates, top-N.
  *
  * The reference only ever does client-side pandas versions of these
  * (value_counts `FAISS/UI-Demo/pipeline+ui.py:648-651`, per-op summary
  * `pipeline+ui.py:77-90`, two-level benchmark reduce `Milvus/stream1.py:154-191`);
  * here they are declarative DataFrame plans so Catalyst does partial
  * aggregation, join reordering and broadcast selection — the properties
  * that matter at 100 TB.
  *
  * Money math is done in DECIMAL so results are exact and bit-identical to
  * the DuckDB oracle regardless of partitioning / summation order (double
  * sums are order-dependent; decimals are not).
  */
object Relational {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** TPC-H Q1-shaped pricing summary (A1/A6). */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= to_timestamp(lit("1999-12-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(dec2(col("l_quantity"))) * 100).cast("long").as("sum_qty_c"),
        (sum(dec2(col("l_extendedprice"))) * 100).cast("long").as("sum_base_price_c"),
        (sum((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("decimal(18,4)")) * 10000).cast("long").as("sum_disc_price_c"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-shaped shipping priority: 3-way join + grouped revenue + top-10.
    * customer is small → Catalyst broadcasts it; lineitem⋈orders is the
    * shuffle join; top-10 runs as TakeOrderedAndProject (no global sort).
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit("1998-06-01"))
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg((sum((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("decimal(18,4)")) * 10000).cast("long").as("revenue_c"))
      .select(col("l_orderkey"), unix_timestamp(col("o_orderdate")).as("o_orderdate_epoch"), col("revenue_c"))
      .orderBy(col("revenue_c").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped: 6-table join pruned by region, grouped by nation.
    * region/nation/supplier/customer are broadcast dims; orders⋈lineitem is
    * the only big shuffle.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === lit("ASIA"))
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg((sum((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("decimal(18,4)")) * 10000).cast("long").as("revenue_c"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q10-shaped: top-20 customers by revenue lost to returned items.
    * The `l_returnflag = 'R'` predicate is pushed into the lineitem scan;
    * customer/nation broadcast; orders⋈lineitem is the only big shuffle;
    * the global top-20 is TakeOrderedAndProject (partial top-k per
    * partition, never a full sort).
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val n = Tables.nation(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg((sum((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("decimal(18,4)")) * 10000).cast("long").as("revenue_c"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_c").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        col("n_name"), col("revenue_c"), col("n_items"))
  }

  /** TPC-H Q8-shaped: one supplier nation's market share inside a region's
    * customer market, by order year (conditional-aggregate ratio over an
    * 8-table join). Plan shape for scale: lineitem⋈orders is the only big
    * shuffle; part (filtered by type), customer, supplier and both nation
    * legs plus region broadcast; the nation/total split is a single
    * conditional aggregate, not two passes. The share is fixed-point
    * micro via BIGINT floor division so the oracle replays it exactly.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_type") === lit("ECONOMY"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    val l = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
    val r = Tables.region(spark, dir).filter(col("r_name") === lit("AMERICA"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), c("c_nationkey") === col("n1_key"))
      .join(broadcast(r), col("n1_region") === r("r_regionkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n2), s("s_nationkey") === col("n2_key"))
      .withColumn("vol_c", ((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("decimal(18,4)") * 10000).cast("long"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === lit("NATION_3"), col("vol_c")).otherwise(lit(0L))).as("nation_c"),
        sum(col("vol_c")).as("total_c"))
      .withColumn("mkt_share_micro", expr("(nation_c * 1000000) DIV total_c"))
      .select(col("o_year"), col("nation_c"), col("total_c"), col("mkt_share_micro"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q18-shaped large-volume customers: orders whose total quantity
    * clears a threshold, enriched with customer attribution. The HAVING
    * side is a lineitem-only map-combined hash aggregate whose filter
    * kills ~99% of groups BEFORE any join — only surviving orderkeys
    * (a sliver at any scale) reach orders ⋈ broadcast customer, the
    * aggregate-then-semi-enrich shape that keeps the join input tiny.
    */
  def q18BigCustomers(spark: SparkSession, dir: String, minQty: Int = 250): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg((sum(dec2(col("l_quantity"))) * 100).cast("long").as("sum_qty_c"))
      .filter(col("sum_qty_c") > minQty * 100L)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        col("l_orderkey").cast("long").as("o_orderkey"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("o_totalprice_c"),
        col("sum_qty_c"))
      .orderBy(col("sum_qty_c").desc, col("o_orderkey"))
  }

  /** TPC-H Q14-shaped promo revenue share by ship month: lineitem ⋈
    * broadcast part, promo/total as TWO conditional sums in ONE aggregate
    * (never a second pass), share as integer micro via BIGINT floor
    * division — the [[q8MarketShare]] fixed-point idiom, oracle-exact.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .withColumn("month", date_format(col("l_shipdate"), "yyyy-MM"))
      .withColumn("rev_c", ((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("decimal(18,4)") * 10000).cast("long"))
      .groupBy(col("month"))
      .agg(sum(when(col("p_type") === lit("PROMO"), col("rev_c")).otherwise(lit(0L))).as("promo_c"),
        sum(col("rev_c")).as("total_c"))
      .withColumn("promo_share_micro", expr("(promo_c * 1000000) DIV total_c"))
      .orderBy(col("month"))
  }

  /** Revenue concentration (the Pareto/80-20 report): how many customers
    * carry 50/80/90% of revenue. Exact money (the q14 per-row decimal
    * product summed as 10⁻⁴-unit BIGINTs), one customer-keyed aggregate,
    * then the ranked cumulative sum as a TWO-PHASE range-sharded prefix
    * sum (the [[graft.operators.Sampling.globalOffsets]] idiom) instead
    * of a partition-less global window: rows range-bucket on the sort key
    * itself (`rev_tmc`, linearly between the broadcast min/max, so bucket
    * order ≡ global descending revenue order and equal revenues never
    * straddle a bucket), phase 1 ranks WITHIN each bucket under an
    * ordinary partitioned window, phase 2 cumulates the ≤`shards`-row
    * per-bucket (count, revenue) totals into base offsets and
    * broadcast-joins them back. No task ever sorts more than one bucket;
    * the oracle replays the naive global window, so the hash equality IS
    * the two-phase correctness proof. Milestone comparisons are widened
    * to DECIMAL(38,0) — `cum·10³` and `total_rev·t` would wrap BIGINT
    * near TPC-H sf300 revenue totals (the 100 TB design point) while the
    * DuckDB oracle auto-promotes to HUGEINT.
    */
  def revenueConcentration(spark: SparkSession, dir: String,
                           thresholds: Seq[Long] = Seq(500L, 800L, 900L),
                           shards: Int = 32): DataFrame = {
    val perCust = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("rev_c", ((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("decimal(18,4)") * 10000).cast("long"))
      .groupBy(col("o_custkey")).agg(sum(col("rev_c")).as("rev_tmc"))
    val bounds = broadcast(perCust.agg(min(col("rev_tmc")).as("lo"), max(col("rev_tmc")).as("hi")))
    // Deterministic monotone bucketing on the sort key: highest revenue →
    // bucket 0. Equal rev_tmc ⇒ equal bucket, so the within-bucket
    // (rev_tmc DESC, custkey) order concatenated bucket-by-bucket is
    // exactly the global order. The subtraction runs in DECIMAL(38,0) so
    // `span · shards` cannot wrap at lake-scale revenue magnitudes.
    val sharded = perCust.crossJoin(bounds)
      .withColumn("shard",
        expr(s"CAST((CAST(hi AS DECIMAL(38,0)) - rev_tmc) * $shards DIV " +
          s"(CAST(hi AS DECIMAL(38,0)) - lo + 1) AS INT)"))
      .drop("lo", "hi")
    val wLocal = Window.partitionBy(col("shard"))
      .orderBy(col("rev_tmc").desc, col("o_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sharded
      .withColumn("rn_local",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("rev_tmc").desc, col("o_custkey"))).cast("long"))
      .withColumn("cum_local", sum(col("rev_tmc")).over(wLocal))
    val wBase = Window.partitionBy(lit(1)).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val bases = within.groupBy(col("shard"))
      .agg(count(lit(1)).as("cnt"), sum(col("rev_tmc")).as("tot"))
      .withColumn("base_rn", coalesce(sum(col("cnt")).over(wBase), lit(0L)))
      .withColumn("base_rev", coalesce(sum(col("tot")).over(wBase), lit(0L)))
      .select(col("shard"), col("base_rn"), col("base_rev"))
    val ranked = within.join(broadcast(bases), "shard")
      .select(col("o_custkey"), col("rev_tmc"),
        (col("base_rn") + col("rn_local")).as("rn"),
        (col("base_rev") + col("cum_local")).as("cum"))
    val totals = broadcast(perCust.agg(sum(col("rev_tmc")).as("total_rev"),
      count(lit(1)).as("n_cust")))
    def hit(t: Long) =
      col("cum").cast("decimal(38,0)") * 1000 >= col("total_rev").cast("decimal(38,0)") * t
    val agg = ranked.crossJoin(totals).agg(
      thresholds.map(t => min(when(hit(t), col("rn"))).as(s"n$t")).head,
      (thresholds.tail.map(t => min(when(hit(t), col("rn"))).as(s"n$t")) :+
        max(col("n_cust")).as("n_cust")): _*)
    val stackSql = s"stack(${thresholds.length}, " +
      thresholds.map(t => s"${t}L, n$t, n$t * 1000 DIV n_cust").mkString(", ") +
      ") as (threshold_permille, n_customers, customers_permille)"
    agg.select(expr(stackSql)).orderBy(col("threshold_permille"))
  }

  /** Rolling-activity report — DAU and trailing-7-day WAU per day, plus
    * the stickiness ratio (DAU·10⁶ DIV WAU) product analytics tracks.
    * The (user, day) activity grid is pre-DISTINCT'd map-side (the
    * retention-grid idiom), the trailing window is a bounded broadcast
    * cross of the ≤|calendar| day list against the grid with a range
    * predicate — per-day distinct-user counting over a 7-day span can't
    * ride an ordinary window frame (count DISTINCT over a sliding range
    * isn't a window aggregate), and the day list is calendar-bounded, so
    * the cross is |days| × grid, never data × data.
    */
  def wauReport(spark: SparkSession, dir: String, window: Int = 7): DataFrame = {
    val grid = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val days = broadcast(grid.select(col("d").as("day")).distinct())
    val dau = grid.groupBy(col("d").as("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = days.join(grid,
        col("d").between(date_sub(col("day"), window - 1), col("day")))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness_micro", expr("dau * 1000000 DIV wau"))
      .orderBy(col("day"))
  }

  /** Per-day event-type DIVERSITY (Gini impurity, 1 − Σp²) — the mix-drift
    * monitor a pipeline pairs with the volume changepoint: volume can hold
    * steady while the composition collapses (one producer flooding).
    * Gini instead of entropy because it is RATIONAL: gini_micro =
    * 10⁶ − (Σ n_t² · 10⁶) DIV n², exact integers end to end, where
    * entropy's log is libm and would make the oracle hash flaky.
    * One (day, type) count aggregate, folded per day.
    */
  def typeGini(spark: SparkSession, dir: String): DataFrame = {
    val byType = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_t"))
    byType.groupBy(col("event_date"))
      .agg(sum(col("n_t")).as("n"),
        count(lit(1)).as("n_types"),
        // Widened to DECIMAL(38,0) BEFORE the multiply: n_t² and n² wrap
        // BIGINT once a day carries ~3·10⁹ events (ANSI off ⇒ silent),
        // while the DuckDB oracle promotes to HUGEINT — the engine must
        // stay exact at the same magnitudes the oracle is.
        sum(col("n_t").cast("decimal(38,0)") * col("n_t")).as("sum_sq"))
      .withColumn("gini_micro",
        expr("1000000 - (sum_sq * 1000000) DIV (CAST(n AS DECIMAL(38,0)) * n)"))
      .select(col("event_date"), col("n"), col("n_types"), col("gini_micro"))
      .orderBy(col("event_date"))
  }

  /** Behavioral TRANSITION MATRIX — P(next event type | current), the
    * first-order Markov summary behind funnel design and anomaly
    * baselines: per user, consecutive events pair up via a lead window
    * (ordered by ts with event_id tiebreak — same-timestamp events are
    * real in event data), transitions count in one hash aggregate, and
    * the row-conditional probability is an integer permille against the
    * from-type's total. The window partitions by user_id — ordering
    * never leaves its user, the sessionize shuffle shape.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(fromTotals, Seq("from_type"))
      .withColumn("prob_permille", expr("n * 1000 DIV n_from"))
      .select(col("from_type"), col("to_type"), col("n"), col("prob_permille"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** CUSUM changepoint scan over the daily event series — the classic
    * "did the level shift, and when" detector (Page 1954) a pipeline
    * runs on ingest volumes before trusting week-over-week comparisons.
    * Division-free integer form: deviations are scaled by the day count
    * (`n·days − total` = days·(n − mean)), so the cumulative sum needs
    * no floor-division anywhere and both engines agree bit-for-bit; the
    * argmax |cusum| day is the changepoint estimate (`is_peak`).
    *
    * Scale shape: one map-combined daily aggregate; the window runs over
    * |days| rows (bounded by the calendar, not the data) — the global
    * ordering is over a frame that fits on one task by construction.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("n_events"))
    val tot = broadcast(daily.agg(sum(col("n_events")).as("total"),
      count(lit(1)).as("days")))
    val w = Window.orderBy(col("event_date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily.crossJoin(tot)
      .withColumn("dev", col("n_events") * col("days") - col("total"))
      .withColumn("cusum_scaled", sum(col("dev")).over(w))
    cusum
      .withColumn("mx", max(abs(col("cusum_scaled"))).over(Window.partitionBy()))
      .withColumn("is_peak", abs(col("cusum_scaled")) === col("mx"))
      .select(col("event_date"), col("n_events"), col("cusum_scaled"), col("is_peak"))
      .orderBy(col("event_date"))
  }

  /** Market-basket brand affinity — the retail sibling of
    * [[graft.operators.TextAnalysis.phraseLift]]'s collocation mining:
    * which part BRANDS co-occur in the same order above chance. Same
    * exact-integer lift (c_ab·N·10⁶ ÷ (c_a·c_b), DECIMAL(38,0)-widened),
    * no libm.
    *
    * Scale shape: the only corpus-sized work is one lineitem⋈part
    * broadcast join collapsed to DISTINCT (order, brand) — the pair
    * generator then self-joins on the ORDER key, whose fan-out is
    * bounded by basket size (≤7 lineitems per TPC-H order, so ≤21 pairs)
    * — never a brand-domain cross; brand marginals (≤25 rows) broadcast
    * back; top-K is TakeOrderedAndProject.
    */
  def basketPairs(spark: SparkSession, dir: String,
                  minCount: Int = 3, topK: Int = 20): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    // ONE order-key shuffle serves everything: per-order sorted brand sets
    // (collect_set dedups in the aggregate — no separate DISTINCT
    // exchange), pairs generated in-basket by a nested HOF over the ≤25
    // sorted brands (no self-join exchange), marginals and the order
    // count read the same baskets frame.
    val baskets = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sort_array(collect_set(col("p_brand"))).as("brands"))
      // three consumers below, two of them independent broadcast jobs the
      // scheduler runs concurrently — EAGER so the single shuffle is
      // materialized once, not raced
      .localCheckpoint()
    val nOrders = broadcast(baskets.agg(count(lit(1)).as("n_orders")))
    val marg = baskets.select(explode(col("brands")).as("brand"))
      .groupBy(col("brand")).agg(count(lit(1)).as("c"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(brands, (a, i) ->
          |  transform(slice(brands, i + 2, size(brands)), b -> struct(a AS brand_a, b AS brand_b))))"""
          .stripMargin)).as("pr"))
      .select(col("pr.brand_a"), col("pr.brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"), col("c").as("c_a"))), Seq("brand_a"))
      .join(broadcast(marg.select(col("brand").as("brand_b"), col("c").as("c_b"))), Seq("brand_b"))
      .crossJoin(nOrders)
      .withColumn("lift_micro",
        expr("(CAST(c_ab AS DECIMAL(38,0)) * n_orders * 1000000) DIV (c_a * c_b)").cast("long"))
      .select(col("brand_a"), col("brand_b"), col("c_ab"), col("c_a"), col("c_b"),
        col("lift_micro"))
      .orderBy(col("lift_micro").desc, col("brand_a"), col("brand_b"))
      .limit(topK)
  }

  /** TPC-H Q6-shaped forecast revenue change: the canonical
    * scan-dominated query — THREE pushable range predicates and ONE
    * aggregate, no join at all. The plan that matters at 100 TB is the
    * scan: every predicate reaches parquet (`PushedFilters` on shipdate /
    * discount / quantity prune row groups via min/max stats, and the
    * [[graft.sources.SortedLayout]] story compounds this when the lake is
    * date-clustered), the projection reads 3 columns of 11, and the
    * aggregate is one partial-combined scalar. Revenue is the exact
    * decimal product surfaced in 10⁻⁴ currency units (the q14 idiom).
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        dec2(col("l_discount")).between(lit(0.05).cast("decimal(18,2)"),
          lit(0.07).cast("decimal(18,2)")) &&
        col("l_quantity") < 24)
      .agg(
        (sum((dec2(col("l_extendedprice")) * dec2(col("l_discount")))
          .cast("decimal(18,4)")) * 10000).cast("long").as("revenue_tmc"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q17-shaped small-quantity revenue loss: per-part average
    * quantity as a grouped aggregate JOINED back (Catalyst's
    * decorrelation of the classic correlated subquery, written directly),
    * the avg compare in cross-multiplied exact-decimal form
    * (5·qty·n < Σqty ⟺ qty < 0.2·avg — no division, no rounding), brand
    * filter pushed to the broadcast part side. The per-part aggregate is
    * map-combined; only matching-brand parts' lineitems survive to the
    * final scalar sum.
    */
  def q17SmallQuantity(spark: SparkSession, dir: String,
                       brand: String = "Brand#13"): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).filter(col("p_brand") === brand)
      .select(col("p_partkey"))
    val avgq = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(sum(dec2(col("l_quantity"))).as("qty_sum"),
        count(lit(1)).as("qty_n"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(avgq, l("l_partkey") === avgq("ap_partkey"))
      .filter(dec2(col("l_quantity")) * 5 * col("qty_n") < col("qty_sum"))
      .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("long").as("loss_sum_c"),
        count(lit(1)).as("n_lines"))
      .select(expr("loss_sum_c DIV 7").as("avg_yearly_c"),
        col("loss_sum_c"), col("n_lines"))
  }

  /** Join-key skew PREFLIGHT — the report a pipeline runs before pointing
    * a big equi-join at a key: top-N hot keys with their share of the
    * table, plus the max/mean skew ratio that decides whether to salt
    * ([[saltedSkewJoin]]) or trust AQE's skew split. Shapes for scale:
    * the per-key counts are ONE map-combined aggregate, the totals are a
    * 1-row aggregate broadcast back (the winsorized-clamp idiom), and the
    * top-N is TakeOrderedAndProject — nothing materializes the full key
    * distribution anywhere.
    */
  def skewReport(spark: SparkSession, dir: String, topN: Int = 10): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_micro", expr("cnt * 1000000 DIV total"))
      .withColumn("skew_ratio_micro", expr("max_cnt * n_keys * 1000000 DIV total"))
      .orderBy(col("cnt").desc, col("user_id")).limit(topN)
      .select(col("user_id").cast("long").as("user_id"), col("cnt"),
        col("share_micro"), col("n_keys"), col("skew_ratio_micro"))
  }

  /** Join-SIZE preflight: estimate |A ⋈ B| from a deterministic hash
    * sample of the key domain before paying for the join — the other half
    * of the pre-join toolkit next to [[skewReport]] (that finds hot keys;
    * this prices the output). Classic end-biased/coordinated sampling:
    * a key is sampled iff the first hex nibble of md5(key) is '0'
    * (p = 1/16), BOTH sides agree on the sample (same hash ⇒ the sampled
    * sub-join is a true 1/16-of-keys join), and
    * est = 16 · Σ_sampled fA(k)·fB(k) is unbiased for
    * Σ fA(k)·fB(k) = |A ⋈ B|.
    *
    * Scale shape: the sample predicate sits BELOW the per-key aggregates,
    * so the estimate branch's two shuffles carry ~1/16 of the key domain
    * — at 100 TB you run ONLY that branch (estimateJoinSize) and the
    * preflight costs 1/16 of a key-count pass, not a join. The registered
    * query also runs the exact branch and reports the relative error, so
    * the estimator itself stays oracle-audited: every output is integer
    * arithmetic over md5 — an engine-portable replay, same contract as
    * the md5 MinHash family.
    */
  def joinSizeEstimate(spark: SparkSession, dir: String,
                       explodeFactor: Int = 4): DataFrame = {
    def keys(df: DataFrame, key: String) = df.select(col(key).as("k"))
    def freq(df: DataFrame, out: String) =
      df.groupBy(col("k")).agg(count(lit(1)).as(out))
    val la = keys(Tables.lineitem(spark, dir), "l_orderkey")
    val ob = keys(Tables.orders(spark, dir), "o_orderkey")
    val sampled = (df: DataFrame) =>
      df.filter(substring(md5(col("k").cast("string")), 1, 1) === "0")
    val fa = freq(la, "fa")
    val fb = freq(ob, "fb")
    val exact = fa.join(fb, "k")
      .agg(sum(expr("fa * fb")).as("exact_rows"), count(lit(1)).as("n_keys"))
    val inputs = fa.agg(sum(col("fa")).as("rows_a"))
      .crossJoin(fb.agg(sum(col("fb")).as("rows_b")))
    val est = freq(sampled(la), "fa").join(freq(sampled(ob), "fb"), "k")
      .agg(coalesce(sum(expr("fa * fb")), lit(0L)).as("samp_rows"),
        count(lit(1)).as("sampled_keys"))
    exact.crossJoin(est).crossJoin(inputs)
      .withColumn("est_rows", expr("samp_rows * 16"))
      .withColumn("err_permille", expr("abs(est_rows - exact_rows) * 1000 DIV exact_rows"))
      .withColumn("verdict",
        expr(s"IF(est_rows > ${explodeFactor}L * greatest(rows_a, rows_b), 'explodes', 'ok')"))
      .select(col("n_keys"), col("sampled_keys"), col("est_rows"),
        col("exact_rows"), col("err_permille"), col("rows_a"), col("rows_b"),
        col("verdict"))
  }

  /** Skew-mitigated equi-join by explicit key salting — the join-side
    * complement of [[aggSalted]]. The fact side tags each row with
    * `salt = pmod(xxhash64(event_id), S)`; the dimension side is
    * replicated S ways, so a hot key's rows spread across S (key, salt)
    * buckets instead of landing in one reducer. The result set is
    * IDENTICAL to the unsalted join (the oracle replays the plain join).
    * At 100 TB this is the manual fallback when AQE skew-split can't
    * apply — e.g. a hot key flowing into a mandatory sort-merge join, or
    * a skewed shuffle feeding a stateful operator; S trades ×S dimension
    * replication for ÷S worst-key partition size.
    */
  def saltedSkewJoin(spark: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(salts)))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      // merge hint: at test scale Spark would broadcast the small dim and
      // the salt would never reach a shuffle — force the sort-merge path
      // the mitigation exists for (at 100 TB the dim is too big to
      // broadcast and this is the plan Spark picks on its own).
      .hint("merge")
    e.join(dim, e("user_id") === dim("c_custkey") && e("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("c_acctbal").cast("decimal(18,2)")) * 100).cast("long").as("acctbal_wsum_c"))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** Left-semi join (EXISTS): customers having at least one URGENT order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): customers with no URGENT order (J2 shape —
    * the reference's delete path `Milvus/stream1.py:313-314` is this exact
    * anti-semijoin).
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Per-group top-k via window (O2/V5 shape: the reference's per-query
    * top-k `FAISS/PlainDemo/pipeline.py:238` is window-top-k shaped).
    * Spark ≥3.5 plans this with WindowGroupLimit (rank pushdown), so no
    * full per-partition materialization.
    */
  def windowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("price_c"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Running aggregate over an ordered frame (§2.9 frame-spec window). */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    e.select(
        col("user_id"), col("event_id"),
        (sum(dec2(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0)) * 100)
          .cast("long").as("running_value_c"),
        row_number().over(w).as("seq"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** The rest of the rank family in one query: dense_rank (no gaps),
    * ntile (equi-depth buckets), and lag delta — the §2.9 functions the
    * top-k/running queries don't touch. One window spec ⇒ one shuffle+sort
    * shared by all four expressions.
    */
  def windowRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") % 100 === 0)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).as("drk"),
        ntile(4).over(w).as("quartile"),
        (dec2(col("o_totalprice")) -
          coalesce(lag(dec2(col("o_totalprice")), 1).over(w), lit(0)))
          .cast("decimal(18,2)").as("delta"))
      .select(col("o_custkey"), col("o_orderkey"), col("drk").cast("long").as("drk"),
        col("quartile").cast("long").as("quartile"),
        (col("delta") * 100).cast("long").as("delta_c"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Group values into deterministic arrays: collect_list is
    * order-nondeterministic under parallel merge, so the engine's array agg
    * is sort_array(collect_list(...)) — reproducible on any partitioning
    * (the same determinism rule as the decimal money sums).
    */
  def arrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 500 === 0)
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(col("o_orderkey").cast("long"))).as("order_keys"),
        count(lit(1)).as("n"))
      // surface the array as a joined string so the cross-engine compare
      // sees a scalar cell (hashing array cells is driver-format-dependent)
      .select(col("o_custkey"),
        concat_ws(",", transform(col("order_keys"), _.cast("string"))).as("order_keys"),
        col("n"))
      .orderBy(col("o_custkey"))

  /** Correlated scalar subquery through the SQL surface: the orders that
    * are their customer's most expensive (max is exact on doubles, so the
    * correlation predicate is engine-independent). Catalyst decorrelates
    * it into an aggregate + join — the rewrite is the point (hand-written
    * per-key loops are what the engine replaces).
    */
  def sqlCorrelated(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |       CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |FROM graft_orders_v o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM graft_orders_v o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  /** ROLLUP over lineitem flags (A6 grouping-sets surface). */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        (sum(dec2(col("l_quantity"))) * 100).cast("long").as("sum_qty_c"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE over orders status×priority (A6). */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Exact distinct aggregate per group. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy(col("l_returnflag"))

  /** Approximate distinct (HLL++) — the scale path for 100 TB cardinality
    * estimation; algorithm-specific so verified rows-only (no SQL oracle).
    */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"))
      .orderBy(col("l_returnflag"))

  /** Error-bound audit of [[aggApproxDistinct]] — the export-replay oracle
    * for a sketch whose values SQL can't recompute: the HLL++ estimates
    * are exported once per corpus content, then BOTH engines join the
    * export against their own independently computed EXACT distinct counts
    * and emit bound-verdict rows. The hash compare therefore checks (a)
    * Spark's exact distinct equals DuckDB's, and (b) the same integer
    * verdict |approx − exact|·20 ≤ exact·3, i.e. within 15% = 3× the
    * default 5% rsd (1σ); ApproxSketchSpec pins the measured error far
    * tighter. Same audit-twin pattern as `knn_recall_report`: the
    * PRODUCTION operator is the sketch alone ([[aggApproxDistinct]]) —
    * the exact side here is the verification harness, priced like any
    * distinct-agg at test SF.
    */
  def aggApproxDistinctAudit(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Dedup.sketchStorePath(dir)}/hll_distinct"
    Dedup.ensureExport(path, Tables.dirFingerprint(dir)) {
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"))
    }
    val approx = graft.Tables.storeParquet(spark, path)
    val exact = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
    approx.join(exact, "l_returnflag")
      .select(col("l_returnflag"),
        col("approx_orders").cast("long").as("approx_orders"),
        col("exact_orders").cast("long").as("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) * lit(20L) <=
          col("exact_orders") * lit(3L)).cast("long").as("within_3sigma"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles per group (A-family breadth). Both
    * engines use the same (n−1)·q linear interpolation; outputs are
    * round(1e6·x) — round, not floor: interpolated midpoints land exactly
    * on micro-integers where repr error flips a floor.
    */
  def aggPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)") * 1000000.0).cast("long").as("qty_p50_micro"),
        round(expr("percentile(l_quantity, 0.95)") * 1000000.0).cast("long").as("qty_p95_micro"),
        round(expr("percentile(l_extendedprice, 0.5)") * 1000000.0).cast("long").as("price_p50_micro"))
      .orderBy(col("l_returnflag"))

  /** Winsorized robust statistics: clamp the value column at its exact
    * [p05, p95] before aggregating — the outlier-safe mean/extremes a
    * metrics pipeline reports when raw means are skew-dominated. Two-pass
    * by necessity (exact global percentiles, then clamp): pass 1 is one
    * map-combined percentile aggregate producing a 1-ROW bounds table that
    * broadcasts into pass 2's conditional aggregation — the big table is
    * scanned twice but shuffled never (both aggregations are scalar).
    * Same (n−1)·q interpolation contract as [[aggPercentiles]].
    */
  def aggWinsorized(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.agg(
      expr("percentile(value, 0.05)").as("lo"),
      expr("percentile(value, 0.95)").as("hi"))
    val clamped = least(greatest(col("value"), col("lo")), col("hi"))
    ev.select(col("value")).crossJoin(broadcast(bounds))
      .agg(count(lit(1)).as("n"),
        round(avg(clamped) * 1000000.0).cast("long").as("wmean_micro"),
        round(min(clamped) * 1000000.0).cast("long").as("wmin_micro"),
        round(max(clamped) * 1000000.0).cast("long").as("wmax_micro"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_clamped"))
  }

  /** The SQL front door: the same engine surface through `spark.sql` over
    * registered views — GROUPING SETS, which the DataFrame API only
    * reaches via rollup/cube. Shows a reference user can keep writing SQL.
    */
  def sqlGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** Moment statistics per group (corr / covariance / stddev). Merge-order-
    * dependent float accumulation differs across engines, so the driver
    * check is rows-only; a spec bounds the values against DuckDB-computed
    * references via the oracle-free tolerance path.
    */
  def aggMoments(spark: SparkSession, dir: String): DataFrame = {
    // Higher moments from EXACT integer power sums: each measure is first
    // fixed-pointed to cents (exact — the data has 2 decimals), the per-group
    // sums Σx, Σx², Σxy accumulate in DECIMAL(38,0) (128-bit, overflow-free
    // at any SF, partitioning-independent), and only the final closed-form
    // combination runs in double — the same expression tree the DuckDB
    // oracle states, so corr/covar/stddev are bit-identical across engines
    // where a streaming double accumulator (corr()/covar_samp()) is
    // fold-order-dependent and unverifiable.
    val qc = (col("l_quantity").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    val pc = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    val dc = (col("l_discount").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    val sums = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(qc).as("sq"), sum(pc).as("sp"), sum(dc).as("sd"),
        sum(qc * pc).as("sqp"), sum(qc * qc).as("sqq"),
        sum(pc * pc).as("spp"), sum(dc * dc).as("sdd"))
    // Identical double formulas on both sides (see oracleSql): cent scale
    // cancels in corr; covar is rescaled cents² → units², stddev cents →
    // units.
    sums.select(col("l_returnflag"), col("n").cast("long").as("n"),
        expr("""CAST(floor(
          (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE))
          / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/CAST(n AS DOUBLE))
               * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE)))
          * 1000000.0) AS BIGINT)""").as("corr_micro"),
        expr("""CAST(floor(
          (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE))
          / (CAST(n AS DOUBLE) - 1.0) / 10000.0 * 1000000.0) AS BIGINT)""").as("covar_micro"),
        expr("""CAST(floor(
          sqrt((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE)/CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0)) / 100.0 * 1000000.0) AS BIGINT)""").as("stddev_micro"))
      .orderBy(col("l_returnflag"))
  }

  /** Approximate percentile (Greenwald-Khanna sketch) — the 100 TB path
    * next to [[aggPercentiles]]: exact percentile needs a per-group sort;
    * the sketch is one pass + mergeable partials. Algorithm-specific
    * values ⇒ rows-only driver check; accuracy vs exact is spec-asserted.
    */
  def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("price_p50_approx"),
        expr("approx_percentile(l_extendedprice, 0.95, 1000)").as("price_p95_approx"))
      .orderBy(col("l_returnflag"))

  /** Rank-error audit of [[aggApproxPercentile]] (export-replay oracle):
    * the Greenwald–Khanna guarantee is about RANK, not value — the
    * returned element's rank must lie within ε·n of the target rank q·n,
    * ε = 1/accuracy = 1/1000. The sketch values (actual data elements,
    * exported as DOUBLE so the comparisons below are bit-exact in both
    * engines) are exported once per corpus content; both engines then
    * count rows strictly-below / at-or-below each exported value in their
    * own scan of lineitem and emit the integer verdict: the value's rank
    * interval [cnt_lt+1, cnt_le] must intersect [t−s, t+s] with target
    * t = n·q (integer DIV) and slack s = n DIV 1000 + 1 (+1 absorbs the
    * target's own rounding). Audit-twin pattern of `knn_recall_report`;
    * the production operator stays [[aggApproxPercentile]].
    */
  def aggApproxPercentileAudit(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Dedup.sketchStorePath(dir)}/gk_percentile"
    Dedup.ensureExport(path, Tables.dirFingerprint(dir)) {
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(p, 0.5, 1000)").as("p50"),
          expr("approx_percentile(p, 0.95, 1000)").as("p95"))
    }
    val approx = graft.Tables.storeParquet(spark, path)
    val ranks = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
      .join(broadcast(approx), "l_returnflag")
      .groupBy(col("l_returnflag"), col("p50"), col("p95"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p") < col("p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("p") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("p") < col("p95"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("p") <= col("p95"), 1L).otherwise(0L)).as("le95"))
    ranks.select(col("l_returnflag"),
        floor(col("p50") * 1000000.0).cast("long").as("p50_micro"),
        floor(col("p95") * 1000000.0).cast("long").as("p95_micro"),
        col("n"),
        expr("""CAST(le50 >= (n*5 DIV 10) - (n DIV 1000 + 1)
                 AND lt50 <= (n*5 DIV 10) + (n DIV 1000 + 1) AS LONG)""").as("ok_p50"),
        expr("""CAST(le95 >= (n*95 DIV 100) - (n DIV 1000 + 1)
                 AND lt95 <= (n*95 DIV 100) + (n DIV 1000 + 1) AS LONG)""").as("ok_p95"))
      .orderBy(col("l_returnflag"))
  }

  /** Date-part extraction + calendar grouping (temporal breadth). */
  def timeExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .groupBy(col("y"), col("m"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("y"), col("m"))

  /** Fixed-width histogram binning of a continuous column. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** Skew-safe two-phase aggregation: salt the key space into 16 sub-keys,
    * partial-aggregate per (key, salt), then merge — the pattern for a hot
    * grouping key at 100 TB (one reducer would otherwise take the whole
    * key). Decimal partials make the result exactly equal to the direct
    * groupBy, which is the oracle.
    */
  def aggSalted(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(dec2(col("l_quantity"))).as("partial_qty"),
        count(lit(1)).as("partial_n"))
      .groupBy(col("l_returnflag"))
      .agg((sum(col("partial_qty")) * 100).cast("long").as("sum_qty_c"),
        sum(col("partial_n")).as("n"))
      .orderBy(col("l_returnflag"))

  /** Pivot (A5 — `Milvus/stream1.py:540-556` dict-of-dicts → wide frame). */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("user_bucket", col("user_id") % 10)
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0) // absent combos: 0, matching the oracle's FILTER counts
      .orderBy(col("user_bucket"))

  /** Set operations (§2.3 set-like surface): customers in the BUILDING
    * segment INTERSECT customers with an urgent order, and the EXCEPT
    * complement — both distinct-set semantics, one shuffle each.
    */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("c_custkey"))
    building.intersect(urgent).orderBy(col("c_custkey"))
  }

  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("c_custkey"))
    building.except(urgent).orderBy(col("c_custkey"))
  }

  /** Multiset (ALL) variants: bag semantics preserve duplicate
    * multiplicities — `exceptAll` keeps max(m−n, 0) copies, `intersectAll`
    * min(m, n) — which is what dataset-difference arithmetic over
    * observation logs needs (distinct set ops silently collapse repeats).
    * Planned as aggregate-on-counts + generate, one shuffle each.
    */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    val f = Tables.lineitem(spark, dir)
      .filter(col("l_linestatus") === "F").select(col("l_orderkey"))
    r.exceptAll(f).orderBy(col("l_orderkey"))
  }

  def setIntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    val f = Tables.lineitem(spark, dir)
      .filter(col("l_linestatus") === "F").select(col("l_orderkey"))
    r.intersectAll(f).orderBy(col("l_orderkey"))
  }

  /** Full outer join: per-nation customer/supplier counts including
    * nations present on only one side.
    */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, dir).groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, c("c_nationkey") === s("s_nationkey"), "full_outer")
      .select(coalesce(c("c_nationkey"), s("s_nationkey")).cast("long").as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  /** Value-counts top-10 (A3 — `FAISS/UI-Demo/pipeline+ui.py:648-651`). */
  def valueCountsTop(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(10)

  /** Time-series gap fill — the densification step before any
    * charting/forecasting consumer: generate the full hourly grid from
    * the observed bounds (a 1-row aggregate exploded into the hour
    * sequence — never a driver-side loop), cross it with the (tiny)
    * distinct type set via an explicitly bounded broadcast, and
    * left-join the hourly counts so silent gaps become explicit zeros.
    * The only corpus-sized work is the hourly aggregate; the grid is
    * hours × types, metadata-sized at any corpus scale.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
    val hourly = e.groupBy(col("event_type"), col("hour_epoch")).agg(count(lit(1)).as("n"))
    val hours = e.agg(min(col("hour_epoch")).as("lo"), max(col("hour_epoch")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_epoch"))
    val types = e.select(col("event_type")).distinct()
    hours.crossJoin(broadcast(types))
      .join(hourly, Seq("event_type", "hour_epoch"), "left")
      .select(col("hour_epoch"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  /** Variance-based outlier audit (3σ rule) with ZERO floating point: the
    * test `(x − μ)² > 9σ²` is cleared of denominators into pure integer
    * arithmetic — `(n·x − s1)² > 9·(n·s2 − s1²)` over exact cent sums —
    * so no sqrt/libm appears and the oracle replays it bit-for-bit
    * (Spark DECIMAL(38,0) ≙ DuckDB HUGEINT, both exact at these widths).
    * Two scans, winsorized-aggregation shape: the tiny per-type moment
    * table broadcasts back onto the fact scan; flagged counts partial-
    * aggregate map-side.
    */
  def outlierAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), (dec2(col("value")) * 100).cast("long").as("xc"))
    val stats = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("xc")).as("s1"),
        sum(col("xc").cast("decimal(38,0)") * col("xc").cast("decimal(38,0)")).as("s2"))
    val dev = (col("n") * col("xc") - col("s1")).cast("decimal(38,0)")
    val rhs = (col("n").cast("decimal(38,0)") * col("s2")
      - col("s1").cast("decimal(38,0)") * col("s1").cast("decimal(38,0)")) * lit(9)
    e.join(broadcast(stats), "event_type")
      .withColumn("is_out", (dev * dev > rhs).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("is_out")).as("n_outliers"),
        min(when(col("is_out") === 1, col("xc"))).as("out_min_c"),
        max(when(col("is_out") === 1, col("xc"))).as("out_max_c"))
      .orderBy(col("event_type"))
  }

  /** Rolling-window anomaly detection over the hourly event-rate series —
    * the streaming-adjacent "is this hour's traffic 3σ off its trailing
    * day?" monitor, and the time-series companion to the global
    * [[outlierAudit]]: per (event_type, hour) counts, trailing-24-row
    * moments via ONE rows-frame window pass (`ROWS 24 PRECEDING..1
    * PRECEDING` — the current hour never contaminates its own baseline),
    * and the same zero-floating-point 3σ test in cross-multiplied integer
    * form: (w·x − S₁)² > 9·(w·S₂ − S₁²) over exact count sums. Scale
    * shape: the window runs over the HOURLY table (|hours|·|types| rows —
    * thousands at any corpus size, partitioned by type), never the raw
    * events; the raw scan is one map-combined count aggregate.
    */
  def rollingAnomaly(spark: SparkSession, dir: String, minHist: Int = 12): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("n"))
    val frame = Window.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
      .rowsBetween(-24, -1)
    val withStats = hourly
      .withColumn("w", count(col("n")).over(frame))
      .withColumn("s1", sum(col("n")).over(frame))
      .withColumn("s2", sum(col("n") * col("n")).over(frame))
    val dev = col("w") * col("n") - col("s1")
    val rhs = (col("w") * col("s2") - col("s1") * col("s1")) * lit(9L)
    withStats
      .withColumn("is_anomaly",
        (col("w") >= minHist && dev * dev > rhs).cast("long"))
      .select(col("event_type"), col("hour_epoch"), col("n"), col("w"),
        coalesce(col("s1"), lit(0L)).as("s1"), col("is_anomaly"))
      .orderBy(col("event_type"), col("hour_epoch"))
  }

  /** Schema-drift reconciliation — merging snapshots written under
    * different schema versions, the unavoidable lake situation after a
    * column is added: the old half lacks `props`, the new half has it,
    * and `unionByName(allowMissingColumns = true)` aligns by NAME (a
    * positional union would silently misalign columns) null-filling the
    * gap. The audit aggregate counts the null-filled rows per group so
    * the drift is visible, not silent.
    */
  def schemaDriftUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val v1 = e.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val v2 = e.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("props").isNull.cast("long")).as("n_missing_props"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("event_type"))
  }

  /** Contingency table with expected counts — the independence audit a
    * pipeline runs to detect source/language drift: observed cell counts
    * of lang × source against the expected count under independence
    * (row_total × col_total / n), with the per-cell absolute deviation.
    * All integer fixed-point (micro, floor division) so the oracle
    * replays it exactly — deliberately NOT the squared χ² statistic,
    * whose intermediate (o·10⁶ − e)² overflows 64-bit at corpus scale;
    * the per-cell deviations carry the same signal and stay exact.
    *
    * Scale shape: one scan aggregates the cells; row totals, column
    * totals and the grand total derive from the (tiny) cell table and
    * broadcast back onto it — the corpus is never re-scanned or shuffled
    * twice.
    */
  def contingency(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val n = d.count() // one bounded scalar to the driver
    val cells = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy(col("lang")).agg(sum(col("observed")).as("r"))
    val colTot = cells.groupBy(col("source")).agg(sum(col("observed")).as("c"))
    // r·c·10⁶ widened to DECIMAL(38,0): row/col totals are corpus-sized,
    // so the 64-bit triple product wraps exactly where the Scaladoc
    // claims exactness; the decimal product is exact and the quotient
    // (≤ 10⁶ · max(r,c)) lands back in BIGINT range.
    cells.join(broadcast(rowTot), "lang").join(broadcast(colTot), "source")
      .withColumn("expected_micro",
        expr(s"(CAST(r AS DECIMAL(38,0)) * c * 1000000) DIV $n").cast("long"))
      .withColumn("dev_micro",
        abs(col("observed") * lit(1000000L) - col("expected_micro")))
      .select(col("lang"), col("source"), col("observed"),
        col("expected_micro"), col("dev_micro"))
      .orderBy(col("lang"), col("source"))
  }

  /** Incremental aggregate maintenance: the algebraic MERGE of partial
    * aggregates equals the full recompute — the contract that lets a
    * 100 TB pipeline fold a day's delta into a stored base aggregate
    * instead of re-scanning the lake. Base (event_id % 10 < 8) and delta
    * (the rest) are aggregated independently — in production the base
    * half is a stored table, not a scan — then merged by re-aggregating
    * the mergeable stats: counts and sums add, mins/maxes fold. The
    * DuckDB oracle IS the full single-pass recompute, so the oracle gate
    * itself proves merge ≡ recompute.
    */
  /** The per-type partial aggregate both [[partialMerge]] and the
    * incremental refresh build: count/sum/min/max — commutative monoids,
    * so partial rows merge into exactly the full recompute.
    */
  private def typeAgg(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"),
        min(unix_timestamp(col("ts"))).as("first_epoch"),
        max(unix_timestamp(col("ts"))).as("last_epoch"))

  /** Merge partial-aggregate rows (the monoid fold shared by
    * [[partialMerge]] and [[incrementalRefresh]]).
    */
  private def mergeTypeAgg(parts: DataFrame): DataFrame =
    parts.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_value_c")).as("sum_value_c"),
        min(col("first_epoch")).as("first_epoch"), max(col("last_epoch")).as("last_epoch"))
      .orderBy(col("event_type"))

  def partialMerge(spark: SparkSession, dir: String): DataFrame = {
    def half(p: org.apache.spark.sql.Column) =
      typeAgg(Tables.events(spark, dir).filter(p))
    mergeTypeAgg(half(col("event_id") % 10 < 8)
      .unionByName(half(col("event_id") % 10 >= 8)))
  }

  /** The historical slice's aggregate PERSISTED once per source generation
    * — the materialized base the incremental refresh merges against. A
    * tiny catalog table (one row per event type), fingerprint-keyed so a
    * regenerated source gets a fresh base.
    */
  private[graft] def ensureAggBase(spark: SparkSession, dir: String): String = {
    val table = "graft_agg_base_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + java.lang.Long.toHexString(graft.Tables.dirFingerprint(dir))
    if (!spark.catalog.tableExists(table)) {
      // in-memory-catalog vs durable-warehouse mismatch: drop a stale
      // directory before CTAS
      graft.sources.Artifact.warehouseTableDir(spark, table)
        .foreach(graft.streaming.StreamOps.rmTree)
      typeAgg(Tables.events(spark, dir).filter(col("event_id") % 10 < 8))
        .write.mode("overwrite").format("parquet").saveAsTable(table)
    }
    table
  }

  /** Incremental materialized-aggregate refresh — the MAINTENANCE twin of
    * [[partialMerge]]: the historical slice's aggregate lives as a
    * persisted |keys|-row table ([[ensureAggBase]]) and absorbing today's
    * batch costs one scan of the DELTA plus a tiny merge. The raw history
    * is NEVER rescanned (spec-asserted: exactly one events scan in the
    * plan) — the property that keeps a daily rollup affordable at 100 TB,
    * where a recompute grows with corpus age but a refresh grows only with
    * the day's batch. Result is byte-identical to the full recompute (the
    * oracle) because count/sum/min/max merge as monoids.
    */
  def incrementalRefresh(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.table(ensureAggBase(spark, dir))
    val delta = typeAgg(Tables.events(spark, dir).filter(col("event_id") % 10 >= 8))
    mergeTypeAgg(base.unionByName(delta))
  }

  /** One-pass column profiler — ANALYZE-style statistics for every column
    * of the events table: null counts, numeric min/max (timestamps as
    * floor-epoch seconds), lexicographic min/max for strings. The whole
    * profile is ONE scan + ONE map-side-combined scalar aggregate (a
    * single row crosses the exchange), then a `stack()` unpivot into one
    * report row per column — the shape that keeps ANALYZE cheap at 100 TB,
    * versus a per-column loop of min/max jobs (N scans) or a naive
    * describe(). Exact distinct counts are deliberately absent: exact
    * multi-column distinct forces an Expand (×cols row blowup); the
    * mergeable-sketch path for cardinality is [[aggApproxDistinct]].
    */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    def nulls(c: String) = sum(col(c).isNull.cast("long")).as(s"${c}_nulls")
    Tables.events(spark, dir)
      .agg(count(lit(1)).as("n_rows"),
        nulls("event_id"),
        min(col("event_id").cast("double")).as("event_id_min"),
        max(col("event_id").cast("double")).as("event_id_max"),
        nulls("ts"),
        min(unix_timestamp(col("ts")).cast("double")).as("ts_min"),
        max(unix_timestamp(col("ts")).cast("double")).as("ts_max"),
        nulls("user_id"),
        min(col("user_id").cast("double")).as("user_id_min"),
        max(col("user_id").cast("double")).as("user_id_max"),
        nulls("value"),
        min(col("value")).as("value_min"), max(col("value")).as("value_max"),
        nulls("event_type"),
        min(col("event_type")).as("event_type_min"), max(col("event_type")).as("event_type_max"),
        nulls("props"),
        min(col("props")).as("props_min"), max(col("props")).as("props_max"))
      .select(col("n_rows"), expr(
        """stack(6,
          |  'event_id', event_id_nulls, event_id_min, event_id_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
          |  'event_type', event_type_nulls, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), event_type_min, event_type_max,
          |  'props', props_nulls, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), props_min, props_max,
          |  'ts', ts_nulls, ts_min, ts_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
          |  'user_id', user_id_nulls, user_id_min, user_id_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
          |  'value', value_nulls, value_min, value_max, CAST(NULL AS STRING), CAST(NULL AS STRING))
          |AS (column_name, n_nulls, min_num, max_num, min_s, max_s)""".stripMargin))
      .select(col("column_name"), col("n_rows"), col("n_nulls").cast("long"),
        col("min_num"), col("max_num"), col("min_s"), col("max_s"))
      .orderBy(col("column_name"))
  }

  /** Data-quality audit — the expectations gate a pipeline runs before
    * training on a snapshot: one report row per declared check with the
    * checked and violating counts. Checks cover the failure classes that
    * actually corrupt downstream training: referential orphans
    * (lineitem→orders, event user activity vs signups is skipped — users
    * predate the window by design), nulls/empties in required fields,
    * range violations, and derived-column consistency (n_chars vs text).
    *
    * Scale shape: every check is a conditional aggregate over ONE scan of
    * its table — violations are `sum(when(...))`, never a second filtered
    * scan — and the FK check is a left join degenerating to conditional
    * count of unmatched rows. Per-table scans union into one tiny report;
    * nothing corpus-sized ever shuffles (aggregates are map-side-combined
    * scalars).
    */
  def qualityAudit(spark: SparkSession, dir: String): DataFrame = {
    def viol(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))

    // lineitem: ONE scan serves all three checks — the FK left join keeps
    // every lineitem row (and its columns), so range checks ride along
    val liJoined = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left")
    val liReport = liJoined.agg(
        count(lit(1)).as("n"),
        viol(col("o_orderkey").isNull).as("v_fk"),
        viol(col("l_quantity") < 1 || col("l_quantity") > 50).as("v_qty"),
        viol(col("l_extendedprice") <= 0).as("v_price"))
      .select(lit("lineitem").as("tbl"),
        expr("""stack(3, 'fk_orderkey_in_orders', n, v_fk,
                         'quantity_in_1_50', n, v_qty,
                         'extendedprice_positive', n, v_price)
                AS (chk, n_checked, n_violations)"""))

    val docReport = Tables.documents(spark, dir).agg(
        count(lit(1)).as("n"),
        viol(col("text").isNull || length(col("text")) === 0).as("v_text"),
        viol(col("n_chars") =!= length(col("text"))).as("v_chars"),
        viol(col("lang").isNull).as("v_lang"))
      .select(lit("documents").as("tbl"),
        expr("""stack(3, 'text_nonempty', n, v_text,
                         'n_chars_matches_text', n, v_chars,
                         'lang_nonnull', n, v_lang)
                AS (chk, n_checked, n_violations)"""))

    val evReport = Tables.events(spark, dir).agg(
        count(lit(1)).as("n"),
        viol(col("user_id").isNull).as("v_user"),
        viol(col("value") < 0).as("v_value"))
      .select(lit("events").as("tbl"),
        expr("""stack(2, 'user_id_nonnull', n, v_user,
                         'value_non_negative', n, v_value)
                AS (chk, n_checked, n_violations)"""))

    liReport.unionByName(docReport).unionByName(evReport)
      .select(col("tbl"), col("chk"), col("n_checked").cast("long"),
        col("n_violations").cast("long"))
      .orderBy(col("tbl"), col("chk"))
  }

  /** Triangle counting + global clustering coefficient over the co-order
    * part graph (parts appearing in the same order are adjacent; the
    * quantity filter keeps the graph at a realistic sparsity). The
    * compact-forward / degree-ordering algorithm (Latapy 2008): every edge
    * is oriented from its (degree, id)-smaller endpoint to the larger, so
    * a node's out-degree is O(√m) no matter how hot a hub is — the wedge
    * self-join (pairs of out-edges sharing a source) is bounded by
    * Σ outdeg² instead of Σ deg² and each triangle forms exactly one
    * wedge whose closing edge points the same way, so one equi-join
    * counts each triangle exactly once. No windows, no global sorts:
    * degree is ONE map-combined count and the orientation a per-row
    * comparison, so the whole pipeline is joins + aggregates that AQE can
    * re-plan at any scale. All-integer output (cc as BIGINT floor micro).
    */
  def graphTriangles(spark: SparkSession, dir: String, minQty: Double = 30): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") >= minQty)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    // The in-order co-purchase self-join is the expensive leg and `edges`
    // is referenced FOUR times (deg twice via du/dv, oriented, ne) —
    // left lazy, each reference re-runs it. EAGER deliberately: the
    // consumers include two independent broadcast jobs (ne, tri) that the
    // scheduler runs concurrently — a lazy barrier would be computed by
    // each racer (measured at sf1: 66 s first run vs 12 s). `oriented`
    // (both wedge legs + the closing join, same broadcast race) too.
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      .localCheckpoint()
    val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges.join(du, "u").join(dv, "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"),
        when(uFirst, col("dv")).otherwise(col("du")).as("td"))
      .localCheckpoint()
    val o1 = oriented.as("o1"); val o2 = oriented.as("o2")
    val wedges = o1.join(o2, col("o1.s") === col("o2.s") &&
        (col("o1.td") < col("o2.td") ||
          (col("o1.td") === col("o2.td") && col("o1.t") < col("o2.t"))))
      .select(col("o1.t").as("x"), col("o2.t").as("y"))
    val tri = wedges.join(oriented, col("x") === col("s") && col("y") === col("t"))
      .agg(count(lit(1)).as("n_triangles"))
    val sums = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d") * (col("d") - 1)) / 2).cast("long").as("n_wedges"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    sums.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        expr("n_triangles * 3 * 1000000 DIV n_wedges").as("cc_micro"))
  }

  /** TPC-H Q4-shaped order-priority check: orders in one quarter with at
    * least one LATE lineitem (shipped > 60 days after the order date),
    * counted by priority. The correlated EXISTS decorrelates to ONE
    * left-semi join with a non-equi residual (`l_shipdate > o_orderdate +
    * 60d`): Catalyst keeps the equi-key (`orderkey`) as the shuffle key
    * and evaluates the date residual post-match, so the plan is a plain
    * hash semi-join — no per-order subquery re-execution, and the
    * quarter filter prunes orders BEFORE the join. Semi-join output
    * carries only the orders columns (lineitem never widens the row).
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1996-04-01")))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q7-shaped volume shipping: revenue flowing between two regions
    * in BOTH directions, by ship year. The directional pair predicate is a
    * disjunction over the two small dims, so both nation→region lookups
    * are pre-filtered to the two regions of interest and broadcast — the
    * only shuffle is lineitem ⋈ orders on orderkey; everything downstream
    * of it is broadcast hash joins plus a 4-group aggregate.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String,
                       regionA: String = "AMERICA", regionB: String = "ASIA"): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val r = Tables.region(spark, dir).filter(col("r_name").isin(regionA, regionB))
    val n = Tables.nation(spark, dir)
    // nation ⋈ region collapses to a ≤|nations|-row broadcast dim per side
    val nr1 = n.join(r, n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey").as("s_nkey"), col("r_name").as("supp_region"))
    val nr2 = n.join(r, n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"), col("r_name").as("cust_region"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(nr1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(nr2), col("c_nationkey") === col("c_nkey"))
      .filter((col("supp_region") === regionA && col("cust_region") === regionB) ||
        (col("supp_region") === regionB && col("cust_region") === regionA))
      .groupBy(col("supp_region"), col("cust_region"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg((sum((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("decimal(18,4)")) * 10000).cast("long").as("revenue_c"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_region"), col("cust_region"), col("l_year"))
  }

  /** TPC-H Q12-shaped priority class counts: lineitems shipped in one year
    * classified by return flag (the schema's stand-in for ship mode), with
    * urgent/non-urgent order counts as TWO conditional sums in ONE
    * aggregate — never a second join pass. The only wide join is
    * lineitem ⋈ orders; the year filter prunes lineitem at the scan.
    */
  def q12PriorityClass(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select(col("l_orderkey"), col("l_returnflag"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q19-shaped disjunctive predicate join: revenue over an
    * OR-of-ANDs across lineitem × part attributes. The interesting
    * optimizer behavior: each disjunct mixes columns from BOTH sides, so
    * nothing is pushable wholesale — but Catalyst extracts the common
    * single-side envelopes (`p_size ≤ 30` ∨-wide, `l_quantity ≤ 35`) as
    * scan filters, broadcasts the pruned part dim, and evaluates the full
    * disjunction as a codegen'd residual on the join output.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val qty = col("l_quantity")
    val hit =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) && qty.between(1, 15)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) && qty.between(10, 25)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) && qty.between(20, 35))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .filter(hit)
      .agg(count(lit(1)).as("n_items"),
        (sum((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("decimal(18,4)")) * 10000).cast("long").as("revenue_c"))
  }

  /** TPC-H Q21-shaped waiting suppliers: suppliers who were the SOLE late
    * shipper (> 45 days after order date) on a finished multi-supplier
    * order. The textbook form is a doubly-correlated EXISTS + NOT EXISTS;
    * here it collapses into ONE per-order aggregate — distinct suppliers,
    * distinct LATE suppliers, and the late supplier id as three
    * conditional aggregates over the same lineitem ⋈ orders join — then a
    * filter (`n_supp > 1 ∧ n_late = 1`) and a count per supplier.
    * The distinct-supplier counts are computed as TWO stacked hash
    * aggregates — per (order, supplier) first, then per order — NOT as
    * `countDistinct` pairs: two distinct aggregates in one GroupBy plan an
    * `Expand` that triples every lineitem row before the shuffle, 3× the
    * exchange volume at 100 TB; the stacked form shuffles each row once
    * per level and is map-combined at both. Then TakeOrderedAndProject for
    * the top-10: the self-join-free plan that survives 100× scale where
    * the nested-EXISTS form re-scans lineitem twice.
    */
  def q21WaitingSupplier(spark: SparkSession, dir: String, topN: Int = 10): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS")
    val perSupp = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(late.cast("int")).as("any_late"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("any_late")).as("n_late"),
        max(when(col("any_late") === 1, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    perOrder.groupBy(col("late_supp")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(s), col("late_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(topN)
  }

  /** TPC-H Q22-shaped idle rich customers: customers whose balance beats
    * the positive-balance average but who placed no RECENT order, grouped
    * by nation. Two classic decorrelations in one plan: the scalar AVG
    * subquery becomes a 1-row broadcast compared in integer cross-multiplied
    * form (`bal_c·n > s` ⇔ `bal > s/n`, exact — no division), and the NOT
    * EXISTS becomes a left-anti join against the date-pruned orders side.
    */
  def q22IdleCustomers(spark: SparkSession, dir: String,
                       recentCutoff: String = "2000-06-01"): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("bal_c", (dec2(col("c_acctbal")) * 100).cast("long"))
    val stats = c.filter(col("c_acctbal") > 0)
      .agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit(recentCutoff)))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(stats))
      .filter(col("bal_c") * col("n") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("total_bal_c"))
      .orderBy(col("c_nationkey"))
  }

  /** Q2-shaped minimum-cost supplier. The schema has no partsupp table,
    * so the (part, supplier) offer is DERIVED from observed trade: the
    * minimum unit price (extendedprice cents DIV quantity — both exact
    * integers) each supplier ever shipped a part for. The Q2 skeleton is
    * intact: a correlated MIN subquery per part (decorrelated into a
    * per-part aggregate + equality join back) against a region-filtered
    * supplier dimension, dims broadcast, ordered by supplier balance.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String,
                        size: Int = 15, region: String = "EUROPE",
                        topN: Int = 100): DataFrame = {
    val regionSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_size") === size && col("p_type") === lit("STANDARD"))
      .select(col("p_partkey"), col("p_brand"))
    val offers = Tables.lineitem(spark, dir)
      .withColumn("unit_c",
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV CAST(l_quantity AS BIGINT)"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_c")).as("offer_c"))
    val regional = offers.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"))
    val minCost = regional.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("offer_c")).as("min_c"))
    regional.join(minCost,
        col("l_partkey") === col("mc_partkey") && col("offer_c") === col("min_c"))
      .select((dec2(col("s_acctbal")) * 100).cast("long").as("s_acctbal_c"),
        col("s_name"), col("n_name"),
        col("l_partkey").cast("long").as("p_partkey"), col("p_brand"),
        col("offer_c"))
      .orderBy(col("s_acctbal_c").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(topN)
  }

  /** Q9-shaped product-type profit by nation and year. partsupp's
    * supplycost is absent, so cost is derived from the part dimension:
    * cost_c = retailprice·quantity/2 in exact 10⁻⁴ units (the ×5 DIV 10
    * decimal form — no floating point). Profit = discounted revenue −
    * cost, grouped by the SUPPLIER's nation and the order year — the
    * Q9 join graph (lineitem ⋈ orders ⋈ part(name LIKE) ⋈ supplier ⋈
    * nation) with both dims broadcast.
    */
  def q9ProductProfit(spark: SparkSession, dir: String,
                      nameToken: String = "red"): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).filter(col("p_name").contains(nameToken))
      .select(col("p_partkey"), col("p_retailprice"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .withColumn("rev_tmc",
        ((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("decimal(18,4)") * 10000).cast("long"))
      .withColumn("cost_tmc",
        expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * 10000 AS BIGINT) DIV 2"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(col("rev_tmc") - col("cost_tmc")).as("profit_tmc"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Q11-shaped important-part concentration: per-part traded value from
    * the suppliers of ONE nation, kept only where it exceeds fraction·the
    * nation's total — the scalar HAVING subquery decorrelated into a
    * 1-row broadcast compared in cross-multiplied integer form
    * (value·10⁴ > total, i.e. fraction 1/10⁴), exactly the q22 idiom.
    */
  def q11ImportantParts(spark: SparkSession, dir: String,
                        nation: String = "NATION_3",
                        fractionInv: Long = 10000L): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === nation)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val vals = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .withColumn("val_c", (dec2(col("l_extendedprice")) * 100).cast("long"))
      .groupBy(col("l_partkey").cast("long").as("p_partkey"))
      .agg(sum(col("val_c")).as("value_c"))
    val total = vals.agg(sum(col("value_c")).as("total_c"))
    vals.crossJoin(broadcast(total))
      .filter(col("value_c") * fractionInv > col("total_c"))
      .select(col("p_partkey"), col("value_c"))
      .orderBy(col("value_c").desc, col("p_partkey"))
  }

  /** Q13-shaped customer order-count distribution: customers LEFT-joined
    * to their non-urgent orders (the comment-pattern exclusion adapted to
    * the priority column this schema has), orders counted per customer
    * (absent ⇒ 0 — the LEFT join is the point: Q13 exists to count the
    * zero-order customers), then the count distribution in a second tiny
    * aggregate. Two hash aggregates, one shuffle each, no windows.
    */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= lit("1-URGENT"))
      .select(col("o_custkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q15-shaped top supplier: revenue per supplier over one quarter, the
    * MAX picked as a 1-row aggregate and matched back by EQUALITY join
    * (the revenue "view" + scalar-max skeleton, decorrelated without any
    * broadcast cross — ties all surface, as in the spec's ORDER BY).
    */
  def q15TopSupplier(spark: SparkSession, dir: String,
                     qStart: String = "1996-01-01"): DataFrame = {
    val start = to_timestamp(lit(qStart))
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= start && col("l_shipdate") < add_months(start, 3))
      .withColumn("rev_tmc",
        ((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("decimal(18,4)") * 10000).cast("long"))
      .groupBy(col("l_suppkey")).agg(sum(col("rev_tmc")).as("total_rev_tmc"))
    val top = rev.agg(max(col("total_rev_tmc")).as("max_tmc"))
    rev.join(broadcast(top), col("total_rev_tmc") === col("max_tmc"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
        col("total_rev_tmc"))
      .orderBy(col("s_suppkey"))
  }

  /** Q16-shaped supplier count per (brand, type, size): the part filter
    * excludes one brand and one type, the supplier exclusion ("customer
    * complaints" adapted to a negative account balance) is a broadcast
    * ANTI join below the distinct count, and the single COUNT(DISTINCT)
    * plans as Spark's standard two-phase distinct aggregate — no Expand.
    */
  def q16SupplierCount(spark: SparkSession, dir: String,
                       exclBrand: String = "Brand#13",
                       exclType: String = "PROMO",
                       sizes: Seq[Int] = Seq(1, 4, 9, 16, 25, 36, 49)): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= exclBrand && col("p_type") =!= exclType &&
        col("p_size").isin(sizes.map(Integer.valueOf): _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val badSupp = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Q20-shaped excess-stock suppliers: suppliers who shipped more than
    * `minQty` units of the name-filtered parts in one year (the partsupp
    * availqty/2 threshold adapted to observed shipped volume), surfaced
    * through a LEFT-SEMI join chain — the classic double-nested-IN
    * decorrelation — then nation-labelled and name-ordered.
    */
  def q20ExcessSuppliers(spark: SparkSession, dir: String,
                         namePrefix: String = "small", yearStart: String = "1996-01-01",
                         minQty: Int = 100): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey"))
    val start = to_timestamp(lit(yearStart))
    val heavy = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= start && col("l_shipdate") < add_months(start, 12))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec2(col("l_quantity"))).as("qty"))
      .filter(col("qty") > minQty)
      .select(col("l_suppkey"))
    Tables.supplier(spark, dir)
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_name"))
  }
}
