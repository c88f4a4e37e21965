package graft.queries

import graft.operators._
import OracleSql._
import QueryDef._

/** Relational breadth (SURVEY.md §2.6–§2.9): the TPC-H queries, joins,
  * windows, aggregates and sketch audits, and the partitioned, sorted and
  * z-ordered lake layouts.
  */
object RelationalQueries {

  /** The first three days of events, summed per type. */
  private val pruneSliceSql =
    """WITH lo AS (SELECT min(CAST(ts AS DATE)) AS d FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
      |FROM events, lo WHERE CAST(ts AS DATE) BETWEEN lo.d AND lo.d + INTERVAL 2 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Events on even days of the month, summed per type. */
  private val evenDaysSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
      |FROM events WHERE day(CAST(ts AS DATE)) % 2 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Days 4–6 of events, summed per type. */
  private val hiddenSliceSql =
    """WITH lo AS (SELECT min(CAST(ts AS DATE)) AS d FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
      |FROM events, lo
      |WHERE CAST(ts AS DATE) BETWEEN lo.d + 3 AND lo.d + 5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The single-pass per-type aggregate that merged partials must equal. */
  private val fullRecomputeSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c,
      |       CAST(floor(epoch(min(ts))) AS BIGINT) AS first_epoch,
      |       CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // CUSUM changepoint: division-free scaled deviations, windowed cumsum,
    // argmax |cusum| flagged.
    QueryDef("events_changepoint", (s, d) => Relational.changepoint(s, d), sql(
      """WITH daily AS (SELECT CAST(ts AS DATE) AS event_date, CAST(count(*) AS BIGINT) AS n_events
        |               FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS days FROM daily),
        |c AS (SELECT event_date, n_events,
        |        CAST(sum(n_events * days - total) OVER (ORDER BY event_date
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum_scaled
        |      FROM daily CROSS JOIN tot)
        |SELECT event_date, n_events, cusum_scaled,
        |       abs(cusum_scaled) = (SELECT max(abs(cusum_scaled)) FROM c) AS is_peak
        |FROM c ORDER BY event_date""".stripMargin), cross("1-row broadcast (total, days) scalar cross")),
    // DAU / trailing-7-day WAU / stickiness: distinct activity grid,
    // bounded day-list range join, integer ratio.
    QueryDef("events_wau", (s, d) => Relational.wauReport(s, d), sql(
      """WITH grid AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d AS day FROM grid),
        |dau AS (SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM grid GROUP BY 1),
        |wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM days JOIN grid ON grid.d BETWEEN day - 6 AND day GROUP BY 1)
        |SELECT day, dau, wau, CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_micro
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin),
      cross("≤|calendar| day list × activity grid range cross")),
    // Per-day type diversity: rational Gini (no libm), exact integers.
    QueryDef("events_type_gini", (s, d) => Relational.typeGini(s, d), sql(
      """WITH bt AS (SELECT CAST(ts AS DATE) AS event_date, event_type, CAST(count(*) AS BIGINT) AS n_t
        |            FROM events GROUP BY 1, 2)
        |SELECT event_date, CAST(sum(n_t) AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(1000000 - (sum(n_t * n_t) * 1000000) // (sum(n_t) * sum(n_t)) AS BIGINT) AS gini_micro
        |FROM bt GROUP BY 1 ORDER BY 1""".stripMargin)),
    // First-order transition matrix: per-user lead window (ts, event_id
    // tiebreak), one pair-count aggregate, integer row-conditional permille.
    QueryDef("events_transitions", (s, d) => Relational.transitionMatrix(s, d), sql(
      """WITH s AS (SELECT user_id, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |           FROM events),
        |p AS (SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM p GROUP BY 1)
        |SELECT p.from_type, p.to_type, p.n, CAST(p.n * 1000 // t.n_from AS BIGINT) AS prob_permille
        |FROM p JOIN t USING (from_type) ORDER BY from_type, to_type""".stripMargin)),
    QueryDef("q1_pricing", (s, d) => Relational.q1Pricing(s, d), sql(
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))*100 AS BIGINT) AS sum_qty_c,
         |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))*100 AS BIGINT) AS sum_base_price_c,
         |       CAST(sum($discPrice)*10000 AS BIGINT) AS sum_disc_price_c,
         |       CAST(count(*) AS BIGINT) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q3_shipping", (s, d) => Relational.q3Shipping(s, d), sql(
      s"""SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
         |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_epoch,
         |       CAST(sum($discPrice)*10000 AS BIGINT) AS revenue_c
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |     JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01'
         |  AND l_shipdate > TIMESTAMP '1998-06-01'
         |GROUP BY 1, 2 ORDER BY revenue_c DESC, l_orderkey LIMIT 10""".stripMargin)),
    QueryDef("q5_local_supplier", (s, d) => Relational.q5LocalSupplier(s, d), sql(
      s"""SELECT n_name,
         |       CAST(sum($discPrice)*10000 AS BIGINT) AS revenue_c,
         |       CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |     JOIN customer ON o_custkey = c_custkey
         |     JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |     JOIN nation ON s_nationkey = n_nationkey
         |     JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q10_returns", (s, d) => Relational.q10Returns(s, d), sql(
      s"""SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name,
         |       CAST(sum($discPrice)*10000 AS BIGINT) AS revenue_c,
         |       CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |     JOIN customer ON o_custkey = c_custkey
         |     JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY 1, 2, 3 ORDER BY revenue_c DESC, c_custkey LIMIT 20""".stripMargin)),
    // Q18-shaped big customers: the HAVING aggregate prunes before joins.
    QueryDef("q18_big_customers", (s, d) => Relational.q18BigCustomers(s, d), sql(
      """WITH big AS (SELECT l_orderkey,
        |               CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))*100 AS BIGINT) AS sum_qty_c
        |             FROM lineitem GROUP BY 1
        |             HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))*100 AS BIGINT) > 25000)
        |SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_name,
        |       CAST(b.l_orderkey AS BIGINT) AS o_orderkey,
        |       CAST(CAST(o.o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS o_totalprice_c,
        |       b.sum_qty_c
        |FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
        |     JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY sum_qty_c DESC, o_orderkey""".stripMargin)),
    // Q14-shaped promo share: conditional sums + BIGINT floor division.
    QueryDef("q14_promo_share", (s, d) => Relational.q14PromoShare(s, d), sql(
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS month,
         |       CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPrice ELSE 0 END)*10000 AS BIGINT) AS promo_c,
         |       CAST(sum($discPrice)*10000 AS BIGINT) AS total_c,
         |       (CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPrice ELSE 0 END)*10000 AS BIGINT) * 1000000)
         |         // CAST(sum($discPrice)*10000 AS BIGINT) AS promo_share_micro
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Market-basket brand lift: distinct (order, brand) grid, self-join on
    // the order key (basket-bounded fan-out), HUGEINT-widened lift.
    QueryDef("basket_pairs", (s, d) => Relational.basketPairs(s, d), sql(
      """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |            FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
        |marg AS (SELECT brand, CAST(count(*) AS BIGINT) AS c FROM ob GROUP BY 1),
        |pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b, CAST(count(*) AS BIGINT) AS c_ab
        |          FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        |          GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT brand_a, brand_b, c_ab, ma.c AS c_a, mb.c AS c_b,
        |       CAST((CAST(c_ab AS HUGEINT) * n.n_orders * 1000000) // (ma.c * mb.c) AS BIGINT) AS lift_micro
        |FROM pairs
        |JOIN marg ma ON ma.brand = brand_a
        |JOIN marg mb ON mb.brand = brand_b
        |CROSS JOIN n
        |ORDER BY lift_micro DESC, brand_a, brand_b LIMIT 20""".stripMargin),
      cross("1-row broadcast n_orders scalar cross")),
    // Pareto concentration: the oracle replays the NAIVE global cumulative
    // window; the engine runs the two-phase range-sharded prefix sum, so
    // the hash equality IS the two-phase correctness proof (the
    // corpus_offsets convention).
    QueryDef("orders_pareto", (s, d) => Relational.revenueConcentration(s, d), sql {
      val disc = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
      val ts = Seq(500L, 800L, 900L)
      val sel = ts.map(t =>
        s"SELECT CAST($t AS BIGINT) AS threshold_permille, " +
          s"CAST(min(CASE WHEN cum * 1000 >= total_rev * $t THEN rn END) AS BIGINT) AS n_customers, " +
          s"CAST(min(CASE WHEN cum * 1000 >= total_rev * $t THEN rn END) * 1000 // max(n_cust) AS BIGINT) AS customers_permille " +
          "FROM ranked CROSS JOIN totals")
        .mkString("\n|UNION ALL ")
      s"""WITH pc AS (SELECT o_custkey, CAST(sum(CAST($disc * 10000 AS BIGINT)) AS BIGINT) AS rev_tmc
         |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
         |ranked AS (SELECT o_custkey, rev_tmc,
         |             CAST(row_number() OVER (ORDER BY rev_tmc DESC, o_custkey) AS BIGINT) AS rn,
         |             sum(rev_tmc) OVER (ORDER BY rev_tmc DESC, o_custkey
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |           FROM pc),
         |totals AS (SELECT sum(rev_tmc) AS total_rev, CAST(count(*) AS BIGINT) AS n_cust FROM pc)
         |SELECT * FROM ($sel) ORDER BY threshold_permille""".stripMargin
    }, cross("1-row broadcast bounds/totals scalar crosses")),
    // Q6-shaped scan-dominated aggregate: three pushed range predicates,
    // one scalar sum of exact decimal products.
    QueryDef("q6_forecast_revenue", (s, d) => Relational.q6ForecastRevenue(s, d), sql(
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_tmc,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN CAST(0.05 AS DECIMAL(18,2)) AND CAST(0.07 AS DECIMAL(18,2))
        |  AND l_quantity < 24""".stripMargin)),
    // Q17-shaped small-quantity loss: the correlated avg as a grouped
    // aggregate joined back; the 0.2·avg cut in cross-multiplied exact
    // decimal form (no division anywhere near the comparison).
    QueryDef("q17_small_quantity", (s, d) => Relational.q17SmallQuantity(s, d), sql(
      """WITH avgq AS (SELECT l_partkey AS ap, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
        |                     count(*) AS qty_n
        |              FROM lineitem GROUP BY 1),
        |f AS (SELECT l.l_extendedprice
        |      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#13'
        |      JOIN avgq a ON l.l_partkey = a.ap
        |      WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * a.qty_n < a.qty_sum)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) // 7 AS avg_yearly_c,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS loss_sum_c,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM f""".stripMargin)),
    // Q8-shaped market-share: same 8-table join; the share is replayed with
    // the exact BIGINT floor division the engine uses (// in DuckDB ≡ DIV).
    QueryDef("q8_market_share", (s, d) => Relational.q8MarketShare(s, d), sql(
      s"""WITH j AS (
         |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         |         CAST($discPrice*10000 AS BIGINT) AS vol_c,
         |         n2.n_name AS supp_nation
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |       JOIN part ON l_partkey = p_partkey
         |       JOIN customer ON o_custkey = c_custkey
         |       JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |       JOIN region ON n1.n_regionkey = r_regionkey
         |       JOIN supplier ON l_suppkey = s_suppkey
         |       JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
         |SELECT CAST(o_year AS BIGINT) AS o_year,
         |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END) AS BIGINT) AS nation_c,
         |       CAST(sum(vol_c) AS BIGINT) AS total_c,
         |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END) * 1000000
         |            // sum(vol_c) AS BIGINT) AS mkt_share_micro
         |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin)),
    // Q4-shape: the correlated EXISTS (late lineitem) as DuckDB writes it;
    // Spark plans the identical semantics as one non-equi left-semi join.
    QueryDef("q4_order_priority", (s, d) => Relational.q4OrderPriority(s, d), sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Q7-shape: directional region pairs, revenue by ship year.
    QueryDef("q7_volume_shipping", (s, d) => Relational.q7VolumeShipping(s, d), sql(
      s"""SELECT supp_region, cust_region, l_year,
         |       CAST(sum(vol_c) AS BIGINT) AS revenue_c, CAST(count(*) AS BIGINT) AS n_items
         |FROM (
         |  SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
         |         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         |         CAST($discPrice*10000 AS BIGINT) AS vol_c
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |       JOIN supplier ON l_suppkey = s_suppkey
         |       JOIN customer ON o_custkey = c_custkey
         |       JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |       JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |       JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
         |       JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         |    AND ((r1.r_name = 'AMERICA' AND r2.r_name = 'ASIA')
         |      OR (r1.r_name = 'ASIA' AND r2.r_name = 'AMERICA')))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    // Q12-shape: conditional priority-class counts per return flag.
    QueryDef("q12_priority_class", (s, d) => Relational.q12PriorityClass(s, d), sql(
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Q19-shape: the OR-of-ANDs disjunction evaluated post-join.
    QueryDef("q19_disjunctive", (s, d) => Relational.q19Disjunctive(s, d), sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(sum($discPrice)*10000 AS BIGINT) AS revenue_c
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 35)""".stripMargin)),
    // Q21-shape: the doubly-correlated EXISTS/NOT-EXISTS replayed in its
    // aggregate form — identical formulation to the Spark plan so the
    // sole-late-supplier attribution is deterministic in both engines.
    QueryDef("q21_waiting_supplier", (s, d) => Relational.q21WaitingSupplier(s, d), sql(
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS n_supp,
        |         count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY THEN l_suppkey END) AS n_late,
        |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY THEN l_suppkey END) AS late_supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM per_order JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin)),
    // Q22-shape: scalar-subquery threshold in exact cross-multiplied
    // integer form (bal_c*n > s ⇔ bal > s/n), NOT EXISTS over recent orders.
    QueryDef("q22_idle_customers", (s, d) => Relational.q22IdleCustomers(s, d), sql(
      """WITH st AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))*100) AS BIGINT) AS s,
        |                   count(*) AS n
        |            FROM customer WHERE c_acctbal > 0)
        |SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS total_bal_c
        |FROM customer, st
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT) * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin), cross("1-row broadcast balance-threshold cross")),
    // Q2-shape: the correlated per-part MIN decorrelated; the derived
    // (part, supplier) offer replays exactly (cents // integral quantity).
    QueryDef("q2_min_cost_supplier", (s, d) => Relational.q2MinCostSupplier(s, d), sql(
      """WITH rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |                 JOIN region ON n_regionkey = r_regionkey
        |            WHERE r_name = 'EUROPE'),
        |pp AS (SELECT p_partkey, p_brand FROM part WHERE p_size = 15 AND p_type = 'STANDARD'),
        |off AS (SELECT l_partkey, l_suppkey,
        |               min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |                   // CAST(l_quantity AS BIGINT)) AS offer_c
        |        FROM lineitem GROUP BY 1, 2),
        |reg AS (SELECT o.l_partkey, o.offer_c, rs.s_name, rs.s_acctbal, rs.n_name, pp.p_brand
        |        FROM off o JOIN pp ON o.l_partkey = pp.p_partkey
        |                   JOIN rs ON o.l_suppkey = rs.s_suppkey),
        |mc AS (SELECT l_partkey AS mk, min(offer_c) AS min_c FROM reg GROUP BY 1)
        |SELECT CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS s_acctbal_c,
        |       s_name, n_name, CAST(l_partkey AS BIGINT) AS p_partkey, p_brand, offer_c
        |FROM reg JOIN mc ON l_partkey = mk AND offer_c = min_c
        |ORDER BY s_acctbal_c DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)),
    // Q9-shape: profit = discounted revenue − retail·qty/2, supplier nation × year.
    QueryDef("q9_product_profit", (s, d) => Relational.q9ProductProfit(s, d), sql(
      s"""SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         |       CAST(sum(CAST($discPrice * 10000 AS BIGINT)
         |                - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * 10000 AS BIGINT) // 2) AS BIGINT) AS profit_tmc
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |     JOIN orders ON l_orderkey = o_orderkey
         |     JOIN supplier ON l_suppkey = s_suppkey
         |     JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),
    // Q11-shape: the HAVING scalar subquery as a cross-multiplied total.
    QueryDef("q11_important_parts", (s, d) => Relational.q11ImportantParts(s, d), sql(
      """WITH v AS (SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
        |                  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_c
        |           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |                JOIN nation ON s_nationkey = n_nationkey
        |           WHERE n_name = 'NATION_3' GROUP BY 1),
        |t AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c FROM v)
        |SELECT p_partkey, value_c FROM v, t WHERE value_c * 10000 > total_c
        |ORDER BY value_c DESC, p_partkey""".stripMargin),
      cross("1-row broadcast nation-total scalar cross")),
    // Q13-shape: LEFT join so zero-order customers stay in the histogram.
    QueryDef("q13_order_distribution", (s, d) => Relational.q13OrderDistribution(s, d), sql(
      """WITH cc AS (SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
        |            FROM customer LEFT JOIN orders
        |              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |            GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM cc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    // Q15-shape: quarter revenue view + scalar max matched by equality.
    QueryDef("q15_top_supplier", (s, d) => Relational.q15TopSupplier(s, d), sql(
      s"""WITH rev AS (SELECT l_suppkey, CAST(sum(CAST($discPrice * 10000 AS BIGINT)) AS BIGINT) AS total_rev_tmc
         |             FROM lineitem
         |             WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |             GROUP BY 1),
         |m AS (SELECT max(total_rev_tmc) AS max_tmc FROM rev)
         |SELECT CAST(r.l_suppkey AS BIGINT) AS s_suppkey, s.s_name, r.total_rev_tmc
         |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey CROSS JOIN m
         |WHERE r.total_rev_tmc = m.max_tmc ORDER BY s_suppkey""".stripMargin)),
    // Q16-shape: excluded suppliers anti-joined below the distinct count.
    QueryDef("q16_supplier_cnt", (s, d) => Relational.q16SupplierCount(s, d), sql(
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    // Q20-shape: the double-nested IN as a semi-join chain.
    QueryDef("q20_excess_suppliers", (s, d) => Relational.q20ExcessSuppliers(s, d), sql(
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 100)
        |ORDER BY s_name""".stripMargin)),
    // Triangle census over the co-order part graph: the degree-ordered
    // orientation replayed with row-value tuple comparisons.
    QueryDef("graph_triangles", (s, d) => Relational.graphTriangles(s, d), sql(
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem WHERE l_quantity >= 30),
        |edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT n, count(*) AS d FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) GROUP BY 1),
        |o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
        |             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
        |             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS td
        |      FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |w AS (SELECT o1.t AS x, o2.t AS y FROM o o1 JOIN o o2 ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)),
        |tri AS (SELECT count(*) AS n_tri FROM w JOIN o ON w.x = o.s AND w.y = o.t)
        |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
        |       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
        |       CAST((SELECT n_tri FROM tri) AS BIGINT) AS n_triangles,
        |       CAST((SELECT sum(d*(d-1)//2) FROM deg) AS BIGINT) AS n_wedges,
        |       CAST((SELECT n_tri FROM tri)*3*1000000 // (SELECT sum(d*(d-1)//2) FROM deg) AS BIGINT) AS cc_micro""".stripMargin),
      cross("1-row census scalar crosses")),
    // Rolling 3sigma anomaly over hourly rates: trailing-24-row frame,
    // cross-multiplied integer test — the same formulation in both engines.
    QueryDef("events_anomaly_rolling", (s, d) => Relational.rollingAnomaly(s, d), sql(
      """WITH h AS (SELECT event_type,
        |                  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *,
        |        count(n) OVER w AS w, coalesce(sum(n) OVER w, 0) AS s1, sum(n*n) OVER w AS s2
        |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch
        |                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_epoch, n, CAST(w AS BIGINT) AS w, CAST(s1 AS BIGINT) AS s1,
        |       CAST(CASE WHEN w >= 12 AND (w*n - s1)*(w*n - s1) > 9*(w*s2 - s1*s1)
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM r ORDER BY event_type, hour_epoch""".stripMargin)),
    // Salted skew join: the oracle replays the PLAIN join — salting must
    // not change the result set, only the shuffle layout.
    QueryDef("join_salted_skew", (s, d) => Relational.saltedSkewJoin(s, d), sql(
      """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS acctbal_wsum_c
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // Join-size preflight: the p=1/16 key sample is the first md5 nibble,
    // identical in both engines; everything downstream is integer.
    QueryDef("join_size_estimate", (s, d) => Relational.joinSizeEstimate(s, d), sql(
      """WITH la AS (SELECT l_orderkey AS k FROM lineitem),
        |ob AS (SELECT o_orderkey AS k FROM orders),
        |fa AS (SELECT k, count(*) AS fa FROM la GROUP BY k),
        |fb AS (SELECT k, count(*) AS fb FROM ob GROUP BY k),
        |ex AS (SELECT sum(fa * fb) AS exact_rows, count(*) AS n_keys FROM fa JOIN fb USING (k)),
        |ins AS (SELECT (SELECT sum(fa) FROM fa) AS rows_a, (SELECT sum(fb) FROM fb) AS rows_b),
        |sfa AS (SELECT k, count(*) AS fa FROM la WHERE substr(md5(CAST(k AS VARCHAR)), 1, 1) = '0' GROUP BY k),
        |sfb AS (SELECT k, count(*) AS fb FROM ob WHERE substr(md5(CAST(k AS VARCHAR)), 1, 1) = '0' GROUP BY k),
        |es AS (SELECT coalesce(sum(fa * fb), 0) AS samp_rows, count(*) AS sampled_keys FROM sfa JOIN sfb USING (k))
        |SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(sampled_keys AS BIGINT) AS sampled_keys,
        |       CAST(samp_rows * 16 AS BIGINT) AS est_rows, CAST(exact_rows AS BIGINT) AS exact_rows,
        |       CAST(abs(samp_rows * 16 - exact_rows) * 1000 // exact_rows AS BIGINT) AS err_permille,
        |       CAST(rows_a AS BIGINT) AS rows_a, CAST(rows_b AS BIGINT) AS rows_b,
        |       CASE WHEN samp_rows * 16 > 4 * greatest(rows_a, rows_b) THEN 'explodes' ELSE 'ok' END AS verdict
        |FROM ex, es, ins""".stripMargin), cross("1-row exact × 1-row estimate × 1-row inputs crosses")),
    QueryDef("join_semi", (s, d) => Relational.semiJoin(s, d), sql(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("join_anti", (s, d) => Relational.antiJoin(s, d), sql(
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("window_top_orders", (s, d) => Relational.windowTopOrders(s, d), sql(
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |           FROM orders)
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS price_c, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),
    QueryDef("window_running", (s, d) => Relational.windowRunning(s, d), sql(
      """SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*100 AS BIGINT) AS running_value_c,
        |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS seq
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    QueryDef("window_rank_family", (s, d) => Relational.windowRankFamily(s, d), sql(
      """WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |           FROM orders WHERE o_custkey % 100 = 0),
        |w AS (SELECT o_custkey, o_orderkey,
        |        dense_rank() OVER win AS drk,
        |        ntile(4) OVER win AS quartile,
        |        CAST(p - coalesce(lag(p, 1) OVER win, 0) AS DECIMAL(18,2)) AS delta
        |      FROM o WINDOW win AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |       CAST(drk AS BIGINT) AS drk, CAST(quartile AS BIGINT) AS quartile,
        |       CAST(delta*100 AS BIGINT) AS delta_c
        |FROM w ORDER BY o_custkey, o_orderkey""".stripMargin)),
    QueryDef("agg_array", (s, d) => Relational.arrayAgg(s, d), sql(
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |       array_to_string(list_sort(list(CAST(o_orderkey AS BIGINT))), ',') AS order_keys,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_custkey % 500 = 0 GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("sql_correlated", (s, d) => Relational.sqlCorrelated(s, d), sql(
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |       CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    QueryDef("agg_rollup", (s, d) => Relational.aggRollup(s, d), sql(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))*100 AS BIGINT) AS sum_qty_c
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    QueryDef("agg_cube", (s, d) => Relational.aggCube(s, d), sql(
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    QueryDef("agg_distinct", (s, d) => Relational.aggDistinct(s, d), sql(
      """SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // HLL++ values aren't SQL-recomputable, but the error-bound VERDICT
    // over the exported estimates is — exact side recomputed by both
    // engines (export-replay; see Relational.aggApproxDistinctAudit).
    // HLL++ error-bound verdict over the exported estimates: DuckDB
    // recomputes the EXACT distinct side independently; the verdict allows
    // 3x the default 5% rsd (err*20 <= exact*3) in pure integers.
    QueryDef("agg_approx_distinct", (s, d) => Relational.aggApproxDistinctAudit(s, d), sql(
      s"""WITH a AS (SELECT l_returnflag, approx_orders
         |           FROM read_parquet('$sketchStorePath/hll_distinct/*.parquet')),
         |e AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders FROM lineitem GROUP BY 1)
         |SELECT a.l_returnflag, CAST(a.approx_orders AS BIGINT) AS approx_orders,
         |       CAST(e.exact_orders AS BIGINT) AS exact_orders,
         |       CAST(CASE WHEN abs(a.approx_orders - e.exact_orders) * 20 <= e.exact_orders * 3
         |            THEN 1 ELSE 0 END AS BIGINT) AS within_3sigma
         |FROM a JOIN e USING (l_returnflag) ORDER BY l_returnflag""".stripMargin)),
    QueryDef("agg_salted", (s, d) => Relational.aggSalted(s, d), sql(
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))*100 AS BIGINT) AS sum_qty_c,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("agg_percentiles", (s, d) => Relational.aggPercentiles(s, d), sql(
      """SELECT l_returnflag,
        |       CAST(round(quantile_cont(l_quantity, 0.5)*1000000.0) AS BIGINT) AS qty_p50_micro,
        |       CAST(round(quantile_cont(l_quantity, 0.95)*1000000.0) AS BIGINT) AS qty_p95_micro,
        |       CAST(round(quantile_cont(l_extendedprice, 0.5)*1000000.0) AS BIGINT) AS price_p50_micro
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // GK rank-error verdict: the exported sketch value's exact rank
    // interval must intersect [t-s, t+s], t = n*q (integer), s = n//1000+1.
    QueryDef("agg_approx_percentile", (s, d) => Relational.aggApproxPercentileAudit(s, d), sql(
      s"""WITH a AS (SELECT l_returnflag, p50, p95
         |           FROM read_parquet('$sketchStorePath/gk_percentile/*.parquet')),
         |r AS (SELECT a.l_returnflag, a.p50, a.p95, count(*) AS n,
         |             sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) <  a.p50 THEN 1 ELSE 0 END) AS lt50,
         |             sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) <= a.p50 THEN 1 ELSE 0 END) AS le50,
         |             sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) <  a.p95 THEN 1 ELSE 0 END) AS lt95,
         |             sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) <= a.p95 THEN 1 ELSE 0 END) AS le95
         |      FROM lineitem l JOIN a ON l.l_returnflag = a.l_returnflag
         |      GROUP BY 1, 2, 3)
         |SELECT l_returnflag,
         |       CAST(floor(p50*1000000.0) AS BIGINT) AS p50_micro,
         |       CAST(floor(p95*1000000.0) AS BIGINT) AS p95_micro,
         |       CAST(n AS BIGINT) AS n,
         |       CAST(CASE WHEN le50 >= (n*5 // 10) - (n // 1000 + 1)
         |                  AND lt50 <= (n*5 // 10) + (n // 1000 + 1) THEN 1 ELSE 0 END AS BIGINT) AS ok_p50,
         |       CAST(CASE WHEN le95 >= (n*95 // 100) - (n // 1000 + 1)
         |                  AND lt95 <= (n*95 // 100) + (n // 1000 + 1) THEN 1 ELSE 0 END AS BIGINT) AS ok_p95
         |FROM r ORDER BY l_returnflag""".stripMargin)),
    // Winsorized stats: clamp at exact [p05, p95], same quantile_cont
    // interpolation; avg over clamped doubles is order-independent enough
    // only because both engines sum the same clamped set — mean surfaces
    // as round-micro like the percentile family.
    QueryDef("agg_winsorized", (s, d) => Relational.aggWinsorized(s, d), sql(
      """WITH b AS (SELECT quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi FROM events),
        |c AS (SELECT least(greatest(value, lo), hi) AS cv, value, lo, hi FROM events, b)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(avg(cv)*1000000.0) AS BIGINT) AS wmean_micro,
        |       CAST(round(min(cv)*1000000.0) AS BIGINT) AS wmin_micro,
        |       CAST(round(max(cv)*1000000.0) AS BIGINT) AS wmax_micro,
        |       CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
        |FROM c""".stripMargin), cross("1-row broadcast percentile bounds")),
    QueryDef("sql_grouping_sets", (s, d) => Relational.sqlGroupingSets(s, d), sql(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    QueryDef("agg_moments", (s, d) => Relational.aggMoments(s, d), sql(
      // Mirrors Relational.aggMoments exactly: cents fixed-point (DECIMAL(18,0)
      // here — products fit DuckDB's 38-digit cap; the sums are the same exact
      // integers as Spark's DECIMAL(38,0) path), then the identical
      // left-to-right double expression tree for the closed-form moments.
      """WITH c AS (SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS qc,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS pc,
        |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS dc
        |  FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |  sum(qc) AS sq, sum(pc) AS sp, sum(dc) AS sd,
        |  sum(qc*pc) AS sqp, sum(qc*qc) AS sqq, sum(pc*pc) AS spp, sum(dc*dc) AS sdd
        |  FROM c GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(floor(
        |    (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE))
        |    / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/CAST(n AS DOUBLE))
        |         * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) AS corr_micro,
        |  CAST(floor(
        |    (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1.0) / 10000.0 * 1000000.0) AS BIGINT) AS covar_micro,
        |  CAST(floor(
        |    sqrt((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE)/CAST(n AS DOUBLE))
        |         / (CAST(n AS DOUBLE) - 1.0)) / 100.0 * 1000000.0) AS BIGINT) AS stddev_micro
        |FROM s ORDER BY l_returnflag""".stripMargin)),
    QueryDef("time_extract", (s, d) => Relational.timeExtract(s, d), sql(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("value_histogram", (s, d) => Relational.valueHistogram(s, d), sql(
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Expectations gate: one row per declared check, conditional aggregates.
    QueryDef("quality_audit", (s, d) => Relational.qualityAudit(s, d), sql(
      """SELECT * FROM (
        |SELECT 'lineitem' AS tbl, 'fk_orderkey_in_orders' AS chk,
        |       CAST(count(*) AS BIGINT) AS n_checked,
        |       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL SELECT 'lineitem', 'quantity_in_1_50', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'extendedprice_positive', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'documents', 'text_nonempty', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 'documents', 'n_chars_matches_text', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 'documents', 'lang_nonnull', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 'events', 'user_id_nonnull', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'events', 'value_non_negative', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |) ORDER BY tbl, chk""".stripMargin)),
    // One-pass profiler: single aggregate row unpivoted per column; the
    // oracle computes the same row once (CTE) and unions the per-column
    // projections. Timestamp min/max = floor-epoch seconds both sides.
    QueryDef("profile_columns", (s, d) => Relational.profileColumns(s, d), sql(
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_id_nulls,
        |  CAST(min(event_id) AS DOUBLE) AS event_id_min, CAST(max(event_id) AS DOUBLE) AS event_id_max,
        |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ts_nulls,
        |  CAST(floor(epoch(min(ts))) AS DOUBLE) AS ts_min, CAST(floor(epoch(max(ts))) AS DOUBLE) AS ts_max,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
        |  CAST(min(user_id) AS DOUBLE) AS user_id_min, CAST(max(user_id) AS DOUBLE) AS user_id_max,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
        |  min(value) AS value_min, max(value) AS value_max,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type_nulls,
        |  min(event_type) AS event_type_min, max(event_type) AS event_type_max,
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS props_nulls,
        |  min(props) AS props_min, max(props) AS props_max
        |  FROM events)
        |SELECT * FROM (
        |SELECT 'event_id' AS column_name, n_rows, event_id_nulls AS n_nulls,
        |       event_id_min AS min_num, event_id_max AS max_num,
        |       CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s FROM a
        |UNION ALL SELECT 'event_type', n_rows, event_type_nulls, NULL, NULL, event_type_min, event_type_max FROM a
        |UNION ALL SELECT 'props', n_rows, props_nulls, NULL, NULL, props_min, props_max FROM a
        |UNION ALL SELECT 'ts', n_rows, ts_nulls, ts_min, ts_max, NULL, NULL FROM a
        |UNION ALL SELECT 'user_id', n_rows, user_id_nulls, user_id_min, user_id_max, NULL, NULL FROM a
        |UNION ALL SELECT 'value', n_rows, value_nulls, value_min, value_max, NULL, NULL FROM a
        |) ORDER BY column_name""".stripMargin)),
    // Z-order box query: the oracle filters the RAW table — the clustered
    // layout may only change what is scanned, never the result.
    QueryDef("zorder_box", (s, d) => graft.sources.ZOrderLayout.boxQuery(s, d), sql(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM events WHERE user_id BETWEEN 4 AND 6 AND value BETWEEN 10.0 AND 30.0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Partitioned-store queries: both oracles replay on the RAW events
    // table — directory partitioning (and its static/dynamic pruning) may
    // only change what is SCANNED, never the result.
    QueryDef("partitioned_prune", (s, d) => graft.sources.PartitionedStore.pruneQuery(s, d),
      sql(pruneSliceSql)),
    QueryDef("partitioned_dpp", (s, d) => graft.sources.PartitionedStore.dppQuery(s, d), sql(evenDaysSql)),
    // The SQL-surface twins (catalog views over the same layout) replay
    // the identical raw-table oracles: entry surface may only change what
    // is scanned.
    QueryDef("lake_sql_prune", (s, d) => graft.sources.PartitionedStore.sqlPruneQuery(s, d),
      sql(pruneSliceSql)),
    QueryDef("lake_sql_dpp", (s, d) => graft.sources.PartitionedStore.sqlDppQuery(s, d), sql(evenDaysSql)),
    // The SQL-view twin of the hidden-partition route: a pure ts-range
    // predicate, same days-4-6 slice, same raw-table replay.
    QueryDef("lake_sql_hidden", (s, d) => graft.sources.PartitionedStore.sqlHiddenQuery(s, d),
      sql(hiddenSliceSql)),
    // Backfill replay: the day-2 partition-overwrite correction applied
    // inline on the raw table — overwrite may only change WHERE the
    // corrected rows live, never what they aggregate to.
    QueryDef("partitioned_backfill", (s, d) => graft.sources.PartitionedStore.backfillQuery(s, d), sql(
      """WITH lo AS (SELECT min(CAST(ts AS DATE)) AS d FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CASE WHEN CAST(ts AS DATE) = lo.d + 1
        |                          THEN value * 2 ELSE value END AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM events, lo GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("partitioned_merge", (s, d) => graft.sources.PartitionedStore.mergeQuery(s, d),
      sql(partitionedMergeReplaySql)),
    // The MERGE through the SQL DML surface (views + INSERT OVERWRITE).
    // Lake MERGE replay: the whole changeset (delete day-2 keys ≡ 0 mod 7,
    // re-derive day-3 click values ×2, insert day-1 keys ≡ 0 mod 5 as
    // fresh day-3 rows) applied inline on the raw table — the hash match
    // proves the copy-on-write merge ≡ a full recompute.
    // The SQL DML route applies the SAME changeset on its own clone — one
    // replay text serves both the DataFrame and the INSERT OVERWRITE path.
    QueryDef("lake_sql_merge", (s, d) => graft.sources.PartitionedStore.sqlMergeQuery(s, d),
      sql(partitionedMergeReplaySql)),
    // Hidden-partitioning route: the user's data-column date filter,
    // replayed inline on the raw table (the rewrite is exact — it only
    // changes what is scanned).
    QueryDef("partitioned_hidden", (s, d) => graft.sources.PartitionedStore.hiddenRouteQuery(s, d),
      sql(hiddenSliceSql)),
    // Layout audit replayed over the SAME exported store artifact — even
    // the per-partition file attribution is hash-checked.
    QueryDef("partitioned_layout_stats", (s, d) => graft.sources.PartitionedStore.layoutStats(s, d), sql(
      s"""SELECT CAST(event_date AS DATE) AS event_date,
         |       CAST(count(DISTINCT filename) AS BIGINT) AS n_files,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(*) // count(DISTINCT filename) AS BIGINT) AS rows_per_file
         |FROM read_parquet('$partStorePath/rows/*/*.parquet', hive_partitioning=1, filename=true)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Retention replay: partition drop may only remove WHOLE days older
    // than the cutoff — surviving rows equal the raw-table date filter.
    QueryDef("partitioned_retention", (s, d) => graft.sources.PartitionedStore.retentionQuery(s, d), sql(
      """WITH hi AS (SELECT max(CAST(ts AS DATE)) AS d FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM events, hi WHERE CAST(ts AS DATE) >= hi.d - 6
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Compaction replay over the compacted artifact: post-compaction every
    // date directory is one file; rows are conserved.
    QueryDef("partitioned_compact", (s, d) => graft.sources.PartitionedStore.compactQuery(s, d), sql(
      s"""SELECT CAST(event_date AS DATE) AS event_date,
         |       CAST(count(DISTINCT filename) AS BIGINT) AS n_files,
         |       CAST(count(*) AS BIGINT) AS n_rows
         |FROM read_parquet('${partStorePath}_cp/rows/*/*.parquet', hive_partitioning=1, filename=true)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Time-travel replay: v1 must equal the RAW table (snapshot isolation
    // across the later correction), v2 the corrected one.
    QueryDef("partitioned_time_travel", (s, d) => graft.sources.PartitionedStore.timeTravelQuery(s, d), sql(
      """WITH lo AS (SELECT min(CAST(ts AS DATE)) AS d FROM events),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS version, event_type, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |       FROM events GROUP BY 2),
        |v2 AS (SELECT CAST(2 AS BIGINT) AS version, event_type, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(CAST(CASE WHEN CAST(ts AS DATE) = lo.d + 1
        |                                 THEN value * 2 ELSE value END AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |       FROM events, lo GROUP BY 2)
        |SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |ORDER BY version, event_type""".stripMargin)),
    // Snapshot expiry + orphan vacuum: the time-travel mechanism's day-2
    // half (expire v1, unlink unreferenced files, verdict-checked).
    // Vacuum replay: the post-vacuum current read must equal the corrected
    // table (the v2 leg of the time-travel replay) — vacuum reclaims only
    // what no surviving manifest references — and the three verdicts
    // (current read unchanged, expired version gone, bytes reclaimed) are
    // engine-computed booleans the oracle pins to 1.
    QueryDef("partitioned_vacuum", (s, d) => graft.sources.PartitionedStore.vacuumQuery(s, d), sql(
      """WITH lo AS (SELECT min(CAST(ts AS DATE)) AS d FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CASE WHEN CAST(ts AS DATE) = lo.d + 1
        |                          THEN value * 2 ELSE value END AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c,
        |       CAST(1 AS BIGINT) AS post_equals_pre,
        |       CAST(1 AS BIGINT) AS expired_gone,
        |       CAST(1 AS BIGINT) AS files_deleted_gt0
        |FROM events, lo GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Manifest pruning is conservative, so the pruned-scan result is
    // EXACTLY the full-table range filter the oracle runs.
    QueryDef("sorted_prune", (s, d) => graft.sources.SortedLayout.rangeQuery(s, d), sql(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM documents WHERE doc_id BETWEEN 100 AND 299
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    // Absorb lifecycle: delta files + manifest union are invisible to the
    // semantics — the pruned post-absorb scan equals the full filter.
    QueryDef("sorted_absorb", (s, d) => graft.sources.SortedLayout.absorbQuery(s, d), sql(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM documents WHERE doc_id BETWEEN 300 AND 599
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    // Partial-aggregate merge: the oracle is the FULL single-pass
    // recompute — the gate itself proves merge == recompute.
    QueryDef("agg_partial_merge", (s, d) => Relational.partialMerge(s, d), sql(fullRecomputeSql)),
    // Incremental view refresh: persisted-base merge must equal the full
    // single-pass recompute — the same gate partialMerge passes, but the
    // engine side never rescans the historical slice (spec-asserted).
    QueryDef("agg_incremental_refresh", (s, d) => Relational.incrementalRefresh(s, d), sql(fullRecomputeSql)),
    QueryDef("stats_contingency", (s, d) => Relational.contingency(s, d), sql(
      """WITH cells AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, sum(o) AS r FROM cells GROUP BY 1),
        |c AS (SELECT source, sum(o) AS c FROM cells GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT cells.lang, cells.source, CAST(o AS BIGINT) AS observed,
        |       CAST((r.r * c.c * 1000000) // n.n AS BIGINT) AS expected_micro,
        |       CAST(abs(o * 1000000 - (r.r * c.c * 1000000) // n.n) AS BIGINT) AS dev_micro
        |FROM cells JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
        |ORDER BY 1, 2""".stripMargin)),
    // Contingency audit: expected-under-independence in integer micro;
    // the n scalar folds into both engines' floor division identically.
    // Join-key skew preflight: top-N hot keys + max/mean skew ratio, all
    // integer-micro BIGINT floor divisions.
    QueryDef("stats_skew_report", (s, d) => Relational.skewReport(s, d), sql(
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys,
        |             CAST(max(cnt) AS BIGINT) AS max_cnt FROM c)
        |SELECT CAST(user_id AS BIGINT) AS user_id, cnt,
        |       CAST(cnt * 1000000 // total AS BIGINT) AS share_micro, n_keys,
        |       CAST(max_cnt * n_keys * 1000000 // total AS BIGINT) AS skew_ratio_micro
        |FROM c CROSS JOIN t ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin),
      cross("1-row broadcast totals cross (winsorized idiom)")),
    // Schema-drift union: the old-schema half (even event_id) has its
    // props null-filled by the name-aligned union.
    QueryDef("schema_drift_union", (s, d) => Relational.schemaDriftUnion(s, d), sql(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN event_id % 2 = 0 OR props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_props,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Misra-Gries counts are partition-order dependent, but the classical
    // undercount guarantee over the exported summary is engine-checkable:
    // both engines recount the exported tokens exactly and hash-compare
    // the bound verdict (export-replay; see HeavyHitters.topTokensAudit).
    // Misra-Gries undercount-guarantee verdict over the exported summary:
    // count_lb <= exact <= count_lb + n//capacity, exact recounted by both
    // engines from the corpus.
    QueryDef("agg_heavy_hitters", (s, d) => HeavyHitters.topTokensAudit(s, d), sql(
      s"""WITH ex AS (SELECT token, count_lb FROM read_parquet('$sketchStorePath/mg_top/*.parquet')),
         |w AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |tot AS (SELECT count(*) AS n FROM w),
         |cnt AS (SELECT token, count(*) AS exact_n FROM w
         |        WHERE token IN (SELECT token FROM ex) GROUP BY 1)
         |SELECT ex.token, CAST(ex.count_lb AS BIGINT) AS count_lb,
         |       CAST(cnt.exact_n AS BIGINT) AS exact_n,
         |       CAST(CASE WHEN ex.count_lb <= cnt.exact_n
         |                  AND cnt.exact_n <= ex.count_lb + (tot.n // 20)
         |            THEN 1 ELSE 0 END AS BIGINT) AS within_bound
         |FROM ex JOIN cnt USING (token) CROSS JOIN tot
         |ORDER BY count_lb DESC, token""".stripMargin), cross("1-row broadcast total-tokens scalar cross")),
    // Count-Min point-query sketch: estimates exported once per corpus
    // content, both engines recompute the exact side + the 8n/width
    // Markov bound verdict (export-replay; see HeavyHitters.countMinAudit).
    // Count-Min overcount-bound verdict over the exported estimates:
    // est >= exact (structural) and (est-exact)*width <= 8*n, exact side
    // and stream length recomputed by both engines.
    QueryDef("agg_countmin", (s, d) => HeavyHitters.countMinAudit(s, d), sql(
      s"""WITH est AS (SELECT user_id, est_cnt FROM read_parquet('$sketchStorePath/cm_est/*.parquet')),
         |e AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
         |n AS (SELECT count(*) AS n_total FROM events)
         |SELECT CAST(est.user_id AS BIGINT) AS user_id, CAST(est.est_cnt AS BIGINT) AS est_cnt,
         |       CAST(e.exact_cnt AS BIGINT) AS exact_cnt, CAST(n.n_total AS BIGINT) AS n_total,
         |       CAST(CASE WHEN est.est_cnt >= e.exact_cnt
         |                  AND (est.est_cnt - e.exact_cnt) * 4096 <= 8 * n.n_total
         |            THEN 1 ELSE 0 END AS BIGINT) AS within_bound
         |FROM est JOIN e USING (user_id) CROSS JOIN n ORDER BY user_id""".stripMargin),
      cross("1-row broadcast stream-length scalar cross")),
    // KMV/theta set-operation sketch: pairwise union/intersection distinct
    // estimates combined from the k-row sketches alone, exported once,
    // exact sides recomputed by both engines (export-replay).
    // KMV set-op verdicts over the exported estimates: exact per-pair
    // union/intersection distinct counts recomputed from the base table,
    // ±25% of exact-union bound (4x the k=256 KMV rsd).
    QueryDef("agg_kmv_setops", (s, d) => HeavyHitters.kmvSetOpsAudit(s, d), sql(
      s"""WITH est AS (SELECT * FROM read_parquet('$sketchStorePath/kmv_setops/*.parquet')),
         |ev AS (SELECT DISTINCT event_type, user_id FROM events),
         |sz AS (SELECT event_type, count(*) AS n FROM ev GROUP BY 1),
         |ix AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS exact_inter
         |       FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_type < b.event_type
         |       GROUP BY 1, 2)
         |SELECT est.type_a, est.type_b,
         |       CAST(est.est_union AS BIGINT) AS est_union,
         |       CAST(sa.n + sb.n - ix.exact_inter AS BIGINT) AS exact_union,
         |       CAST(est.est_inter AS BIGINT) AS est_inter,
         |       CAST(ix.exact_inter AS BIGINT) AS exact_inter,
         |       CAST(CASE WHEN abs(est.est_union - (sa.n + sb.n - ix.exact_inter)) * 100
         |                      <= (sa.n + sb.n - ix.exact_inter) * 25
         |                  AND abs(est.est_inter - ix.exact_inter) * 100
         |                      <= (sa.n + sb.n - ix.exact_inter) * 25
         |            THEN 1 ELSE 0 END AS BIGINT) AS within_bound
         |FROM est JOIN ix USING (type_a, type_b)
         |     JOIN sz sa ON sa.event_type = est.type_a
         |     JOIN sz sb ON sb.event_type = est.type_b
         |ORDER BY type_a, type_b""".stripMargin)),
    // 3-sigma outlier audit cleared of denominators into pure integer
    // arithmetic: Spark DECIMAL(38,0) == DuckDB HUGEINT, both exact.
    QueryDef("events_outliers", (s, d) => Relational.outlierAudit(s, d), sql(
      """WITH e AS (SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc FROM events),
        |st AS (SELECT event_type, count(*) AS n, sum(xc) AS s1,
        |              sum(CAST(xc AS HUGEINT) * xc) AS s2 FROM e GROUP BY 1),
        |f AS (SELECT e.event_type, xc,
        |             CASE WHEN CAST(n * xc - s1 AS HUGEINT) * CAST(n * xc - s1 AS HUGEINT)
        |                       > 9 * (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
        |                  THEN 1 ELSE 0 END AS is_out
        |      FROM e JOIN st USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(is_out) AS BIGINT) AS n_outliers,
        |       CAST(min(CASE WHEN is_out = 1 THEN xc END) AS BIGINT) AS out_min_c,
        |       CAST(max(CASE WHEN is_out = 1 THEN xc END) AS BIGINT) AS out_max_c
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Gap fill: full hourly grid from observed bounds x distinct types,
    // left-joined counts — silent gaps become explicit zeros.
    QueryDef("events_gapfill", (s, d) => Relational.gapFill(s, d), sql(
      """WITH b AS (SELECT CAST(floor(epoch(date_trunc('hour', min(ts)))) AS BIGINT) AS lo,
        |                  CAST(floor(epoch(date_trunc('hour', max(ts)))) AS BIGINT) AS hi FROM events),
        |h AS (SELECT unnest(range(lo, hi + 3600, 3600)) AS hour_epoch FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |g AS (SELECT hour_epoch, event_type FROM h CROSS JOIN t),
        |a AS (SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |             event_type, count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT CAST(g.hour_epoch AS BIGINT) AS hour_epoch, g.event_type,
        |       CAST(COALESCE(a.n, 0) AS BIGINT) AS n
        |FROM g LEFT JOIN a USING (hour_epoch, event_type) ORDER BY 1, 2""".stripMargin),
      cross("hour-grid × distinct-types bounded cross")),
    QueryDef("pivot_events", (s, d) => Relational.pivotEvents(s, d), sql(
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("set_intersect", (s, d) => Relational.setIntersect(s, d), sql(
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT SELECT CAST(o_custkey AS BIGINT) FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("set_except", (s, d) => Relational.setExcept(s, d), sql(
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT SELECT CAST(o_custkey AS BIGINT) FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("set_intersect_all", (s, d) => Relational.setIntersectAll(s, d), sql(
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT ALL SELECT CAST(l_orderkey AS BIGINT) FROM lineitem WHERE l_linestatus = 'F'
        |ORDER BY l_orderkey""".stripMargin)),
    QueryDef("set_except_all", (s, d) => Relational.setExceptAll(s, d), sql(
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        |EXCEPT ALL SELECT CAST(l_orderkey AS BIGINT) FROM lineitem WHERE l_linestatus = 'F'
        |ORDER BY l_orderkey""".stripMargin)),
    QueryDef("join_full_outer", (s, d) => Relational.joinFullOuter(s, d), sql(
      """WITH c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_supp FROM supplier GROUP BY 1)
        |SELECT CAST(coalesce(c.c_nationkey, s.s_nationkey) AS BIGINT) AS nationkey,
        |       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.c_nationkey = s.s_nationkey
        |ORDER BY nationkey""".stripMargin)),
    QueryDef("value_counts_top", (s, d) => Relational.valueCountsTop(s, d), sql(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, event_type LIMIT 10""".stripMargin)),
  )
}
