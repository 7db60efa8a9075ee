package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.certs.Fixtures.withTempDir
import graft.ops.EventWindows
import graft.queries.StarQueries
import graft.sources.Tables

/** Relational certificates: TPC-H-style queries, joins and their planner
  * rewrites, event-table analytics and source round-trips. */
object RelCerts {

  lazy val certs: Seq[Cert] = Seq(
    // ----- relational surface certification (M2)
    Cert("rel_q1_pricing_summary", (s, d) =>
      StarQueries.q1PricingSummary(Tables.lineitem(s, d))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice*(1-l_discount)), 2) AS sum_disc_price, " +
        "round(avg(l_discount), 4) AS avg_disc, CAST(count(*) AS BIGINT) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),
    Cert("rel_q3_top_revenue", (s, d) =>
      StarQueries.q3TopRevenue(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d), 10),
      ("SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10")),
    Cert("rel_q5_region_revenue", (s, d) =>
      StarQueries.q5RegionRevenue(
        Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d)).orderBy(col("n_name")),
      ("SELECT n_name, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name")),
    Cert("rel_q5_local_supplier", (s, d) =>
      StarQueries.q5LocalSupplier(
        Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d))
        .orderBy(col("n_name")),
      ("SELECT n_name, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name")),
    // correlated-subquery SQL surface: EXISTS / scalar-agg / NOT
    // EXISTS written as SQL text — certifies Catalyst's subquery
    // decorrelation (RewritePredicateSubquery, scalar-subquery
    // rewrite), not just the equivalent hand-built joins
    Cert("rel_q4_priority_exists", (s, d) =>
      StarQueries.q4PriorityExists(s, Tables.orders(s, d), Tables.lineitem(s, d))
        .orderBy(col("o_orderpriority")),
      ("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count FROM orders " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),
    Cert("rel_q17_small_quantity", (s, d) =>
      StarQueries.q17SmallQuantity(s, Tables.part(s, d), Tables.lineitem(s, d)),
      // l_quantity is integer-valued: sum/avg IEEE-exact, threshold stable
      ("SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#1' " +
        "AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)")),
    Cert("rel_q22_idle_customers", (s, d) =>
      StarQueries.q22IdleCustomers(s, Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("c_mktsegment")),
      // the scalar avg threshold is float-quantized on both sides: a
      // row-order-dependent double sum must not decide row membership
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust, round(sum(c_acctbal), 2) AS total_bal " +
        "FROM customer " +
        "WHERE c_acctbal > (SELECT CAST(CAST(avg(c_acctbal) AS FLOAT) AS DOUBLE) FROM customer WHERE c_acctbal > 0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000) " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    // EXISTS + NOT EXISTS against the same fact table in one query
    // (Q21's shape) — both decorrelate to l_orderkey-keyed semi/anti
    // joins; LIMIT 10 is total-ordered by (numwait desc, s_name)
    Cert("rel_q21_lone_fault_supplier", (s, d) =>
      StarQueries.q21LoneFaultSupplier(s, Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.nation(s, d)),
      ("SELECT s_name, CAST(count(*) AS BIGINT) AS numwait " +
        "FROM supplier, lineitem l1, orders, nation " +
        "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey " +
        "AND l1.l_returnflag = 'R' AND o_orderstatus = 'F' " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey " +
        "AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey " +
        "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') " +
        "AND s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_7') " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10")),
    // WITH RECURSIVE union-loop: data-dependent-depth hierarchy walk
    // with exact integer path sums (order-free per-depth totals)
    Cert("rel_recursive_path_sum", (s, d) =>
      StarQueries.recursivePathSum(s, Tables.customer(s, d)),
      // integer-cents path sums along unique root paths: order-free,
      // so the per-depth aggregate is engine-exact; `//` is DuckDB's
      // integer division (Spark spells it `div`)
      ("WITH RECURSIVE tree AS (" +
        "SELECT c_custkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS path_cents, 0 AS depth " +
        "FROM customer WHERE c_custkey < 10 " +
        "UNION ALL " +
        "SELECT c.c_custkey, t.path_cents + CAST(round(c.c_acctbal * 100, 0) AS BIGINT), t.depth + 1 " +
        "FROM customer c JOIN tree t ON c.c_custkey // 10 = t.c_custkey AND c.c_custkey >= 10) " +
        "SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes, " +
        "CAST(sum(path_cents) AS BIGINT) AS total_path_cents " +
        "FROM tree GROUP BY depth ORDER BY depth")),
    Cert("rel_q7_nation_volume", (s, d) =>
      StarQueries.q7NationVolume(s, Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d)),
      ("SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue " +
        "FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS INT) AS l_year, " +
        "l_extendedprice * (1 - l_discount) AS volume " +
        "FROM supplier, lineitem, orders, customer, nation n1, nation n2 " +
        "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey " +
        "AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey " +
        "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) " +
        "AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') " +
        "GROUP BY supp_nation, cust_nation, l_year " +
        "ORDER BY supp_nation, cust_nation, l_year")),
    Cert("rel_q10_returned_revenue", (s, d) =>
      StarQueries.q10ReturnedRevenue(s, Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d)),
      ("SELECT c_custkey, c_name, n_name, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM customer, orders, lineitem, nation " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01' " +
        "AND CAST(o_orderdate AS DATE) < DATE '1996-01-01' " +
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey " +
        "GROUP BY c_custkey, c_name, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20")),
    Cert("rel_q13_order_histogram", (s, d) =>
      StarQueries.q13OrderHistogram(s, Tables.customer(s, d), Tables.orders(s, d)),
      ("SELECT c_count, CAST(count(*) AS BIGINT) AS custdist " +
        "FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count " +
        "FROM customer LEFT JOIN orders " +
        "ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
        "GROUP BY c_custkey) " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC")),
    Cert("rel_q14_promo_share", (s, d) =>
      StarQueries.q14PromoShare(s, Tables.lineitem(s, d), Tables.part(s, d)),
      ("SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' " +
        "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) " +
        "/ sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'")),
    // the remaining TPC-H shapes — the full 22-query suite (partsupp
    // absent from this schema is reconstructed from lineitem where a
    // query needs it; see each method's scaladoc)
    Cert("rel_q6_forecast_revenue", (s, d) =>
      StarQueries.q6ForecastRevenue(Tables.lineitem(s, d)),
      ("SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),
    Cert("rel_q8_market_share", (s, d) =>
      StarQueries.q8MarketShare(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d)),
      // share numerator/denominator in exact integer cents (2-dec price
      // x 2-dec discount factor), so the 4-dec ratio is order-free
      ("SELECT o_year, round(CAST(sum(CASE WHEN nation = 'NATION_9' THEN volume_cents ELSE 0 END) AS DOUBLE) " +
        "/ CAST(sum(volume_cents) AS DOUBLE), 4) AS mkt_share " +
        "FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) " +
        "* CAST(round((1 - l_discount) * 100, 0) AS BIGINT) AS volume_cents, " +
        "n2.n_name AS nation " +
        "FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region " +
        "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey " +
        "AND l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey " +
        "AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND p_type = 'ECONOMY') all_nations " +
        "GROUP BY o_year ORDER BY o_year")),
    Cert("rel_q9_nation_profit", (s, d) =>
      StarQueries.q9ProfitByNation(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.nation(s, d)),
      // exact 1e-4-dollar integer profit units: the double-sum version
      // diffed on a half-cent rounding boundary at sf0.01
      ("SELECT nation, o_year, round(CAST(sum(amount_e4) AS DOUBLE) / 10000.0, 2) AS sum_profit " +
        "FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) " +
        "* CAST(round((1 - l_discount) * 100, 0) AS BIGINT) " +
        "- CAST(round(p_retailprice * 100, 0) AS BIGINT) " +
        "* CAST(l_quantity AS BIGINT) * 10 AS amount_e4 " +
        "FROM part, supplier, lineitem, orders, nation " +
        "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey " +
        "AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey " +
        "AND p_name LIKE '%widget%') profit " +
        "GROUP BY nation, o_year ORDER BY nation, o_year")),
    Cert("rel_q11_important_stock", (s, d) =>
      StarQueries.q11ImportantStock(s, Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d)),
      // all-BIGINT stock values: the HAVING-above-fraction threshold is
      // exact on both engines (DuckDB's HUGEINT sum cast back down)
      ("WITH supply AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
        "CAST(sum(l_quantity) AS BIGINT) AS ps_availqty FROM lineitem GROUP BY l_partkey, l_suppkey), " +
        "value AS (SELECT ps_partkey, " +
        "CAST(sum(ps_availqty * CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents " +
        "FROM supply, part, supplier, nation " +
        "WHERE ps_partkey = p_partkey AND ps_suppkey = s_suppkey " +
        "AND s_nationkey = n_nationkey AND n_name = 'NATION_3' GROUP BY ps_partkey) " +
        "SELECT ps_partkey, value_cents FROM value " +
        "WHERE value_cents > (SELECT CAST(sum(value_cents) AS DOUBLE) * 0.002 FROM value) " +
        "ORDER BY value_cents DESC, ps_partkey")),
    Cert("rel_q12_late_priority", (s, d) =>
      StarQueries.q12LatePriorityCounts(s, Tables.orders(s, d), Tables.lineitem(s, d)),
      // DuckDB spells Spark's datediff(end, start) as date_diff('day', start, end)
      ("SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE date_diff('day', o_orderdate, l_shipdate) > 60 " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY l_linestatus ORDER BY l_linestatus")),
    Cert("rel_q15_top_supplier", (s, d) =>
      StarQueries.q15TopSupplier(s, Tables.supplier(s, d), Tables.lineitem(s, d)),
      // revenue in exact cents ⇒ equality-with-max is engine-stable
      ("WITH revenue AS (SELECT l_suppkey AS supplier_no, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) " +
        "* CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, round(CAST(total_cents AS DOUBLE) / 10000.0, 2) AS total_revenue " +
        "FROM supplier JOIN revenue ON s_suppkey = supplier_no " +
        "WHERE total_cents = (SELECT max(total_cents) FROM revenue) ORDER BY s_suppkey")),
    Cert("rel_q16_supplier_counts", (s, d) =>
      StarQueries.q16SupplierCounts(s, Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d)),
      ("SELECT p_brand, p_type, p_size, CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt " +
        "FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) supply, part " +
        "WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#1' AND p_type <> 'PROMO' " +
        "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) " +
        "AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY p_brand, p_type, p_size " +
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size")),
    Cert("rel_q18_large_orders", (s, d) =>
      StarQueries.q18LargeOrders(s, Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d)),
      // integer-valued l_quantity ⇒ the HAVING threshold is exact
      ("SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "o_totalprice, CAST(sum(l_quantity) AS BIGINT) AS total_qty " +
        "FROM customer, orders, lineitem " +
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem " +
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 300) " +
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey " +
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")),
    Cert("rel_q19_disjunct_revenue", (s, d) =>
      StarQueries.q19DisjunctiveRevenue(Tables.lineitem(s, d), Tables.part(s, d)),
      ("SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN part ON " +
        "(p_partkey = l_partkey AND p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_partkey = l_partkey AND p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 " +
        "AND l_quantity BETWEEN 20 AND 30)")),
    Cert("rel_q20_part_promotion", (s, d) =>
      StarQueries.q20PartPromotion(s, Tables.supplier(s, d), Tables.nation(s, d),
        Tables.lineitem(s, d), Tables.part(s, d)),
      ("SELECT s_name, s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_2' AND s_suppkey IN (" +
        "SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_name LIKE 'red%' " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 30) " +
        "ORDER BY s_name")),
    Cert("rel_q2_min_cost_supplier", (s, d) =>
      StarQueries.q2MinCostSupplier(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d), Tables.region(s, d)),
      // unit price is one IEEE division over identical rows on both
      // engines; min() is order-free, so min-equality membership is exact
      ("WITH offers AS (SELECT l_partkey, l_suppkey, " +
        "min(l_extendedprice / l_quantity) AS unit_price " +
        "FROM lineitem GROUP BY l_partkey, l_suppkey) " +
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, " +
        "round(unit_price, 4) AS best_price " +
        "FROM part, offers, supplier, nation, region " +
        "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey " +
        "AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' " +
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'EUROPE' " +
        "AND unit_price = (SELECT min(o2.unit_price) " +
        "FROM offers o2, supplier s2, nation n2, region r2 " +
        "WHERE o2.l_partkey = p_partkey AND s2.s_suppkey = o2.l_suppkey " +
        "AND s2.s_nationkey = n2.n_nationkey " +
        "AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE') " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100")),
    // market-basket lift: pair generation by self-join ON THE ORDER
    // KEY (basket-bounded, never catalog²), integer lift products,
    // one division
    Cert("rel_basket_lift", (s, d) =>
      StarQueries.basketLift(Tables.lineitem(s, d), 3, 50)
        .orderBy(col("rank")),
      // same basket-bounded pair join; lift = n_ab·N / (n_a·n_b)
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li), " +
        "pc AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY pk), " +
        "pr AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS n_ab " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2), " +
        "sc AS (SELECT pa, pb, n_ab, " +
        "round(CAST(n_ab * n_orders AS DOUBLE) / CAST(ca.n_p * cb.n_p AS DOUBLE), 6) AS lift " +
        "FROM pr JOIN pc ca ON pr.pa = ca.pk JOIN pc cb ON pr.pb = cb.pk " +
        "CROSS JOIN n WHERE n_ab >= 3) " +
        "SELECT pa, pb, n_ab, lift, " +
        "CAST(row_number() OVER (ORDER BY lift DESC, pa, pb) AS INT) AS rank " +
        "FROM sc QUALIFY row_number() OVER (ORDER BY lift DESC, pa, pb) <= 50 ORDER BY rank")),
    // BFS blast radius: hop layers from recalled parts over the
    // co-order graph (frontier-relaxation joins, first-touch = min
    // hop); the oracle replays it as a RECURSIVE CTE with min-hop
    // collapse — an independent traversal formulation
    Cert("rel_part_blast_radius", (s, d) => {
      // materialized once (the cap guard, both self-join sides and the
      // seed projection otherwise each recompute the distinct scan) —
      // persist, not localCheckpoint: the lineage stays analyzable, so
      // PlanAudit still sees the parquet scan under this query
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        .persist()
      // per-order pair guard (the Dedup df-cap discipline): the
      // co-occurrence self-join squares each order's item count, so a
      // single 10k-item "order" in arbitrary data would mint 10^8
      // edges. Orders above the cap are excluded CONSISTENTLY on both
      // engines (oracle mirrors the HAVING); TPC-H bounds orders at 7
      // items, so at any SF the cap drops nothing and only certifies
      // the guard is in the plan
      val bounded = li.join(
        li.groupBy(col("ok")).agg(count(lit(1)).as("n_items"))
          .filter(col("n_items") <= 64).select(col("ok")),
        Seq("ok"), "left_semi")
      // r19: NO materialized co-occurrence self-join — the pairwise
      // edge list squares each order's item count and cost 89.6 MB of
      // shuffle / 7.9M records read before the walk even started; the
      // membership-table BFS expands each hop through two equi-joins
      // on (ok, pk) instead (provably the same layers — EvalSpec pins
      // hopDistancesVia ≡ hopDistances on random graphs; the bounded
      // cap guard is unchanged and still in the plan)
      val seeds = li.select(col("pk").as("id")).filter(col("id") < 10)
      graft.ops.Bfs.hopDistancesVia(
        bounded.select(col("ok").as("grp"), col("pk").as("id")), seeds, 3)
        .groupBy(col("hop")).agg(count(lit(1)).as("n_parts"))
        .orderBy(col("hop"))
    },
      // recursive-CTE BFS with hop cap + min-hop collapse ≡ the engine's
      // frontier relaxation (first touch = min hop)
      ("WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "bounded AS (SELECT * FROM li WHERE ok IN " +
        "(SELECT ok FROM li GROUP BY ok HAVING count(*) <= 64)), " +
        "ed AS (SELECT DISTINCT a.pk AS src, b.pk AS dst FROM bounded a JOIN bounded b ON a.ok = b.ok AND a.pk <> b.pk), " +
        "bfs AS (SELECT DISTINCT pk AS id, 0 AS hop FROM li WHERE pk < 10 " +
        "UNION SELECT ed.dst, b.hop + 1 FROM bfs b JOIN ed ON ed.src = b.id WHERE b.hop < 3), " +
        "d AS (SELECT id, min(hop) AS hop FROM bfs GROUP BY id) " +
        "SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_parts " +
        "FROM d GROUP BY hop ORDER BY hop")),
    // correlated LATERAL subquery with per-row ORDER BY LIMIT —
    // Catalyst decorrelates to a partitioned rank, certified against
    // the explicit-window oracle
    Cert("rel_lateral_topk", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("lat_customer")
      Tables.orders(s, d).createOrReplaceTempView("lat_orders")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM lat_customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM lat_orders o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c.c_custkey < 100
          |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
    },
      // the lateral top-2 as an explicit partitioned rank
      ("SELECT c_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders WHERE o_custkey < 100) WHERE rn <= 2 " +
        "ORDER BY c_custkey, o_orderkey")),
    // SQL-standard inverse distribution functions (WITHIN GROUP)
    Cert("rel_percentiles", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("pct_customer")
      s.sql(
        """SELECT c_mktsegment,
          |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal), 4) AS p50,
          |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY c_acctbal), 4) AS p90,
          |  round(percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal), 4) AS p50_disc
          |FROM pct_customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
      ("SELECT c_mktsegment, round(quantile_cont(c_acctbal, 0.5), 4) AS p50, " +
        "round(quantile_cont(c_acctbal, 0.9), 4) AS p90, " +
        "round(quantile_disc(c_acctbal, 0.5), 4) AS p50_disc " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    Cert("rel_window_extras", (s, d) =>
      StarQueries.windowExtras(Tables.customer(s, d))
        .orderBy(col("c_mktsegment"), col("c_custkey")),
      ("SELECT c_mktsegment, c_custkey, CAST(ntile(4) OVER w AS INT) AS quartile, " +
        "round(percent_rank() OVER w, 4) AS pct_rank, " +
        "first_value(c_custkey) OVER w AS segment_top " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) " +
        "ORDER BY c_mktsegment, c_custkey")),
    Cert("rel_grouping_sets", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        "SELECT coalesce(c_mktsegment, 'ALL') AS segment, " +
          "coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nation, " +
          "count(*) AS n FROM customer_v " +
          "GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ()) " +
          "ORDER BY segment, nation")
    },
      ("SELECT coalesce(c_mktsegment, 'ALL') AS segment, " +
        "coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation, " +
        "CAST(count(*) AS BIGINT) AS n FROM customer " +
        "GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ()) " +
        "ORDER BY segment, nation")),
    Cert("source_seed_loader", (s, d) =>
      graft.sources.Seeds.referenceInventory(s).orderBy(col("product_id")),
      ("SELECT * FROM (VALUES ('prod-101', 'Wireless Headphones', 50), " +
        "('prod-102', 'Mechanical Keyboard', 20), ('prod-103', 'Gaming Mouse', 35), " +
        "('prod-104', 'USB-C Monitor', 10), ('prod-105', 'Ergonomic Chair', 5)) " +
        "AS t(product_id, product_name, quantity_available) ORDER BY product_id")),
    // schema-preserving CSV round trip: a lineitem slice written with
    // headers + an explicit timestampFormat, read back with the
    // DECLARED schema (never inference — SURVEY §1.3), aggregate must
    // equal the parquet source of truth. Certifies the full
    // text-serialization path: shortest-roundtrip doubles, timestamp
    // formatting both directions
    Cert("source_csv_roundtrip", (s, d) => withTempDir("graft-csv") { base =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      val fmt = "yyyy-MM-dd HH:mm:ss"
      li.coalesce(2).write.option("header", "true").option("timestampFormat", fmt)
        .csv(s"$base/csv")
      s.read.schema(li.schema).option("header", "true").option("timestampFormat", fmt)
        .csv(s"$base/csv")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          date_format(max(col("l_shipdate")), fmt).as("max_ship"))
    },
      // both roundtrips must land exactly on the parquet source of truth
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship " +
        "FROM lineitem WHERE l_orderkey % 100 = 0")),
    // same certification for the JSON-lines file source (the
    // reference's wire format as a TABLE source rather than a stream)
    Cert("source_jsonl_roundtrip", (s, d) => withTempDir("graft-jsonl") { base =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      li.coalesce(2).write.json(s"$base/json")
      s.read.schema(li.schema).json(s"$base/json")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
    },
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship " +
        "FROM lineitem WHERE l_orderkey % 100 = 0")),
    // columnar-binary roundtrip through Spark's native ORC source: the
    // file is SELF-DESCRIBING, so the read side deliberately declares
    // no schema — types (decimal-free doubles, timestamp micros) must
    // survive the format's own metadata, unlike the text formats above
    Cert("source_orc_roundtrip", (s, d) => withTempDir("graft-orc") { base =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      li.coalesce(2).write.orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
    },
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship " +
        "FROM lineitem WHERE l_orderkey % 100 = 0")),
    Cert("rel_join_semi", (s, d) =>
      StarQueries.customersWithOrders(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("c_mktsegment")),
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    // anti-join against the high-value order subset: every customer
    // has SOME order in this data, so the unfiltered variant would
    // certify only the empty result — the filter plants real survivors
    Cert("rel_join_anti", (s, d) =>
      StarQueries.customersWithoutOrders(Tables.customer(s, d),
          Tables.orders(s, d).filter(col("o_totalprice") > 300000))
        .orderBy(col("c_nationkey")),
      ("SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_totalprice > 300000) " +
        "GROUP BY c_nationkey ORDER BY c_nationkey")),
    Cert("rel_join_broadcast", (s, d) =>
      StarQueries.customersPerRegion(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))
        .orderBy(col("r_name"), col("n_name")),
      ("SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers, " +
        "round(sum(c_acctbal), 2) AS total_acctbal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name")),
    Cert("rel_join_full_outer", (s, d) =>
      StarQueries.nationActivityFullOuter(Tables.customer(s, d), Tables.supplier(s, d))
        .orderBy(col("nationkey")),
      ("WITH c AS (SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_rich_customers " +
        "FROM customer WHERE c_acctbal > 9900 GROUP BY 1), " +
        "s AS (SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_poor_suppliers " +
        "FROM supplier WHERE s_acctbal < 0 GROUP BY 1) " +
        "SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, " +
        "coalesce(n_rich_customers, 0) AS n_rich_customers, " +
        "coalesce(n_poor_suppliers, 0) AS n_poor_suppliers " +
        "FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey ORDER BY nationkey")),
    Cert("rel_agg_distinct", (s, d) =>
      StarQueries.segmentStats(Tables.customer(s, d)).orderBy(col("c_mktsegment")),
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers, " +
        "CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations, " +
        "round(avg(c_acctbal), 2) AS avg_acctbal FROM customer " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    Cert("rel_agg_rollup", (s, d) =>
      StarQueries.acctbalRollup(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))
        .orderBy(col("region"), col("nation")),
      ("SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation, " +
        "CAST(count(*) AS BIGINT) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation")),
    Cert("rel_agg_cube", (s, d) =>
      StarQueries.orderCube(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("segment"), col("priority")),
      ("SELECT COALESCE(c_mktsegment, 'ALL') AS segment, COALESCE(o_orderpriority, 'ALL') AS priority, " +
        "CAST(count(*) AS BIGINT) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY CUBE(c_mktsegment, o_orderpriority) ORDER BY segment, priority")),
    Cert("rel_window_rank", (s, d) =>
      StarQueries.topCustomersPerSegment(Tables.customer(s, d), 3)
        .orderBy(col("c_mktsegment"), col("rn")),
      ("SELECT c_mktsegment, c_custkey, c_acctbal, CAST(row_number() OVER w AS INT) AS rn, " +
        "CAST(rank() OVER w AS INT) AS rnk, lag(c_acctbal, 1) OVER w AS prev_acctbal " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) " +
        "QUALIFY row_number() OVER w <= 3 ORDER BY c_mktsegment, rn")),
    Cert("rel_window_running", (s, d) =>
      StarQueries.runningOrderTotal(Tables.orders(s, d), 100)
        .orderBy(col("o_custkey"), col("o_orderkey")),
      ("SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total " +
        "FROM orders WHERE o_custkey <= 100 ORDER BY o_custkey, o_orderkey")),
    Cert("rel_sort_topk", (s, d) =>
      StarQueries.topOrders(Tables.orders(s, d), 20),
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20")),
    Cert("rel_set_ops", (s, d) =>
      StarQueries.setOps(Tables.customer(s, d), Tables.orders(s, d)).orderBy(col("op")),
      ("WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders), " +
        "pos AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0) " +
        "SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT custkey FROM buyers UNION SELECT custkey FROM pos) " +
        "UNION ALL SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM pos) " +
        "UNION ALL SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM pos) " +
        "ORDER BY op")),
    Cert("rel_scalar_string_math", (s, d) =>
      StarQueries.scalarStringMath(Tables.part(s, d)).orderBy(col("p_partkey")),
      ("SELECT p_partkey, upper(substr(p_name, 1, 8)) AS name_prefix, CAST(length(p_name) AS INT) AS name_len, " +
        "replace(p_type, ' ', '_') AS type_slug, p_size % 5 AS size_mod, " +
        "round(p_retailprice * 1.1, 2) AS uplifted, concat_ws(':', p_brand, p_size) AS brand_size " +
        "FROM part ORDER BY p_partkey")),
    Cert("rel_pivot", (s, d) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val pivoted = Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .pivot("c_mktsegment", segs)
        .agg(count(lit(1)))
      pivoted.select(
        col("c_nationkey") +: segs.map(g => coalesce(col(g), lit(0L)).as(g)): _*)
        .orderBy(col("c_nationkey"))
    },
      ("SELECT c_nationkey, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS AUTOMOBILE, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS BUILDING, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS FURNITURE, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS HOUSEHOLD, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS MACHINERY " +
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey")),
    Cert("rel_scalar_dates", (s, d) =>
      StarQueries.scalarDates(Tables.orders(s, d)).orderBy(col("o_orderkey")),
      ("SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS y, CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS m, " +
        "CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS d, CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q, " +
        "CAST(o_orderdate AS DATE) + 30 AS due_date, last_day(CAST(o_orderdate AS DATE)) AS month_end, " +
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS INT) AS age_days " +
        "FROM orders ORDER BY o_orderkey")),
    // skew-salted join certified against the PLAIN join's oracle: the
    // salt must be invisible in the result by construction
    Cert("rel_join_salted", (s, d) =>
      graft.ops.Skew.saltedJoin(
        Tables.lineitem(s, d)
          .select(col("l_partkey").as("p_partkey"), col("l_extendedprice")),
        Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        "p_partkey", 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("total_price"))
        .orderBy(col("p_brand")),
      // the salted join must produce exactly the plain join's aggregate
      ("SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines, " +
        "round(sum(l_extendedprice), 2) AS total_price " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand")),

    // AUTO-SALTED AGGREGATION (r17 — the aggregation face of the skew
    // statistic, the join face's store_join_autosalt discipline): a
    // 75%-hot fact lands in the native format, the fan-out derives
    // from the manifest frequency map with zero scans, and the
    // two-phase salted groupBy (+ value-hash-salted exact distinct)
    // is certified against the PLAIN GROUP BY — the split must be
    // invisible in the result at ANY factor. Exact-long sums/counts
    // keep every merge order-independent; avg is ONE double division
    // of those exact operands on both sides
    Cert("rel_agg_autosalt", (s, d) => withTempDir("graft-aggsalt") { base =>
      val dir = s"$base/fact"
      Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 4 < 3, lit(7L))
          .otherwise(col("l_orderkey") % 97).as("k"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        col("l_partkey"))
        .write.format("graft-segment").option("histFor", "k")
        .mode("append").save(dir)
      val factT = s.read.format("graft-segment").load(dir)
      val n = factT.count()
      val salts = graft.ops.Skew.saltsForTable(s, dir, "k",
        fallback = 8, targetRowsPerSlot = math.max(1L, n / 32))
      val agg = graft.ops.Skew.saltedAgg(factT, "k", salts, Seq(
        ("sum", "cents", "sum_cents"), ("count", "*", "n_lines"),
        ("min", "cents", "min_cents"), ("max", "cents", "max_cents"),
        ("avg", "cents", "avg_cents")))
      val nd = graft.ops.Skew.saltedCountDistinct(
        factT, "k", "l_partkey", salts, "n_parts")
      agg.join(nd, Seq("k")).orderBy(col("k"))
    },
      // the auto-salted two-phase aggregation replayed as the PLAIN
      // GROUP BY: the derived split must be invisible in the result
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents, " +
        "l_partkey FROM lineitem) " +
        "SELECT k, CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        "CAST(count(*) AS BIGINT) AS n_lines, " +
        "min(cents) AS min_cents, max(cents) AS max_cents, " +
        "CAST(sum(cents) AS DOUBLE) / count(cents) AS avg_cents, " +
        "count(DISTINCT l_partkey) AS n_parts " +
        "FROM fact GROUP BY k ORDER BY k")),

    // the PLANNER face of the statistic (r17): the same hot fact, but
    // the user writes a PLAIN join — SaltJoinRule reads the manifest
    // map at plan time and injects the salt itself (fan-out derived,
    // dim replicated, salt equality added, original output restored).
    // The inline require proves the certified plan IS the rewritten
    // one; the oracle is the plain join's — the rewrite must be
    // invisible at any factor. Threshold -1 simulates the
    // non-broadcastable dim this rule exists for (a broadcastable dim
    // is guarded out: BHJ has no fact shuffle, measured dominant)
    Cert("rel_join_autosalt_rule", (s, d) => withTempDir("graft-saltrule") { base =>
      val dir = s"$base/fact"
      Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 4 < 3, lit(7L))
          .otherwise(col("l_orderkey") % 97).as("k"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        .write.format("graft-segment").option("histFor", "k")
        .mode("append").save(dir)
      val factT = s.read.format("graft-segment").load(dir)
      val dim = s.range(0, 97).select(col("id").as("k"),
        concat(lit("g"), pmod(col("id"), lit(5))).as("grp"))
      withSaltRule(s) {
        factT.join(dim, Seq("k"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("sum_cents"))
      }.orderBy(col("grp"))
    },
      // the planner-salted join replayed as the PLAIN join it rewrote
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents " +
        "FROM lineitem), " +
        "dim AS (SELECT range AS k, 'g' || CAST(range % 5 AS VARCHAR) AS grp " +
        "FROM range(97)) " +
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM fact JOIN dim USING (k) GROUP BY grp ORDER BY grp")),

    // the rule's COMPOSITE-KEY scope (r18, measured on SaltBench's
    // comp-* arms before shipping): the user joins on (k, k2); only k
    // is manifest-declared, and count(k=a ∧ k2=b) ≤ count(k=a) makes
    // the k-derived fan-out a valid bound for the composite hot mass
    // (a declared-not-hot column would veto instead — OpsSpec pins
    // that guard). Same plain-join oracle: the rewrite must stay
    // invisible at any factor
    Cert("rel_join_autosalt_composite", (s, d) => withTempDir("graft-saltrulec") { base =>
      val dir = s"$base/fact"
      Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 4 < 3, lit(7L))
          .otherwise(col("l_orderkey") % 97).as("k"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        .withColumn("k2", col("cents") % 3)
        .write.format("graft-segment").option("histFor", "k")
        .mode("append").save(dir)
      val factT = s.read.format("graft-segment").load(dir)
      val dim = s.range(0, 97).select(col("id").as("k"))
        .crossJoin(s.range(0, 3).select(col("id").as("k2")))
        .withColumn("grp", concat(lit("g"), (col("k") + col("k2")) % 5))
      // this certificate's 291-row dim outweighs a sub-sf0.01 fact
      // under the rule's size guard (dim bytes × salts ≤ fact bytes),
      // where declining IS the right plan — the fired-plan require
      // applies above that scale (both graded factors are); result
      // invariance vs the plain-join oracle holds at any factor
      withSaltRule(s, requireFire = factT.count() >= 20000L) {
        factT.join(dim, Seq("k", "k2"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("sum_cents"))
      }.orderBy(col("grp"))
    },
      // the composite-key planner rewrite replayed as the PLAIN join
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents " +
        "FROM lineitem), " +
        "fact2 AS (SELECT k, cents, cents % 3 AS k2 FROM fact), " +
        "dim AS (SELECT a.range AS k, b.range AS k2, " +
        "'g' || CAST((a.range + b.range) % 5 AS VARCHAR) AS grp " +
        "FROM range(97) a CROSS JOIN range(3) b) " +
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM fact2 JOIN dim USING (k, k2) GROUP BY grp ORDER BY grp")),

    // the rule's FACT-PRESERVING LEFT-JOIN scope (r18, measured on
    // SaltBench's left-* arms): dim covers k < 50 only, so keys 50..96
    // are preserved with null grp — every preserved fact row keeps
    // exactly ONE salt, so the null-extended rows appear exactly once
    // and the plain LEFT JOIN oracle certifies it
    Cert("rel_join_autosalt_left", (s, d) => withTempDir("graft-saltrulel") { base =>
      val dir = s"$base/fact"
      Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 4 < 3, lit(7L))
          .otherwise(col("l_orderkey") % 97).as("k"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        .write.format("graft-segment").option("histFor", "k")
        .mode("append").save(dir)
      val factT = s.read.format("graft-segment").load(dir)
      val dim = s.range(0, 50).select(col("id").as("k"),
        concat(lit("g"), pmod(col("id"), lit(5))).as("grp"))
      withSaltRule(s) {
        factT.join(dim, Seq("k"), "left")
          .groupBy(coalesce(col("grp"), lit("missing")).as("grp"))
          .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("sum_cents"))
      }.orderBy(col("grp"))
    },
      // the fact-preserving left-join rewrite replayed as the PLAIN
      // left join — null-extended rows must appear exactly once
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents " +
        "FROM lineitem), " +
        "dim AS (SELECT range AS k, 'g' || CAST(range % 5 AS VARCHAR) AS grp " +
        "FROM range(50)) " +
        "SELECT coalesce(grp, 'missing') AS grp, " +
        "CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM fact LEFT JOIN dim USING (k) GROUP BY 1 ORDER BY 1")),

    // bloom-pruned join certified against the PLAIN join's oracle: the
    // probe-side prefilter may pass false positives (the join drops
    // them) but never false negatives — the result is identical by
    // construction, with the fact shuffle cut before it happens
    Cert("rel_join_bloom", (s, d) => {
      val dim = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      val probe = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.ops.Bloom.prunedJoin(probe, dim, "o_custkey", dim.count())
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("o_orderpriority"))
    },
      // the bloom-pruned join must produce exactly the plain join's result
      ("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, " +
        "round(sum(o_totalprice), 2) AS total_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // join-size estimation from CMS inner products (d=4, w=4096): the
    // estimate is one-sided (≥ exact, overshoot = collision mass) and
    // never touches the tables again once the key sketches exist; the
    // exact size rides along so the bound itself is certified
    Cert("rel_join_size_estimate", (s, d) => {
      import graft.ops.Cms
      val est = Cms.joinSizeEstimate(
        Cms.sketchValues(Tables.orders(s, d), col("o_custkey"), 4, 4096),
        Cms.sketchValues(Tables.customer(s, d), col("c_custkey"), 4, 4096))
      val exact = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n_exact"))
      est.crossJoin(exact)
    },
      // same md5-derived cells, same inner product, same min-over-rows
      ("WITH sa AS (SELECT i AS row, " +
        "CAST('0x' || substr(md5(CAST(i AS VARCHAR) || CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 4096 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt_a FROM orders CROSS JOIN range(0, 4) t(i) GROUP BY 1, 2), " +
        "sb AS (SELECT i AS row, " +
        "CAST('0x' || substr(md5(CAST(i AS VARCHAR) || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 4096 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt_b FROM customer CROSS JOIN range(0, 4) t(i) GROUP BY 1, 2), " +
        "e AS (SELECT row, sum(cnt_a * cnt_b) AS est FROM sa JOIN sb USING (row, bucket) GROUP BY row), " +
        "r AS (SELECT DISTINCT row FROM (SELECT row FROM sa UNION ALL SELECT row FROM sb) u) " +
        "SELECT CAST(min(COALESCE(e.est, 0)) AS BIGINT) AS n_est, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey) AS n_exact " +
        "FROM r LEFT JOIN e USING (row)")),
    // fuzzy join via the SymSpell deletion-neighborhood equi-join: the
    // dirty side is a deterministic 1-char perturbation of unique part
    // names; recall vs the oracle's QUADRATIC levenshtein join is
    // complete by the pigeonhole argument in ops.Fuzzy
    Cert("rel_fuzzy_join", (s, d) => {
      val (dirty, clean) = fuzzyNameParts(s, d)
      graft.ops.Fuzzy.fuzzyJoin(dirty, clean, "dname", "cname", 1)
        .select(col("dirty_key"), col("clean_key"), col("dist"))
        .orderBy(col("dirty_key"), col("clean_key"))
    },
      // the quadratic ground truth the blocked deletion-neighborhood join
      // must reproduce exactly (same perturbation, same threshold)
      fuzzyJoinSql),
    // the SAME match written the natural way (raw levenshtein theta
    // join): the session's FuzzyJoinRule rewrites the nested-loop join
    // to the variant equi-join and the result must stay identical
    // (same oracle as rel_fuzzy_join)
    Cert("rel_fuzzy_join_auto", (s, d) => {
      val (dirty, clean) = fuzzyNameParts(s, d)
      dirty.join(clean, levenshtein(col("dname"), col("cname")) <= 1)
        .select(col("dirty_key"), col("clean_key"),
          levenshtein(col("dname"), col("cname")).as("dist"))
        .orderBy(col("dirty_key"), col("clean_key"))
    },
      // the rule-rewritten theta join must land on the identical result
      fuzzyJoinSql),

    // exact DECIMAL money math: the 2-decimal price/discount columns
    // lifted into DECIMAL so sums and the revenue product are
    // ORDER-INDEPENDENT exact — the arithmetic regime a financial
    // pipeline needs (double sums drift by partitioning; these don't).
    // The OUTPUT edge is scaled BIGINT (cents / 10^-4 units): the
    // decimal sums have fixed scale 2 and 4, so multiplying by 10^scale
    // is an exact integer — no rounding anywhere — while the driver's
    // cross-engine hash canonicalizes BIGINT identically on both
    // engines (DECIMAL output was the one hash-unstable type in r7,
    // VERDICT r7 #1)
    Cert("rel_decimal_exact", (s, d) => {
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val disc = col("l_discount").cast("decimal(12,2)")
      val one = lit(1).cast("decimal(3,2)")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          (sum(price) * lit(100)).cast("long").as("sum_price_cents"),
          (sum(price * (one - disc)) * lit(10000)).cast("long").as("sum_revenue_x10000"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
      // decimal arithmetic is exact, so no rounding anywhere — the
      // sums have fixed scale (2 and 4) and the *10^scale output edge is
      // an exact integer, emitted as BIGINT on both engines
      ("SELECT l_returnflag, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_price_cents, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS sum_revenue_x10000, " +
        "CAST(count(*) AS BIGINT) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),
    // materialized-view routing: the SAME aggregate written against
    // the FACT table, answered from the IncrView-maintainable
    // pre-aggregate by MvRewriteRule.serve — the fact scan
    // never happens (spec asserts the plan; this row certifies the
    // results are indistinguishable)
    Cert("rel_mv_rewrite_auto", (s, d) => withTempDir("graft-mv") { base =>
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val fact = Tables.lineitem(s, d)
      val factRoots = fact.queryExecution.analyzed.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten.toSet
      fact.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("pre_qty"), count(lit(1)).as("pre_cnt"))
        .write.mode("overwrite").parquet(s"$base/mv")
      val rule = graft.plans.MvRewriteRule(factRoots,
        s.read.parquet(s"$base/mv").queryExecution.analyzed,
        Set("l_returnflag", "l_linestatus"),
        Map("l_quantity" -> "pre_qty"), "pre_cnt")
      rule.serve(fact.groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows")))
        .orderBy(col("l_returnflag"))
    },
      // the MV-routed aggregate must be indistinguishable from the
      // fact-table aggregate (sum/count are partition-decomposable;
      // l_quantity is integer-valued so the regrouped double sum is
      // IEEE-exact)
      ("SELECT l_returnflag, sum(l_quantity) AS sum_qty, " +
        "CAST(count(*) AS BIGINT) AS n_rows FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")),

    // entity resolution end-to-end (the MDM pipeline): variant-blocked
    // fuzzy matching over the unioned record pool → connected
    // components → golden record per entity (min-id entity key,
    // lexicographic-min canonical name). Components via large/small-
    // star contraction; singleton records stay their own entity
    Cert("rel_entity_resolution", (s, d) => {
      val (dirty, clean) = fuzzyNameParts(s, d)
      // materialized once: both fuzzy-join sides AND the final
      // left-join re-derive this frame (3× the name-normalization
      // scan without the cut)
      val records = clean.select((col("clean_key") * 2).as("rec_id"), col("cname").as("name"))
        .unionByName(dirty.select((col("dirty_key") * 2 + 1).as("rec_id"), col("dname").as("name")))
        .localCheckpoint(true)
      val l = records.select(col("rec_id").as("lkey"), col("name").as("lname"))
      val r = records.select(col("rec_id").as("rkey"), col("name").as("rname"))
      val pairs = graft.ops.Fuzzy.fuzzyJoin(l, r, "lname", "rname", 1)
        .filter(col("lkey") < col("rkey"))
        .select(col("lkey").as("src"), col("rkey").as("dst"))
      val comps = graft.ops.Dedup.connectedComponents(pairs)
      records.join(comps.withColumnRenamed("node", "rec_id"), Seq("rec_id"), "left")
        .withColumn("entity_id", coalesce(col("component_id"), col("rec_id")))
        .groupBy(col("entity_id"))
        .agg(count(lit(1)).cast("int").as("n_records"), min(col("name")).as("canonical_name"))
        .orderBy(col("entity_id"))
    },
      // quadratic levenshtein matching + recursive closure + per-entity
      // aggregates — entity_id = component min on both engines
      ("WITH RECURSIVE clean AS (SELECT p_partkey AS clean_key, " +
        "p_name || '#' || CAST(p_partkey AS VARCHAR) AS cname FROM part), " +
        "dirty AS (SELECT clean_key AS dirty_key, " +
        "substr(cname, 1, CAST(clean_key % length(cname) AS INT)) || " +
        "CASE WHEN substr(cname, CAST(1 + clean_key % length(cname) AS INT), 1) = 'q' THEN 'z' ELSE 'q' END || " +
        "substr(cname, CAST(2 + clean_key % length(cname) AS INT)) AS dname FROM clean), " +
        "records AS (SELECT clean_key * 2 AS rec_id, cname AS name FROM clean " +
        "UNION ALL SELECT dirty_key * 2 + 1, dname FROM dirty), " +
        "pairs AS (SELECT a.rec_id AS src, b.rec_id AS dst FROM records a JOIN records b " +
        "ON a.rec_id < b.rec_id AND levenshtein(a.name, b.name) <= 1), " +
        "sym AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs), " +
        "reach AS (SELECT rec_id, rec_id AS lbl FROM records " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.rec_id), " +
        "lab AS (SELECT rec_id, min(lbl) AS entity_id FROM reach GROUP BY rec_id) " +
        "SELECT entity_id, CAST(count(*) AS INT) AS n_records, min(name) AS canonical_name " +
        "FROM records JOIN lab USING (rec_id) GROUP BY entity_id ORDER BY entity_id")),
    // typed JSON payload extraction over the events stream table
    Cert("events_props_stats", (s, d) =>
      EventWindows.propsStats(Tables.events(s, d)).orderBy(col("event_type")),
      ("WITH e AS (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k FROM events) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, round(avg(k), 4) AS avg_k, " +
        "min(k) AS min_k, max(k) AS max_k " +
        "FROM e GROUP BY event_type ORDER BY event_type")),
    // Spark 4 VariantType over semi-structured props: the raw JSON is
    // nested into a richer deterministic document, parsed ONCE to a
    // variant (binary-encoded, no schema inference pass), then probed
    // by path — nested object, array index, and a missing path
    // through try_variant_get. At 100 TB variant parse is map-only
    // and the binary encoding probes without re-tokenizing the text
    Cert("events_props_variant", (s, d) => {
      val j = concat(lit("{\"orig\": "), col("props"),
        lit(", \"tag\": \"t"), (col("event_id") % 3).cast("string"),
        lit("\", \"arr\": ["), (col("event_id") % 5).cast("string"),
        lit(","), (col("event_id") % 7).cast("string"), lit("]}"))
      Tables.events(s, d)
        .select(col("event_id"), parse_json(j).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.orig.k", "bigint").as("k"),
          variant_get(col("v"), "$.tag", "string").as("tag"),
          variant_get(col("v"), "$.arr[1]", "bigint").as("arr1"),
          coalesce(try_variant_get(col("v"), "$.missing", "bigint"), lit(-1L)).as("missing"))
        .orderBy(col("event_id"))
    },
      // the variant probes replayed over DuckDB JSON paths (both
      // engines' array indexes are 0-based JSONPath)
      ("WITH j AS (SELECT event_id, '{\"orig\": ' || props || ', \"tag\": \"t' || " +
        "(event_id % 3) || '\", \"arr\": [' || (event_id % 5) || ',' || (event_id % 7) || ']}' AS js " +
        "FROM events) " +
        "SELECT event_id, CAST(json_extract(js, '$.orig.k') AS BIGINT) AS k, " +
        "json_extract_string(js, '$.tag') AS tag, " +
        "CAST(json_extract(js, '$.arr[1]') AS BIGINT) AS arr1, " +
        "CAST(-1 AS BIGINT) AS missing " +
        "FROM j ORDER BY event_id")),

    // ----- event-time windows (M4 / ST6 extensions)
    Cert("events_tumbling_hourly", (s, d) =>
      EventWindows.tumblingHourly(Tables.events(s, d))
        .orderBy(col("win_start"), col("event_type")),
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start, event_type, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type")),
    Cert("events_sliding_hourly", (s, d) =>
      EventWindows.slidingHourly(Tables.events(s, d)).orderBy(col("win_start")),
      ("WITH x AS (SELECT user_id, unnest([time_bucket(INTERVAL '30 minutes', ts), " +
        "time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws FROM events) " +
        "SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM x GROUP BY ws ORDER BY win_start")),
    // nearest as-of: every click matched to its |Δt|-closest purchase
    // on the key (ties → earlier) — backward-only alignment is wrong
    // when the nearest reading sits just ahead; two window carries
    // over ONE per-key sort, zero row explosion
    Cert("events_asof_nearest", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("t"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.ops.AsOf.asofJoinNearest(clicks, purchases, "user_id", "t",
          Seq("purchase_id"))
        .select(col("user_id"), col("click_id"),
          col("near_purchase_id").as("purchase_id"), col("near_t").as("purchase_t"))
        .orderBy(col("user_id"), col("click_id"))
    },
      // quadratic-per-key ground truth: rank every purchase by |Δt|
      // then (earlier first) and keep the winner; clicks with no
      // purchase on the key survive with nulls via the LEFT JOIN
      asofNearestSql),
    // ... and the NEAREST variant through the native operator: the
    // stalled merge head IS the forward candidate, so min-|Δt| falls
    // out of the same sweep — same query, same oracle as the composed
    // events_asof_nearest
    Cert("events_asof_nearest_native", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("t"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.plans.AsOfJoinNative.asofJoinNearest(clicks, purchases, "user_id", "t",
          Seq("purchase_id"))
        .select(col("user_id"), col("click_id"),
          col("near_purchase_id").as("purchase_id"), col("near_t").as("purchase_t"))
        .orderBy(col("user_id"), col("click_id"))
    },
      // the native merge-sweep nearest under the SAME oracle
      asofNearestSql),
    // interval×interval overlap join (binned, per-user): click and
    // purchase attention windows that overlap — the temporal-conflict
    // shape; pairs come from shared (user, bin) equi-joins, multi-bin
    // duplicates suppressed arithmetically, never all-pairs
    Cert("events_overlap_join", (s, d) => {
      val ev = Tables.events(s, d)
      def side(t: String, idAs: String, sAs: String, eAs: String) =
        ev.filter(col("event_type") === t).select(
          col("user_id"), col("event_id").as(idAs),
          unix_micros(col("ts")).as(sAs),
          (unix_micros(col("ts")) + lit(3600L * 1000000L)).as(eAs))
      graft.ops.RangeJoin.binnedOverlapJoin(
          side("click", "click_id", "a_start", "a_end"),
          "a_start", "a_end",
          side("purchase", "purchase_id", "b_start", "b_end"),
          "b_start", "b_end",
          Seq("user_id"), binWidth = 3600L * 1000000L)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          ((least(col("a_end"), col("b_end")) - greatest(col("a_start"), col("b_start")))
            / lit(1000000L)).cast("long").as("overlap_sec"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
      // brute-force theta ground truth for the binned overlap join
      ("WITH oa AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS a_start, " +
        "epoch_us(ts) + 3600000000 AS a_end FROM events WHERE event_type = 'click'), " +
        "ob AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS b_start, " +
        "epoch_us(ts) + 3600000000 AS b_end FROM events WHERE event_type = 'purchase') " +
        "SELECT user_id, click_id, purchase_id, " +
        "CAST((least(a_end, b_end) - greatest(a_start, b_start)) // 1000000 AS BIGINT) AS overlap_sec " +
        "FROM oa JOIN ob USING (user_id) WHERE a_start <= b_end AND b_start <= a_end " +
        "ORDER BY user_id, click_id, purchase_id")),
    // negative space of sessionization: per-user silences above 6h —
    // the heartbeat/SLA outage-candidate monitor
    Cert("events_gaps", (s, d) =>
      EventWindows.gaps(Tables.events(s, d), 21600)
        .orderBy(col("user_id"), col("event_id")),
      // consecutive-event silence above the threshold, µs-exact
      ("WITH eg AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us, " +
        "lag(event_id) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_event_id " +
        "FROM events) " +
        "SELECT user_id, prev_event_id, event_id, " +
        "CAST((ts_us - prev_us) // 1000000 AS BIGINT) AS gap_sec FROM eg " +
        "WHERE prev_us IS NOT NULL AND ts_us - prev_us > 21600000000 " +
        "ORDER BY user_id, event_id")),
    // both production session rules at once: 6h inactivity gap closes,
    // 2h hard cap splits marathons (the rule session_window can't say)
    Cert("events_capped_sessions", (s, d) =>
      EventWindows.cappedSessions(Tables.events(s, d), 21600, 7200)
        .orderBy(col("user_id"), col("session_start_us")),
      // gap-islands by running flag sum, cap sub-slots from island start
      ("WITH cs0 AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events), " +
        "cs1 AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id) > 21600000000 THEN 1 ELSE 0 END AS new_island FROM cs0), " +
        "cs2 AS (SELECT *, sum(new_island) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS island FROM cs1), " +
        "cs3 AS (SELECT *, CAST((ts_us - min(ts_us) OVER (PARTITION BY user_id, island)) // 7200000000 AS BIGINT) AS sub FROM cs2) " +
        "SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM cs3 GROUP BY user_id, island, sub ORDER BY user_id, session_start_us")),
    Cert("events_sessions", (s, d) =>
      EventWindows.sessions(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_start")),
      ("WITH o AS (SELECT user_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "m AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s FROM o), " +
        "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M') AS session_start, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, session_start")),
    // cohort retention curve: first-seen day × day offset → distinct
    // users, within a week of activation
    Cert("events_retention", (s, d) =>
      EventWindows.retention(Tables.events(s, d), 7)
        .orderBy(col("cohort_day"), col("day_offset")),
      // first-seen day per user, datediff offsets, distinct users
      ("WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id) " +
        "SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM e JOIN f ON e.user_id = f.user_id " +
        "WHERE date_diff('day', cohort_day, day) <= 7 " +
        "GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset")),
    // k-step ordered-subsequence match (view → click → purchase) as one
    // per-user string + one anchored regex — the funnel generalization
    // without k-way self-joins
    Cert("events_sequence_match", (s, d) =>
      EventWindows.sequenceMatch(Tables.events(s, d),
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id")),
      // same time-order path string (NULLs dropped before the sort — the
      // engines' null ordering differs), same anchored subsequence regex
      ("SELECT user_id, CAST(count(*) AS INT) AS n_events, " +
        "regexp_matches(string_agg(event_type, ',' ORDER BY ts, event_id), " +
        "'(^|,)view,(.*,)?click,(.*,)?purchase(,|$)') AS matched " +
        "FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL " +
        "GROUP BY user_id ORDER BY user_id")),
    // sequence mining: top-25 consecutive event-type trigrams — two
    // leads over the per-user order, then a vocabulary-scale count
    Cert("events_frequent_paths", (s, d) =>
      EventWindows.frequentPaths(Tables.events(s, d), 25)
        .orderBy(col("rank")),
      // same two leads over the same (ts, event_id) per-user order
      ("WITH l AS (SELECT user_id, event_type AS t0, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2 FROM events), " +
        "p AS (SELECT t0 || '>' || t1 || '>' || t2 AS path FROM l " +
        "WHERE t1 IS NOT NULL AND t2 IS NOT NULL), " +
        "c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_paths FROM p GROUP BY path) " +
        "SELECT path, n_paths, CAST(row_number() OVER (ORDER BY n_paths DESC, path) AS INT) AS rank " +
        "FROM c QUALIFY row_number() OVER (ORDER BY n_paths DESC, path) <= 25 ORDER BY rank")),
    // as-of join (ops.AsOf): each click joined to the user's latest
    // purchase at-or-before it — single window pass, no range explosion;
    // the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the operator's
    // semantics (inclusive bound, left-outer nulls, per-(key,ts) right
    // dedup) are certified against an independent implementation
    Cert("events_asof_join", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val tieW = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(tieW)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.ops.AsOf.asofJoinBackward(
        clicks, purchases, "user_id", "ts", Seq("event_id", "value"))
        .select(col("click_id"), col("user_id"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 2).as("purchase_value"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
        .orderBy(col("click_id"))
    },
      // DuckDB's native ASOF JOIN certifies ops.AsOf's window formulation
      asofBackwardSql),
    // the NATIVE as-of join — custom LogicalPlan + SparkStrategy +
    // merge-sweep SparkPlan (plans/AsOfJoinExec.scala) — must produce
    // byte-identical output to the composed window formulation above:
    // same query, same DuckDB ASOF JOIN oracle
    Cert("events_asof_native", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val tieW = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(tieW)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.plans.AsOfJoinNative.asofJoinBackward(
        clicks, purchases, "user_id", "ts", Seq("event_id", "value"))
        .select(col("click_id"), col("user_id"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 2).as("purchase_value"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
        .orderBy(col("click_id"))
    },
      // ... and the SAME oracle certifies the custom physical operator
      // (AsOfJoinExec merge sweep) byte-for-byte against it
      asofBackwardSql),
    // trailing per-user event rate over a value-based RANGE frame
    Cert("events_rolling_rate", (s, d) =>
      EventWindows.rollingRate(Tables.events(s, d), windowSec = 3600)
        .orderBy(col("event_id")),
      // RANGE (value-based) frame → tie handling is deterministic on both
      ("SELECT event_id, user_id, CAST(count(*) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS n_window FROM events ORDER BY event_id")),
    // gap-filled 6h grid per user, last observation carried forward —
    // point-in-time materialization; first slot observes by
    // construction, carry ranked at microsecond precision
    Cert("events_resample_ffill", (s, d) =>
      EventWindows.resampleFfill(Tables.events(s, d), stepMinutes = 360)
        .orderBy(col("user_id"), col("slot_sec")),
      // per-user 6h slot grid, last-in-slot at microsecond precision
      // (ties by event_id), forward fill via IGNORE NULLS last_value
      (s"WITH $resampleChainSql " +
        "SELECT user_id, slot_sec, value_ffill, is_observed FROM rs " +
        "ORDER BY user_id, slot_sec")),
    // rolling z-score over the resampled series, moments in exact
    // integer cents so the |z| > 2 flag boundary is engine-exact
    Cert("events_anomalies", (s, d) =>
      EventWindows.anomalies(Tables.events(s, d), stepMinutes = 360)
        .orderBy(col("user_id"), col("slot_sec")),
      // trailing-8-slot z-score; moments in exact integer cents, the
      // zero-variance guard an exact integer compare, |z| > 2 on
      // bit-identical doubles
      (s"WITH $resampleChainSql, " +
        "ac AS (SELECT user_id, slot_sec, CAST(round(value_ffill * 100.0, 0) AS BIGINT) AS cents FROM rs), " +
        "aw AS (SELECT user_id, slot_sec, cents, count(*) OVER w AS wn, " +
        "sum(cents) OVER w AS s1, sum(cents * cents) OVER w AS s2 FROM ac " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY slot_sec ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        "SELECT user_id, slot_sec, cents, round(z, 4) AS z FROM " +
        "(SELECT user_id, slot_sec, cents, " +
        "(cents - s1 / 8.0) / sqrt((s2 - s1 * s1 / 8.0) / 8.0) AS z " +
        "FROM aw WHERE wn = 8 AND s2 * 8 > s1 * s1) " +
        "WHERE abs(z) > 2.0 ORDER BY user_id, slot_sec")),
    // click → purchase conversion funnel per user
    Cert("events_funnel", (s, d) =>
      EventWindows.funnel(Tables.events(s, d), "click", "purchase")
        .orderBy(col("user_id")),
      // two-step conditional-min funnel; integer-floor gap on both engines
      ("WITH f AS (SELECT user_id, min(ts) AS first_from FROM events " +
        "WHERE event_type = 'click' GROUP BY user_id), " +
        "t AS (SELECT p.user_id, min(p.ts) AS first_to FROM events p " +
        "JOIN f ON p.user_id = f.user_id " +
        "WHERE p.event_type = 'purchase' AND p.ts >= f.first_from GROUP BY p.user_id) " +
        "SELECT f.user_id, strftime(f.first_from, '%Y-%m-%d %H:%M') AS first_from, " +
        "t.first_to IS NOT NULL AS converted, " +
        "CAST((epoch_us(t.first_to) - epoch_us(f.first_from)) // 1000000 AS BIGINT) AS gap_sec " +
        "FROM f LEFT JOIN t ON f.user_id = t.user_id ORDER BY f.user_id")),
    // binned range join (ops.RangeJoin): each error event opens a 10-minute
    // incident window; count click/view traffic inside it. The binned
    // equi-join replaces the BroadcastNestedLoopJoin Catalyst would pick
    // for the raw BETWEEN predicate (RangeJoinSpec asserts the plan);
    // the oracle runs the plain inequality join in DuckDB
    Cert("events_range_join", (s, d) => {
      val ev = Tables.events(s, d)
      val tenMinUs = 600L * 1000 * 1000
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          unix_micros(col("ts")).as("win_s"),
          (unix_micros(col("ts")) + tenMinUs).as("win_e"))
      val traffic = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("hit_id"),
          unix_micros(col("ts")).as("hit_us"), col("value"))
      val hits = graft.ops.RangeJoin
        .binnedPointIntervalJoin(traffic, "hit_us", errs, "win_s", "win_e", tenMinUs)
        .groupBy(col("err_id"))
        .agg(count(lit(1)).as("n_hits"), round(sum(col("value")), 2).as("total_value"))
      errs.select(col("err_id"))
        .join(hits, Seq("err_id"), "left")
        .select(col("err_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("total_value"), lit(0.0)), 2).as("total_value"))
        .orderBy(col("err_id"))
    },
      // plain inequality join certifies the binned equi-join + residual
      ("WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS win_s, " +
        "epoch_us(ts) + 600000000 AS win_e FROM events WHERE event_type = 'error'), " +
        "p AS (SELECT event_id, epoch_us(ts) AS pu, value FROM events " +
        "WHERE event_type IN ('click', 'view')) " +
        "SELECT e.err_id, CAST(count(p.event_id) AS BIGINT) AS n_hits, " +
        "round(COALESCE(sum(p.value), 0), 2) AS total_value " +
        "FROM e LEFT JOIN p ON p.pu BETWEEN e.win_s AND e.win_e " +
        "GROUP BY e.err_id ORDER BY err_id")),
    // the SAME query written the natural way (raw BETWEEN join): the
    // session's BinnedRangeJoinRule rewrites the nested-loop join to the
    // binned plan and the result must stay identical (same oracle as
    // events_range_join). The 10-minute bin width is this query's own
    // conf, so localCheckpoint materializes while it is set
    Cert("events_range_join_auto", (s, d) => {
      val ev = Tables.events(s, d)
      val tenMinUs = 600L * 1000 * 1000
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          unix_micros(col("ts")).as("win_s"),
          (unix_micros(col("ts")) + tenMinUs).as("win_e"))
      val traffic = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("hit_id"),
          unix_micros(col("ts")).as("hit_us"), col("value"))
      val hits = Session.withConfs(s,
          graft.plans.BinnedRangeJoinRule.BinWidthKey -> tenMinUs.toString) {
        traffic
          .join(errs, col("hit_us") >= col("win_s") && col("hit_us") <= col("win_e"))
          .groupBy(col("err_id"))
          .agg(count(lit(1)).as("n_hits"), round(sum(col("value")), 2).as("total_value"))
          .localCheckpoint()
      }
      errs.select(col("err_id"))
        .join(hits, Seq("err_id"), "left")
        .select(col("err_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("total_value"), lit(0.0)), 2).as("total_value"))
        .orderBy(col("err_id"))
    },
      // identical oracle: the Catalyst rewrite must be result-invisible
      ("WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS win_s, " +
        "epoch_us(ts) + 600000000 AS win_e FROM events WHERE event_type = 'error'), " +
        "p AS (SELECT event_id, epoch_us(ts) AS pu, value FROM events " +
        "WHERE event_type IN ('click', 'view')) " +
        "SELECT e.err_id, CAST(count(p.event_id) AS BIGINT) AS n_hits, " +
        "round(COALESCE(sum(p.value), 0), 2) AS total_value " +
        "FROM e LEFT JOIN p ON p.pu BETWEEN e.win_s AND e.win_e " +
        "GROUP BY e.err_id ORDER BY err_id"))
  )

  /** The fuzzy-join fixture: unique part names and their deterministic
    * 1-char perturbation (char at key % length → 'q', or 'z' if it was
    * already 'q') — shared by rel_fuzzy_join and rel_fuzzy_join_auto. */
  private def fuzzyNameParts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val clean = Tables.part(s, d).select(
      col("p_partkey").as("clean_key"),
      concat(col("p_name"), lit("#"), col("p_partkey").cast("string")).as("cname"))
    val pos = col("clean_key") % length(col("cname"))
    val at = col("cname").substr(pos + 1, lit(1))
    val dirty = clean.select(
      col("clean_key").as("dirty_key"),
      concat(col("cname").substr(lit(1), pos),
        when(at === "q", lit("z")).otherwise(lit("q")),
        col("cname").substr(pos + 2, length(col("cname")))).as("dname"))
    (dirty, clean)
  }

  /** Shared scaffold of the rel_join_autosalt_* certificates: set a
    * non-broadcastable-dim threshold for the duration of `build` (-1
    * simulates the big dim the session's [[graft.plans.SaltJoinRule]]
    * exists for — a broadcastable one is guarded out: BHJ has no fact
    * shuffle, measured dominant), REQUIRE the built plan to be the
    * rewritten one (the row must certify the rule's output, never the
    * plain join), and materialize it before the threshold restores. */
  private def withSaltRule(s: SparkSession, requireFire: Boolean = true)(
      build: => DataFrame): DataFrame =
    Session.withConfs(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = build
      // requireFire=false when the rule's own size guard CORRECTLY
      // vetoes at the caller's scale (dim bytes × salts > fact bytes
      // on a tiny fact) — the oracle still certifies result
      // invariance; only the fired-plan assertion is scale-gated
      if (requireFire)
        require(joined.queryExecution.optimizedPlan.toString.contains("graft_salt_f"),
          "SaltJoinRule must fire: this row certifies the REWRITTEN " +
            "plan's results, not the plain one's")
      joined.localCheckpoint()
    }

  /** min-|Δt| nearest as-of (ties: earlier right, then larger id via
    * the pre-dedup) — shared by the composed two-window formulation
    * and the native merge-sweep nearest. */
  private val asofNearestSql =
    "WITH nlc AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS t " +
      "FROM events WHERE event_type = 'click'), " +
      "nrp AS (SELECT user_id, epoch_us(ts) AS t, max(event_id) AS purchase_id " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
      "SELECT user_id, click_id, purchase_id, rt AS purchase_t FROM " +
      "(SELECT l.user_id, l.click_id, r.purchase_id, r.t AS rt, abs(l.t - r.t) AS dt " +
      "FROM nlc l LEFT JOIN nrp r USING (user_id)) " +
      "QUALIFY row_number() OVER (PARTITION BY user_id, click_id ORDER BY dt, rt) = 1 " +
      "ORDER BY user_id, click_id"

  /** DuckDB's native ASOF JOIN — the shared oracle for BOTH as-of
    * formulations (composed window and native physical operator). */
  private val asofBackwardSql =
    "WITH l AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'), " +
      "r AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase' " +
      "QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1) " +
      "SELECT l.click_id, l.user_id, r.event_id AS purchase_id, " +
      "round(r.value, 2) AS purchase_value, " +
      "strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts " +
      "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts " +
      "ORDER BY click_id"

  /** Quadratic levenshtein ground truth over the perturbed part names —
    * shared by rel_fuzzy_join (DataFrame op) and rel_fuzzy_join_auto
    * (Catalyst-rule rewrite of the raw theta join). */
  private val fuzzyJoinSql =
    "WITH clean AS (SELECT p_partkey AS clean_key, " +
      "p_name || '#' || CAST(p_partkey AS VARCHAR) AS cname FROM part), " +
      "dirty AS (SELECT clean_key AS dirty_key, " +
      "substr(cname, 1, CAST(clean_key % length(cname) AS INT)) || " +
      "CASE WHEN substr(cname, CAST(1 + clean_key % length(cname) AS INT), 1) = 'q' THEN 'z' ELSE 'q' END || " +
      "substr(cname, CAST(2 + clean_key % length(cname) AS INT)) AS dname FROM clean) " +
      "SELECT d.dirty_key, c.clean_key, CAST(levenshtein(d.dname, c.cname) AS INT) AS dist " +
      "FROM dirty d JOIN clean c ON levenshtein(d.dname, c.cname) <= 1 " +
      "ORDER BY dirty_key, clean_key"

  /** Full-batch logistic-regression GD mirrored in SQL (the Pca chain
    * discipline): per-row float-quantized sigmoid (absorbing the
    * engines' exp ulp noise), float-quantized gradient sums, exact
    * fixed-order weight updates re-quantized per iteration. Mirrors
    * Classifier.train(iters = 20, lr = 10.0). */
  /** Per-user 6h resample grid with forward fill, as a CTE chain
    * ending in `rs(user_id, slot_sec, value_ffill, is_observed)` —
    * shared by events_resample_ffill and events_anomalies. */
  private val resampleChainSql: String =
    "sl AS (SELECT user_id, event_id, value, " +
      "epoch_us(ts) // 21600000000 AS slot, epoch_us(ts) AS ts_us FROM events " +
      "WHERE user_id IS NOT NULL AND value IS NOT NULL), " +
      "lastv AS (SELECT user_id, slot, value FROM sl " +
      "QUALIFY row_number() OVER (PARTITION BY user_id, slot ORDER BY ts_us DESC, event_id DESC) = 1), " +
      "grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM " +
      "(SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM sl GROUP BY user_id)), " +
      "rs AS (SELECT g.user_id AS user_id, CAST(g.slot * 21600 AS BIGINT) AS slot_sec, " +
      "last_value(l.value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill, " +
      "l.value IS NOT NULL AS is_observed " +
      "FROM grid g LEFT JOIN lastv l ON g.user_id = l.user_id AND g.slot = l.slot)"
}
