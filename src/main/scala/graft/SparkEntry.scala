package graft

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.notify.Notify
import graft.ops.{Dedup, EventWindows, Sampling, Similarity, TextOps}
import graft.plans.GraftExtensions.withRules
import graft.process.Checkout
import graft.queries.StarQueries
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is an implemented operator from SURVEY.md §2
  * (or an LLM-pipeline extension op); every entry in `oracleSql` is the
  * DuckDB-equivalent ANSI SQL the driver hash-compares against at
  * sf0.01. Column names, types and row order are aligned on both sides:
  * aggregates are explicitly aliased, DuckDB integer aggregates are cast
  * to Spark's result types (DuckDB sum(INT) is HUGEINT), doubles are
  * rounded only at the output edge, and each query carries a total
  * ORDER BY on a unique key.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The checkout-parity composition: fact scan → broadcast
    * inventory lookup → all-or-nothing order verdict → status counts. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Checkout.checkout(Tables.lineitem(spark, dir), Tables.part(spark, dir))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_items")).as("n_lines"))
      .orderBy(col("status"))
  }

  private type Q = (SparkSession, String) => DataFrame

  // Checkout building blocks shared by several queries.
  private def lineVerdicts(s: SparkSession, d: String): DataFrame =
    Checkout.lineVerdicts(
      Tables.lineitem(s, d),
      Checkout.inventoryFromParts(Tables.part(s, d)))

  private def orderVerdicts(s: SparkSession, d: String): DataFrame =
    Checkout.orderVerdicts(lineVerdicts(s, d))

  private def embQueries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** LSH bit width shared by the Spark side and the DuckDB oracle: both
    * engines derive scaledBits from the SAME (corpus size, embedding
    * dim) — see the `bitsSql` fragment, which is this formula in SQL —
    * so parity holds at any SF, not just where the knob lands on 4. */
  private def embBits(s: SparkSession, d: String): Int = {
    val r = Tables.embeddings(s, d)
      .agg(count(lit(1)).as("n"), min(size(col("embedding"))).as("dim")).head()
    Similarity.scaledBitsForDim(r.getLong(0), r.getInt(1))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = Map(
    // ----- ingest edge: P1/V1/V2 parse+validate, K1 key, E1 enrich, A3 dedup
    "ingest_parse_validate" -> ((s, d) =>
      Ingest.parseAndValidateEvents(Tables.events(s, d)).orderBy(col("event_id"))),
    "ingest_reject_split" -> ((s, d) =>
      Ingest.rejectSplit(Tables.events(s, d)).orderBy(col("is_valid"))),
    "ingest_idempotency_key" -> ((s, d) =>
      Ingest.eventKeys(Tables.events(s, d)).orderBy(col("event_id"))),
    "ingest_enrich" -> ((s, d) =>
      Ingest.enrichEvents(Tables.events(s, d)).orderBy(col("event_id"))),
    "ingest_dedup_first" -> ((s, d) =>
      Checkout.dedupFirstBy(
        Tables.events(s, d).select(col("user_id"), col("event_type"), col("event_id")),
        Seq("user_id", "event_type"), "event_id")
        .orderBy(col("user_id"), col("event_type"))),

    // ----- checkout core: G1 explode, J1/J1a join, A1/A2 verdicts, A4/A5 upsert
    "checkout_items_roundtrip" -> ((s, d) =>
      Checkout.explodeItems(Checkout.ordersWithItems(Tables.lineitem(s, d)))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("quantity")).as("total_qty"))
        .orderBy(col("l_orderkey"))),
    "checkout_line_verdict" -> ((s, d) =>
      lineVerdicts(s, d).orderBy(col("l_orderkey"), col("l_linenumber"))),
    "checkout_order_verdict" -> ((s, d) =>
      orderVerdicts(s, d).orderBy(col("l_orderkey"))),
    "checkout_unknown_products" -> ((s, d) =>
      Checkout.unknownProducts(
        Tables.lineitem(s, d),
        Checkout.inventoryFromParts(
          Tables.part(s, d).filter(col("p_partkey") % 7 =!= 0)))
        .orderBy(col("l_partkey"))),
    "checkout_final_inventory" -> ((s, d) =>
      Checkout.finalInventory(
        Checkout.inventoryFromParts(Tables.part(s, d)),
        lineVerdicts(s, d), orderVerdicts(s, d))
        .orderBy(col("product_id"))),
    "checkout_status_upsert" -> ((s, d) =>
      Checkout.statusUpsert(Tables.orders(s, d), orderVerdicts(s, d))
        .orderBy(col("o_orderkey"))),
    "checkout_idempotent_consume" -> ((s, d) =>
      Checkout.idempotentConsume(Tables.orders(s, d))),
    "notify_messages" -> ((s, d) =>
      Notify.notifications(orderVerdicts(s, d), Tables.orders(s, d))
        .orderBy(col("o_orderkey"))),

    // ----- relational surface certification (M2)
    "rel_q1_pricing_summary" -> ((s, d) =>
      StarQueries.q1PricingSummary(Tables.lineitem(s, d))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    "rel_q3_top_revenue" -> ((s, d) =>
      StarQueries.q3TopRevenue(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d), 10)),
    "rel_q5_region_revenue" -> ((s, d) =>
      StarQueries.q5RegionRevenue(
        Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d)).orderBy(col("n_name"))),
    "rel_q5_local_supplier" -> ((s, d) =>
      StarQueries.q5LocalSupplier(
        Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d))
        .orderBy(col("n_name"))),
    // correlated-subquery SQL surface: EXISTS / scalar-agg / NOT
    // EXISTS written as SQL text — certifies Catalyst's subquery
    // decorrelation (RewritePredicateSubquery, scalar-subquery
    // rewrite), not just the equivalent hand-built joins
    "rel_q4_priority_exists" -> ((s, d) =>
      StarQueries.q4PriorityExists(s, Tables.orders(s, d), Tables.lineitem(s, d))
        .orderBy(col("o_orderpriority"))),
    "rel_q17_small_quantity" -> ((s, d) =>
      StarQueries.q17SmallQuantity(s, Tables.part(s, d), Tables.lineitem(s, d))),
    "rel_q22_idle_customers" -> ((s, d) =>
      StarQueries.q22IdleCustomers(s, Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("c_mktsegment"))),
    // EXISTS + NOT EXISTS against the same fact table in one query
    // (Q21's shape) — both decorrelate to l_orderkey-keyed semi/anti
    // joins; LIMIT 10 is total-ordered by (numwait desc, s_name)
    "rel_q21_lone_fault_supplier" -> ((s, d) =>
      StarQueries.q21LoneFaultSupplier(s, Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.nation(s, d))),
    // WITH RECURSIVE union-loop: data-dependent-depth hierarchy walk
    // with exact integer path sums (order-free per-depth totals)
    "rel_recursive_path_sum" -> ((s, d) =>
      StarQueries.recursivePathSum(s, Tables.customer(s, d))),
    "rel_q7_nation_volume" -> ((s, d) =>
      StarQueries.q7NationVolume(s, Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "rel_q10_returned_revenue" -> ((s, d) =>
      StarQueries.q10ReturnedRevenue(s, Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d))),
    "rel_q13_order_histogram" -> ((s, d) =>
      StarQueries.q13OrderHistogram(s, Tables.customer(s, d), Tables.orders(s, d))),
    "rel_q14_promo_share" -> ((s, d) =>
      StarQueries.q14PromoShare(s, Tables.lineitem(s, d), Tables.part(s, d))),
    // the remaining TPC-H shapes — the full 22-query suite (partsupp
    // absent from this schema is reconstructed from lineitem where a
    // query needs it; see each method's scaladoc)
    "rel_q6_forecast_revenue" -> ((s, d) =>
      StarQueries.q6ForecastRevenue(Tables.lineitem(s, d))),
    "rel_q8_market_share" -> ((s, d) =>
      StarQueries.q8MarketShare(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    "rel_q9_nation_profit" -> ((s, d) =>
      StarQueries.q9ProfitByNation(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.nation(s, d))),
    "rel_q11_important_stock" -> ((s, d) =>
      StarQueries.q11ImportantStock(s, Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d))),
    "rel_q12_late_priority" -> ((s, d) =>
      StarQueries.q12LatePriorityCounts(s, Tables.orders(s, d), Tables.lineitem(s, d))),
    "rel_q15_top_supplier" -> ((s, d) =>
      StarQueries.q15TopSupplier(s, Tables.supplier(s, d), Tables.lineitem(s, d))),
    "rel_q16_supplier_counts" -> ((s, d) =>
      StarQueries.q16SupplierCounts(s, Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d))),
    "rel_q18_large_orders" -> ((s, d) =>
      StarQueries.q18LargeOrders(s, Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "rel_q19_disjunct_revenue" -> ((s, d) =>
      StarQueries.q19DisjunctiveRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "rel_q20_part_promotion" -> ((s, d) =>
      StarQueries.q20PartPromotion(s, Tables.supplier(s, d), Tables.nation(s, d),
        Tables.lineitem(s, d), Tables.part(s, d))),
    "rel_q2_min_cost_supplier" -> ((s, d) =>
      StarQueries.q2MinCostSupplier(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d), Tables.region(s, d))),
    // market-basket lift: pair generation by self-join ON THE ORDER
    // KEY (basket-bounded, never catalog²), integer lift products,
    // one division
    "rel_basket_lift" -> ((s, d) =>
      StarQueries.basketLift(Tables.lineitem(s, d), 3, 50)
        .orderBy(col("rank"))),
    // BFS blast radius: hop layers from recalled parts over the
    // co-order graph (frontier-relaxation joins, first-touch = min
    // hop); the oracle replays it as a RECURSIVE CTE with min-hop
    // collapse — an independent traversal formulation
    "rel_part_blast_radius" -> ((s, d) => {
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
    }),
    // correlated LATERAL subquery with per-row ORDER BY LIMIT —
    // Catalyst decorrelates to a partitioned rank, certified against
    // the explicit-window oracle
    "rel_lateral_topk" -> ((s, d) => {
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
    }),
    // SQL-standard inverse distribution functions (WITHIN GROUP)
    "rel_percentiles" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("pct_customer")
      s.sql(
        """SELECT c_mktsegment,
          |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal), 4) AS p50,
          |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY c_acctbal), 4) AS p90,
          |  round(percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal), 4) AS p50_disc
          |FROM pct_customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),
    "rel_window_extras" -> ((s, d) =>
      StarQueries.windowExtras(Tables.customer(s, d))
        .orderBy(col("c_mktsegment"), col("c_custkey"))),
    "rel_grouping_sets" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        "SELECT coalesce(c_mktsegment, 'ALL') AS segment, " +
          "coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nation, " +
          "count(*) AS n FROM customer_v " +
          "GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ()) " +
          "ORDER BY segment, nation")
    }),
    "source_seed_loader" -> ((s, d) =>
      graft.sources.Seeds.referenceInventory(s).orderBy(col("product_id"))),
    // schema-preserving CSV round trip: a lineitem slice written with
    // headers + an explicit timestampFormat, read back with the
    // DECLARED schema (never inference — SURVEY §1.3), aggregate must
    // equal the parquet source of truth. Certifies the full
    // text-serialization path: shortest-roundtrip doubles, timestamp
    // formatting both directions
    "source_csv_roundtrip" -> ((s, d) => withTempDir("graft-csv") { base =>
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
    }),
    // same certification for the JSON-lines file source (the
    // reference's wire format as a TABLE source rather than a stream)
    "source_jsonl_roundtrip" -> ((s, d) => withTempDir("graft-jsonl") { base =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      li.coalesce(2).write.json(s"$base/json")
      s.read.schema(li.schema).json(s"$base/json")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
    }),
    // columnar-binary roundtrip through Spark's native ORC source: the
    // file is SELF-DESCRIBING, so the read side deliberately declares
    // no schema — types (decimal-free doubles, timestamp micros) must
    // survive the format's own metadata, unlike the text formats above
    "source_orc_roundtrip" -> ((s, d) => withTempDir("graft-orc") { base =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      li.coalesce(2).write.orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
    }),
    "rel_join_semi" -> ((s, d) =>
      StarQueries.customersWithOrders(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("c_mktsegment"))),
    // anti-join against the high-value order subset: every customer
    // has SOME order in this data, so the unfiltered variant would
    // certify only the empty result — the filter plants real survivors
    "rel_join_anti" -> ((s, d) =>
      StarQueries.customersWithoutOrders(Tables.customer(s, d),
          Tables.orders(s, d).filter(col("o_totalprice") > 300000))
        .orderBy(col("c_nationkey"))),
    "rel_join_broadcast" -> ((s, d) =>
      StarQueries.customersPerRegion(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))
        .orderBy(col("r_name"), col("n_name"))),
    "rel_join_full_outer" -> ((s, d) =>
      StarQueries.nationActivityFullOuter(Tables.customer(s, d), Tables.supplier(s, d))
        .orderBy(col("nationkey"))),
    "rel_agg_distinct" -> ((s, d) =>
      StarQueries.segmentStats(Tables.customer(s, d)).orderBy(col("c_mktsegment"))),
    "rel_agg_rollup" -> ((s, d) =>
      StarQueries.acctbalRollup(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))
        .orderBy(col("region"), col("nation"))),
    "rel_agg_cube" -> ((s, d) =>
      StarQueries.orderCube(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("segment"), col("priority"))),
    "rel_window_rank" -> ((s, d) =>
      StarQueries.topCustomersPerSegment(Tables.customer(s, d), 3)
        .orderBy(col("c_mktsegment"), col("rn"))),
    "rel_window_running" -> ((s, d) =>
      StarQueries.runningOrderTotal(Tables.orders(s, d), 100)
        .orderBy(col("o_custkey"), col("o_orderkey"))),
    "rel_sort_topk" -> ((s, d) =>
      StarQueries.topOrders(Tables.orders(s, d), 20)),
    "rel_set_ops" -> ((s, d) =>
      StarQueries.setOps(Tables.customer(s, d), Tables.orders(s, d)).orderBy(col("op"))),
    "rel_scalar_string_math" -> ((s, d) =>
      StarQueries.scalarStringMath(Tables.part(s, d)).orderBy(col("p_partkey"))),
    "rel_pivot" -> ((s, d) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val pivoted = Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .pivot("c_mktsegment", segs)
        .agg(count(lit(1)))
      pivoted.select(
        col("c_nationkey") +: segs.map(g => coalesce(col(g), lit(0L)).as(g)): _*)
        .orderBy(col("c_nationkey"))
    }),
    "text_array_ops" -> ((s, d) =>
      graft.ops.TextOps.withTokens(Tables.documents(s, d)).select(
        col("doc_id"),
        element_at(col("words"), 1).as("first_word"),
        element_at(col("words"), -1).as("last_word"),
        size(col("words")).as("n_tokens"),
        array_min(col("words")).as("min_word"),
        concat_ws("-", slice(col("words"), 1, 3)).as("prefix3"),
        array_contains(col("words"), "the").as("has_the"),
        coalesce(array_position(col("words"), "the"), lit(0L)).as("the_pos"))
        .orderBy(col("doc_id"))),
    "rel_scalar_dates" -> ((s, d) =>
      StarQueries.scalarDates(Tables.orders(s, d)).orderBy(col("o_orderkey"))),
    // skew-salted join certified against the PLAIN join's oracle: the
    // salt must be invisible in the result by construction
    "rel_join_salted" -> ((s, d) =>
      graft.ops.Skew.saltedJoin(
        Tables.lineitem(s, d)
          .select(col("l_partkey").as("p_partkey"), col("l_extendedprice")),
        Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        "p_partkey", 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("total_price"))
        .orderBy(col("p_brand"))),

    // AUTO-SALTED AGGREGATION (r17 — the aggregation face of the skew
    // statistic, the join face's store_join_autosalt discipline): a
    // 75%-hot fact lands in the native format, the fan-out derives
    // from the manifest frequency map with zero scans, and the
    // two-phase salted groupBy (+ value-hash-salted exact distinct)
    // is certified against the PLAIN GROUP BY — the split must be
    // invisible in the result at ANY factor. Exact-long sums/counts
    // keep every merge order-independent; avg is ONE double division
    // of those exact operands on both sides
    "rel_agg_autosalt" -> ((s, d) => withTempDir("graft-aggsalt") { base =>
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
    }),

    // the PLANNER face of the statistic (r17): the same hot fact, but
    // the user writes a PLAIN join — SaltJoinRule reads the manifest
    // map at plan time and injects the salt itself (fan-out derived,
    // dim replicated, salt equality added, original output restored).
    // The inline require proves the certified plan IS the rewritten
    // one; the oracle is the plain join's — the rewrite must be
    // invisible at any factor. Threshold -1 simulates the
    // non-broadcastable dim this rule exists for (a broadcastable dim
    // is guarded out: BHJ has no fact shuffle, measured dominant)
    "rel_join_autosalt_rule" -> ((s, d) => withTempDir("graft-saltrule") { base =>
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
    }),

    // the rule's COMPOSITE-KEY scope (r18, measured on SaltBench's
    // comp-* arms before shipping): the user joins on (k, k2); only k
    // is manifest-declared, and count(k=a ∧ k2=b) ≤ count(k=a) makes
    // the k-derived fan-out a valid bound for the composite hot mass
    // (a declared-not-hot column would veto instead — OpsSpec pins
    // that guard). Same plain-join oracle: the rewrite must stay
    // invisible at any factor
    "rel_join_autosalt_composite" -> ((s, d) => withTempDir("graft-saltrulec") { base =>
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
    }),

    // the rule's FACT-PRESERVING LEFT-JOIN scope (r18, measured on
    // SaltBench's left-* arms): dim covers k < 50 only, so keys 50..96
    // are preserved with null grp — every preserved fact row keeps
    // exactly ONE salt, so the null-extended rows appear exactly once
    // and the plain LEFT JOIN oracle certifies it
    "rel_join_autosalt_left" -> ((s, d) => withTempDir("graft-saltrulel") { base =>
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
    }),

    // bloom-pruned join certified against the PLAIN join's oracle: the
    // probe-side prefilter may pass false positives (the join drops
    // them) but never false negatives — the result is identical by
    // construction, with the fact shuffle cut before it happens
    "rel_join_bloom" -> ((s, d) => {
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
    }),

    // join-size estimation from CMS inner products (d=4, w=4096): the
    // estimate is one-sided (≥ exact, overshoot = collision mass) and
    // never touches the tables again once the key sketches exist; the
    // exact size rides along so the bound itself is certified
    "rel_join_size_estimate" -> ((s, d) => {
      import graft.ops.Cms
      val est = Cms.joinSizeEstimate(
        Cms.sketchValues(Tables.orders(s, d), col("o_custkey"), 4, 4096),
        Cms.sketchValues(Tables.customer(s, d), col("c_custkey"), 4, 4096))
      val exact = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n_exact"))
      est.crossJoin(exact)
    }),
    // fuzzy join via the SymSpell deletion-neighborhood equi-join: the
    // dirty side is a deterministic 1-char perturbation of unique part
    // names; recall vs the oracle's QUADRATIC levenshtein join is
    // complete by the pigeonhole argument in ops.Fuzzy
    "rel_fuzzy_join" -> ((s, d) => {
      val (dirty, clean) = fuzzyNameParts(s, d)
      graft.ops.Fuzzy.fuzzyJoin(dirty, clean, "dname", "cname", 1)
        .select(col("dirty_key"), col("clean_key"), col("dist"))
        .orderBy(col("dirty_key"), col("clean_key"))
    }),
    // the SAME match written the natural way (raw levenshtein theta
    // join) with FuzzyJoinRule injected: the optimizer rewrites the
    // nested-loop join to the variant equi-join and the result must
    // stay identical (same oracle as rel_fuzzy_join). localCheckpoint
    // materializes while the rule is active
    "rel_fuzzy_join_auto" -> ((s, d) => {
      val (dirty, clean) = fuzzyNameParts(s, d)
      val pairs = withRules(s, graft.plans.FuzzyJoinRule()) {
        dirty.join(clean, levenshtein(col("dname"), col("cname")) <= 1)
          .select(col("dirty_key"), col("clean_key"),
            levenshtein(col("dname"), col("cname")).as("dist"))
          .localCheckpoint()
      }
      pairs.orderBy(col("dirty_key"), col("clean_key"))
    }),

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
    "rel_decimal_exact" -> ((s, d) => {
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
    }),
    // materialized-view routing: the SAME aggregate written against
    // the FACT table, answered from the IncrView-maintainable
    // pre-aggregate by the injected MvRewriteRule — the fact scan
    // never happens (spec asserts the plan; this row certifies the
    // results are indistinguishable)
    "rel_mv_rewrite_auto" -> ((s, d) => withTempDir("graft-mv") { base =>
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
      val out = withRules(s, rule) {
        fact.groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
          .localCheckpoint()
      }
      out.orderBy(col("l_returnflag"))
    }),

    // entity resolution end-to-end (the MDM pipeline): variant-blocked
    // fuzzy matching over the unioned record pool → connected
    // components → golden record per entity (min-id entity key,
    // lexicographic-min canonical name). Components via large/small-
    // star contraction; singleton records stay their own entity
    "rel_entity_resolution" -> ((s, d) => {
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
    }),

    // ----- text analysis (M4)
    "text_token_stats" -> ((s, d) =>
      TextOps.tokenStats(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // normalization ahead of tokenize/dedup: case fold, strip
    // invisibles, collapse whitespace — certified via the stats+hash
    // of the normalized text
    "text_normalized_stats" -> ((s, d) =>
      TextOps.normalizedStats(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // PII redaction: deterministic synthetic PII is injected per doc_id
    // (documents.text itself carries none — without injection the scrub
    // would certify trivially on all-zero counts), then scrubbed; the
    // oracle re-runs the same injection + RE2-parity patterns in DuckDB
    "text_pii_scrub" -> ((s, d) => {
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" call 555-867-5309")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" from 192.168.1.42")).otherwise(lit("")))
          .as("text"))
      seeded
        .select(col("doc_id"),
          TextOps.piiCounts(col("text")).as("c"),
          md5(TextOps.scrubPii(col("text"))).as("scrub_hash"))
        .select(col("doc_id"), col("c.n_emails").as("n_emails"),
          col("c.n_phones").as("n_phones"), col("c.n_ips").as("n_ips"),
          col("scrub_hash"))
        .orderBy(col("doc_id"))
    }),
    "text_term_freq" -> ((s, d) =>
      TextOps.termFrequency(Tables.documents(s, d), 50)),
    // count-min sketch (d=4, w=1024): the exact top-20 terms point-
    // queried against the bounded-cardinality counter table; est ≥
    // exact always, equality wherever no bucket collision landed
    "text_cms_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Cms.estimate(
          graft.ops.Cms.sketch(docs, 4, 1024),
          TextOps.termFrequency(docs, 20), 4, 1024)
        .orderBy(col("freq").desc, col("word"))
    }),
    // the CMS twin of stream_hll_vocab: cell-wise SUM is associative
    // and exact in integers, so the micro-batch-folded counter table
    // IS the one-shot sketch and the point estimates are identical —
    // together the pair certifies that both mergeable-sketch state
    // disciplines (max-registers, sum-counters) survive micro-batching
    "stream_cms_topk" -> ((s, d) => withTempDir("graft-cms-stream") { base =>
      val docs = Tables.documents(s, d)
      val slim = docs.select(col("doc_id"), col("text"))
      // staged concurrently, arrival order pinned by explicit mtimes
      // (same order the former serial writes produced) — stageOrdered
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        slim.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SnapshotIngest.run(s, slim.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Cms.sketch(batch, 4, 1024)
        prior.map(_.unionByName(sk).groupBy(col("row"), col("bucket"))
          .agg(sum(col("cnt")).as("cnt"))).getOrElse(sk)
      }
      graft.ops.Cms.estimate(
        graft.streaming.SnapshotIngest.finalState(s, s"$base/state"),
        TextOps.termFrequency(docs, 20), 4, 1024)
    }.orderBy(col("freq").desc, col("word"))),
    // exact percentiles by histogram narrowing — no global sort, no
    // approx sketch; certified against direct rank selection
    "text_exact_percentiles" -> ((s, d) =>
      graft.ops.Quantiles.exactPercentiles(
          Tables.documents(s, d), "n_chars", Seq(0.5, 0.9, 0.99))
        .orderBy(col("p"))),
    // BM25 retrieval over the relational inverted index: five literal
    // queries, postings restricted to query terms before any scoring,
    // rounded-score ordering so rank ties resolve identically in both
    // engines
    "text_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      graft.ops.Bm25.topK(Tables.documents(s, d), queries, 10)
        .orderBy(col("q_id"), col("rank"))
    }),
    // the inverted index persisted once (postings/doclens/meta — no raw
    // text, the AnnIndex rule) and served from the stored frames: must
    // answer bit-identically to the one-shot path over one oracle
    "store_bm25_roundtrip" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      withTempDir("graft-bm25idx") { base =>
        graft.ops.Bm25.writeIndex(Tables.documents(s, d), base)
        graft.ops.Bm25.topKFromIndex(s, base, queries, 10)
          .orderBy(col("q_id"), col("rank"))
      }
    }),
    // document erasure on the text index: posting+doclen rows of
    // doc_id%7 deleted AND the collection stats restated (n/avgdl are
    // in every surviving score — no frozen-model escape hatch here);
    // the oracle re-runs the whole chain over the filtered corpus
    "store_bm25_forget" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      withTempDir("graft-bm25fgt") { base =>
        graft.ops.Bm25.writeIndex(Tables.documents(s, d), base)
        graft.ops.Bm25.removeDocs(s, base,
          Tables.documents(s, d).filter(col("doc_id") % 7 === 0).select(col("doc_id")))
        graft.ops.Bm25.topKFromIndex(s, base, queries, 10)
          .orderBy(col("q_id"), col("rank"))
      }
    }),
    // chunk-level RAG retrieval with document attribution: the corpus
    // chunked to overlapping 32-token windows, BM25 over CHUNKS (the
    // retrieval unit that fits a context window), then per-(query,doc)
    // best-chunk rollup and top-3 docs — the serve-chunks/attribute-
    // docs shape every RAG stack runs. Chunk keys pack (doc, start)
    // into one BIGINT so the ranker stays key-agnostic
    "pipeline_rag_chunks" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      // chunking materialized once: the ranker's tokenize pass and its
      // corpus-count scalar otherwise each re-chunk the whole corpus
      val ch = TextOps.chunks(Tables.documents(s, d), 32, 24)
        .select((col("doc_id") * 1000000L + col("chunk_start")).as("doc_id"),
          col("chunk_text").as("text"))
        .localCheckpoint(true)
      val hits = graft.ops.Bm25.topK(ch, queries, 10)
        .select(col("q_id"), expr("doc_id DIV 1000000").as("src_doc"),
          pmod(col("doc_id"), lit(1000000L)).as("chunk_start"), col("score"))
      val bestChunk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"), col("src_doc"))
        .orderBy(col("score").desc, col("chunk_start"))
      val docRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("score").desc, col("src_doc"))
      hits.withColumn("__rn", row_number().over(bestChunk))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn("rank", row_number().over(docRank))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("src_doc").as("doc_id"),
          col("chunk_start"), col("score"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }),
    // hybrid retrieval: RRF-fuse the lexical (BM25) and vector
    // (embedding-cosine) rankers over the shared 0..4 query-id space —
    // score-calibration-free, each system contributes 1/(60+rank).
    // Both inputs are k-bounded per query, so fusion cost is
    // corpus-size-independent
    "text_hybrid_rrf" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      val lexical = graft.ops.Bm25.topK(Tables.documents(s, d), queries, 10)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val vector = Similarity.bruteForceTopK(Tables.embeddings(s, d), embQueries(s, d), 10)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.ops.Fusion.rrf(Seq(lexical, vector), 10)
        .orderBy(col("q_id"), col("rank"))
    }),
    // HLL distinct-count sketch (p=9, 512 registers): per-lang
    // vocabulary estimate from the bounded register frame — the
    // estimate is bit-deterministic (all partial sums exact doubles),
    // so the oracle replays sketch AND estimate and hash-matches
    "text_hll_vocab" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      graft.ops.Hll.estimate(
          graft.ops.Hll.sketch(tok, Seq("lang"), col("word"), 9),
          Seq("lang"), 9)
        .orderBy(col("lang"))
    }),
    // the NATIVE HLL aggregate (TypedImperativeAggregate, §2.7 UDAF
    // rung): one pass, 512 bytes of state per group, composable inside
    // any groupBy — must answer bit-identically to the register-frame
    // formulation above, so it shares text_hll_vocab's oracle verbatim
    // (same md5 hash, same rho, same estimate arithmetic, same
    // rounding; cross-certified in SketchAggSpec)
    "text_hll_native" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      tok.groupBy(col("lang"))
        .agg(graft.functions.HllDistinct.hllDistinct(col("word"), 9).as("n_est"))
        .orderBy(col("lang"))
    }),
    // the SHARD-MERGE path under the oracle: per-(lang, source) partial
    // sketches re-aggregated to per-lang registers must estimate
    // identically to the direct sketch (max is associative+idempotent)
    // — same oracle row as text_hll_vocab
    "text_hll_merged" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      val perShard = graft.ops.Hll.sketch(tok, Seq("lang", "source"), col("word"), 9)
      val merged = perShard.groupBy(col("lang"), col("register"))
        .agg(max(col("max_rho")).as("max_rho"))
      graft.ops.Hll.estimate(merged, Seq("lang"), 9).orderBy(col("lang"))
    }),
    // Zipf rank-frequency fit over the top-200 terms: log-log OLS with
    // ln values quantized to integer ten-thousandths, so every sum is
    // EXACT under any aggregation order (scaling cancels in the
    // slope); r² as the product of two exact-integer ratios. Global
    // top-k through BoundedTopK — vocabulary never crosses one window
    "text_zipf_slope" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
      val top = tf
        .select(struct(negate(col("f")).as("nf"), col("word").as("w")).as("c"))
        .agg(graft.functions.TopK.topKSmallest(col("c"), 200).as("tk"))
        .select(posexplode(col("tk")).as(Seq("pos", "e")))
        .select(
          round(log((col("pos") + 1).cast("double")) * 10000).cast("long").as("x4"),
          round(log(negate(col("e.nf")).cast("double")) * 10000).cast("long").as("y4"))
      top
        .agg(count(lit(1)).as("n"), sum(col("x4")).as("sx"), sum(col("y4")).as("sy"),
          sum(col("x4") * col("y4")).as("sxy"), sum(col("x4") * col("x4")).as("sxx"),
          sum(col("y4") * col("y4")).as("syy"))
        .select(
          col("n").as("n_terms"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 4)
            .as("zipf_slope"),
          round(
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 4)
            .as("r2"))
    }),
    // Heaps' law: TYPE-growth exponent over 8 cumulative corpus
    // prefixes (doc_id-bucket unions) — V(n) ≈ K·n^β, the statistic
    // that predicts distinct-content volume (and sketch/dedup-state
    // sizing) at 100 TB from a sample. Types are 3-gram shingles (the
    // dedup unit; the synthetic corpus's WORD vocabulary saturates in
    // one bucket, a degenerate fit). Cumulative type count via
    // per-type MIN bucket — no prefix re-scan; same quantized-integer
    // OLS as text_zipf_slope
    "text_heaps_law" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select((col("doc_id") % 8).cast("int").as("b"),
          graft.functions.ShingleGenerator.shingles(col("text"), 3)
            .as(Seq("pos", "word")))
        .select(col("b"), col("word"))
      val perB = tok.groupBy(col("b")).agg(count(lit(1)).as("nt"))
      val vocabB = tok.groupBy(col("word")).agg(min(col("b")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(hash(col("b")), lit(1))).orderBy(col("b"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val pts = perB.join(vocabB, Seq("b"), "left")
        .select(col("b"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
        .select(col("b"), sum(col("nt")).over(w).as("ct"), sum(col("nv")).over(w).as("cv"))
        .select(
          round(log(col("ct").cast("double")) * 10000).cast("long").as("x4"),
          round(log(col("cv").cast("double")) * 10000).cast("long").as("y4"))
      pts
        .agg(count(lit(1)).as("n"), sum(col("x4")).as("sx"), sum(col("y4")).as("sy"),
          sum(col("x4") * col("y4")).as("sxy"), sum(col("x4") * col("x4")).as("sxx"),
          sum(col("y4") * col("y4")).as("syy"))
        .select(
          col("n").as("n_points"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 4)
            .as("heaps_beta"),
          round(
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 4)
            .as("r2"))
    }),
    // the custom GENERATOR rung (UDTF-shaped, §2.5): shingle rows
    // emitted straight off one token split under GenerateExec — no
    // materialized shingle array per document
    "text_shingle_rows" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          graft.functions.ShingleGenerator.shingles(col("text"), 5)
            .as(Seq("pos", "shingle")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_shingles"),
          countDistinct(col("shingle")).as("n_distinct"))
        .orderBy(col("lang"))),
    // ... and the generator's SQL surface: registered like
    // cosine_similarity, `LATERAL VIEW`-free SELECT-position generator
    // in plain SQL — same oracle as the Column-API path
    "text_shingle_sql" -> ((s, d) => {
      org.apache.spark.sql.graftbridge.FunctionBridge.registerFunction(
        s, graft.functions.ShingleGenerator.shinglesFunction)
      Tables.documents(s, d).createOrReplaceTempView("shingle_sql_docs")
      s.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_shingles,
          |       CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct
          |FROM (SELECT lang, shingles(text, 5) FROM shingle_sql_docs)
          |GROUP BY lang ORDER BY lang
          |""".stripMargin)
    }),
    // KMV bottom-k sketch: per-lang vocabulary estimate — the
    // SET-OPERATION sketch beside HLL (intersections, which registers
    // cannot do); estimate = exact below k, (k−1)·2^32/h_k above
    "text_kmv_vocab" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      graft.ops.Kmv.estimateDistinct(
          graft.ops.Kmv.sketch(tok, Seq("lang"), col("word"), 256),
          Seq("lang"), 256)
        .orderBy(col("lang"))
    }),
    // the two-pass heavy-hitter query over the Misra–Gries native
    // aggregate: pass 1 = MG candidates under 200 counters (one pass,
    // 200 counters per map task on the wire — never the vocabulary);
    // pass 2 = EXACT counts of the ≤200 candidates via broadcast
    // semi-join, filtered on the integer-exact threshold
    // cnt·200 > n_total. The MG guarantee (freq > n/201 ⇒ candidate,
    // spec-certified) makes candidates ⊇ true heavy hitters, so the
    // final set is deterministic although the sketch itself is
    // order-dependent — the production shape for "top tokens without
    // a vocabulary shuffle"
    "text_heavy_hitters" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
      val cands = tok
        .agg(graft.functions.TopFreq.topFreq(col("word"), 200).as("cand"))
        .select(explode(col("cand")).as("word"))
      val counts = tok.join(broadcast(cands), "word")
        .groupBy(col("word")).agg(count(lit(1)).as("n_occurrences"))
      val tot = tok.agg(count(lit(1)).as("n_total"))
      counts.crossJoin(broadcast(tot))
        .filter(col("n_occurrences") * 200 > col("n_total"))
        .select(col("word"), col("n_occurrences"))
        .orderBy(col("word"))
    }),
    // the NATIVE KMV aggregate (TypedImperativeAggregate): dedup folds
    // INTO the k-bounded TreeSet buffer — one pass, no corpus-wide
    // (group, hash) distinct stage — and must answer bit-identically
    // to the frame path above (same hash, same n_sk<k exact branch,
    // same (k−1)·2^32/h_k single division, same rounding), so it
    // shares text_kmv_vocab's oracle verbatim
    "text_kmv_native" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      tok.groupBy(col("lang"))
        .agg(graft.functions.KmvDistinct.kmvDistinct(col("word"), 256).as("n_est"))
        .orderBy(col("lang"))
    }),
    // the shard-merge path: per-(lang, source) partial KMV sketches
    // re-minned to per-lang must estimate identically to the direct
    // sketch (min-k is associative + idempotent) — same oracle row
    "text_kmv_merged" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      val perShard = graft.ops.Kmv.sketch(tok, Seq("lang", "source"), col("word"), 256)
        .select(col("lang"), col("hv"))
      graft.ops.Kmv.estimateDistinct(
          graft.ops.Kmv.merge(Seq(perShard), Seq("lang"), 256), Seq("lang"), 256)
        .orderBy(col("lang"))
    }),
    // pairwise vocabulary overlap between languages from the sketches
    // ALONE: Jaccard + intersection estimates per unordered lang pair —
    // the contamination/overlap telemetry between corpus shards at
    // 100 TB, at 8 KiB per shard instead of the vocabularies
    "text_kmv_overlap" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      graft.ops.Kmv.pairOverlap(
          graft.ops.Kmv.sketch(tok, Seq("lang"), col("word"), 256), "lang", 256)
        .orderBy(col("g_a"), col("g_b"))
    }),
    // sketch algebra composes with relational rollup: GROUPING SETS
    // over the register frame (max is idempotent/associative, so every
    // grouping level's registers ≡ its direct sketch) — per-lang AND
    // corpus-total vocabulary from ONE sketch pass
    "text_hll_rollup" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      val sk = graft.ops.Hll.sketch(tok, Seq("lang"), col("word"), 9)
      val rolled = sk.groupingSets(
          Seq(Seq(col("lang"), col("register")), Seq(col("register"))),
          col("lang"), col("register"))
        .agg(max(col("max_rho")).as("max_rho"))
      graft.ops.Hll.estimate(rolled, Seq("lang"), 9)
        .select(coalesce(col("lang"), lit("ALL")).as("lang"), col("n_est"))
        .orderBy(col("lang"))
    }),
    // the KMV sketch as STREAMING state: per-batch bottom-k frames fold
    // into the snapshot chain by merge (union + re-min-k) — ≤ k rows
    // per group forever, and min-k associativity makes the final
    // estimate BIT-IDENTICAL to the one-shot sketch: text_kmv_vocab's
    // oracle unchanged
    "stream_kmv_vocab" -> ((s, d) => withTempDir("graft-kmv-stream") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SnapshotIngest.run(s, docs.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Kmv.sketch(
          batch.select(col("lang"), explode(TextOps.tokens(col("text"))).as("word")),
          Seq("lang"), col("word"), 256)
        prior.map(p => graft.ops.Kmv.merge(Seq(p, sk), Seq("lang"), 256)).getOrElse(sk)
      }
      graft.ops.Kmv.estimateDistinct(
        graft.streaming.SnapshotIngest.finalState(s, s"$base/state"), Seq("lang"), 256)
    }.orderBy(col("lang"))),
    // the SAME sketch as streaming state: three micro-batches fold
    // their register tables into the snapshot chain by max re-agg —
    // sketch state is ~2^p rows per group forever, the 100 TB shape
    // for streaming cardinality (no key set ever stored), and the
    // final estimate must be BIT-IDENTICAL to the one-shot sketch
    // (max is associative/commutative over any row partition), so the
    // oracle is text_hll_vocab's unchanged
    "stream_hll_vocab" -> ((s, d) => withTempDir("graft-hll-stream") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SnapshotIngest.run(s, docs.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Hll.sketch(
          batch.select(col("lang"), explode(TextOps.tokens(col("text"))).as("word")),
          Seq("lang"), col("word"), 9)
        prior.map(p => graft.ops.Hll.merge(Seq(p, sk), Seq("lang"))).getOrElse(sk)
      }
      graft.ops.Hll.estimate(
        graft.streaming.SnapshotIngest.finalState(s, s"$base/state"), Seq("lang"), 9)
    }.orderBy(col("lang"))),
    // the quantile sketch as STREAMING state: per-batch histograms
    // fold into the snapshot chain by exact integer addition, so the
    // final estimates are bit-identical to the one-shot sketch (third
    // sketch streamed, beside stream_hll/stream_cms — same oracle row)
    "stream_quantile_sketch" -> ((s, d) => withTempDir("graft-qsk-stream") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SnapshotIngest.run(s, docs.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Quantiles.histogramSketch(
          batch, Seq("lang"), "n_chars", 0.0, 640.0, 64)
        prior.map(_.unionByName(sk).groupBy(col("lang"), col("bin"))
          .agg(sum(col("cnt")).as("cnt"))).getOrElse(sk)
      }
      graft.ops.Quantiles.estimateFromSketch(
        graft.streaming.SnapshotIngest.finalState(s, s"$base/state"),
        Seq("lang"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99))
    }.orderBy(col("lang"), col("q"))),
    // unigram-LM cross-entropy against the corpus's own distribution —
    // the cheap perplexity stand-in for quality filtering
    "text_unigram_logprob" -> ((s, d) =>
      TextOps.unigramLogProb(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // interpolated bigram LM — context-aware perplexity stand-in; λ/μ
    // passed explicitly so both engines compute with literal 0.7/0.3
    "text_bigram_logprob" -> ((s, d) =>
      TextOps.bigramLogProb(Tables.documents(s, d), 0.7, 0.3).orderBy(col("doc_id"))),
    // cross-doc duplicated n-gram span fraction — the substring-level
    // dedup signal pair-joins can't see (copies spread across many
    // partners); linear in postings, no pair explosion
    "text_dup_span_fraction" -> ((s, d) =>
      TextOps.dupSpanFraction(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // longest cross-doc duplicated token span (exact-substring-dedup
    // signal): positional postings + gaps-and-islands, no suffix sort
    "text_dup_max_span" -> ((s, d) =>
      TextOps.dupMaxRun(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // CCNet-style boilerplate removal WITH corpus rewrite: 5-token
    // spans repeated across ≥2 docs are deleted and each doc is
    // reassembled in order; certified via the cleaned-text hash
    "text_boilerplate_scrub" -> ((s, d) =>
      TextOps.boilerplateScrub(Tables.documents(s, d), 5, 2).orderBy(col("doc_id"))),
    // collocation mining: top-50 adjacent pairs by PMI (count ≥ 5) —
    // the word2phrase signal for multi-word-token discovery
    "text_pmi_bigrams" -> ((s, d) =>
      TextOps.pmiBigrams(Tables.documents(s, d), 5, 50).orderBy(col("rank"))),
    // Dunning G² collocations beside PMI: full 2×2 contingency, so
    // evidence mass counts and rare flukes sink (phrase-mining scorer)
    "text_llr_bigrams" -> ((s, d) =>
      TextOps.llrBigrams(Tables.documents(s, d), 5, 50).orderBy(col("rank"))),
    // deterministic per-group reservoir: exactly k docs per language,
    // membership a pure function of (salt, doc_id) — retry-stable,
    // and k-exact where rate-based stratified sampling is not
    "text_reservoir_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(concat(lit("seed7|"), col("doc_id").cast("string"))), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .orderBy(col("lang"), col("rank"))
    }),
    // SentencePiece unigram-LM tokenizer (hard-EM): seed substring
    // vocab → Viterbi segmentation → re-fit → second Viterbi; the
    // whole two-pass chain replayed in SQL to hash equality
    "text_unigram_lm" -> ((s, d) =>
      unigramTableFor(s, d).orderBy(col("word"))),
    // the serving path: corpus tokenized against the trained table
    // (map-only broadcast lookup), per-doc expansion stats
    "text_unigram_encode" -> ((s, d) =>
      graft.ops.UnigramLm.encode(Tables.documents(s, d),
        unigramTableFor(s, d)).orderBy(col("doc_id"))),
    // CCNet-style per-language perplexity terciles over the unigram-LM
    // score (head = most fluent third of each language)
    "text_ppl_buckets" -> ((s, d) =>
      TextOps.perplexityBuckets(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // model-based quality filtering: logistic regression trained by
    // full-batch GD as relational aggregates (rule distillation — the
    // fastText-style quality model), float-quantized iteration chain
    // replayed in SQL to hash equality
    "text_lr_weights" -> ((s, d) =>
      graft.ops.Classifier.weightsFrame(Tables.documents(s, d), 20, 10.0)
        .orderBy(col("feature"))),
    // map-only inference under the trained model: calibrated quality
    // probability + hard prediction vs the rule label it distills
    "text_lr_scores" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Classifier.scores(docs, graft.ops.Classifier.train(docs, 20, 10.0))
        .orderBy(col("doc_id"))
    }),
    // threshold-free classifier evaluation: exact tie-averaged
    // Mann–Whitney AUC over the score histogram (integer 2R, one
    // division) — the eval closer beside the lang-ID confusion matrix
    "text_lr_auc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Classifier.auc(
        graft.ops.Classifier.scores(docs, graft.ops.Classifier.train(docs, 20, 10.0)))
    }),
    // reliability diagram: decile bins, mean predicted probability vs
    // empirical positive rate — integer sums, one division each
    "text_lr_calibration" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Classifier.calibrationBins(
        graft.ops.Classifier.scores(docs, graft.ops.Classifier.train(docs, 20, 10.0)))
        .orderBy(col("bin"))
    }),
    // token-share mixture rebalancing: per-source keep-rates derived
    // from the corpus's own token totals (downsample-only; the tiny
    // per-source aggregate is the same O(#strata) driver-side scalar
    // exception as the corpus-scaled LSH bits) — the SAME share map
    // and rate arithmetic generate the oracle SQL below
    "text_mixture_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val totals = docs
        .select(col("source"), size(TextOps.tokens(col("text"))).as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("toks"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Sampling.mixtureSample(docs, col("doc_id"), col("source"),
          totals, mixShares, "mixsalt")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    // BPE merge training: one corpus-scale vocab aggregate, then 6
    // vocabulary-scale merge rounds — the tokenizer-training artifact
    "text_bpe_merges" -> ((s, d) =>
      graft.ops.Bpe.merges(Tables.documents(s, d), 6).orderBy(col("merge_rank"))),
    // the trained merge table replayed into per-word segmentations —
    // the tokenizer's encode step, certified end-to-end
    "text_bpe_pieces" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Bpe.segment(docs, graft.ops.Bpe.merges(docs, 6))
        .select(col("word"), col("freq"), array_join(col("pieces"), " ").as("pieces"))
        .orderBy(col("word"))
    }),
    // 5-gram collision decontamination across the 80/20 hash split —
    // any shared n-gram flags the heldout doc (occurrence-counted)
    "text_ngram_decontam" -> ((s, d) =>
      Sampling.ngramContamination(Tables.documents(s, d), 0.8, "decontam", 5)
        .orderBy(col("doc_id"))),
    // per-row importance sampling: keep probability = clamped
    // n_chars/400 (longer docs weighted up) — the threshold is a
    // row-local hex expression, not a literal, mirrored into the
    // oracle with the same double-op order
    "text_importance_sample" -> ((s, d) =>
      Sampling.importanceSample(Tables.documents(s, d), col("doc_id"),
          col("n_chars").cast("double") / lit(400.0), "impsalt")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),
    // weighted sampling without replacement (Efraimidis–Spirakis with
    // hash-derived u): 50 docs, weight = n_chars
    "text_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(Tables.documents(s, d), col("doc_id"),
          col("n_chars").cast("double"), 50, "ws")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),
    // per-source cap: at most 15 docs per source, lowest doc_id first
    // (the per-domain cap of a crawl pipeline)
    "text_source_cap" -> ((s, d) =>
      Sampling.stratumCap(Tables.documents(s, d), col("source"), col("doc_id"), 15)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),
    "text_quality_by_lang" -> ((s, d) =>
      TextOps.qualityByLang(Tables.documents(s, d)).orderBy(col("lang"))),
    "text_lang_id" -> ((s, d) =>
      TextOps.langId(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // the stage's evaluation artifact: labeled-vs-guessed confusion
    // matrix — the first table anyone asks for before trusting a
    // classifier gate in the curation pipeline
    "text_lang_confusion" -> ((s, d) =>
      TextOps.langId(Tables.documents(s, d))
        .groupBy(col("labeled_lang"), col("guessed_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("labeled_lang"), col("guessed_lang"))),
    // chance-corrected agreement: Cohen's κ between the label and the
    // guess — (N·Σn_ii − Σr_i·c_i) / (N² − Σr_i·c_i), every moment an
    // exact integer, ONE final division. Accuracy alone overstates a
    // gate whose classes are imbalanced; κ is the number reviewers ask
    // for next to the confusion matrix
    "text_lang_kappa" -> ((s, d) => {
      val cm = TextOps.langId(Tables.documents(s, d))
        .groupBy(col("labeled_lang"), col("guessed_lang"))
        .agg(count(lit(1)).as("n"))
      val agree = cm.filter(col("labeled_lang") === col("guessed_lang"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_agree"))
      val marg = cm.groupBy(col("labeled_lang")).agg(sum(col("n")).as("r"))
        .join(cm.groupBy(col("guessed_lang")).agg(sum(col("n")).as("c")),
          col("labeled_lang") === col("guessed_lang"))
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("s_rc"))
      val tot = cm.agg(sum(col("n")).as("nn"))
      agree.crossJoin(marg).crossJoin(tot)
        .select(col("nn").as("n_docs"),
          round((col("nn") * col("n_agree") - col("s_rc")).cast("double") /
            (col("nn") * col("nn") - col("s_rc")).cast("double"), 4).as("kappa"))
    }),
    // markup extraction over a deterministic HTML wrapper exercising
    // every rule: script block (with attrs + entity soup) dropped
    // content-wise, tags stripped, entities decoded in safe order
    // (&amp; last), whitespace collapsed. Certified via hash + length
    "text_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 &amp;&amp; 2;\nvar y;</script>" +
          "<style>p { color: red }</style></head><body><h1>Doc</h1><p>"),
        col("text"),
        lit(" &amp; &lt;tail&gt; &quot;q&#39;</p></body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.stripMarkup(html).as("extracted"))
        .select(col("doc_id"), md5(col("extracted")).as("extract_hash"),
          length(col("extracted")).as("n_extract_chars"))
        .orderBy(col("doc_id"))
    }),
    "text_fingerprints" -> ((s, d) =>
      TextOps.fingerprints(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "text_quality_scores" -> ((s, d) =>
      TextOps.qualityScores(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "text_token_regex" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextOps.tokensRegex(col("text"))).as("n_regex_tokens"))
        .orderBy(col("doc_id"))),
    // context-window chunking (32-token windows, stride 24); chunk
    // content certified via md5 so the gate hashes stay compact
    "text_chunks" -> ((s, d) =>
      TextOps.chunks(Tables.documents(s, d), 32, 24)
        .select(col("doc_id"), col("chunk_start"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_start"))),
    // non-overlapping 32-token chunks packed into ≤128-token sequences
    "text_packed_sequences" -> ((s, d) =>
      TextOps.packChunks(TextOps.chunks(Tables.documents(s, d), 32, 32), 128)
        .orderBy(col("doc_id"), col("seq_id"))),
    "text_tfidf" -> ((s, d) =>
      TextOps.tfidf(Tables.documents(s, d), 3).orderBy(col("doc_id"), col("rank"))),
    // exact top-fraction quality cut via the tiny score histogram — no
    // global window; threshold broadcasts back as a map-only filter
    "text_quality_filter" -> ((s, d) =>
      TextOps.qualityFilter(Tables.documents(s, d), 0.5).orderBy(col("doc_id"))),
    // deterministic md5-prefix split: same doc_id → same side, forever
    "text_sample_split" -> ((s, d) =>
      Sampling.trainEvalSplit(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("doc_id"), 0.8, "graft")
        .orderBy(col("doc_id"))),
    "text_repetition" -> ((s, d) =>
      TextOps.repetitionScores(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "text_length_quantiles" -> ((s, d) =>
      TextOps.lengthQuantiles(Tables.documents(s, d)).orderBy(col("lang"))),
    // the third sketch beside HLL/CMS: a mergeable equi-width
    // histogram quantile sketch — one pass, O(keys × bins) state,
    // bin-width-bounded error, interpolated estimates
    "text_quantile_sketch" -> ((s, d) =>
      graft.ops.Quantiles.estimateFromSketch(
          graft.ops.Quantiles.histogramSketch(
            Tables.documents(s, d), Seq("lang"), "n_chars", 0.0, 640.0, 64),
          Seq("lang"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99))
        .orderBy(col("lang"), col("q"))),
    // the NATIVE histogram-quantile aggregate (third native sketch
    // beside hll_distinct/kmv_distinct): nBins longs of state per
    // group, exact-integer merges, the identical clamp/select/
    // interpolate arithmetic — shares the frame path's oracle verbatim
    "text_quantile_native" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(graft.functions.HistQuantiles.histQuantiles(
          col("n_chars").cast("double"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99)).as("ests"))
        .select(col("lang"), posexplode(col("ests")).as(Seq("pos", "q_est")))
        .select(col("lang"),
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos") + 1).as("q"),
          col("q_est"))
        .orderBy(col("lang"), col("q"))),
    // the shard-merge path: per-(lang, source) partial sketches summed
    // to per-lang counts must estimate IDENTICALLY (integer addition
    // is exact and associative) — same oracle row as the direct path
    "text_quantile_sketch_merged" -> ((s, d) => {
      val parts = graft.ops.Quantiles.histogramSketch(
        Tables.documents(s, d), Seq("lang", "source"), "n_chars", 0.0, 640.0, 64)
      graft.ops.Quantiles.estimateFromSketch(
          parts.groupBy(col("lang"), col("bin")).agg(sum(col("cnt")).as("cnt")),
          Seq("lang"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99))
        .orderBy(col("lang"), col("q"))
    }),
    // distributed prefix scan (per-partition cumsum + broadcast
    // offsets) must equal the oracle's single global running sum
    "text_shard_assignments" -> ((s, d) =>
      TextOps.shardAssignments(Tables.documents(s, d), 4096)
        .orderBy(col("doc_id"))),
    // statistical-aggregate zoo: per-lang regression of char length on
    // token count (corr/covar/regr_* are exact one-pass aggregates in
    // both engines; only the tiny per-lang result crosses the shuffle)
    "text_lang_regression" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("n_chars").cast("double").as("y"),
          size(split(col("text"), " ")).cast("double").as("x"))
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          round(corr(col("y"), col("x")), 4).as("corr_yx"),
          round(covar_samp(col("y"), col("x")), 4).as("covar_yx"),
          round(expr("regr_slope(y, x)"), 4).as("slope"),
          round(expr("regr_intercept(y, x)"), 4).as("intercept"))
        .orderBy(col("lang"))),
    // per-lang vocabulary size, exact (the HLL sketch path is pinned
    // to this exact aggregate in OpsSpec within tolerance)
    "text_vocab_stats" -> ((s, d) =>
      TextOps.withTokens(Tables.documents(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("lang"), explode(col("words")).as("word"))
        .groupBy(col("lang")).agg(
          countDistinct(col("word")).as("n_vocab"),
          count(lit(1)).as("n_tokens"))
        .orderBy(col("lang"))),
    // per-stratum rates rebalance the corpus; es/fr absent from the
    // rate map → dropped, exercising the unknown-stratum contract
    "text_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"), stratRates, "strat")
        .orderBy(col("doc_id"))),
    // eval-leak check: heldout docs sharing a near-dup fingerprint
    // (min-md5 of 3-gram shingles) with any train doc
    "text_split_contamination" -> ((s, d) =>
      Sampling.splitContamination(
        TextOps.fingerprints(Tables.documents(s, d)), "fingerprint", 0.8, "graft")
        .orderBy(col("doc_id"))),
    // bucketed-layout co-located join: both sides written hash-clustered
    // and sorted on custkey (the shuffle is paid once, at write), then
    // joined exchange-free; certified against the plain-join oracle —
    // the layout must be invisible in the result
    "store_bucketed_join" -> ((s, d) => {
      val out = withTempDir("graft-bucketed") { base =>
        val o = graft.sources.Bucketing.writeBucketed(
          Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
          s"$base/orders", "graft_bkt_orders", "o_custkey", 8)
        val c = graft.sources.Bucketing.writeBucketed(
          Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          s"$base/customer", "graft_bkt_customer", "c_custkey", 8)
        o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("total_price"))
      }
      graft.sources.Bucketing.drop(s, "graft_bkt_orders")
      graft.sources.Bucketing.drop(s, "graft_bkt_customer")
      out.orderBy(col("c_mktsegment"))
    }),
    // hive-partitioned layout round-trip: write partitioned by lang,
    // read back one partition (pruned at planning time) and aggregate;
    // certified against the plain filtered aggregate
    "store_partitioned_scan" -> ((s, d) =>
      withTempDir("graft-partitioned") { base =>
        graft.sources.Bucketing.writePartitioned(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          s"$base/docs", "lang")
        s.read.parquet(s"$base/docs").filter(col("lang") === "de")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      }.orderBy(col("source"))),
    // range-clustered compaction round-trip: the layout (disjoint
    // per-file key ranges + parquet min/max stats) must be invisible
    // to a range query's result
    "store_sorted_scan" -> ((s, d) =>
      withTempDir("graft-sorted") { base =>
        graft.sources.Bucketing.writeSorted(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          s"$base/docs", "n_chars", numFiles = 8)
        s.read.parquet(s"$base/docs")
          .filter(col("n_chars").between(200, 400))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      }.orderBy(col("lang"))),
    // Z-order layout round trip: cluster on (doc_id, n_chars), filter on
    // BOTH dims after readback — the layout must be result-invisible
    "store_zorder_scan" -> ((s, d) =>
      withTempDir("graft-zorder") { base =>
        graft.sources.Bucketing.writeZOrdered(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          s"$base/docs", "doc_id", "n_chars", numFiles = 8)
        s.read.parquet(s"$base/docs")
          .filter(col("doc_id") % 2 === 0 && col("n_chars").between(100, 500))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
      }.orderBy(col("lang"))),
    // SCD2 history via the INCREMENTAL merge path: build on the early
    // change slice, merge the late slice (touched keys replay, untouched
    // pass through) — must equal the oracle's FULL rebuild over all
    // changes, certifying merge(build(early), late) ≡ build(early ∪ late)
    "store_scd2_merge" -> ((s, d) => {
      val ch = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderdate").cast("date").as("valid_from"),
        col("o_orderkey"), col("o_orderstatus").as("status"))
      val early = ch.filter(col("valid_from") < lit("1997-01-01"))
      val late = ch.filter(col("valid_from") >= lit("1997-01-01"))
      graft.ops.Scd2.merge(
        graft.ops.Scd2.build(early, "o_custkey", "valid_from", "o_orderkey"),
        late, "o_custkey", "valid_from", "o_orderkey")
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    }),
    // dynamic partition overwrite: rewriting one partition's rows must
    // replace EXACTLY the partitions the batch touches (static mode
    // would clobber the whole table; append would duplicate) — the
    // partition-level upsert every hive-layout pipeline relies on
    "store_dynamic_overwrite" -> ((s, d) => withTempDir("graft-dynpart") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"), col("o_orderstatus"))
      o.write.partitionBy("o_orderstatus").parquet(s"$base/t")
      o.filter(col("o_orderstatus") === "F")
        .withColumn("cents", col("cents") + 7)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(s"$base/t")
      s.read.parquet(s"$base/t")
        .select(col("o_orderkey"), col("o_custkey"), col("cents"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),
    // time travel over the SCD2 history: the snapshot at an as-of date
    // is a pure interval-cover filter (partition-prunable at scale),
    // not a window — zero-length same-day intervals excluded
    "store_scd2_asof" -> ((s, d) => {
      val ch = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderdate").cast("date").as("valid_from"),
        col("o_orderkey"), col("o_orderstatus").as("status"))
      graft.ops.Scd2.pointInTime(
        graft.ops.Scd2.build(ch, "o_custkey", "valid_from", "o_orderkey"),
        "valid_from", lit("1997-06-15").cast("date"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    }),
    // incrementally maintained aggregate view: base build + two delta
    // merges (cost ∝ delta) must equal the oracle's one-shot GROUP BY
    // over all orders. The measure is summed as integer CENTS — an
    // incremental view adds in a different order than a rebuild, so the
    // summed domain must be exact (float addition isn't associative)
    // incremental JOIN-view refresh: the stored pre-batch view plus
    // the three-arm delta (dA⋈B ∪ A⋈dB ∪ dA⋈dB) must equal the full
    // rebuild over the unioned sides — refresh cost ∝ delta, the rule
    // that keeps a denormalized view refreshable at 100 TB
    "store_incr_join" -> ((s, d) => {
      val a = Tables.orders(s, d).select(col("o_custkey").as("custkey"),
        col("o_orderkey"), round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      val b = Tables.customer(s, d).select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      val (aOld, aDelta) = (a.filter(col("o_orderkey") % 4 =!= 0),
        a.filter(col("o_orderkey") % 4 === 0))
      val (bOld, bDelta) = (b.filter(col("custkey") % 3 =!= 0),
        b.filter(col("custkey") % 3 === 0))
      aOld.join(bOld, Seq("custkey"))
        .unionByName(graft.ops.IncrView.joinDelta(aOld, bOld, aDelta, bDelta, Seq("custkey")))
        .orderBy(col("o_orderkey"))
    }),
    "store_incr_agg" -> ((s, d) => {
      val orders = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      val base = orders.filter(col("o_orderkey") % 4 =!= 0)
      val d1 = orders.filter(col("o_orderkey") % 8 === 0)
      val d2 = orders.filter(col("o_orderkey") % 4 === 0 && col("o_orderkey") % 8 =!= 0)
      val merged = graft.ops.IncrView.merge(
        graft.ops.IncrView.merge(
          graft.ops.IncrView.build(base, Seq("o_custkey"), col("cents")),
          d1, Seq("o_custkey"), col("cents")),
        d2, Seq("o_custkey"), col("cents"))
      merged.select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"))
        .orderBy(col("o_custkey"))
    }),
    // small-file compaction: a 40-fragment write folded to few files
    // with coalesce (no shuffle); content must survive exactly
    "store_compacted_scan" -> ((s, d) => withTempDir("graft-compact") { base =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      o.repartition(40).write.parquet(s"$base/frag")
      graft.sources.Bucketing.compactFiles(s, s"$base/frag", s"$base/out", 1L << 20)
      s.read.parquet(s"$base/out").orderBy(col("o_orderkey"))
    }),
    // file-level min/max data skipping: range-clustered write + one
    // stats-build scan → a planning-time index probe reads ONLY the
    // overlapping files; pruning must be result-invisible vs the
    // oracle's full-table filter (the spec asserts the file list
    // actually shrank)
    "store_fileskip_scan" -> ((s, d) => withTempDir("graft-fileskip") { base =>
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
      graft.sources.Bucketing.writeSorted(o, s"$base/orders", "o_orderkey", numFiles = 16)
      graft.sources.FileSkip.buildStats(s, s"$base/orders", Seq("o_orderkey"))
      graft.sources.FileSkip.scanPruned(s, s"$base/orders", "o_orderkey", 1000L, 4000L)
        .orderBy(col("o_orderkey"))
    }),
    // equality-predicate file skipping via the per-file bloom index:
    // the layout is clustered by o_orderkey, so min/max stats on
    // o_custkey span the domain per file — the bloom side table still
    // prunes the point lookup to the files actually holding the key,
    // and the exact filter after makes pruning result-invisible
    "store_bloomskip_scan" -> ((s, d) => withTempDir("graft-bloomskip") { base =>
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
      graft.sources.Bucketing.writeSorted(o, s"$base/orders", "o_orderkey", numFiles = 32)
      graft.sources.FileSkip.buildBloom(s, s"$base/orders", "o_custkey")
      graft.sources.FileSkip.scanPrunedEq(s, s"$base/orders", "o_custkey", 42L)
        .orderBy(col("o_orderkey"))
    }),
    // the graft-segment DataSource V2 connector (sources/segment/): the
    // FileSkip idea moved INSIDE the planner — orders written through
    // the native table format with range clustering demanded by the
    // write (RequiresDistributionAndOrdering), read back through the
    // connector with the filter PUSHED (SupportsPushDownFilters) so
    // whole segments prune against manifest zone maps before any task
    // launches; every filter stays residual, so the answer is provably
    // the plain relational one (skip counts asserted in
    // SegmentSourceSpec, correctness certified here)
    "store_segment_roundtrip" -> ((s, d) => withTempDir("graft-segrt") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d).write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "16")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("o_orderkey").between(1000L, 4000L) && col("o_orderstatus") =!= "P")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),
    // timestamp zone maps on the DSv2 path: clustering by o_orderdate
    // makes each segment a contiguous date slice, the pushed range
    // predicate prunes to ~1/7 of the table, and the surviving rows
    // aggregate to exact integer cents — pruning must be
    // result-invisible under a GROUP BY, not just a row scan
    "store_segment_dates" -> ((s, d) => withTempDir("graft-segdates") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderdate"), round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderdate").option("numPartitions", "16")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("o_orderstatus"))
    }),
    // metadata-only aggregates on the DSv2 path: global COUNT(*) /
    // COUNT(col) / MIN / MAX pushed into the connector
    // (SupportsPushDownAggregates + LocalScan) are answered from the
    // manifest on the DRIVER — zero data files opened, zero tasks.
    // The oracle computes the same aggregates from the rows, so this
    // row certifies the manifest stats are EXACT, not estimates
    "store_segment_agg_meta" -> ((s, d) => withTempDir("graft-segagg") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .agg(count(lit(1)).as("n_rows"), count(col("o_custkey")).as("n_cust"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
          min(col("o_orderstatus")).as("min_status"), max(col("o_orderstatus")).as("max_status"))
    }),
    // the storage-partitioned join through the graft CATALOG: orders
    // and customer land in co-bucketed segment tables (declared layout
    // `bucket(8, custkey)`, preserved by plain INSERTs), and the join
    // plans with ZERO exchanges — both sides' KeyGroupedPartitioning
    // matches, so Spark aligns buckets instead of shuffling 100 TB
    // (exchange-free plan asserted in GraftCatalogSpec; this row
    // certifies the aligned join's RESULTS against the plain oracle)
    "store_segment_spj_join" -> ((s, d) => withTempDir("graft-spj") { base =>
      // a FRESH catalog name per invocation: Spark instantiates catalog
      // plugins once per name, so re-running in one session (bench
      // warm-up, scale probes) must not reuse a stale warehouse
      val cat = s"graft_spj_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      val olds = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
      try {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        Tables.orders(s, d).createOrReplaceTempView("graft_spj_orders_src")
        Tables.customer(s, d).createOrReplaceTempView("graft_spj_customer_src")
        s.sql(s"CREATE TABLE $cat.db.o (o_custkey BIGINT, cents BIGINT) " +
          "PARTITIONED BY (bucket(8, o_custkey))")
        s.sql(s"INSERT INTO $cat.db.o SELECT o_custkey, " +
          "CAST(round(o_totalprice * 100, 0) AS BIGINT) FROM graft_spj_orders_src")
        s.sql(s"CREATE TABLE $cat.db.c (c_custkey BIGINT, c_mktsegment STRING) " +
          "PARTITIONED BY (bucket(8, c_custkey))")
        s.sql(s"INSERT INTO $cat.db.c SELECT c_custkey, c_mktsegment " +
          "FROM graft_spj_customer_src")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.sql(
          s"""SELECT c.c_mktsegment, count(*) AS n_orders, sum(o.cents) AS sum_cents
            |FROM $cat.db.o o JOIN $cat.db.c c ON o.o_custkey = c.c_custkey
            |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
          .localCheckpoint(true)
      } finally olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),
    // additive schema evolution on the table format: a first commit
    // without `cents`, a mergeSchema append WITH it — the widened
    // table null-backfills the pre-evolution segments (per-segment
    // column lists in the manifest; readers map by name). Same
    // contract as store_schema_merge, native to the connector
    "store_segment_evolve" -> ((s, d) => withTempDir("graft-segevo") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 2 === 0).select(col("o_orderkey"), col("o_custkey"))
        .write.format("graft-segment").mode("append").save(dir)
      o.filter(col("o_orderkey") % 2 =!= 0)
        .write.format("graft-segment").option("mergeSchema", "true")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    }),
    // DELETE on the table format (the rewrite path: row-exact with SQL
    // semantics — null-condition rows survive; the metadata-only
    // whole-segment path is spec-certified with boundary-aligned
    // predicates in SegmentSourceSpec)
    "store_segment_delete" -> ((s, d) => withTempDir("graft-segdel") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.deleteRows(s, dir,
        col("o_orderkey") % 7 === 0 || col("cents") > 20000000L)
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    }),
    // DELETION VECTORS (merge-on-read DELETE): the same shape as
    // store_segment_delete but via position bitmaps — no segment file
    // is rewritten; two successive DELETEs certify the bitmap union.
    // At 100 TB this is the GDPR tier: write cost ∝ matched rows, the
    // read-side filter runs inside the vectorized decode loop, and the
    // next compact() materializes the vectors away
    "store_segment_dv" -> ((s, d) => withTempDir("graft-segdv") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("o_orderkey") % 7 === 0)
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("cents") > 20000000L)
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    }),
    // merge-on-read UPDATE (updateMark): scattered point updates mark
    // old row versions in deletion vectors and append the new versions
    // in ONE commit — cost ∝ matched ROWS, not matched segments (the
    // group-based copy-on-write UPDATE rewrites whole segments)
    "store_segment_dv_update" -> ((s, d) => withTempDir("graft-segdvu") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.updateMark(s, dir,
        col("o_orderkey") % 5 === 0, Map("cents" -> (col("cents") + 7L)))
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    }),
    // Z-ORDER compaction on the native format (OPTIMIZE ZORDER BY):
    // interleaved-bit clustering keeps zone maps selective for
    // predicates on EITHER dimension — here the two-sided filter on
    // (doc_id, n_chars) after a rewrite that lexicographic clustering
    // could only serve for its leading key. dataChange=false: the
    // rewrite is invisible to streams and the change feed
    "store_segment_zorder" -> ((s, d) => withTempDir("graft-segzorder") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance
        .compactZOrder(s, dir, Seq("doc_id", "n_chars"), numPartitions = 8)
      s.read.format("graft-segment").load(dir)
        .filter(col("doc_id") % 2 === 0 && col("n_chars").between(100, 500))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),
    // per-segment BLOOM pruning on the native format: o_custkey is
    // scattered relative to the o_orderkey clustering, so zone maps
    // see full-range bounds in every segment — the manifest bloom is
    // what lets a customer point-lookup skip segments at the driver.
    // Pruning is semantics-free (all filters residual); this row
    // certifies the answer, SegmentSourceSpec certifies the skipping
    "store_segment_bloom" -> ((s, d) => withTempDir("graft-segbloom") { base =>
      val dir = s"$base/t"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "16")
        .option("bloomFor", "o_custkey,o_orderstatus")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("o_custkey").isin(7L, 731L, 1301L))
        .orderBy(col("o_orderkey"))
    }),
    // non-additive schema evolution via COLUMN MAPPING (physical names
    // frozen at first commit): RENAME and DROP are metadata-only
    // manifest commits — no data rewrite at any table size — and a
    // re-added name never collides with its retired physical. Old rows
    // read under the new names; the dropped-then-readded column
    // null-backfills for them. The oracle replays the LOGICAL outcome
    "store_segment_rename" -> ((s, d) => withTempDir("graft-segren") { base =>
      val dir = s"$base/t"
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      Tables.orders(s, d).select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"),
          col("o_orderstatus").as("status"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "4")
        .mode("append").save(dir)
      graft.sources.segment.SegmentLog.renameColumn(fs, dir, "cents", "price_cents")
      graft.sources.segment.SegmentLog.dropColumn(fs, dir, "status")
      graft.sources.segment.SegmentLog.addColumn(fs, dir,
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.StringType))
      Tables.orders(s, d)
        .select((col("o_orderkey") + 10000000L).as("k"),
          (round(col("o_totalprice") * 100.0, 0).cast("long") + 1L).as("price_cents"),
          lit("NEW").as("status"))
        .filter(col("k") % 3 === 0)
        .write.format("graft-segment").mode("append").save(dir)
      s.read.format("graft-segment").load(dir).orderBy(col("k"))
    }),
    // row-level CHANGE FEED from manifest diffs (the batch CDC face of
    // the format): appends are inserts, a rewrite's replaced segments
    // are deletes + its output inserts (copy-on-write granularity —
    // unchanged rows in rewritten segments appear as equal-valued
    // delete+insert pairs), compaction contributes nothing. The oracle
    // replays every commit's closed form; the mid-sequence compact
    // must be INVISIBLE in the feed for the hashes to match
    "store_segment_changes" -> ((s, d) => withTempDir("graft-segchg") { base =>
      val dir = s"$base/t"
      val src = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      def put(pred: org.apache.spark.sql.Column): Unit =
        src.filter(pred).write.format("graft-segment")
          .option("clusterBy", "k").option("numPartitions", "4")
          .mode("append").save(dir)
      put(col("k") % 3 === 0)                                             // v0
      put(col("k") % 3 === 1)                                             // v1
      graft.sources.segment.GraftMaintenance.deleteRows(s, dir, col("k") % 5 === 0) // v2
      graft.sources.segment.GraftMaintenance.compact(s, dir, "k", 2)      // v3: no feed rows
      put(col("k") % 3 === 2)                                             // v4
      graft.sources.segment.GraftMaintenance.changes(s, dir, 0)
        .orderBy(col("_commit_version"), col("_change_type"), col("k"))
    }),
    // MERGE INTO on the table format (group-based copy-on-write): a
    // delta of updates/deletes/inserts lands through Spark's row-level
    // framework — the scan runtime-filters to segments holding matched
    // rows via the _segment metadata column, untouched segments pass
    // by reference, one manifest commit swaps the rest. Oracle = the
    // three-branch relational reconstruction over the same inputs
    "store_segment_merge" -> ((s, d) => withTempDir("graft-segmrg") { base =>
      val cat = s"graft_mrg_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      Tables.orders(s, d).createOrReplaceTempView("graft_mrg_orders_src")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8')")
      s.sql(s"INSERT INTO $cat.db.t SELECT o_orderkey, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) FROM graft_mrg_orders_src " +
        "WHERE o_orderkey % 3 = 0")
      s.sql("CREATE OR REPLACE TEMP VIEW graft_mrg_delta AS " +
        "SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) + 11 AS cents, " +
        "CASE WHEN o_orderkey % 4 = 0 THEN 'D' ELSE 'U' END AS op " +
        "FROM graft_mrg_orders_src WHERE o_orderkey % 2 = 0")
      s.sql(
        s"""MERGE INTO $cat.db.t t USING graft_mrg_delta s ON t.k = s.k
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET cents = s.cents
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, cents) VALUES (s.k, s.cents)
          |""".stripMargin)
      s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k").localCheckpoint(true)
    }),
    // TPC-H Q3 run END-TO-END ON the native table format: the three
    // star tables loaded into range-clustered segment tables, the
    // shipped query executed against the connector — scan pruning,
    // residual filters, broadcast planning and codegen all compose
    // under a real multi-join plan, and the answer must hash-match the
    // same oracle the parquet-path rel_q3_top_revenue certifies
    // against. "A user could run their queries on the native format",
    // stated as a gate row
    "store_segment_q3" -> ((s, d) => withTempDir("graft-segq3") { base =>
      def toSeg(df: DataFrame, name: String, key: String): DataFrame = {
        val dir = s"$base/$name"
        df.write.format("graft-segment")
          .option("clusterBy", key).option("numPartitions", "8")
          .mode("append").save(dir)
        s.read.format("graft-segment").load(dir)
      }
      StarQueries.q3TopRevenue(
        toSeg(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          "customer", "c_custkey"),
        toSeg(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_orderdate")),
          "orders", "o_orderkey"),
        toSeg(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount")), "lineitem", "l_orderkey"),
        10)
    }),
    // ORDER BY cluster-key LIMIT pushed into the connector
    // (SupportsPushDownTopN): strict non-overlapping range segments
    // mean the key-ordered covering prefix provably CONTAINS the true
    // top-N — one segment planned for a tail probe (plan cut asserted
    // in spec; exactness certified here against the plain oracle)
    "store_segment_topn" -> ((s, d) => withTempDir("graft-segtopn") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "16")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .orderBy(col("o_orderkey").desc).limit(25)
    }),
    // incremental consumption (the batch face of the streaming
    // source's offset): `sinceVersion` reads exactly the rows
    // committed after a version over an append-only range — the
    // downstream-ETL "what's new since my last run" primitive,
    // composed here with a metadata-free aggregate over the increment
    "store_segment_incremental" -> ((s, d) => withTempDir("graft-seginc") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      Seq(0, 1, 2).foreach(i => o.filter(col("o_orderkey") % 3 === i)
        .write.format("graft-segment").mode("append").save(dir)) // v0, v1, v2
      s.read.format("graft-segment").option("sinceVersion", "0").load(dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_new"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("o_custkey"))
    }),
    // table-format time travel: every committed version stays readable
    // (`versionAsOf`), so the same query replays against v0 after an
    // append created v1 — the audit/debug primitive of the log design.
    // Certified as data: per-version count+sum must equal the oracle's
    // reconstruction of each snapshot
    "store_segment_time_travel" -> ((s, d) => withTempDir("graft-segtt") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 3 === 0).write.format("graft-segment")
        .mode("append").save(dir) // version 0
      o.filter(col("o_orderkey") % 3 =!= 0).write.format("graft-segment")
        .mode("append").save(dir) // version 1
      Seq(0, 1).map { v =>
        s.read.format("graft-segment").option("versionAsOf", v.toString).load(dir)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy(col("version"))
    }),
    // TIMESTAMP AS OF: manifests carry a monotonized commit wall-clock
    // (SegmentLog.commitTimestamp), and binding picks the newest
    // retained version committed at or before t — each commit's own
    // stamp must therefore replay that commit's snapshot exactly (the
    // Delta/Iceberg time-denominated audit query). The SQL face is
    // loadTable(ident, timestamp) via the graft catalog; this row
    // certifies the read-option face on the same binder
    "store_segment_time_travel_ts" -> ((s, d) => withTempDir("graft-segttts") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 3 === 0).write.format("graft-segment")
        .mode("append").save(dir) // version 0
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      val ts0 = graft.sources.segment.SegmentLog.read(fs, dir).get.ts
      o.filter(col("o_orderkey") % 3 =!= 0).write.format("graft-segment")
        .mode("append").save(dir) // version 1 (strictly later stamp)
      val ts1 = graft.sources.segment.SegmentLog.read(fs, dir).get.ts
      Seq((0, ts0), (1, ts1)).map { case (snap, t) =>
        s.read.format("graft-segment").option("timestampAsOf", t.toString).load(dir)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          .select(lit(snap).as("snap"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy(col("snap"))
    }),
    // RESTORE / rollback recovery: build v0 (partial) → v1 (full) →
    // v2 (merge-on-read DELETE), then CALL-style rollback to v1. The
    // latest read must replay the FULL pre-delete table (phase 1), and
    // history stays forward — `versionAsOf 2` still reads the deleted
    // state across the rollback (phase 0). One metadata commit, no
    // data rewritten at any table size (SegmentLog.rollback)
    "store_segment_rollback" -> ((s, d) => withTempDir("graft-segrb") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 3 === 0).write.format("graft-segment")
        .mode("append").save(dir) // version 0
      o.filter(col("o_orderkey") % 3 =!= 0).write.format("graft-segment")
        .mode("append").save(dir) // version 1
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("o_orderkey") % 5 === 0) // version 2: DV-marked DELETE
      val (v, _, _) = graft.sources.segment.GraftMaintenance.rollback(s, dir, 1L)
      assert(v == 3L, s"rollback committed version $v, expected 3")
      val atV2 = s.read.format("graft-segment").option("versionAsOf", "2").load(dir)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(0).as("phase"), col("n_rows"), col("sum_cents"))
      val restored = s.read.format("graft-segment").load(dir)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(1).as("phase"), col("n_rows"), col("sum_cents"))
      atV2.unionByName(restored).orderBy(col("phase"))
    }),
    // schema evolution on the read path: files written before a column
    // existed merge with later files, the missing column null-backfilled
    // (mergeSchema reconciles footers at planning time — at 100 TB pin
    // the merged schema explicitly instead of paying a footer read per
    // file; semantics certified here are identical either way)
    "store_schema_merge" -> ((s, d) => withTempDir("graft-schema-evo") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .write.parquet(s"$base/t/v1")
      o.filter(col("o_orderkey") % 2 =!= 0).write.parquet(s"$base/t/v2")
      s.read.option("mergeSchema", "true").option("recursiveFileLookup", "true")
        .parquet(s"$base/t")
        .orderBy(col("o_orderkey"))
    }),
    // declarative expectations over the star schema: two constraints
    // that genuinely fail on this data (duplicate lineitem keys, price
    // cap) and two that hold (not-null, referential) — the report
    // certifies both directions
    "store_constraints" -> ((s, d) => {
      import graft.ops.Expect
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      Expect.report(Seq(
        "lineitem_key_unique" ->
          Expect.uniqueViolations(li, Seq("l_orderkey", "l_linenumber")),
        "orders_custkey_not_null" -> Expect.notNullViolations(o, "o_custkey"),
        "orders_price_cap" ->
          Expect.predicateViolations(o, col("o_totalprice") <= 400000.0),
        "orders_customer_fk" ->
          Expect.fkViolations(o, Tables.customer(s, d), "o_custkey", "c_custkey")))
        .orderBy(col("check_name"))
    }),
    // one-pass column profile of the orders table (exact distincts;
    // the Hll swap is the documented scale path)
    "store_profile" -> ((s, d) =>
      graft.ops.Profile.profile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("col_name"))),
    // snapshot diff: recover the change set between two table versions
    // (removed k%5, changed price on k%3 of the survivors, added
    // shifted keys for k%11) — change-proportional output, null-safe
    // compare
    "store_table_diff" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      val neu = o.filter(col("k") % 5 =!= 0)
        .select(col("k"),
          when(col("k") % 3 === 0, col("cents") + 7L).otherwise(col("cents")).as("cents"))
        .union(o.filter(col("k") % 11 === 0)
          .select((col("k") + 10000000L).as("k"), col("cents")))
      graft.ops.Diff.snapshotDiff(o, neu, Seq("k"), Seq("cents"))
        .select(col("k").as("o_orderkey"), col("change_type"))
        .orderBy(col("o_orderkey"))
    }),
    // PSI drift between the store_table_diff versions: removed k%5
    // rows + shifted k%3 prices move the banded totalprice shape;
    // per-band terms on exact counts, add-one smoothed
    "store_drift_psi" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val neu = o.filter(col("k") % 5 =!= 0)
        .select(col("k"),
          when(col("k") % 3 === 0, col("p") + 50000.0).otherwise(col("p")).as("p"))
      graft.ops.Drift.psi(o, neu, "p", width = 50000.0, nBands = 10)
        .orderBy(col("band"))
    }),
    // exact two-sample KS statistic, banding-free beside PSI: the
    // distributed prefix scan (range partitions + P-row offsets) keeps
    // the CDF off a single-partition window; discrepancy compared as
    // the integer |cumA·nB − cumB·nA|, ONE final division
    "store_drift_ks" -> ((s, d) => {
      val o = Tables.orders(s, d)
      graft.ops.Drift.ksStatistic(
        o.filter(col("o_orderkey") % 2 === 0), col("o_totalprice"),
        o.filter(col("o_orderkey") % 2 === 1),
        // +10000 shift below the threshold: exact in decimal AND double,
        // so the group keys replay identically in the oracle (a float
        // FACTOR would take different arithmetic paths in the engines)
        when(col("o_totalprice") < 150000, col("o_totalprice") + 10000)
          .otherwise(col("o_totalprice")))
    }),
    // Laplace-mechanism noisy counts (seeded-replay certification of
    // the MECHANISM — production swaps the salt for true randomness)
    "store_dp_counts" -> ((s, d) =>
      graft.ops.Anonymize.noisyCounts(
        Tables.customer(s, d), "c_nationkey", "dp", epsilon = 1.0)
        .orderBy(col("c_nationkey"))),
    // k-anonymity by suppression: quasi-identifier combinations
    // (nation, balance band) shared by < 5 rows are NULLed — one
    // window count + a conditional rewrite; the release-criterion
    // privacy op next to forget-cascade and PII scrub
    "store_k_anonymity" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      graft.ops.Anonymize.kAnonymize(c, Seq("c_nationkey", "bal_band"), 5)
        .orderBy(col("c_custkey"))
    }),
    // l-diversity audit over the k-anonymized release: per surviving
    // group, its size and distinct sensitive values (homogeneity-
    // attack check; the suppressed pool aggregates under NULLs)
    "store_l_diversity" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      graft.ops.Anonymize.lDiversity(
          graft.ops.Anonymize.kAnonymize(c, Seq("c_nationkey", "bal_band"), 5),
          Seq("c_nationkey", "bal_band"), "c_mktsegment")
        .orderBy(col("c_nationkey"), col("bal_band"))
    }),
    // t-closeness audit over the same release shape: per QI group,
    // total-variation distance between the group's sensitive
    // distribution and the global one (integer-exact numerators,
    // single final division — see Anonymize.tCloseness)
    "store_t_closeness" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      graft.ops.Anonymize.tCloseness(c, Seq("c_nationkey", "bal_band"), "c_mktsegment")
        .orderBy(col("c_nationkey"), col("bal_band"))
    }),
    // temporal join: every order looks up the customer's price TIER
    // version valid 30 days BEFORE the order — the event-time SCD2
    // dimension lookup; key equi-conjunct carries the join, interval
    // cover is residual, at most one version matches, facts before
    // first version keep nulls ('none')
    "store_temporal_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val tier = when(col("o_totalprice") < 100000, "bronze")
        .when(col("o_totalprice") < 300000, "silver").otherwise("gold")
      val changes = o.select(col("o_custkey").as("k"),
        col("o_orderdate").cast("date").as("vfrom"), tier.as("tier"),
        col("o_orderkey").as("tie"))
      val history = graft.ops.Scd2.build(changes, "k", "vfrom", "tie")
      val facts = o.select(col("o_orderkey"), col("o_custkey").as("k"),
        date_sub(col("o_orderdate").cast("date"), 30).as("lookup_date"))
      graft.ops.Scd2.temporalJoin(facts, history, "k", "lookup_date", "vfrom")
        .select(col("o_orderkey"), col("k"),
          coalesce(col("tier"), lit("none")).as("prior_tier"))
        .orderBy(col("o_orderkey"))
    }),
    // right-to-be-forgotten cascade: erase customers k%97==0 and
    // everything FK-reachable (their orders, those orders' lineitems);
    // the audit summary certifies before/purged/after per table
    "store_forget_cascade" -> ((s, d) =>
      graft.ops.Forget.cascade(
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey")))
        .summary.orderBy(col("tbl"))),
    // CDC apply: a synthetic ops log (insert all, update k%3, delete
    // k%7, re-insert k%21 — tombstone-then-reinsert exercised) collapsed
    // to final table state in one window pass; the surviving seq shows
    // which op won
    "store_cdc_apply" -> ((s, d) =>
      graft.ops.Cdc.apply(cdcLog(s, d), Seq("k"), "seq", "op")
        .select(col("k").as("o_orderkey"), col("seq"), col("cents"))
        .orderBy(col("o_orderkey"))),
    // time travel: the table AS OF version 3 (deletes landed, the
    // seq-4 re-inserts have not happened yet), read through the
    // checkpoint-plus-delta-tail path — checkpoint at version 2 plus
    // the (2,3] tail — while the oracle replays the FULL log to v3:
    // a green row certifies the fast read path ≡ replay semantics
    "store_time_travel" -> ((s, d) => {
      val log = cdcLog(s, d)
      val ckpt = graft.ops.Cdc.applyAt(log, Seq("k"), "seq", "op", 2L)
      graft.ops.Cdc.applyAt(log, Seq("k"), "seq", "op", 3L, 2L, ckpt)
        .select(col("k").as("o_orderkey"), col("seq"), col("cents"))
        .orderBy(col("o_orderkey"))
    }),
    // typed JSON payload extraction over the events stream table
    "events_props_stats" -> ((s, d) =>
      EventWindows.propsStats(Tables.events(s, d)).orderBy(col("event_type"))),
    // Spark 4 VariantType over semi-structured props: the raw JSON is
    // nested into a richer deterministic document, parsed ONCE to a
    // variant (binary-encoded, no schema inference pass), then probed
    // by path — nested object, array index, and a missing path
    // through try_variant_get. At 100 TB variant parse is map-only
    // and the binary encoding probes without re-tokenizing the text
    "events_props_variant" -> ((s, d) => {
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
    }),
    // frame-sampling schedule over synthetic video durations (derived
    // deterministically from n_chars so the oracle shares the input)
    "mm_frame_schedule" -> ((s, d) =>
      graft.multimodal.Multimodal.frameSchedule(
        Tables.documents(s, d).select(col("doc_id").as("media_id"),
          (col("n_chars") * lit(100L)).as("duration_ms")), 5)
        .orderBy(col("media_id"), col("frame_idx"))),

    // ----- deduplication (M4)
    "dedup_exact_groups" -> ((s, d) =>
      Dedup.exactDedupGroups(Tables.documents(s, d)).orderBy(col("content_hash"))),
    // incremental ingest: batch = every 5th doc, history = the rest
    "dedup_incremental_new" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalNew(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
        .orderBy(col("content_hash"))
    }),
    "dedup_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), 20)),
    // prefix-filtered set-similarity join (AllPairs/PPJoin): threshold
    // Jaccard pairs with NO df cap — the rare-first prefix equi-join
    // generates candidates, and the brute-force oracle certifies the
    // pigeonhole completeness claim as data
    "dedup_prefix_pairs" -> ((s, d) =>
      prefixPairsFor(s, d).orderBy(col("doc_a"), col("doc_b"))),
    // per-doc top-5 similar docs by shared-shingle count (the
    // retrieval flavor of the pair family), selected through the
    // k-bounded partial aggregate
    "text_similar_docs" -> ((s, d) =>
      Dedup.similarDocsTopK(Tables.documents(s, d), 5)
        .orderBy(col("doc_id"), col("rank"))),
    // directed doc-inside-doc containment — the asymmetric complement
    // to Jaccard (short doc quoted in a long one scores ~1 here)
    "dedup_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), 0.8)),
    "dedup_minhash_buckets" -> ((s, d) =>
      Dedup.minhashBuckets(Tables.documents(s, d), 4).orderBy(col("band"), col("signature"))),
    // end-to-end dedup DECISION: LSH buckets → connected components →
    // keeper per component (what a training-data pipeline actually runs)
    "dedup_components" -> ((s, d) =>
      componentsFor(s, d).orderBy(col("doc_id"))),
    // the two-stage pipeline: LSH candidates, exact-Jaccard verification
    "dedup_minhash_verified" -> ((s, d) =>
      Dedup.minhashVerifiedPairs(Tables.documents(s, d), 20)),
    // LSH quality as certified data: complete exact truth at t=0.8
    // (prefix-filter family, the SHARED persisted frame), banded
    // candidates under the production bucket cap, recall =
    // captured/true — emb_ann_recall's discipline
    "dedup_minhash_recall" -> ((s, d) =>
      Dedup.minhashRecall(Tables.documents(s, d), 0.8,
        truth = Some(prefixPairsFor(s, d)))),
    // the banding S-curve as data: candidate volume vs recall at 1/2/4
    // bands against the SAME persisted truth — the knob-picking table
    "dedup_banding_tradeoff" -> ((s, d) =>
      Dedup.bandingTradeoff(Tables.documents(s, d), 0.8, Seq(1, 2, 4),
          truth = Some(prefixPairsFor(s, d)))
        .orderBy(col("bands"))),
    // terminal op: the deduplicated corpus itself (keepers only),
    // applying the PRECOMPUTED component decisions — a pure semi-join
    "dedup_kept_docs" -> ((s, d) =>
      Dedup.deduplicate(Tables.documents(s, d), componentsFor(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),
    // dedup with a QUALITY policy: per near-dup component keep the
    // highest-quality member (ties → min id) — "of these duplicates,
    // keep the best copy", riding the SAME persisted component
    // decisions as dedup_kept_docs
    "dedup_best_kept_docs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val score = TextOps.qualityScores(docs)
        .select(col("doc_id"), col("quality_score"))
      Dedup.deduplicateBest(
          docs.join(score, Seq("doc_id")), componentsFor(s, d), col("quality_score"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("quality_score"))
        .orderBy(col("doc_id"))
    }),
    // the whole curation recipe as ONE certified DAG: split → quality
    // → exact dedup → LSH near-dedup → benchmark decontamination. The
    // funnel counts certify every stage BOUNDARY at once (a wrong
    // threshold, digest, band rotation or gram width moves some count)
    "pipeline_curation_counts" -> ((s, d) =>
      curationFor(s, d)._1.orderBy(col("stage_idx"))),
    // ...and the curated corpus itself — the output manifest a trainer
    // consumes, every stage's semantics replayed by the oracle chain
    "pipeline_curation_docs" -> ((s, d) =>
      curationFor(s, d)._2
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),
    // the curated ARTIFACT consumed by the next pipeline stage: chunk
    // to 32-token windows, pack into ≤128-token sequences, roll up a
    // per-language shard manifest (docs, sequences, tokens) — the
    // corpus → curation → tokenization → manifest chain a pretrain
    // data build actually ships, certified end-to-end in one oracle
    // the explainability record behind the funnel: every corpus doc
    // labeled kept / first-dropping-stage; the oracle re-derives the
    // label by membership over the same stage CTEs
    "pipeline_curation_audit" -> ((s, d) =>
      curationFor(s, d)._3.orderBy(col("doc_id"))),
    // the funnel in TOKENS — the unit a training budget is written in;
    // derived from the persisted audit (a doc survives stage k iff its
    // first-dropping stage is later), no pipeline rebuild
    "pipeline_curation_tokens" -> ((s, d) => {
      val j = curationFor(s, d)._3.join(
        Tables.documents(s, d).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        Seq("doc_id"))
      def stage(idx: Int, name: String, pred: Column) =
        j.filter(pred)
          .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("sum_tokens"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("sum_tokens"))
      stage(0, "corpus", lit(true))
        .unionByName(stage(1, "train_split", col("disposition") =!= "benchmark"))
        .unionByName(stage(2, "quality",
          !col("disposition").isin("benchmark", "quality")))
        .unionByName(stage(3, "exact_dedup",
          !col("disposition").isin("benchmark", "quality", "exact_dup")))
        .unionByName(stage(4, "near_dedup",
          !col("disposition").isin("benchmark", "quality", "exact_dup", "near_dup")))
        .unionByName(stage(5, "decontaminated", col("disposition") === "kept"))
        .orderBy(col("stage_idx"))
    }),
    "pipeline_pack_manifest" -> ((s, d) => {
      val fin = curationFor(s, d)._2
      TextOps.packChunks(TextOps.chunks(fin, 32, 32), 128)
        .join(fin.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_seqs"),
          sum(col("seq_tokens")).as("sum_tokens"))
        .orderBy(col("lang"))
    }),
    // bucket bits scale with corpus size AND are clamped to the embedding
    // dim (500 vecs → 4 bits at sf0.01, 2000 vecs → 6 bits at sf0.1, 4×
    // fewer candidate pairs). The oracle derives the SAME bit count in
    // SQL, so the pair stays hash-green at any SF. The agg is parquet-
    // metadata-cheap and keeps the knob corpus-proportional.
    "dedup_embedding_cosine" -> ((s, d) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, d), 20, embBits(s, d))),

    // ----- similarity search (M4)
    "emb_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank"))),
    "emb_cosine_topk_native" -> ((s, d) =>
      Similarity.bruteForceTopKNative(Tables.embeddings(s, d), embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank"))),
    // the SAME top-k with the corpus routed through a graft-segment
    // table: array<float> decodes on the VECTORIZED path (child-vector
    // arrays, SegmentCodec.readBatchLive) — the scan must not drop to
    // the row reader for the LLM pipeline's hottest column shape, and
    // the answer must stay bit-identical to the parquet route
    "emb_cosine_topk_segment" -> ((s, d) => withTempDir("graft-segemb") { base =>
      val dir = s"$base/emb_seg"
      Tables.embeddings(s, d).write.format("graft-segment")
        .option("clusterBy", "vec_id").option("numPartitions", "8")
        .mode("append").save(dir)
      val emb = s.read.format("graft-segment").load(dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb, queries, 10).orderBy(col("q_id"), col("rank"))
    }),
    // the SAME top-k written as SQL TEXT through the injected
    // cosine_similarity function (FunctionBridge registers it on the
    // extension-less driver session) — third bit-identical path over
    // one oracle: HOF fold, native Column API, and SQL surface
    "emb_cosine_sql" -> ((s, d) => {
      org.apache.spark.sql.graftbridge.FunctionBridge.registerFunction(
        s, graft.functions.VectorExpressions.cosineFunction)
      Tables.embeddings(s, d).createOrReplaceTempView("emb_sql_corpus")
      embQueries(s, d).createOrReplaceTempView("emb_sql_queries")
      s.sql(
        """WITH scored AS (
          |  SELECT q_id, vec_id, round(cosine_similarity(q_emb, embedding), 4) AS sim
          |  FROM emb_sql_queries CROSS JOIN emb_sql_corpus WHERE vec_id <> q_id),
          |ranked AS (
          |  SELECT q_id, vec_id, sim,
          |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT q_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
          |""".stripMargin)
        .orderBy(col("q_id"), col("rank"))
    }),
    // hard-negative mining for contrastive training: top-10 highest-
    // cosine CROSS-label neighbors per query (exact scorer certifies;
    // production swaps in the LSH/IVF candidate source — the label
    // filter commutes with candidate generation)
    "emb_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(
        Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("label").as("q_label")),
        10)
        .orderBy(col("q_id"), col("rank"))),
    // Matryoshka two-stage: coarse rank on the first 16 dims (1/4 of
    // the vector bytes), exact full-dim rerank of the top-100 — both
    // stages deterministic, the composition oracle-certified
    "emb_prefix_rerank" -> ((s, d) =>
      Similarity.prefixRerank(Tables.embeddings(s, d), embQueries(s, d), 16, 100, 10)
        .orderBy(col("q_id"), col("rank"))),
    // SQ8 scalar quantization: per-dim [min,max] affine codes (4x
    // compression), asymmetric top-k over reconstructions — codes and
    // scores bit-portable via floor(x+0.5) in fixed double order
    "emb_sq8_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val st = graft.ops.Sq.stats(emb)
      graft.ops.Sq.adcTopK(graft.ops.Sq.encode(emb, st), st, embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank"))
    }),
    // IVF routing composed with SQ8 ADC (the third quantization tier
    // next to IVF-flat and IVF-PQ): scan nprobe/k of the corpus, read
    // 1/4 of the vector bytes per candidate
    "emb_ivfsq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // the trainer's returns are already materialized and cut
      // (Ivf.index's contract) — re-checkpointing them here would copy
      // the blocks and pay an extra job per frame
      val (idx, cents) = graft.ops.Ivf.index(emb, k = 8, iters = 2)
      val st = graft.ops.Sq.stats(emb).localCheckpoint(true)
      val codes = graft.ops.Sq.encode(emb, st).localCheckpoint(true)
      val cands = graft.ops.Ivf.route(cents, embQueries(s, d), nprobe = 2)
        .join(idx, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
      graft.ops.Sq.adcTopKWithin(cands, codes, st, embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank"))
    }),
    "emb_bucket_histogram" -> ((s, d) =>
      Similarity.bucketHistogram(Tables.embeddings(s, d), 4).orderBy(col("bucket"))),
    "emb_ann_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), embQueries(s, d), 5, embBits(s, d))
        .orderBy(col("q_id"), col("rank"))),
    // multi-probe: own bucket + Hamming-1 neighbors — closes the
    // boundary-vector recall cliff of the single-probe path
    "emb_ann_multiprobe_topk" -> ((s, d) =>
      Similarity.multiProbeTopK(Tables.embeddings(s, d), embQueries(s, d), 5, embBits(s, d))
        .orderBy(col("q_id"), col("rank"))),
    // ANN EVALUATION under the oracle: recall@5 of the single-probe and
    // multi-probe LSH paths against exact brute force, per query — the
    // quality metric an index pipeline reports, and the multi-probe ≥
    // single-probe claim certified as data, not doc prose
    "emb_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = embQueries(s, d)
      val bits = embBits(s, d)
      val bf = Similarity.bruteForceTopK(emb, q, 5).select(col("q_id"), col("vec_id"))
      val single = Similarity.lshTopK(emb, q, 5, bits)
        .select(col("q_id").as("sq"), col("vec_id").as("sv"))
      val multi = Similarity.multiProbeTopK(emb, q, 5, bits)
        .select(col("q_id").as("mq"), col("vec_id").as("mv"))
      bf.join(single, col("q_id") === col("sq") && col("vec_id") === col("sv"), "left")
        .join(multi, col("q_id") === col("mq") && col("vec_id") === col("mv"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("sv")).as("hits_single"), count(col("mv")).as("hits_multi"))
        .orderBy(col("q_id"))
    }),
    // two Lloyd iterations so the centroid UPDATE path (not just the
    // seeded assignment) runs under the oracle; the DuckDB SQL mirrors
    // the full assign → float-quantized mean → re-assign chain
    "emb_ivf_assign" -> ((s, d) =>
      graft.ops.Ivf.buildIndex(Tables.embeddings(s, d), k = 8, iters = 2)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("centroid_id"))),
    // probe path: route each query to its nprobe=2 nearest centroids,
    // score only vectors in those buckets
    "emb_ivf_topk" -> ((s, d) => {
      val (idx, cents) = graft.ops.Ivf.index(Tables.embeddings(s, d), k = 8, iters = 2)
      graft.ops.Ivf.topK(idx, cents, embQueries(s, d), 10, nprobe = 2)
        .orderBy(col("q_id"), col("rank"))
    }),
    // the 100 TB kNN-GRAPH path: the exact all-pairs 5-NN edge frame
    // (knnEdgesFor) is a CERTIFICATION artifact — O(N²) by definition
    // (×100 exponent measured in BENCH_NOTES r13); production graphs
    // build edges from IVF buckets instead: every vector routes to its
    // 2 nearest centroids, candidates come from a per-bucket
    // equi-join, top-5 per source — ~nprobe·N²/nc pair evaluations,
    // O(N^1.5) with nc ∝ √N. Same (src, dst, w) contract, certified
    // exactly on its own bucketed definition; the spec pins recall vs
    // the exact frame
    "emb_knn_bucketed" -> ((s, d) =>
      graft.ops.PageRank.knnEdgesBucketed(Tables.embeddings(s, d),
        k = 5, nc = 8, iters = 2, nprobe = 2)
        .select(col("src"), col("dst"), round(col("w"), 4).as("w"))
        .orderBy(col("src"), col("dst"))),
    // the IVF knob sweep as certified data (the banding-tradeoff
    // pattern applied to nprobe): recall-vs-truth at nprobe 1/2/4
    // against the same trained index — monotone recall, paid in probed
    // buckets; the tuning table an operator reads before sizing probes
    "emb_ivf_nprobe_tradeoff" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = embQueries(s, d)
      val (idx, cents) = graft.ops.Ivf.index(emb, k = 8, iters = 2)
      val bf = Similarity.bruteForceTopK(emb, q, 5).select(col("q_id"), col("vec_id"))
      def arm(np: Int, qa: String, va: String) =
        graft.ops.Ivf.topK(idx, cents, q, 5, nprobe = np)
          .select(col("q_id").as(qa), col("vec_id").as(va))
      bf.join(arm(1, "q1", "v1"),
          col("q_id") === col("q1") && col("vec_id") === col("v1"), "left")
        .join(arm(2, "q2", "v2"),
          col("q_id") === col("q2") && col("vec_id") === col("v2"), "left")
        .join(arm(4, "q4", "v4"),
          col("q_id") === col("q4") && col("vec_id") === col("v4"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("v1")).as("hits_np1"), count(col("v2")).as("hits_np2"),
          count(col("v4")).as("hits_np4"))
        .orderBy(col("q_id"))
    }),
    // centroid-bucketed near-dup: same join shape as the sign-bucket
    // variant with learned (data-adaptive) buckets
    "dedup_embedding_ivf" -> ((s, d) =>
      graft.ops.Ivf.nearDupPairs(Tables.embeddings(s, d), 20, k = 8, iters = 2)),
    // dominant principal direction by power iteration — linear algebra
    // as relational aggregates, float-quantized iterates for parity
    // embedding drift between two corpus versions (disjoint halves by
    // vec_id parity): cosine of the float-quantized per-dimension mean
    // vectors + relative centroid shift — the encoder-change monitor
    "emb_drift_shift" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.ops.Drift.embeddingShift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 =!= 0))
    }),
    "emb_pca_power" -> ((s, d) =>
      graft.ops.Pca.powerIteration(Tables.embeddings(s, d), 2)
        .orderBy(col("dim"))),
    // common-component removal (SIF post-process): per-vector residual
    // norm after projecting out the power-iteration direction
    "emb_pca_residuals" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.Pca.residualNorms(emb, graft.ops.Pca.direction(emb, 2))
        .orderBy(col("vec_id"))
    }),
    // PageRank over the 5-NN cosine graph: graph-centrality as a
    // representativeness score (the link-graph quality prior of web
    // curation, on the similarity graph). Certification edges are the
    // quadratic brute-force kNN (oracle-replayable); at scale the edge
    // source swaps to the ANN candidates. Five float-quantized damped
    // iterations, replayed as a SQL CTE chain to hash equality
    "emb_pagerank" -> ((s, d) =>
      graft.ops.PageRank.ranks(
        knnEdgesFor(s, d).select(col("src"), col("dst")),
        damping = 0.85, iters = 5)
        .select(col("node").as("vec_id"), round(col("rank"), 8).as("pr"))
        .orderBy(col("vec_id"))),
    // personalized PageRank from a trusted seed set (label-0 vectors):
    // restart mass goes ONLY to seeds, so rank measures graph
    // proximity to the curated subset — the expand-from-seeds
    // selection primitive. Same chain discipline as emb_pagerank
    "emb_pagerank_seeded" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.PageRank.personalizedRanks(
        knnEdgesFor(s, d).select(col("src"), col("dst")),
        emb.filter(col("label") === 0).select(col("vec_id").as("node")),
        damping = 0.85, iters = 5)
        .select(col("node").as("vec_id"), round(col("rank"), 8).as("pr"))
        .orderBy(col("vec_id"))
    }),
    // similarity-WEIGHTED PageRank: the surfer follows out-edges in
    // proportion to (1+cosine)/2, so strong near-duplicate ties
    // transfer more importance than marginal neighbors
    "emb_pagerank_weighted" -> ((s, d) =>
      graft.ops.PageRank.weightedRanks(
        knnEdgesFor(s, d),
        damping = 0.85, iters = 5)
        .select(col("node").as("vec_id"), round(col("rank"), 8).as("pr"))
        .orderBy(col("vec_id"))),
    // triangle counts + local clustering coefficient over the same
    // 5-NN graph: the per-document redundancy metric (clustering ≈ 1 =
    // dense near-duplicate pocket, ≈ 0 = bridge/outlier content).
    // Degree-ordered orientation bounds the wedge frame by O(m^1.5)
    "emb_graph_clustering" -> ((s, d) =>
      graft.ops.Triangles.perNode(
        knnEdgesFor(s, d).select(col("src"), col("dst")))
        .select(col("node").as("vec_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy(col("vec_id"))),
    // embedding outlier detection: cosine-to-own-centroid z-scored
    // within each IVF cluster — the far-from-every-cluster junk filter
    // (per-cluster normalization so diffuse topics aren't mass-flagged)
    "emb_cluster_outliers" -> ((s, d) =>
      graft.ops.Ivf.clusterOutliers(Tables.embeddings(s, d), k = 8, iters = 2, topN = 20)),
    // synchronous label propagation over the same 5-NN graph: 5
    // fixed min-label-tie-break rounds (integer counts only), the
    // majority-structure community detector next to components/kcore
    "emb_communities" -> ((s, d) =>
      graft.ops.LabelProp.communities(
        knnEdgesFor(s, d).select(col("src"), col("dst")), rounds = 5)
        .select(col("node").as("vec_id"), col("community"))
        .orderBy(col("vec_id"))),
    // weighted k-core (s-core) peeling: dense near-duplicate pocket
    // extraction — planted 7-cliques (6 near-copies of every 25th
    // vector) keep ~6 of similarity mass per member and survive τ=4.5;
    // the ~0.3-weight background cascades away. Fixpoint via O(1)
    // driver probes; the oracle replays 5 monotone rounds (≥ depth)
    "emb_weighted_core" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = (1 to 6).map { j =>
        emb.filter(col("vec_id") % 25 === 0).select(
          (col("vec_id") + lit(100000L * j)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.0 + j / 100.0)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      }.reduce(_ unionByName _)
      graft.ops.KCore.weightedCore(
        // input materialized once like the bucketed twin: both sides
        // of the n² similarity cross-join otherwise re-derive the
        // union+synthetic-copies frame
        graft.ops.KCore.knnSimEdges(
          emb.unionByName(copies).localCheckpoint(true), 5), 4.5)
        .select(col("node").as("vec_id"), round(col("wd"), 4).as("core_weight"))
        .orderBy(col("vec_id"))
    }),
    // the AT-SCALE form of the same pipeline: the kNN graph is built
    // from IVF-cluster-local pairs instead of the n² cross join (the
    // ×10 probe measured 206 s brute-force vs seconds bucketed at 24k
    // vectors). The oracle replays Lloyd + within-cluster top-k, so
    // the approximation itself is certified, not hidden
    "emb_weighted_core_bucketed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = (1 to 6).map { j =>
        emb.filter(col("vec_id") % 25 === 0).select(
          (col("vec_id") + lit(100000L * j)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.0 + j / 100.0)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      }.reduce(_ unionByName _)
      graft.ops.KCore.weightedCore(
        graft.ops.KCore.knnSimEdgesBucketed(
          emb.unionByName(copies).localCheckpoint(true), 5, kClusters = 8), 4.5)
        .select(col("node").as("vec_id"), round(col("wd"), 4).as("core_weight"))
        .orderBy(col("vec_id"))
    }),
    // SemDeDup: semantic dedup DECISIONS over an augmented corpus with
    // planted float-quantized near-copies (every 5th vector, dim-1
    // ×1.01) — cluster (IVF), edge within-cluster pairs ≥ 0.99 cosine,
    // connected components, keeper = min vec_id. The oracle replays
    // augmentation, clustering, and the transitive closure
    "dedup_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = emb.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + lit(100000L)).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1) * lit(1.01)).cast("float")),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      // materialize the augmented corpus ONCE: the Lloyd chain and the
      // final left join would otherwise re-run the union + array
      // surgery per pass (measured ~15% of warm runtime; the
      // emb_ivfpq_topk build-once discipline)
      val aug = emb.unionByName(copies).localCheckpoint(true)
      graft.ops.Ivf.semanticComponents(aug, 0.99, k = 8, iters = 2)
        .orderBy(col("vec_id"))
    }),
    // product quantization: per-subspace codebook occupancy (certifies
    // the whole train+encode chain — seed, Lloyd update, re-assign)
    "emb_pq_codes" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dsub = emb.select(size(col("embedding"))).head().getInt(0) / 4
      val (codes, _) = graft.ops.Pq.encode(emb, 4, dsub, 8)
      codes.groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("m"), col("code"))
    }),
    // ADC search over codes only: the corpus embeddings are never read
    // at query time — approximate score = Σ_m table[m][code_m]
    "emb_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dsub = emb.select(size(col("embedding"))).head().getInt(0) / 4
      val (codes, books) = graft.ops.Pq.encode(emb, 4, dsub, 8)
      graft.ops.Pq.adcTopK(codes, books, embQueries(s, d), 4, dsub, 10)
        .orderBy(col("q_id"), col("rank"))
    }),
    // the composed IVF-PQ index: IVF routes each query to nprobe=2
    // centroid buckets, PQ's ADC scores ONLY those candidates through
    // their codes — scan fraction nprobe/k, M lookups per candidate.
    // The four index frames come back MATERIALIZED from the trainers
    // (Ivf.index/Pq.encode contract: returns are lineage-cut): in
    // production an ANN index is built once and stored, never
    // re-trained per query — without the cuts each DataFrame reference
    // re-executes the whole Lloyd chain (measured 11.9 s vs ~4 s at
    // sf0.1; same design rule as the dedup-components cache)
    "emb_ivfpq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dsub = emb.select(size(col("embedding"))).head().getInt(0) / 4
      val (idx, cents) = graft.ops.Ivf.index(emb, k = 8, iters = 2)
      val (codes, books) = graft.ops.Pq.encode(emb, 4, dsub, 8)
      val cands = graft.ops.Ivf.route(cents, embQueries(s, d), nprobe = 2)
        .join(idx, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
      graft.ops.Pq.adcTopKWithin(cands, codes, books, embQueries(s, d), 4, dsub, 10)
        .orderBy(col("q_id"), col("rank"))
    }),
    // the index-persistence contract: train → store four parquet
    // frames → reload → probe, never touching the corpus table at
    // query time; must answer bit-identically to emb_ivfpq_topk
    // (shared oracle)
    "store_ann_roundtrip" -> ((s, d) => {
      // probes the session's stored index directly (read-only — no
      // copy needed): train-once-store-once is the contract this
      // certificate exists to certify ([[annIndexFor]])
      val (idx, dsub) = annIndexFor(s, d)
      graft.ops.AnnIndex.ivfPqTopK(s, idx, embQueries(s, d), 4, dsub, 10, nprobe = 2)
        .orderBy(col("q_id"), col("rank"))
    }),
    // right-to-be-forgotten on the live index: vec_id%7 posting+code
    // rows physically deleted, then the same probe — deleted ids can
    // never rank; routing/codebooks stay (aggregate artifacts, retrain
    // is the scheduled path), which the oracle models as a candidate
    // predicate over the unchanged training CTEs
    "store_ann_forget" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (idx, dsub) = annIndexFor(s, d)
      withTempDir("graft-annforget") { base =>
        copyDirInto(idx, base) // mutates its own copy, never the cache
        graft.ops.AnnIndex.removeVectors(s, base,
          emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
        graft.ops.AnnIndex.ivfPqTopK(s, base, embQueries(s, d), 4, dsub, 10, nprobe = 2)
          .orderBy(col("q_id"), col("rank"))
      }
    }),

    // incremental ANN maintenance: planted near-copies appended to the
    // persisted index through the FROZEN centroids/codebooks (no
    // retrain — FAISS's add vs train split); the probe then surfaces
    // them, certifying appended vectors route/encode/score identically
    // to base vectors. The oracle trains on the base corpus only and
    // assigns/encodes the additions against those frozen tables
    "store_ann_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (idx, dsub) = annIndexFor(s, d)
      withTempDir("graft-annincr") { base =>
        copyDirInto(idx, base) // mutates its own copy, never the cache
        val additions = emb.filter(col("vec_id") % 5 === 0).select(
          (col("vec_id") + lit(100000L)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.01)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
        graft.ops.AnnIndex.appendVectors(s, base, additions, 4, dsub)
        graft.ops.AnnIndex.ivfPqTopK(s, base, embQueries(s, d), 4, dsub, 10, nprobe = 2)
          .orderBy(col("q_id"), col("rank"))
      }
    }),
    // the SAME additions arriving as a stream: per-batch idempotent
    // increment staging against the frozen tables, one post-drain
    // merge — must land on the identical final index, so it shares
    // the batch append's oracle verbatim
    "stream_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (idx, dsub) = annIndexFor(s, d)
      withTempDir("graft-annstream") { base =>
        copyDirInto(idx, s"$base/idx") // mutates its own copy, never the cache
        val additions = emb.filter(col("vec_id") % 5 === 0).select(
          (col("vec_id") + lit(100000L)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.01)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
        stageOrdered(Seq(0, 1).map(i => s"$base/in/g$i" -> (() =>
          additions.filter(col("vec_id") % 2 === i)
            .coalesce(1).write.parquet(s"$base/in/g$i"))))
        graft.streaming.AnnIngest.run(s, additions.schema,
          s"$base/in", s"$base/idx", s"$base/ckpt", 4, dsub)
        graft.streaming.AnnIngest.merge(s, s"$base/idx")
        graft.ops.AnnIndex.ivfPqTopK(s, s"$base/idx", embQueries(s, d), 4, dsub, 10, nprobe = 2)
          .orderBy(col("q_id"), col("rank"))
      }
    }),

    // ----- event-time windows (M4 / ST6 extensions)
    "events_tumbling_hourly" -> ((s, d) =>
      EventWindows.tumblingHourly(Tables.events(s, d))
        .orderBy(col("win_start"), col("event_type"))),
    "events_sliding_hourly" -> ((s, d) =>
      EventWindows.slidingHourly(Tables.events(s, d)).orderBy(col("win_start"))),
    // nearest as-of: every click matched to its |Δt|-closest purchase
    // on the key (ties → earlier) — backward-only alignment is wrong
    // when the nearest reading sits just ahead; two window carries
    // over ONE per-key sort, zero row explosion
    "events_asof_nearest" -> ((s, d) => {
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
    }),
    // ... and the NEAREST variant through the native operator: the
    // stalled merge head IS the forward candidate, so min-|Δt| falls
    // out of the same sweep — same query, same oracle as the composed
    // events_asof_nearest
    "events_asof_nearest_native" -> ((s, d) => {
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
    }),
    // interval×interval overlap join (binned, per-user): click and
    // purchase attention windows that overlap — the temporal-conflict
    // shape; pairs come from shared (user, bin) equi-joins, multi-bin
    // duplicates suppressed arithmetically, never all-pairs
    "events_overlap_join" -> ((s, d) => {
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
    }),
    // negative space of sessionization: per-user silences above 6h —
    // the heartbeat/SLA outage-candidate monitor
    "events_gaps" -> ((s, d) =>
      EventWindows.gaps(Tables.events(s, d), 21600)
        .orderBy(col("user_id"), col("event_id"))),
    // both production session rules at once: 6h inactivity gap closes,
    // 2h hard cap splits marathons (the rule session_window can't say)
    "events_capped_sessions" -> ((s, d) =>
      EventWindows.cappedSessions(Tables.events(s, d), 21600, 7200)
        .orderBy(col("user_id"), col("session_start_us"))),
    "events_sessions" -> ((s, d) =>
      EventWindows.sessions(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_start"))),
    // cohort retention curve: first-seen day × day offset → distinct
    // users, within a week of activation
    "events_retention" -> ((s, d) =>
      EventWindows.retention(Tables.events(s, d), 7)
        .orderBy(col("cohort_day"), col("day_offset"))),
    // k-step ordered-subsequence match (view → click → purchase) as one
    // per-user string + one anchored regex — the funnel generalization
    // without k-way self-joins
    "events_sequence_match" -> ((s, d) =>
      EventWindows.sequenceMatch(Tables.events(s, d),
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))),
    // sequence mining: top-25 consecutive event-type trigrams — two
    // leads over the per-user order, then a vocabulary-scale count
    "events_frequent_paths" -> ((s, d) =>
      EventWindows.frequentPaths(Tables.events(s, d), 25)
        .orderBy(col("rank"))),
    // as-of join (ops.AsOf): each click joined to the user's latest
    // purchase at-or-before it — single window pass, no range explosion;
    // the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the operator's
    // semantics (inclusive bound, left-outer nulls, per-(key,ts) right
    // dedup) are certified against an independent implementation
    "events_asof_join" -> ((s, d) => {
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
    }),
    // the NATIVE as-of join — custom LogicalPlan + SparkStrategy +
    // merge-sweep SparkPlan (plans/AsOfJoinExec.scala) — must produce
    // byte-identical output to the composed window formulation above:
    // same query, same DuckDB ASOF JOIN oracle
    "events_asof_native" -> ((s, d) => {
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
    }),
    // trailing per-user event rate over a value-based RANGE frame
    "events_rolling_rate" -> ((s, d) =>
      EventWindows.rollingRate(Tables.events(s, d), windowSec = 3600)
        .orderBy(col("event_id"))),
    // gap-filled 6h grid per user, last observation carried forward —
    // point-in-time materialization; first slot observes by
    // construction, carry ranked at microsecond precision
    "events_resample_ffill" -> ((s, d) =>
      EventWindows.resampleFfill(Tables.events(s, d), stepMinutes = 360)
        .orderBy(col("user_id"), col("slot_sec"))),
    // rolling z-score over the resampled series, moments in exact
    // integer cents so the |z| > 2 flag boundary is engine-exact
    "events_anomalies" -> ((s, d) =>
      EventWindows.anomalies(Tables.events(s, d), stepMinutes = 360)
        .orderBy(col("user_id"), col("slot_sec"))),
    // click → purchase conversion funnel per user
    "events_funnel" -> ((s, d) =>
      EventWindows.funnel(Tables.events(s, d), "click", "purchase")
        .orderBy(col("user_id"))),
    // binned range join (ops.RangeJoin): each error event opens a 10-minute
    // incident window; count click/view traffic inside it. The binned
    // equi-join replaces the BroadcastNestedLoopJoin Catalyst would pick
    // for the raw BETWEEN predicate (RangeJoinSpec asserts the plan);
    // the oracle runs the plain inequality join in DuckDB
    "events_range_join" -> ((s, d) => {
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
    }),
    // the SAME query written the natural way (raw BETWEEN join) with the
    // Catalyst rule injected via experimental.extraOptimizations: the
    // optimizer rewrites the nested-loop join to the binned plan and the
    // result must stay identical (same oracle as events_range_join).
    // localCheckpoint materializes while the rule is active — the rule
    // list is restored before this function returns
    "events_range_join_auto" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val tenMinUs = 600L * 1000 * 1000
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          unix_micros(col("ts")).as("win_s"),
          (unix_micros(col("ts")) + tenMinUs).as("win_e"))
      val traffic = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("hit_id"),
          unix_micros(col("ts")).as("hit_us"), col("value"))
      val hits = withRules(s, graft.plans.BinnedRangeJoinRule(tenMinUs)) {
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
    }),

    // ----- streaming core (M3): the full pipeline — raw JSON stream →
    //       parse/validate → foreachBatch transactional inventory →
    //       verdict sink — run synchronously (AvailableNow, one file ⇒
    //       one micro-batch, so admission semantics are oracle-checkable:
    //       admitted = orders whose every line fits under full cumulative
    //       charge serialized by order_id).
    "stream_checkout_counts" -> ((s, d) => streamCheckoutCounts(s, d)),
    "stream_dedup_counts" -> ((s, d) => streamDedupCounts(s, d)),
    "stream_dlq_counts" -> ((s, d) => streamDlqCounts(s, d)),
    "stream_saga_counts" -> ((s, d) => streamSagaCounts(s, d)),
    // the full saga under one driver (SagaLoop): a CONTENDED request set
    // (up to two orders per product, greedy grant by zero-padded
    // order_id), credits re-enqueued through the file queue and drained
    "stream_saga_loop_counts" -> ((s, d) => streamSagaLoopCounts(s, d)),
    "stream_window_counts" -> ((s, d) => streamWindowCounts(s, d)),
    // stream-stream interval join under the oracle
    "stream_join_counts" -> ((s, d) => streamJoinCounts(s, d)),
    // LEFT OUTER stream-stream join: null-extension only after the
    // min-watermark passes the join bound (state eviction), flushed in
    // one AvailableNow run by per-input sentinels
    "stream_join_outer_counts" -> ((s, d) => streamJoinOuterCounts(s, d)),
    // streaming as-of: interval join chained into a watermark-windowed
    // latest-per-click aggregation — TWO stateful operators, one
    // append-mode query; result ≡ batch as-of with a 6-hour lookback
    "stream_asof_counts" -> ((s, d) => streamAsofCounts(s, d)),
    // native streaming session_window ≡ the batch lag/gap sessionization
    "stream_session_counts" -> ((s, d) => streamSessionCounts(s, d)),
    // watermark-bounded streaming dedup: admitted set ≡ batch DISTINCT
    "stream_watermark_dedup_counts" -> ((s, d) => streamWatermarkDedupCounts(s, d)),
    // streaming incremental-dedup ingest: 3 micro-batch files with
    // in-batch and cross-batch duplicates; content admitted exactly
    // once stream-wide regardless of batch arrival order
    "stream_ingest_dedup_counts" -> ((s, d) => withTempDir("graft-ingest-dedup") { base =>
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      stageOrdered(Seq(
        s"$base/in/g0" -> (() => docs.filter(col("doc_id") % 2 === 0)
          .coalesce(1).write.parquet(s"$base/in/g0")),
        s"$base/in/g1" -> (() => docs.filter(col("doc_id") % 2 === 1)
          .coalesce(1).write.parquet(s"$base/in/g1")),
        s"$base/in/g2" -> (() => docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
          .coalesce(1).write.parquet(s"$base/in/g2"))))
      graft.streaming.DedupIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      // recursive lookup instead of a glob: a glob path trips
      // FileStreamSink's metadata probe into logging a full stack trace
      val admitted = s.read.option("recursiveFileLookup", "true")
        .parquet(s"$base/out").count()
      val total = docs.count() + docs.filter(col("doc_id") % 7 === 0).count()
      Seq((admitted, total - admitted)).toDF("n_admitted", "n_rejected")
    }),

    // streaming CDC consumer: the store_cdc_apply ops log delivered as
    // two micro-batch files (later seqs may land first — tombstones in
    // state make batch order irrelevant); final table shares the batch
    // path's oracle
    "stream_cdc_apply" -> ((s, d) => withTempDir("graft-cdc-ingest") { base =>
      val log = cdcLog(s, d)
      // split by parity of the key — every batch carries a mix of ops
      stageOrdered(Seq(
        s"$base/in/g0" -> (() => log.filter(col("k") % 2 === 0)
          .coalesce(1).write.parquet(s"$base/in/g0")),
        s"$base/in/g1" -> (() => log.filter(col("k") % 2 =!= 0)
          .coalesce(1).write.parquet(s"$base/in/g1"))))
      // the bucketed (incremental) state layout is the certified path:
      // a batch rewrites only the key-buckets it touches, never the
      // whole table — the shape that survives table-sized state
      graft.streaming.CdcIngest.runBucketed(s, log.schema,
        s"$base/in", s"$base/state", s"$base/ckpt", Seq("k"), "seq", "op", nBuckets = 8)
      graft.streaming.CdcIngest.finalTableBucketed(s, s"$base/state", "op")
        .select(col("k").as("o_orderkey"), col("seq"), col("cents"))
        .orderBy(col("o_orderkey"))
    }),
    // streaming incremental aggregate view: three micro-batches merge
    // into snapshot state (retry-idempotent, predecessor kept until the
    // checkpoint commits); the final snapshot must equal the one-shot
    // GROUP BY over everything the stream saw (same oracle as the
    // batch path store_incr_agg)
    // the graft-segment connector as a STREAMING source: three commits
    // append three manifest versions; the micro-batch stream's offset
    // is the committed-segment count, maxSegmentsPerTrigger=1 forces
    // one batch per commit, and AvailableNow drains the frozen prefix.
    // The sink sees every event exactly once — any redelivery or gap
    // shifts n_events/min/max off the batch oracle (resume-after-
    // restart is additionally spec-certified in SegmentSourceSpec)
    "stream_segment_source_counts" -> ((s, d) => withTempDir("graft-segstream") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      Seq(0, 1, 2).foreach(i => ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir))
      val q = s.readStream.format("graft-segment")
        .option("maxSegmentsPerTrigger", "1").load(dir)
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }),
    // a FRESH stream over a dv'd table serves exactly the live
    // snapshot: deletion vectors filter inside the streaming read too
    "stream_segment_dv_counts" -> ((s, d) => withTempDir("graft-segstrdv") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      Seq(0, 1, 2).foreach(i => ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir))
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        pmod(col("event_id"), lit(7)) === 0)
      val q = s.readStream.format("graft-segment").load(dir)
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }),
    // startingTimestamp (Delta's inclusive contract): the stream
    // starts at the id watermark of the newest version stamped before
    // t, so binding the SECOND commit's own stamp delivers exactly
    // that commit's rows — time-denominated stream start on the same
    // monotonized stamps TIMESTAMP AS OF binds
    "stream_segment_ts_counts" -> ((s, d) => withTempDir("graft-segstrts") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir) // v0
      ev.filter(pmod(col("event_id"), lit(3)) =!= 0)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir) // v1
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      val ts1 = graft.sources.segment.SegmentLog.read(fs, dir).get.ts
      val q = s.readStream.format("graft-segment")
        .option("startingTimestamp", ts1.toString).load(dir)
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }),
    // skipChangeCommits end-to-end: a checkpointed stream sails across
    // a metadata-only DELETE — the deleted UNCONSUMED segment is
    // skipped, appends keep flowing; the oracle is the closed form
    // "first third plus last third" of the id space
    "stream_segment_skipcc_counts" -> ((s, d) => withTempDir("graft-segskipcc") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      def put(p: org.apache.spark.sql.Column): Unit =
        ev.filter(p).coalesce(1).write.format("graft-segment")
          .option("clusterBy", "event_id").option("numPartitions", "1")
          .mode("append").save(dir)
      def drain(): Unit = {
        val q = s.readStream.format("graft-segment")
          .option("skipChangeCommits", "true").load(dir)
          .writeStream.format("parquet")
          .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      put(col("event_id") <= t1) // consumed by the first drain
      drain()
      put(col("event_id") > t1 && col("event_id") <= t2) // never consumed
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      new graft.sources.segment.GraftSegmentTable(dir,
        graft.sources.segment.SegmentLog.read(fs, dir).get.schema)
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.GreaterThan("event_id", t1),
          org.apache.spark.sql.sources.LessThanOrEqual("event_id", t2)))
      put(col("event_id") > t2) // appended after the delete
      drain() // survives the truncate, skips the dead middle third
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }),
    // DESCRIBE HISTORY over the same commit sequence: every lifecycle
    // kind classified from manifest diffs alone (append / replace /
    // compact / append), per-version segment and row totals exact.
    // Deliberately no wall-clock column — deterministic, so the whole
    // introspection surface is oracle-checkable, not just eyeballed
    "store_segment_history" -> ((s, d) => withTempDir("graft-seghist") { base =>
      val dir = s"$base/t"
      val src = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      def put(pred: org.apache.spark.sql.Column): Unit =
        src.filter(pred).write.format("graft-segment")
          .option("clusterBy", "k").option("numPartitions", "4")
          .mode("append").save(dir)
      put(col("k") % 3 === 0)                                             // v0
      put(col("k") % 3 === 1)                                             // v1
      graft.sources.segment.GraftMaintenance.deleteRows(s, dir, col("k") % 5 === 0) // v2
      graft.sources.segment.GraftMaintenance.compact(s, dir, "k", 2)      // v3
      put(col("k") % 3 === 2)                                             // v4
      // commit_ts (the manifest wall-clock) is projected away here —
      // the E4 exclusion: the certificate hashes the deterministic
      // ledger, the spec certifies the timestamp face
      graft.sources.segment.GraftMaintenance.history(s, dir)
        .select("version", "kind", "n_segments", "n_rows")
        .orderBy(col("version"))
    }),
    // the change feed ACROSS a rename: pre-rename rows come back under
    // the CURRENT logical name (physical names frozen — the
    // column-mapping contract), and the DDL commit itself contributes
    // no feed rows. Read through the readChangeFeed option directly
    "store_segment_changes_rename" -> ((s, d) => withTempDir("graft-segchgren") { base =>
      val dir = s"$base/t"
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      val src = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      src.filter(col("k") % 2 === 0).write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "4")
        .mode("append").save(dir)                                        // v0
      graft.sources.segment.SegmentLog.renameColumn(fs, dir, "cents", "price_cents") // v1
      src.filter(col("k") % 2 === 1)
        .select(col("k"), col("cents").as("price_cents"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "4")
        .mode("append").save(dir)                                        // v2
      s.read.format("graft-segment")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load(dir)
        .orderBy(col("_commit_version"), col("k"))
    }),
    // the ENTIRE lifecycle through SQL only — DDL, INSERTs, CALL
    // compact, CALL history (Spark 4 stored procedures on the graft
    // catalog): the ledger the procedure returns is the closed form
    // the oracle states. Nothing in this query touches the Scala
    // maintenance API directly
    "store_segment_call" -> ((s, d) => withTempDir("graft-segcall") { base =>
      val cat = s"graft_call_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
      Tables.orders(s, d).createOrReplaceTempView("graft_call_orders")
      def ins(r: Int): Unit = s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        s"FROM graft_call_orders WHERE o_orderkey % 3 = $r")
      ins(0); ins(1)                                      // v1, v2
      s.sql(s"CALL $cat.system.compact('db.t', 'k', 2)")  // v3
      ins(2)                                              // v4
      // commit_ts projected away — the E4 exclusion (see
      // store_segment_history); the spec certifies the timestamp face
      s.sql(s"CALL $cat.system.history('db.t')")
        .select("version", "kind", "n_segments", "n_rows")
        .orderBy(col("version"))
    }),
    // CALL graft.system.stats: the WHOLE manifest statistics surface
    // as one frame — typed zone-map bounds reduced across segments
    // (engine-portable renders: ISO dates, epoch-micros timestamps),
    // null counts, the pre-merged NDV where declared, Σ/max value
    // bytes for string/binary — zero scans, what an operator reads
    // before sizing a job. The oracle recomputes every cell from the
    // source rows, so a wrong bound reduce, null count, canonical
    // render, sketch estimate or byte sum shows up as a cell diff
    "store_segment_stats" -> ((s, d) => withTempDir("graft-segstats") { base =>
      val cat = s"graft_stats_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, lang STRING, d DATE, " +
        // meta.title: dotted STRING len_sum/len_max ride the nested
        // collectors (r16 certifies the avgLen path through structs —
        // the byte-weighted row-width input for nested text)
        "ts TIMESTAMP, name STRING, blob BINARY, meta STRUCT<title: STRING>) " +
        // histFor rides along (r15): hist_ndv serves the frequency
        // map's EXACT distinct count for declared columns, NULL for
        // the rest — the oracle recomputes it as count(DISTINCT ...).
        // Only modulo-BOUNDED columns are declared: ts is injective
        // (distinct = row count), so its per-segment map would poison
        // past the cap at larger sf and the oracle's count(DISTINCT)
        // would diverge — d's <=900 and name's <=50 distinct hold at
        // ANY scale, which is the cap doctrine this certificate exists
        // to certify (name also covers the r16 STRING arm reaching
        // hist_ndv; its NULLs stay out of both map and COUNT DISTINCT)
        "TBLPROPERTIES ('ndvFor'='lang', 'histFor'='d,name', " +
        "'clusterBy'='doc_id', 'numPartitions'='4')")
      Tables.documents(s, d).createOrReplaceTempView("graft_stats_docs")
      s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, lang, " +
        "date_add(DATE'2020-01-01', CAST(doc_id % 900 AS INT)), " +
        "timestamp_micros(doc_id * 1000000 + doc_id % 777), " +
        "CASE WHEN doc_id % 97 = 0 THEN NULL " +
        "ELSE concat('n', lpad(CAST(doc_id % 50 AS STRING), 4, '0')) END, " +
        "encode(concat('b', CAST(doc_id % 10 AS STRING)), 'utf-8'), " +
        "named_struct('title', CASE WHEN doc_id % 11 = 0 THEN NULL " +
        "ELSE repeat('y', CAST(doc_id % 5 AS INT)) END) " +
        "FROM graft_stats_docs")
      s.sql(s"CALL $cat.system.stats('db.t')").orderBy(col("col_name"))
    }),
    // VALUE-FREQUENCY HISTOGRAMS on the native format (r15): declared
    // columns collect exact bounded frequency maps per segment; every
    // commit pre-merges the table-level map into the manifest, and
    // `CALL graft.system.histogram` serves it with zero scans —
    // the skew statistic whose equi-height conversion feeds catalyst's
    // FilterEstimation (the CBO plan-flip is HistCboSpec). Values are
    // the long canonicals (epoch days for DATE, epoch micros for
    // TIMESTAMP); the oracle recomputes every (column, value, count)
    // from the source rows — the map is EXACT within the caps, so this
    // replay certifies collection, merge and the commit pre-merge
    "store_segment_hist" -> ((s, d) => withTempDir("graft-seghist") { base =>
      val cat = s"graft_hist_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, bucket INT, d DATE, " +
        "ts TIMESTAMP, money DECIMAL(12,2), meta STRUCT<code: INT>, " +
        // the STRING arm (r16): engine-local maps, value = the string
        // itself in UTF-8 byte order; <=29 distinct at ANY scale (the
        // cap doctrine), served in value_str beside the long canonicals
        "tag STRING) " +
        "TBLPROPERTIES ('histFor'='bucket,d,money,ts,meta.code,tag', " +
        "'clusterBy'='doc_id', 'numPartitions'='4')")
      Tables.documents(s, d).createOrReplaceTempView("graft_hist_docs")
      // two INSERTs: the second exercises the append-only pre-merge
      // fast path (merged-at-commit ≡ merge-of-per-segment either way)
      Seq("= 0", "<> 0").foreach { pred =>
        s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, " +
          "CAST(doc_id % 37 AS INT), " +
          "date_add(DATE'2021-06-01', CAST(doc_id % 45 AS INT)), " +
          "timestamp_micros((doc_id % 23) * 1000000), " +
          // DECIMAL rides as its UNSCALED long: (doc_id%50)*100 + 25
          "CAST(doc_id % 50 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(3,2)), " +
          "named_struct('code', CAST(doc_id % 11 AS INT)), " +
          "concat('t', lpad(CAST(doc_id % 29 AS STRING), 2, '0')) " +
          s"FROM graft_hist_docs WHERE doc_id % 2 $pred")
      }
      s.sql(s"CALL $cat.system.histogram('db.t')")
        .orderBy(col("col_name"), col("value"), col("value_str"))
    }),
    // the DV-honesty face of the statistics procedures (r16): the
    // frequency maps count deletion-vector'd rows until compaction, so
    // after a merge-on-read DELETE the served counts are PRE-delete
    // mass — `exact` flips to false, annotated instead of silent. The
    // oracle replays the FULL corpus (the pre-delete truth the maps
    // hold) with exact = false
    "store_segment_hist_dv" -> ((s, d) => withTempDir("graft-seghistdv") { base =>
      val cat = s"graft_histdv_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, bucket INT, tag STRING) " +
        "TBLPROPERTIES ('histFor'='bucket,tag', " +
        "'clusterBy'='doc_id', 'numPartitions'='4')")
      Tables.documents(s, d).createOrReplaceTempView("graft_histdv_docs")
      s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, " +
        "CAST(doc_id % 19 AS INT), " +
        "concat('t', lpad(CAST(doc_id % 23 AS STRING), 2, '0')) " +
        "FROM graft_histdv_docs")
      s.sql(s"CALL $cat.system.delete_mark('db.t', 'doc_id % 3 = 0')").collect()
      s.sql(s"CALL $cat.system.histogram('db.t')")
        .orderBy(col("col_name"), col("value"), col("value_str"))
    }),
    // METADATA-ONLY QUANTILES off the merged frequency maps (r15):
    // the value at row ceil(q×N) in value order — zero scans at any
    // table size, exact within the caps, and the oracle replays the
    // SAME discrete rule as a windowed cumulative sum over the source
    // rows. One skewed column (75% hot value — the quantile shape the
    // statistic exists for) and one uniform decimal (unscaled-long
    // canonical)
    "store_segment_quantiles" -> ((s, d) => withTempDir("graft-segq") { base =>
      val cat = s"graft_quant_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, bucket INT, " +
        "money DECIMAL(12,2), " +
        // the STRING arm: 80%-hot tag — the byte-order discrete
        // quantile (= DuckDB's default binary collation ORDER BY)
        "tag STRING) " +
        "TBLPROPERTIES ('histFor'='bucket,money,tag', " +
        "'clusterBy'='doc_id', 'numPartitions'='4')")
      Tables.documents(s, d).createOrReplaceTempView("graft_quant_docs")
      s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, " +
        "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE CAST(doc_id % 37 AS INT) END, " +
        "CAST(doc_id % 50 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(3,2)), " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE concat('c', lpad(CAST(doc_id % 13 AS STRING), 2, '0')) END " +
        "FROM graft_quant_docs")
      s.sql(s"CALL $cat.system.quantiles('db.t', '0.1,0.5,0.9,0.99')")
        .orderBy(col("col_name"), col("q"))
    }),
    // the salts procedure certified: the SQL face's derived fan-out
    // (both map arms) against an independent DuckDB replay of the
    // same arithmetic — ceil(hottest count / target), clamped —
    // computed from the source rows the manifest maps equal
    "store_segment_salts" -> ((s, d) => withTempDir("graft-segsalts") { base =>
      val cat = s"graft_salts_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, tag STRING) " +
        "TBLPROPERTIES ('histFor'='k,tag', " +
        "'clusterBy'='k', 'numPartitions'='4')")
      Tables.documents(s, d).createOrReplaceTempView("graft_salts_docs")
      s.sql(s"INSERT INTO $cat.db.t SELECT " +
        "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE doc_id % 97 END, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE concat('c', lpad(CAST(doc_id % 13 AS STRING), 2, '0')) END " +
        "FROM graft_salts_docs")
      // the composite arm (r18) runs at a DIFFERENT target (30) so
      // min(ceil(hot_k/30), ceil(hot_tag/30)) cannot coincide with
      // either single-column arm's value at 50 — the oracle's min
      // replay genuinely discriminates; the fourth arm includes an
      // undeclared column, which contributes no bound (not a veto)
      (Seq(("k", 50), ("tag", 50), ("k,tag", 30), ("k,nodecl", 50)).map {
        case (c, target) =>
          s.sql(s"CALL $cat.system.salts('db.t', '$c', $target)")
            .select(lit(c).as("col_name"), col("salts"), col("derived"),
              col("exact"))
      }).reduce(_.unionByName(_)).orderBy(col("col_name"))
    }),
    // ZERO-SCAN JOIN CARDINALITY (r17): both sides' frequency maps
    // are exact within caps over non-null values — precisely the rows
    // an inner equi-join matches — so Σ cA(v)·cB(v) read off two
    // manifests IS the exact join count, no scan of either table. The
    // oracle replays the actual COUNT(*) joins; the undeclared probe
    // certifies the honesty path (NULL, never a uniform-assumption
    // guess). At 100 TB the alternative is running the join to size it
    "store_join_estimate" -> ((s, d) => withTempDir("graft-jest") { base =>
      val cat = s"graft_jest_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.a (k BIGINT, tag STRING, u BIGINT) " +
        "TBLPROPERTIES ('histFor'='k,tag')")
      s.sql(s"CREATE TABLE $cat.db.b (k BIGINT, tag STRING, u BIGINT) " +
        "TBLPROPERTIES ('histFor'='k,tag')")
      Tables.documents(s, d).createOrReplaceTempView("graft_jest_docs")
      s.sql(s"INSERT INTO $cat.db.a SELECT " +
        "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE doc_id % 97 END, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE concat('c', lpad(CAST(doc_id % 13 AS STRING), 2, '0')) END, " +
        "doc_id FROM graft_jest_docs")
      s.sql(s"INSERT INTO $cat.db.b SELECT doc_id % 13, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'hot' " +
        "ELSE concat('c', lpad(CAST(doc_id % 20 AS STRING), 2, '0')) END, " +
        "doc_id FROM graft_jest_docs")
      Seq(("k_long", "k", "k"), ("tag_str", "tag", "tag"),
          ("undeclared", "u", "u")).map { case (probe, colA, colB) =>
          s.sql(s"CALL $cat.system.join_estimate('db.a', '$colA', 'db.b', '$colB')")
            .select(lit(probe).as("probe"), col("n_rows"), col("derived"),
              col("exact"))
        }
        .reduce(_.unionByName(_)).orderBy(col("probe"))
    }),
    // MIXTURE REBALANCING FROM METADATA (r16): the per-source totals
    // that drive the mixture keep-rates come straight off the
    // manifest's string frequency map — ZERO scans for the totals
    // (the existing text_mixture_sample pays a corpus-wide token
    // aggregate; at 100 TB a per-source doc-count mixture reads
    // O(sources) manifest entries instead). Same rate arithmetic and
    // md5 predicate; the oracle recomputes the totals as the exact
    // GROUP BY the map is certified to equal
    "store_mixture_metadata" -> ((s, d) => withTempDir("graft-mixmeta") { base =>
      val dir = s"$base/docs"
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .write.format("graft-segment").option("histFor", "source")
        .mode("append").save(dir)
      val totals = manifestStrTotals(s, dir, "source")
      Sampling.mixtureSample(s.read.format("graft-segment").load(dir),
          col("doc_id"), col("source"), totals, mixShares, "mixsalt")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    // TEMPERATURE mixture (r17): shares derived from the corpus's own
    // per-source masses — share_s ∝ n_s^alpha, the pre-training
    // data-mixing knob — with the totals off the manifest string map
    // (zero scans) and alpha = 0.5 so the whole rate chain is sqrt /
    // div / mul on identical operands in both engines (the normalizer
    // cancels inside mixtureRates, so no cross-source double SUM
    // exists to diverge). The stratum is DERIVED 75%-hot (the test
    // data's natural sources are uniform, where temperature keeps
    // everything and certifies nothing): the hot source must be
    // downsampled to rate ~sqrt(n_min/n_hot), the tail kept near 1.
    // Closed form the oracle replays: rate_s = min(1, sqrt(n_min/n_s))
    "store_mixture_temperature" -> ((s, d) => withTempDir("graft-mixtemp") { base =>
      val dir = s"$base/docs"
      Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 < 3, lit("web"))
            .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
        .write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir)
      val totals = manifestStrTotals(s, dir, "src")
      Sampling.mixtureSample(s.read.format("graft-segment").load(dir),
          col("doc_id"), col("src"), totals,
          Sampling.temperatureShares(totals, 0.5), "tempsalt")
        .select(col("doc_id"), col("src"))
        .orderBy(col("doc_id"))
    }),
    // the mixture statistic's SQL face: per-value temperature
    // keep-rates straight off the manifest map via CALL — the same
    // temperatureShares→mixtureRates chain the operator uses, zero
    // scans, dv-annotated; the oracle replays the sqrt/div/mul chain
    // over the exact GROUP BY the map equals
    "store_mixture_rates" -> ((s, d) => withTempDir("graft-mixrates") { base =>
      val dir = s"$base/docs"
      Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 < 3, lit("web"))
            .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
        .write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir)
      val cat = s"graft_mixr_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CALL $cat.system.mixture_rates('$dir', 'src', 0.5)")
        .orderBy(col("value"))
    }),
    // STREAMING temperature mixture: the mixture predicate is a pure
    // (salt, key) hash filter — STATELESS, so it applies per
    // micro-batch with no state store and the kept set is identical
    // to the batch op's under ANY batch-boundary placement (the
    // retry-stability the deterministic hash buys). Rates derive ONCE
    // before the stream starts, from the manifest map — the
    // production shape: statistics versioned with the table, the
    // filter stamped into the running pipeline. Three appends stream
    // as three micro-batches (admission control); oracle = the batch
    // replay of the same chain
    "stream_mixture_counts" -> ((s, d) => withTempDir("graft-mixstream") { base =>
      val dir = s"$base/docs"
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 < 3, lit("web"))
          .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
      Seq(0, 1, 2).foreach(i => docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir))
      val totals = manifestStrTotals(s, dir, "src")
      val in = s.readStream.format("graft-segment")
        .option("maxSegmentsPerTrigger", "1").load(dir)
      val q = Sampling.mixtureSample(in, col("doc_id"), col("src"), totals,
          Sampling.temperatureShares(totals, 0.5), "tempsalt")
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("src"))
    }),
    // STREAMING mixture under STATISTIC REFRESH (r18 — the versioned-
    // statistics story): at 100 TB the corpus composition drifts while
    // the pipeline runs, so the keep-rates must be re-derivable from
    // the table's CURRENT manifest and applied at a batch boundary.
    // Regime A (the even half, two segments) streams under rates(A);
    // then a web-only append shifts the composition, the rates
    // re-derive from the updated manifest — zero scans, same
    // temperatureShares→mixtureRates chain — and a QUERY RESTART on
    // the same checkpoint applies them: the restart IS the batch
    // boundary, so only the new segment runs under rates(A∪B). The
    // oracle replays the two regimes' closed forms and concatenates —
    // exactly the kept set, because the per-regime predicate is a
    // stateless (salt, key) hash filter (batch-boundary-invariant
    // WITHIN a regime; the regime split is pinned by the appends)
    "stream_mixture_refresh" -> ((s, d) => withTempDir("graft-mixrefresh") { base =>
      val dir = s"$base/docs"
      // %8<5 (not the siblings' %4<3): regime A is the EVEN half, and
      // evens under %4<3 would be web-only — a single-source mixture
      // keeps everything and the refresh would certify nothing. Under
      // %8<5 the evens split ~3:1 web:tail, so both regimes' rate sets
      // are non-trivial and DIFFERENT (B is pure web)
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 8 < 5, lit("web"))
          .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
      def run(totals: Map[String, Long]): Unit = {
        val in = s.readStream.format("graft-segment")
          .option("maxSegmentsPerTrigger", "1").load(dir)
        val q = Sampling.mixtureSample(in, col("doc_id"), col("src"), totals,
            Sampling.temperatureShares(totals, 0.5), "tempsalt")
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // regime A: the even half, as two segments (two micro-batches)
      Seq(0, 2).foreach(i => docs.filter(pmod(col("doc_id"), lit(4)) === i)
        .coalesce(1).write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir))
      run(manifestStrTotals(s, dir, "src"))
      // the composition shifts: a web-only append (doc_id % 8 == 1 ⊂
      // web) lands and the manifest statistic versions with it
      docs.filter(pmod(col("doc_id"), lit(8)) === 1)
        .coalesce(1).write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir)
      // refreshed rates from the CURRENT manifest, applied by restart:
      // the checkpoint has consumed regime A, so only the new segment
      // streams under the re-derived rates
      run(manifestStrTotals(s, dir, "src"))
      s.read.parquet(s"$base/out")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("src"))
    }),
    // AUTO-SALT from the skew statistic (r16): the salted join's
    // fan-out is DERIVED from the manifest frequency map (hot-key
    // mass / target slot rows — Skew.saltsForTable), not guessed by
    // the caller; the certificate writes a 75%-hot fact into the
    // native format, derives the factor with zero scans, and joins —
    // certified against the PLAIN join's oracle because salting must
    // be invisible in the result at ANY factor (the derivation's own
    // arithmetic is spec-pinned in OpsSpec)
    "store_join_autosalt" -> ((s, d) => withTempDir("graft-autosalt") { base =>
      val dir = s"$base/fact"
      val fact = Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 4 < 3, lit(7L))
          .otherwise(col("l_orderkey") % 97).as("k"),
        col("l_extendedprice"))
      fact.write.format("graft-segment").option("histFor", "k")
        .mode("append").save(dir)
      val factT = s.read.format("graft-segment").load(dir)
      val n = factT.count()
      // one shuffle slot per core at local[32]; the 75%-hot key then
      // derives ~24 salts where the undeclared fallback would guess 8
      val salts = graft.ops.Skew.saltsForTable(s, dir, "k",
        fallback = 8, targetRowsPerSlot = math.max(1L, n / 32))
      val dim = factT.select(col("k")).distinct()
        .withColumn("grp", concat(lit("g"), pmod(col("k"), lit(5))))
      graft.ops.Skew.saltedJoin(factT, dim, "k", salts)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("total_price"))
        .orderBy(col("grp"))
    }),
    // CHECK constraints (the Delta ADD CONSTRAINT shape as validated
    // check.* TBLPROPERTIES): a declared predicate gates EVERY write —
    // the violating INSERT below fails atomically (nothing lands), so
    // the table holds exactly the rows that satisfy the constraint.
    // The oracle replays the surviving inserts' closed form
    "store_segment_check_constraint" -> ((s, d) => withTempDir("graft-segck") { base =>
      val cat = s"graft_check_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('check.cents_positive'='cents > 0')")
      Tables.orders(s, d).createOrReplaceTempView("graft_check_orders")
      s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        "FROM graft_check_orders WHERE o_orderkey % 3 = 0")
      // the violating batch (negated prices) must fail whole: the
      // enforcement is write-side, the commit atomic
      val rejected = scala.util.Try(s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, -CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        "FROM graft_check_orders WHERE o_orderkey % 3 = 1")).isFailure
      assert(rejected, "the violating INSERT must be rejected")
      s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
    }),
    // PARTIAL compaction end-to-end: deleteMark leaves vectors,
    // compactDeletes materializes ONLY the dv'd segments, compactWhere
    // re-clusters only the hot key range — and the table's content is
    // invariant under both (compaction is reorganization, not change)
    "store_segment_compact_where" -> ((s, d) => withTempDir("graft-segcw") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("cents") % 10 === 3)
      graft.sources.segment.GraftMaintenance.compactDeletes(s, dir)
      graft.sources.segment.GraftMaintenance.compactWhere(s, dir,
        org.apache.spark.sql.sources.LessThan("o_orderkey", 1000L))
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    }),
    // CTAS / RTAS through the catalog: CREATE TABLE AS SELECT installs
    // schema + declared layout + data in one statement; REPLACE TABLE
    // AS SELECT swaps the definition. The oracle replays the final
    // SELECT's closed form
    "store_segment_ctas" -> ((s, d) => withTempDir("graft-segctas") { base =>
      val cat = s"graft_ctas_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      Tables.orders(s, d).createOrReplaceTempView("graft_ctas_orders")
      s.sql(s"CREATE TABLE $cat.db.t TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8') " +
        "AS SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM graft_ctas_orders")
      s.sql(s"REPLACE TABLE $cat.db.t " +
        "AS SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM graft_ctas_orders WHERE o_orderkey % 3 = 0")
      s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
    }),
    // SQL DML running MERGE-ON-READ (TBLPROPERTIES rowLevelMode=mor,
    // the Delta enableDeletionVectors shape): DELETE marks positions
    // in deletion vectors, UPDATE marks old versions and appends new,
    // MERGE does both plus inserts — all through the DSv2 delta
    // framework with (_segment, _pos) as the row identity; cost ∝
    // matched rows, never matched segments. The oracle replays the
    // whole DML sequence as closed-form SQL
    "store_segment_mor_sql" -> ((s, d) => withTempDir("graft-segmor") { base =>
      val cat = s"graft_mor_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8', 'rowLevelMode'='mor')")
      Tables.orders(s, d).createOrReplaceTempView("graft_mor_orders")
      s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        "FROM graft_mor_orders")
      s.sql(s"DELETE FROM $cat.db.t WHERE k % 7 = 0")
      s.sql(s"UPDATE $cat.db.t SET cents = cents + 3 WHERE k % 5 = 0")
      s.sql(s"MERGE INTO $cat.db.t t USING " +
        "(SELECT o_orderkey AS k, CAST(-1 AS BIGINT) AS cents " +
        "FROM graft_mor_orders WHERE o_orderkey % 11 = 0) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET cents = s.cents " +
        "WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)")
      // the third MERGE face: NOT MATCHED BY SOURCE acts on TARGET
      // rows the source lacks — the full sync shape (matched update +
      // conditional by-source delete/update in clause order), still
      // cost ∝ matched rows through the same delta write
      s.sql(s"MERGE INTO $cat.db.t t USING " +
        "(SELECT o_orderkey AS k FROM graft_mor_orders " +
        "WHERE o_orderkey % 13 = 0) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET cents = t.cents + 1000 " +
        "WHEN NOT MATCHED BY SOURCE AND t.k % 17 = 0 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE AND t.k % 19 = 0 THEN UPDATE SET cents = 0")
      s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
    }),
    // LARGE-MATCH merge-on-read MERGE (the shape the point-DML probes
    // don't cover): one MERGE updates 80% of every segment — task-side
    // bitmaps bound the commit messages (segment-rows/8 bytes per
    // touched segment, never 8 B per matched row), and the
    // morRewriteThreshold purge (default 0.5) rewrites the
    // mostly-dead segments clean right after the commit, so the table
    // never serves a scan through 80%-dead vectors. The oracle is the
    // closed form of the post-MERGE table
    "store_segment_mor_bulk" -> ((s, d) => withTempDir("graft-segmorbulk") { base =>
      val cat = s"graft_morbulk_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8', 'rowLevelMode'='mor')")
      Tables.orders(s, d).createOrReplaceTempView("graft_morbulk_orders")
      s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        "FROM graft_morbulk_orders")
      s.sql(s"MERGE INTO $cat.db.t t USING " +
        "(SELECT o_orderkey AS k FROM graft_morbulk_orders " +
        "WHERE o_orderkey % 5 <> 0) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET cents = t.cents + 7")
      s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
    }),
    // metadata-only TYPE WIDENING (ALTER COLUMN … TYPE, the
    // Iceberg/Delta type-promotion shape): int→bigint and float→double
    // land as ONE manifest commit — no segment read or rewritten at
    // any table size. Pre-widen segments decode as written and up-cast
    // at read (the manifest's widen registry keys stored types by
    // segment id); post-widen appends encode natively wide; zone maps
    // keep pruning long-typed literals over int-written bounds. The
    // oracle replays both generations in one closed form
    "store_segment_widen" -> ((s, d) => withTempDir("graft-segwiden") { base =>
      val cat = s"graft_widen_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, qty INT, price FLOAT, " +
        "ratio INT, money DECIMAL(10,2)) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
      Tables.orders(s, d).createOrReplaceTempView("graft_widen_orders")
      s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, CAST(o_orderkey % 50 AS INT), " +
        "CAST(o_totalprice AS FLOAT), CAST(o_orderkey % 7 AS INT), " +
        "CAST(o_orderkey % 1000 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(10,2)) " +
        "FROM graft_widen_orders WHERE o_orderkey % 2 = 0")
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN qty TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN price TYPE DOUBLE")
      // the full widening matrix: int→double and decimal precision
      // growth (same scale) are metadata-only commits too — pre-widen
      // compact-long decimals re-container at the grown precision,
      // post-widen values may need the big-integer byte form
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN ratio TYPE DOUBLE")
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN money TYPE DECIMAL(20,2)")
      s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, CAST(o_orderkey % 50 AS BIGINT), " +
        "CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE), " +
        "CAST(o_orderkey % 7 AS DOUBLE), " +
        "CAST('123456789012345000.25' AS DECIMAL(20,2)) + " +
        "CAST(o_orderkey % 1000 AS DECIMAL(20,2)) " +
        "FROM graft_widen_orders WHERE o_orderkey % 2 = 1")
      // the filter's BIGINT literal prunes int-written zone maps.
      // money stays DECIMAL(20,2) IN the table (that's what exercises
      // the big-integer codec arm) but is string-canonicalized in the
      // OUTPUT: >18-digit decimals are byte-array-backed and the
      // driver's hash canonicalization diverges on them (r12 lesson;
      // see the oracle-authoring rules above oracleSql)
      s.sql(s"SELECT k, qty, price, ratio, CAST(money AS STRING) AS money " +
        s"FROM $cat.db.t WHERE qty >= 10 ORDER BY k")
    }),
    // the FULL TYPE SURFACE on the native format: BINARY (the
    // multimodal blob column — bytes round-trip through the segment
    // codec and decode back to the exact source text), DECIMAL exact
    // money (with zone maps: the score predicate prunes on per-segment
    // BigDecimal bounds), and array<string> tokenized text (columnar
    // child-vector decode, same as the embeddings arrays). At 100 TB
    // these are the three columns an LLM training-data table adds to
    // the relational core: raw media bytes, exact accounting, tokens
    // ARRAY<STRUCT> on the native format — the reference's own order
    // items[] shape (README.md:269-274; array of (product_id,
    // quantity) records per src/ingest_order/app.py:85-90) and every
    // per-doc span/annotation list in an LLM pipeline. Items are
    // collected per order, element-sorted for determinism, stored on
    // the format, then re-derived: the closed-form oracle recomputes
    // size / lexicographic-first element / quantity total straight
    // from lineitem, so any corruption of element bytes, order, or
    // per-field presence markers shows up in the aggregates
    // NDV STATISTICS from the manifest (SegmentNdv): declared columns
    // collect per-segment KMV sketches at write time; planning merges
    // them to a table distinctCount for the optimizer's column stats
    // — cost-based join reordering at 100 TB without an ANALYZE scan.
    // The sketch hash is the repo's portable md5 construction, so the
    // estimate is a deterministic function of the data the oracle
    // replays bit-for-bit (doc_id saturates k=256 → the estimator arm;
    // lang stays under k → the exact arm)
    "store_segment_ndv" -> ((s, d) => withTempDir("graft-segndv") { base =>
      val dir = s"$base/t"
      // a DATE column rides along (r14): 900 distinct days — past k,
      // the estimator arm — whose ISO yyyy-MM-dd canonical DuckDB
      // replays byte-for-byte via CAST(d AS VARCHAR). The estimates
      // are read from the TABLE-LEVEL sketch the commit pre-merged
      // into the manifest (planning-path O(k)); merged-at-commit ≡
      // merge-of-per-segment is spec-pinned (SegmentSourceSpec), so
      // the oracle's from-scratch KMV replay certifies both forms.
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
          date_add(to_date(lit("2020-01-01")),
            (col("doc_id") % 900).cast("int")).as("d"),
          // DECIMAL NDV (r14): exact-money group keys; 500 distinct
          // scale-2 values past k — the estimator arm on the
          // scale-padded plain canonical ("123.25")
          expr("CAST(doc_id % 500 AS DECIMAL(12,2)) + " +
            "CAST(0.25 AS DECIMAL(3,2))").as("money"),
          // TIMESTAMP NDV (r15): the canonical is the EPOCH-MICROS
          // integer string — the one timestamp rendering with no
          // session-timezone or sub-second trap, exact in both engines
          timestamp_micros(col("doc_id") * 1000000L +
            (col("doc_id") % 777) * 1000L).as("ts"),
          // STRUCT-FIELD NDV (r15): dotted declarations sketch struct
          // fields via the same child collectors zone maps/blooms use;
          // 300 distinct > k exercises the estimator arm on a nested key
          struct((col("doc_id") % 300).cast("int").as("b")).as("meta"))
        .write.format("graft-segment")
        .option("ndvFor", "doc_id,lang,d,money,ts,meta.b")
        .option("clusterBy", "doc_id").option("numPartitions", "4")
        .mode("append").save(dir)
      val fs2 = graft.sources.segment.SegmentLog.fs(dir,
        s.sessionState.newHadoopConf())
      val m = graft.sources.segment.SegmentLog.read(fs2, dir).get
      val rows = Seq("d", "doc_id", "lang", "meta.b", "money", "ts").map { c =>
        val merged = graft.sources.segment.SegmentNdv.decode(m.ndvMerged(c))
        (c, BigDecimal(graft.sources.segment.SegmentNdv.estimateMerged(merged))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      import s.implicits._
      rows.toDF("col_name", "n_est").orderBy("col_name")
    }),
    // GENERATED columns (the Delta GENERATED ALWAYS AS shape): the
    // declaration is ONE validated manifest property; the writer
    // computes omitted/NULL slots and refuses diverging explicit
    // values at the shared chokepoint — derived columns at 100 TB are
    // a projection per written row, never a backfill pass. Generation
    // 1 inserts OMIT the derived columns (computed); generation 2
    // provides them explicitly correct (validated, kept) — the oracle
    // replays the expression over the whole source either way
    "store_segment_generated" -> ((s, d) => withTempDir("graft-seggen") { base =>
      val cat = s"graft_gen_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
        "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT)), " +
        "tier STRING GENERATED ALWAYS AS " +
        "(CASE WHEN price >= 1000 THEN 'high' ELSE 'low' END)) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
      Tables.orders(s, d).createOrReplaceTempView("graft_gen_orders")
      s.sql(s"INSERT INTO $cat.db.t (k, price) " +
        "SELECT o_orderkey, o_totalprice FROM graft_gen_orders " +
        "WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT o_orderkey, o_totalprice, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT), " +
        "CASE WHEN o_totalprice >= 1000 THEN 'high' ELSE 'low' END " +
        "FROM graft_gen_orders WHERE o_orderkey % 2 = 1")
      s.sql(s"SELECT k, price, cents, tier FROM $cat.db.t ORDER BY k")
    }),
    // VARIANT on the native format: the semi-structured props column
    // parses ONCE (parse_json, map-only), lands on the format as the
    // binary (value, metadata) pair it already is — no schema
    // inference, no zone maps (sound default) — and probes by path
    // straight off the segment bytes without re-tokenizing text. The
    // probes and oracle are the events_props_variant shape, so this
    // certificate isolates exactly the storage hop
    "store_segment_variant" -> ((s, d) => withTempDir("graft-segvar") { base =>
      val dir = s"$base/t"
      val j = concat(lit("{\"orig\": "), col("props"),
        lit(", \"tag\": \"t"), (col("event_id") % 3).cast("string"),
        lit("\", \"arr\": ["), (col("event_id") % 5).cast("string"),
        lit(","), (col("event_id") % 7).cast("string"), lit("]}"))
      Tables.events(s, d)
        .select(col("event_id"), parse_json(j).as("v"))
        .write.format("graft-segment")
        .option("clusterBy", "event_id").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("event_id"),
          variant_get(col("v"), "$.orig.k", "bigint").as("k"),
          variant_get(col("v"), "$.tag", "string").as("tag"),
          variant_get(col("v"), "$.arr[1]", "bigint").as("arr1"),
          coalesce(try_variant_get(col("v"), "$.missing", "bigint"), lit(-1L)).as("missing"))
        .orderBy(col("event_id"))
    }),
    "store_segment_items" -> ((s, d) => withTempDir("graft-segitems") { base =>
      val dir = s"$base/t"
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("k"),
          col("l_partkey").as("product_id"),
          col("l_quantity").cast("int").as("quantity"))
        .groupBy("k")
        .agg(array_sort(collect_list(
          struct(col("product_id"), col("quantity")))).as("items"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          size(col("items")).as("n_items"),
          col("items")(0).getField("product_id").cast("long").as("first_pid"),
          expr("CAST(aggregate(items, 0L, (acc, x) -> acc + x.quantity) AS BIGINT)")
            .as("total_qty"))
        .orderBy("k")
    }),
    // the SPAN-ANNOTATION shape on the native format (r14):
    // array<struct<s, e, tokens array<int>>> — per-doc span lists
    // whose elements carry their own token-offset arrays, the
    // LLM-pipeline annotation column that used to hit the one-level
    // nesting refusal. Spans are synthesized CLOSED-FORM from doc_id
    // (span i of m = doc_id%3+1 spans: s = 10i, e = 10i + doc_id%7,
    // tokens = [i .. i + doc_id%4]), stored, read back, and re-derived
    // as scalars — so element order, per-field presence bytes, and the
    // nested array bytes all land in the hashes; DuckDB replays the
    // arithmetic without ever building the nested value
    "store_segment_spans" -> ((s, d) => withTempDir("graft-segspans") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id").as("k"),
          expr("transform(sequence(0, CAST(doc_id % 3 AS INT)), i -> " +
            "named_struct('s', CAST(i * 10 AS INT), " +
            "'e', CAST(i * 10 + doc_id % 7 AS INT), " +
            "'tokens', transform(sequence(i, i + CAST(doc_id % 4 AS INT)), " +
            "x -> CAST(x AS INT))))").as("spans"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          size(col("spans")).as("n_spans"),
          col("spans")(0).getField("e").as("first_e"),
          expr("CAST(aggregate(flatten(spans.tokens), 0L, (a, x) -> a + x) " +
            "AS BIGINT)").as("tok_total"))
        .orderBy("k")
    }),
    // map<string, struct-of-atomics> on the native format (r14): the
    // tag → (count, weight, label) metadata shape. Entries synthesized
    // closed-form from doc_id (key tj for j = 0..doc_id%3; n =
    // doc_id%100 + j, w = (doc_id%9)/2 + j, lbl = 'lj' on even j else
    // NULL — the per-FIELD presence byte inside a map value), stored,
    // read back, re-derived as scalars: key count, a point lookup's
    // int field, the value-sum over w (every term a multiple of 0.5 —
    // exact in binary, order-free), and a lookup that is present-
    // with-NULL vs absent depending on doc_id%3. DuckDB replays the
    // arithmetic without building the map
    "store_segment_map_struct" -> ((s, d) => withTempDir("graft-segmapst") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id").as("k"),
          expr("map_from_entries(transform(sequence(0, CAST(doc_id % 3 AS INT)), " +
            "j -> struct(concat('t', CAST(j AS STRING)), " +
            "named_struct('n', CAST(doc_id % 100 + j AS INT), " +
            "'w', CAST((doc_id % 9) * 0.5 + j AS DOUBLE), " +
            "'lbl', CASE WHEN j % 2 = 1 THEN CAST(NULL AS STRING) " +
            "ELSE concat('l', CAST(j AS STRING)) END))))").as("m"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          size(col("m")).as("n_keys"),
          element_at(col("m"), "t0").getField("n").as("t0_n"),
          expr("CAST(aggregate(map_values(m), 0D, (a, v) -> a + v.w) AS DOUBLE)")
            .as("w_sum"),
          element_at(col("m"), "t2").getField("lbl").as("lbl2"))
        .orderBy("k")
    }),
    // the FULL nested-type algebra on the native format (r14):
    // array<array<int>> grids, struct-in-struct records with string
    // lists two levels down, and map values carrying arrays of structs
    // that carry long arrays — every composition the r13 refusal list
    // named, synthesized closed-form from doc_id, stored, read back,
    // re-derived as scalars so element order, presence bytes, and
    // every nesting level's length prefixes land in the hashes; DuckDB
    // replays pure arithmetic
    "store_segment_deep" -> ((s, d) => withTempDir("graft-segdeep") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id").as("k"),
          expr("named_struct('inner', named_struct(" +
            "'x', CAST(doc_id % 7 AS INT), " +
            "'ys', transform(sequence(0, CAST(doc_id % 2 AS INT)), " +
            "j -> concat('y', CAST(j AS STRING)))), " +
            "'w', CAST(doc_id % 9 AS DOUBLE) * 0.5)").as("rec"),
          expr("transform(sequence(0, CAST(doc_id % 2 AS INT)), i -> " +
            "transform(sequence(0, i), j -> " +
            "CAST(i * 10 + j + doc_id % 5 AS INT)))").as("grid"),
          expr("map('g', transform(sequence(0, CAST(doc_id % 2 AS INT)), " +
            "i -> named_struct('a', CAST(doc_id % 11 + i AS INT), " +
            "'zs', sequence(CAST(0 AS BIGINT), CAST(doc_id % 3 AS BIGINT)))))")
            .as("keyed"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          col("rec").getField("inner").getField("x").as("inner_x"),
          size(col("rec").getField("inner").getField("ys")).as("n_ys"),
          col("rec").getField("w").as("w"),
          expr("CAST(aggregate(flatten(grid), 0L, (a, x) -> a + x) AS BIGINT)")
            .as("grid_sum"),
          expr("CAST(aggregate(keyed['g'], 0L, " +
            "(a, e) -> a + e.a + size(e.zs)) AS BIGINT)").as("keyed_sum"))
        .orderBy("k")
    }),
    "store_segment_typed" -> ((s, d) => withTempDir("graft-segtyped") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        expr("CAST(n_chars + 0.25 AS DECIMAL(12,2))").as("score"),
        split(col("text"), " ").as("tokens"))
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("score") >= expr("CAST(100.25 AS DECIMAL(12,2))"))
        .select(
          col("doc_id"),
          decode(col("payload"), "UTF-8").as("text_back"),
          col("score"),
          size(col("tokens")).as("n_tokens"),
          element_at(col("tokens"), 1).as("first_token"))
        .orderBy(col("doc_id"))
    }),
    // CLONE (the Delta CLONE shape): shallow = ONE manifest write
    // referencing the source's files absolutely (a petabyte "copy" in
    // milliseconds — the dev/test sandbox tier), deep = an
    // executor-parallel full copy. Both are SNAPSHOT-isolated: the
    // source is mutated after cloning and the clones must keep
    // serving the clone-time content (that is what the oracle checks)
    "store_segment_clone" -> ((s, d) => withTempDir("graft-segclone") { base =>
      val src = s"$base/src"
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(src)
      graft.sources.segment.GraftMaintenance.clone(s, src, s"$base/shallow",
        deep = false)
      graft.sources.segment.GraftMaintenance.clone(s, src, s"$base/deep",
        deep = true)
      // mutate the SOURCE after cloning: deletes must not leak in
      graft.sources.segment.GraftMaintenance.deleteMark(s, src,
        col("k") % 2 === 0)
      s.read.format("graft-segment").load(s"$base/shallow")
        .select(lit("shallow").as("clone_kind"), col("k"), col("cents"))
        .unionAll(s.read.format("graft-segment").load(s"$base/deep")
          .select(lit("deep").as("clone_kind"), col("k"), col("cents")))
        .orderBy(col("clone_kind"), col("k"))
    }),
    // EXACT FILTER PUSHDOWN (opt-in `exactFilters=true`, batch-only):
    // a filter the zone maps DECIDE for every segment is claimed as
    // fully pushed — no row re-evaluation, and metadata-only
    // aggregates engage UNDER the filter (LocalScan, zero tasks). At
    // 100 TB this answers `count(*) WHERE day >= x` on a day-clustered
    // table from the manifest alone. The certificate uses a predicate
    // decided independently of shuffle boundaries (all rows match);
    // the boundary-cut shape is spec-certified
    "store_segment_exact_meta" -> ((s, d) => withTempDir("graft-segexact") { base =>
      val dir = s"$base/t"
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").option("exactFilters", "true").load(dir)
        .filter(col("k") >= 1L)
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    }),
    // BODY COMPRESSION on the native format (header v2 = one deflate
    // stream after the raw 12-byte header): text tables shrink ~3-4×,
    // which at 100 TB is the difference between scanning 100 TB and
    // 30 TB of disk; zone maps, blooms, dvs, and pruning live in the
    // manifest and are untouched. Declared per table or per write;
    // readers dispatch on each segment's own header. The oracle is the
    // plain projection — compression must be invisible to answers
    "store_segment_compressed" -> ((s, d) => withTempDir("graft-segcomp") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id"), col("text"),
          col("lang"), col("n_chars"))
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .option("compress", "deflate")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("doc_id") % 3 === 0)
        .orderBy(col("doc_id"))
    }),
    // NESTED + small-integer types on the native format: TINYINT /
    // SMALLINT (full zone-map/bloom members of the integer family),
    // STRUCT of atomics (vectorized positional child decode, nested
    // column pruning skips unread fields byte-exactly), and MAP of
    // atomics (lockstep key/value child appends). The multimodal
    // sidecar shape: typed metadata records and tag→count maps next
    // to the payload. Output is flat so DuckDB replays it closed-form
    "store_segment_nested" -> ((s, d) => withTempDir("graft-segnested") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).selectExpr(
        "doc_id",
        "CAST(doc_id % 100 AS TINYINT) AS y",
        "CAST(n_chars % 10000 AS SMALLINT) AS w",
        "named_struct('lang', lang, 'n', CAST(n_chars AS INT)) AS meta",
        "map(lang, n_chars, 'all', n_chars) AS counts")
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .selectExpr("doc_id", "y", "w", "meta.lang AS lang", "meta.n AS n",
          "element_at(counts, 'all') AS total")
        .orderBy(col("doc_id"))
    }),
    // DEFAULT column values (SUPPORT_COLUMN_DEFAULT_VALUE): CREATE/ADD
    // COLUMN defaults are ONE metadata-only manifest commit — rows
    // written BEFORE the column existed read the folded EXISTS_DEFAULT
    // constant (no segment rewritten at any table size), INSERTs that
    // omit the column take CURRENT_DEFAULT, and SET DEFAULT repaints
    // the future only (the SQL-standard split). The oracle replays the
    // generations in one closed form keyed by the insert boundaries
    "store_segment_defaults" -> ((s, d) => withTempDir("graft-segdef") { base =>
      val cat = s"graft_def_${segCatalogSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.segment.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$base/wh")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT, " +
        "status STRING DEFAULT 'PENDING') " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
      Tables.orders(s, d).createOrReplaceTempView("graft_def_orders")
      // generation 1: status omitted -> CURRENT default fills 'PENDING'
      s.sql(s"INSERT INTO $cat.db.t (k, cents) " +
        "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
        "FROM graft_def_orders WHERE o_orderkey % 3 = 0")
      // ADD COLUMN with DEFAULT: generation-1 rows read 7 with no rewrite
      s.sql(s"ALTER TABLE $cat.db.t ADD COLUMN retries BIGINT DEFAULT 7")
      // SET DEFAULT is future-only: later omitted statuses say 'QUEUED'
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN status SET DEFAULT 'QUEUED'")
      // generation 2: retries explicit, status defaulted to 'QUEUED'
      s.sql(s"INSERT INTO $cat.db.t (k, cents, retries) " +
        "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT), " +
        "o_orderkey % 5 FROM graft_def_orders WHERE o_orderkey % 3 = 1")
      s.sql(s"SELECT k, cents, status, retries FROM $cat.db.t ORDER BY k")
    }),
    // the STREAMING face of the change feed (readChangeFeed=true):
    // offsets are manifest VERSIONS, each micro-batch a closed version
    // range diffed by segment identity — inserts from appends and the
    // rewrite half of DML, deletes from the replaced half, compaction
    // invisible. Same commit sequence as store_segment_changes, one
    // version per trigger, so the SAME closed-form oracle certifies
    // the streamed feed row-for-row
    "stream_segment_cdf" -> ((s, d) => withTempDir("graft-segcdf") { base =>
      val dir = s"$base/t"
      val src = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      def put(pred: org.apache.spark.sql.Column): Unit =
        src.filter(pred).write.format("graft-segment")
          .option("clusterBy", "k").option("numPartitions", "4")
          .mode("append").save(dir)
      put(col("k") % 3 === 0)                                             // v0
      put(col("k") % 3 === 1)                                             // v1
      graft.sources.segment.GraftMaintenance.deleteRows(s, dir, col("k") % 5 === 0) // v2
      graft.sources.segment.GraftMaintenance.compact(s, dir, "k", 2)      // v3: silent
      put(col("k") % 3 === 2)                                             // v4
      val q = s.readStream.format("graft-segment")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .orderBy(col("_commit_version"), col("_change_type"), col("k"))
    }),
    // the connector as a STREAMING SINK: each micro-batch epoch is one
    // manifest commit carrying a (queryId, epoch) transaction id, so
    // retried epochs are no-ops — exactly-once INTO the table format
    // (replay idempotence spec-certified in SegmentSourceSpec); the
    // drained table must aggregate to the plain batch answer
    "stream_segment_sink_counts" -> ((s, d) => withTempDir("graft-segsink") { base =>
      val dir = s"$base/events_tbl"
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/f$i" -> (() =>
        ev.filter(pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.parquet(s"$base/in/f$i"))))
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
        .writeStream.format("graft-segment")
        .option("path", dir).option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format("graft-segment").load(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100.0, 0).cast("long")).as("sum_cents"))
        .orderBy(col("event_type"))
    }),
    // the snapshot-state discipline REBUILT on the table format:
    // SegmentStateIngest folds each micro-batch into a graft-segment
    // state TABLE via one transactional overwrite per epoch under
    // (txnAppId, batchId) — the manifest log replaces the hand-rolled
    // state_N chains, the txn ledger replaces batchId-keyed write
    // idempotence, and a replayed batch commits as a no-op. Must land
    // on the same one-shot GROUP BY as stream_incr_agg (shared oracle)
    "stream_incr_agg_segment" -> ((s, d) => withTempDir("graft-incr-seg") { base =>
      val orders = Tables.orders(s, d).select(col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        orders.filter(col("o_custkey") % 3 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SegmentStateIngest.run(s, orders.schema,
        s"$base/in", s"$base/state_tbl", s"$base/ckpt", "incr-agg-seg") {
        case (None, batch) => graft.ops.IncrView.build(batch, Seq("o_custkey"), col("cents"))
        case (Some(prior), batch) =>
          graft.ops.IncrView.merge(prior, batch, Seq("o_custkey"), col("cents"))
      }
      graft.streaming.SegmentStateIngest.finalState(s, s"$base/state_tbl")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"))
        .orderBy(col("o_custkey"))
    }),
    "stream_incr_agg" -> ((s, d) => withTempDir("graft-incr-agg") { base =>
      val orders = Tables.orders(s, d).select(col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        orders.filter(col("o_custkey") % 3 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.IncrAggIngest.run(s, orders.schema,
        s"$base/in", s"$base/state", s"$base/ckpt", Seq("o_custkey"), "cents")
      graft.streaming.IncrAggIngest.finalState(s, s"$base/state")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"))
        .orderBy(col("o_custkey"))
    }),

    // streaming observability (SURVEY "what's missing" #1): a
    // StreamingQueryListener accumulates per-batch (batchId,
    // inputRows, stateRows, watermark) into a DataFrame. Under
    // AvailableNow + maxFilesPerTrigger=1 each batch is exactly one
    // staged file, so the multiset of per-batch input-row counts is
    // deterministic regardless of which order the source lists the
    // files — certified by sorting on the distinct-by-construction
    // counts (10% / 30% / 60% splits)
    "stream_metrics_counts" -> ((s, d) => withTempDir("graft-metrics") { base =>
      val orders = Tables.orders(s, d).select(col("o_orderkey"))
      val m10 = pmod(col("o_orderkey"), lit(10))
      stageOrdered(Seq(("g0", m10 < 1), ("g1", m10 >= 1 && m10 < 4), ("g2", m10 >= 4))
        .map { case (n, pred) => s"$base/in/$n" -> (() =>
          orders.filter(pred).coalesce(1).write.parquet(s"$base/in/$n"))
        })
      val (_, metrics) = graft.streaming.Metrics.observe(s) {
        val q = s.readStream.schema(orders.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$base/out/batch_$id")
            ()
          }
          .start()
        q.awaitTermination()
      }
      metrics.frame(s).filter(col("input_rows") > 0)
        .select(col("input_rows")).orderBy(col("input_rows"))
    }),

    // late-data certification (ST6's negative path): batch 0 carries
    // every event plus a far-future sentinel that advances the
    // watermark beyond every real window; the %10 slice is then
    // re-sent entirely BELOW the watermark, so the windowed aggregate
    // must drop every one of those rows (the reference's "message too
    // old -> retention expiry", iac/main.tf:17). Spark filters a
    // stateful operator's late records with the PREVIOUS batch's
    // watermark (one batch more lagged than eviction — determinism
    // under batch retry), so a spacer batch sits between sentinel and
    // late slice. Certified three ways in one row: output row count
    // and event total equal the batch aggregate over the ON-TIME data
    // alone, and the listener's numRowsDroppedByWatermark equals the
    // late slice's (window, type) group count — the drop runs after
    // map-side partial aggregation, so groups are the dropped unit
    "stream_late_drop_counts" -> ((s, d) => withTempDir("graft-late") { base =>
      import s.implicits._
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("event_type"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)).as("ts"),
        lit("sentinel").as("event_type"))
      // staged concurrently; the mtimes stageOrdered stamps make the
      // file source drain on-time, spacer, late — same order as before
      stageOrdered(Seq(
        s"$base/in/f0" -> (() => ev.unionByName(sentinel)
          .coalesce(1).write.parquet(s"$base/in/f0")),
        s"$base/in/f1" -> (() => sentinel.withColumn("event_id", lit(-2L))
          .coalesce(1).write.parquet(s"$base/in/f1")),
        s"$base/in/f2" -> (() => ev.filter(col("event_id") % 10 === 0)
          .coalesce(1).write.parquet(s"$base/in/f2"))))
      val schema = s.read.parquet(s"$base/in/f0").schema
      val (_, metrics) = graft.streaming.Metrics.observe(s) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("parquet").option("path", s"$base/out")
          .start()
        q.awaitTermination()
      }
      val out = s.read.parquet(s"$base/out").filter(col("event_type") =!= "sentinel")
      val nWindowRows = out.count()
      val nEvents = out.agg(sum(col("n_events"))).head().getLong(0)
      val nDropped = metrics.frame(s)
        .agg(sum(col("rows_dropped_late"))).head().getLong(0)
      Seq((nWindowRows, nEvents, nDropped))
        .toDF("n_window_rows", "n_events_counted", "n_dropped_late")
    }),

    // event-time TIMERS (abandoned-checkout expiry): a click opens a
    // pending entry; a purchase within 6 h completes it; otherwise
    // the registered timer fires when the watermark passes the
    // deadline and emits 'expired' — output produced by time passing,
    // not by a row arriving. Files staged in ascending event-time
    // thirds + a far-future sentinel (advances the watermark past
    // every deadline so all surviving timers fire); under in-order
    // staging the outcome is event-time pure, hence the batch oracle
    "stream_timeout_expiry" -> ((s, d) => withTempDir("graft-timeout") { base =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      // TWO trailing sentinels: timer eviction runs against the
      // watermark derived from data seen through the PREVIOUS batch,
      // so the first sentinel's advancement only takes effect in the
      // batch after it — the second sentinel makes that batch exist
      def sentinel(id: Long, plusHours: Long) = s.range(1).select(
        lit(id).as("event_id"), lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(new java.sql.Timestamp(maxTs.getTime + plusHours * 3600 * 1000)).as("ts"))
      // thirds by EVENT-TIME VALUE (the staging contract needs only
      // nondecreasing file order, not exact row-count thirds — two
      // tiny aggregates instead of a single-partition global sort)
      val mmTs = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (tLo, tHi) = (mmTs.getLong(0), mmTs.getLong(1))
      val (tcut1, tcut2) = (tLo + (tHi - tLo) / 3, tLo + 2 * (tHi - tLo) / 3)
      val tUs = unix_micros(col("ts"))
      stageOrdered(Seq(
        ("f0", ev.filter(tUs <= tcut1)),
        ("f1", ev.filter(tUs > tcut1 && tUs <= tcut2)),
        ("f2", ev.filter(tUs > tcut2)),
        ("f3", sentinel(-1L, 8L)),
        ("f4", sentinel(-2L, 9L))
      ).map { case (name, df) => s"$base/in/$name" -> (() =>
        df.coalesce(1).write.parquet(s"$base/in/$name"))
      })
      graft.streaming.TimeoutExpiry.run(s, ev.schema, s"$base/in", s"$base/out",
        s"$base/ckpt", "click", "purchase", 6L * 3600 * 1000)
      s.read.parquet(s"$base/out")
        .select(col("start_id"), col("user_id"), col("outcome"), col("latency_sec"))
        .orderBy(col("start_id"))
    }),

    // per-user token-bucket rate limiting (cap 8h of credit, cost 4h
    // per event → sustained 1 per 4h, burst 2): exact integer-ms
    // credit chain in keyed state across ts-ordered batches; the
    // oracle replays each user's chain with a recursive scan
    "stream_rate_limit" -> ((s, d) => withTempDir("graft-ratelimit") { base =>
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      // thirds by EVENT-TIME VALUE: in-order staging needs no global
      // sort, just nondecreasing file boundaries
      val mmTs = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (tLo, tHi) = (mmTs.getLong(0), mmTs.getLong(1))
      val (tcut1, tcut2) = (tLo + (tHi - tLo) / 3, tLo + 2 * (tHi - tLo) / 3)
      val tUs = unix_micros(col("ts"))
      stageOrdered(Seq(
        ("f0", ev.filter(tUs <= tcut1)),
        ("f1", ev.filter(tUs > tcut1 && tUs <= tcut2)),
        ("f2", ev.filter(tUs > tcut2))
      ).map { case (name, df) => s"$base/in/$name" -> (() =>
        df.coalesce(1).write.parquet(s"$base/in/$name"))
      })
      graft.streaming.RateLimit.run(s, ev.schema, s"$base/in", s"$base/out",
        s"$base/ckpt", capMs = 8L * 3600 * 1000, costMs = 4L * 3600 * 1000)
      s.read.parquet(s"$base/out")
        .select(col("event_id"), col("user_id"), col("admitted"))
        .orderBy(col("event_id"))
    }),

    // per-micro-batch dimension refresh: batch N must join dimension
    // version N (staged v0/v1/v2, batches split by o_orderkey % 3) —
    // a frozen-at-start static join would tag every row v0 and
    // hash-mismatch; the version prefix in the output group key is
    // the proof the refresh happened
    "stream_dim_refresh_counts" -> ((s, d) => withTempDir("graft-dimref") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      // dim versions are keyed by NAME (batch k reads dim/v$k), so only
      // the input files need the mtime order pin — the dim writes ride
      // the same overlap pool unordered
      stageOrdered(
        (0 to 2).map(k => s"$base/in/f$k" -> (() =>
          o.filter(col("o_orderkey") % 3 === k)
            .coalesce(1).write.parquet(s"$base/in/f$k"))),
        (0 to 2).map(k => () => {
          Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"),
              concat(lit(s"v$k-"), col("c_mktsegment")).as("seg_v"))
            .write.parquet(s"$base/dim/v$k")
          ()
        }))
      val schema = s.read.parquet(s"$base/in/f0").schema
      graft.streaming.DimRefresh.run(s, schema, s"$base/in", s"$base/dim",
        s"$base/out", s"$base/ckpt", "o_custkey")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .groupBy(col("seg_v")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("seg_v"))
    }),

    // streaming ONLINE near-dup admission: LSH band buckets are
    // claimed by every document that flows past; a doc is admitted
    // only if all its buckets are unclaimed. Input staged in three
    // ascending-doc_id files (mtimes pinned so the file source drains
    // them in order) — under that contract admission has a closed
    // form: doc holds the min doc_id in every one of its buckets
    "stream_neardup_docs" -> ((s, d) => withTempDir("graft-neardup") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      val now = System.currentTimeMillis()
      Seq(
        ("f0", col("doc_id") <= t1, now - 60000),
        ("f1", col("doc_id") > t1 && col("doc_id") <= t2, now - 40000),
        ("f2", col("doc_id") > t2, now - 20000)
      ).map { case (name, pred, mtime) => () => {
        // independent input-fixture writes (disjoint dirs; arrival
        // order is pinned by the explicit mtimes set after each write,
        // not by write completion) — overlap them, guide §2.6
        val dir = s"$base/in/$name"
        docs.filter(pred).coalesce(1).write.parquet(dir)
        new java.io.File(dir).listFiles().foreach(_.setLastModified(mtime))
        ()
      }}.pipe(graft.streaming.Overlap.awaitAll)
      graft.streaming.NearDupIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // data-contract enforcement at the ingest edge: row-local checks
    // split every micro-batch into output vs quarantine-with-reason
    // (first-failing-wins), the reference's 202/400 split generalized
    // to named contracts; stateless, so the oracle is one CASE chain
    "stream_contract_counts" -> ((s, d) => withTempDir("graft-contract") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 13 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_totalprice"))
      stageOrdered(Seq(0, 1).map(i => s"$base/in/g$i" -> (() =>
        o.filter(col("o_orderkey") % 2 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.ContractIngest.run(s, o.schema,
        s"$base/in", s"$base/out", s"$base/quarantine", s"$base/ckpt", Seq(
          "custkey_null" -> col("o_custkey").isNotNull,
          "price_cap" -> (col("o_totalprice") <= 400000.0)))
      val valid = s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .agg(count(lit(1)).as("n")).select(lit("valid").as("bucket"), col("n"))
      val quarantined = s.read.option("recursiveFileLookup", "true")
        .parquet(s"$base/quarantine")
        .groupBy(col("quarantine_reason").as("bucket"))
        .agg(count(lit(1)).as("n"))
      valid.unionByName(quarantined).orderBy(col("bucket"))
    }),
    // streaming incremental curation: quality gate → exact-dedup
    // admission → near-dup admission chained in ONE driver against
    // accumulated digest/claim state; admission is closed-form (three
    // min-aggregates), so the oracle replays it without any notion of
    // batches — the admitted set must be independent of batching
    "stream_curation_docs" -> ((s, d) => withTempDir("graft-stream-cur") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      val now = System.currentTimeMillis()
      Seq(
        ("f0", col("doc_id") <= t1, now - 60000),
        ("f1", col("doc_id") > t1 && col("doc_id") <= t2, now - 40000),
        ("f2", col("doc_id") > t2, now - 20000)
      ).map { case (name, pred, mtime) => () => {
        // independent input-fixture writes (disjoint dirs; arrival
        // order is pinned by the explicit mtimes set after each write,
        // not by write completion) — overlap them, guide §2.6
        val dir = s"$base/in/$name"
        docs.filter(pred).coalesce(1).write.parquet(dir)
        new java.io.File(dir).listFiles().foreach(_.setLastModified(mtime))
        ()
      }}.pipe(graft.streaming.Overlap.awaitAll)
      graft.streaming.CurationIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // the backfill→streaming cutover end-to-end: docs below 250 are
    // the offline-built corpus seeding the state (claims counted,
    // never emitted); the stream carries the rest and must reject
    // everything the offline build already admitted — the oracle is
    // the SAME closed form with an emit filter
    "stream_curation_boot_docs" -> ((s, d) => withTempDir("graft-stream-curb") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val streamed = docs.filter(col("doc_id") >= 250)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val mid = (250 + maxId) / 2
      val now = System.currentTimeMillis()
      // the state bootstrap (its own dirs, consumed only once the
      // stream starts) rides the same overlap pool as the two fixture
      // writes — all three are independent
      (Seq(
        ("f0", col("doc_id") <= mid, now - 60000),
        ("f1", col("doc_id") > mid, now - 30000)
      ).map { case (name, pred, mtime) => () => {
        // overlapped like the sibling curation fixtures — order pinned
        // by the explicit mtimes, not write completion
        val dir = s"$base/in/$name"
        streamed.filter(pred).coalesce(1).write.parquet(dir)
        new java.io.File(dir).listFiles().foreach(_.setLastModified(mtime))
        ()
      }} :+ (() => graft.streaming.CurationIngest.bootstrapState(
        s, s"$base/state", docs.filter(col("doc_id") < 250)))
      ).pipe(graft.streaming.Overlap.awaitAll)
      graft.streaming.CurationIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // the FULL batch recipe running incrementally: split routing
    // (benchmark never admitted), quality, exact, near-dup, plus
    // per-batch decontamination against the static benchmark-gram
    // artifact — batch/stream parity for the whole curation pipeline
    "stream_curation_full_docs" -> ((s, d) => withTempDir("graft-stream-curf") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bench = docs.filter(
        Sampling.bucketHash(col("doc_id"), "cur") >=
          lit(Sampling.hexThreshold(0.8)))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      val now = System.currentTimeMillis()
      // the static benchmark-gram artifact build is independent of the
      // input staging — it rides the same overlap pool as the three
      // fixture writes instead of running serially before them
      var benchGrams: DataFrame = null
      (Seq(
        ("f0", col("doc_id") <= t1, now - 60000),
        ("f1", col("doc_id") > t1 && col("doc_id") <= t2, now - 40000),
        ("f2", col("doc_id") > t2, now - 20000)
      ).map { case (name, pred, mtime) => () => {
        // independent input-fixture writes (disjoint dirs; arrival
        // order is pinned by the explicit mtimes set after each write,
        // not by write completion) — overlap them, guide §2.6
        val dir = s"$base/in/$name"
        docs.filter(pred).coalesce(1).write.parquet(dir)
        new java.io.File(dir).listFiles().foreach(_.setLastModified(mtime))
        ()
      }} :+ (() => {
        benchGrams = TextOps.shinglePostings(bench, 5)
          .select(col("shingle")).distinct().localCheckpoint(true)
        ()
      })).pipe(graft.streaming.Overlap.awaitAll)
      graft.streaming.CurationIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt",
        split = Some((0.8, "cur")), benchGrams = Some(benchGrams))
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ----- SimHash (custom typed Aggregator; md5-derived token hash, so
    //       the bit-vote aggregation IS oracle-checkable — see oracleSql)
    "dedup_simhash" -> ((s, d) =>
      graft.ops.Simhash.signatures(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // Hamming ≤ 3 near-dup pairing over 4×16-bit signature chunks —
    // banded candidates are provably complete at this threshold, so the
    // brute-force DuckDB oracle checks recall, not just precision
    "dedup_simhash_pairs" -> ((s, d) =>
      graft.ops.Simhash.hammingPairs(Tables.documents(s, d), 3)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ----- multimodal plumbing (binary column features; image decode is
    //       REAL via JDK ImageIO, audio/video stay stubbed)
    "mm_binary_features" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_code"),
        md5(col("text")).as("content_hash"))
        .orderBy(col("doc_id"))),
    // the REAL decode certified end-to-end: deterministic two-band PNGs
    // are encoded on the executors, ImageIO-decoded back, and the exact
    // pixel sums must match the oracle's closed-form expectation
    "mm_decode_features" -> ((s, d) =>
      graft.multimodal.Multimodal.decodeImageStats(
        graft.multimodal.Multimodal.syntheticImages(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("media_id"))),
    // the multimodal story CLOSED ON THE NATIVE FORMAT: the binary
    // media blobs live in a graft-segment table (binary + small-int
    // metadata columns), and the REAL ImageIO decode runs off the
    // segment scan — byte fidelity proven by the same closed-form
    // pixel-sum oracle as the parquet route. At 100 TB this is the
    // media lakehouse shape: blobs co-located with their typed
    // metadata under one transactional log (GDPR deletes via DVs,
    // time travel, CDC), not a parquet sidecar
    "mm_decode_segment" -> ((s, d) => withTempDir("graft-mmseg") { base =>
      val dir = s"$base/media"
      graft.multimodal.Multimodal.syntheticImages(Tables.documents(s, d))
        .toDF()
        .write.format("graft-segment")
        .option("clusterBy", "media_id").option("numPartitions", "8")
        .mode("append").save(dir)
      import s.implicits._
      graft.multimodal.Multimodal.decodeImageStats(
        s.read.format("graft-segment").load(dir)
          .as[graft.multimodal.Multimodal.MediaRecord])
        .toDF()
        .orderBy(col("media_id"))
    }),
    // the decode path under STREAMING delivery: binary media rows
    // arrive in micro-batches, each batch runs the same per-row
    // ImageIO decode (batch-independent, so the batch path's oracle
    // certifies it verbatim) — the streaming multimodal ingest shape
    "stream_mm_decode_features" -> ((s, d) => withTempDir("graft-mm-stream") { base =>
      import s.implicits._
      val media = graft.multimodal.Multimodal
        .syntheticImages(Tables.documents(s, d)).toDF()
      stageOrdered(Seq(0, 1).map(i => s"$base/in/g$i" -> (() =>
        media.filter(col("media_id") % 2 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      val q = s.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          graft.multimodal.Multimodal
            .decodeImageStats(b.as[graft.multimodal.Multimodal.MediaRecord])
            .toDF().write.mode("overwrite").parquet(s"$base/out/batch_$batchId")
          ()
        }
        .start()
      q.awaitTermination()
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .orderBy(col("media_id"))
    }),
    // the REAL resize path: ImageIO decode + explicit nearest-neighbor
    // resample to a fixed 16x12 thumbnail (the pinned src_x = x*w/16
    // floor-division convention), per-channel sums of the RESIZED
    // raster vs the oracle's generate_series count of band-A samples
    "mm_resize_features" -> ((s, d) =>
      graft.multimodal.Multimodal.resizeImageStats(
        graft.multimodal.Multimodal.syntheticImages(Tables.documents(s, d)), 16, 12)
        .toDF()
        .orderBy(col("media_id"))),
    // the REAL audio path, same certification shape: deterministic
    // square-wave WAVs encoded on the executors, AudioSystem-decoded
    // back, exact PCM sums vs the oracle's closed forms
    "mm_audio_features" -> ((s, d) =>
      graft.multimodal.Multimodal.decodeAudioStats(
        graft.multimodal.Multimodal.syntheticAudio(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("media_id"))),
    // perceptual-hash near-dup over REAL decoded pixels: brightness-
    // shifted variants of one gradient image hash identically (bytes
    // differ — exact dedup misses them); banded Hamming join pairs them,
    // and the brute-force DuckDB oracle re-derives every dHash in closed
    // form, checking complete recall at Hamming ≤ 3
    "mm_phash_pairs" -> ((s, d) =>
      graft.multimodal.Phash.pairs(
        graft.multimodal.Multimodal.syntheticGradientImages(Tables.documents(s, d)), 3)),
    // acoustic-fingerprint near-dup over REAL decoded PCM: volume-
    // shifted copies of one amplitude envelope hash identically (their
    // WAV bytes all differ — exact dedup misses them); the oracle
    // re-derives every envelope hash in closed form and brute-forces
    // pairs, certifying complete banded recall at Hamming ≤ 3
    "mm_audio_dup_pairs" -> ((s, d) =>
      graft.multimodal.AudioFp.pairs(
        graft.multimodal.AudioFp.syntheticAmAudio(Tables.documents(s, d)), 3))
  )

  /** Scratch space for the stream_* builders: run the pipeline in a temp
    * dir, eagerly materialize the (tiny) final aggregate via
    * localCheckpoint so its lineage no longer needs the files, then
    * delete the dir — repeated invocations in a long session leave no
    * litter. */
  /** Dedup components materialized ONCE per (session, dataset) and read
    * from parquet thereafter — the production shape: dedup decisions are
    * persisted state, not recomputed per consumer (at 100 TB nobody
    * re-runs connected components just to apply them). The first caller
    * (dedup_components, alphabetically before dedup_kept_docs) pays the
    * build; every later consumer is a plain parquet scan. */
  private val componentsCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The ANN certificate family's shared training (r16): the four
    * store_ann / stream_ann certificates each probe the IDENTICAL
    * IVF-PQ index (same corpus, same params) — training it once per
    * (session, dir) and COPYING it into each mutating query's temp dir
    * keeps every query independently runnable (forget / incremental /
    * stream mutate their copy, answers unchanged) while the suite pays
    * Lloyd training once instead of four times (the [[curationFor]]
    * pattern: in production an index is trained once and stored — the
    * certificates certify store/load/mutate/probe, not repeated
    * training, and the 4× retrain was the suite's slowest cluster). */
  private val annIdxCache = new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()

  /** Stable per-session cache key: the session's UUID when available
    * (identityHashCode is not collision-free across live sessions — a
    * collision would hand one session an index trained under the
    * other; benign only while index content is deterministic per dir,
    * so don't rely on it). `sessionUUID` is public bytecode but
    * `private[sql]` to Scala, hence the reflective read; the fallback
    * restores the old best-effort key. */
  private def sessionKey(s: SparkSession): String =
    try s.getClass.getMethod("sessionUUID").invoke(s).asInstanceOf[String]
    catch { case scala.util.control.NonFatal(_) =>
      System.identityHashCode(s).toString }

  /** computeIfAbsent on a (session, dir)-keyed fixture cache with the
    * temp-dir lifecycle EVERY session fixture needs: the key is
    * [[sessionKey]] (identityHashCode is not collision-free across
    * live sessions) and a JVM shutdown hook reclaims the dir (a
    * long-lived bench box accumulates run-over-run temp otherwise —
    * the disk-pressure failure mode BENCH_NOTES r16 records). r17
    * applied both to the ANN cache only while five sibling caches
    * replicated the pre-fix pattern; this is the ONE helper they all
    * share now (r17 verdict item 2). */
  private def sessionFixture[V](
      cache: java.util.concurrent.ConcurrentHashMap[String, V],
      s: SparkSession, d: String, prefix: String)
      (build: java.nio.file.Path => V): V =
    cache.computeIfAbsent(s"${sessionKey(s)}|$d", _ => {
      val out = java.nio.file.Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => TempDirs.deleteTree(out)))
      build(out)
    })

  private def annIndexFor(s: SparkSession, d: String): (String, Int) =
    sessionFixture(annIdxCache, s, d, "graft-annidx-cache") { out =>
      val t0 = System.nanoTime()
      val emb = Tables.embeddings(s, d)
      val dsub = emb.select(size(col("embedding"))).head().getInt(0) / 4
      graft.ops.AnnIndex.writeIvfPq(emb, out.toString, kIvf = 8, nSub = 4,
        dsub = dsub, kPq = 8)
      // the one-time Lloyd training is the ANN family's dominant cold
      // cost (r16: store_ann_forget carried 6.5 s of it as the
      // alphabetically-first cache miss) — make it visible on its own
      // line so the certificates' numbers read mutate+probe
      println(f"[graft] ann index cold build: ${(System.nanoTime() - t0) / 1e9}%.2f s ($d)")
      (out.toString, dsub)
    }

  /** Pre-builds every session-cached shared fixture OUTSIDE a timed
    * window — the IVF-PQ index, the exact-Jaccard truth pairs, the
    * dedup component decisions, and the curation run — returning each
    * build's seconds (~0 on a warm cache). [[graft.Bench]] calls this
    * before the suite so the consuming certificates measure
    * CONSUMPTION (probe / semi-join / audit read) while the one-time
    * artifact builds ride the bench record as their own fields
    * (`ann_build_sec` / `fixtures_build_sec`): in production each of
    * these is built once and stored — a dedup truth set, a component
    * map, a curation run ARE artifacts, not per-consumer rebuilds
    * (r16 verdict item 6 closed the ANN face; r17 extends it to the
    * other three, which alphabetically-first consumers were paying —
    * dedup_banding_tradeoff carried the truth build,
    * dedup_components the contraction loop, pipeline_curation_audit
    * the whole curation run). */
  def warmFixtures(s: SparkSession, d: String): Seq[(String, Double)] = {
    // per-fixture isolation: one failed build must neither skip the
    // remaining warms nor discard the timings of the ones that
    // succeeded — an un-warmed build would land back inside its
    // first consumer's timed window and read as a query regression
    def timed(name: String)(f: => Unit): (String, Double) =
      try {
        val t0 = System.nanoTime(); f
        (name, (System.nanoTime() - t0) / 1e9)
      } catch { case scala.util.control.NonFatal(_) => (name, -1.0) }
    Seq(
      timed("ann")(annIndexFor(s, d)),
      timed("prefix_pairs")(prefixPairsFor(s, d).count()),
      timed("components")(componentsFor(s, d).count()),
      timed("curation")(curationFor(s, d)._1.count()),
      // r18: the two caches the r17 warming pass missed — the 5-NN
      // edge frame (five graph consumers; the quadratic certification
      // build) and the unigram segmentation table (train is a build
      // step, serving reads the stored table)
      timed("knn_edges")(knnEdgesFor(s, d).count()),
      timed("unigram")(unigramTableFor(s, d).count()))
  }

  /** Recursive file copy of the cached index into a query-owned dir —
    * mutating certificates operate on their copy, never the cache. */
  private def copyDirInto(src: String, dst: String): Unit = {
    import scala.jdk.CollectionConverters._
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Paths.get(dst)
    val st = java.nio.file.Files.walk(from) // close: walk holds dir handles
    try st.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }

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

  /** The 5-NN similarity edge frame feeds five graph queries
    * (PageRank x3, triangle clustering, label propagation) — at
    * 100 TB a similarity graph is a PERSISTED artifact, not rebuilt
    * per consumer (the componentsFor discipline). First caller pays
    * the quadratic certification build; every later consumer is a
    * parquet scan. (src, dst, w) = (long, long, double) roundtrips
    * bit-exactly, so all five stay on their unchanged oracles. */
  private val knnEdgeCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def knnEdgesFor(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sessionFixture(knnEdgeCache, s, d, "graft-knn-edges") {
      out =>
        graft.ops.PageRank.knnEdgesWeighted(Tables.embeddings(s, d), 5)
          .write.mode("overwrite").parquet(out.toString)
        out.toString
    })

  /** The trained unigram-LM segmentation table, persisted once per
    * (session, dir) — the tokenizer-artifact discipline: train is a
    * build step, serving reads the stored table (text_unigram_lm
    * certifies the build, text_unigram_encode the serving read). */
  private val unigramCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def unigramTableFor(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sessionFixture(unigramCache, s, d, "graft-unigram") {
      out =>
        graft.ops.UnigramLm.train(Tables.documents(s, d),
          maxPieceLen = 4, topV = 32, maxWordLen = 8)
          .write.mode("overwrite").parquet(out.toString)
        out.toString
    })

  /** The complete exact Jaccard-≥0.8 pair frame feeds both the pair
    * query and the LSH-recall certification — the same persist-once
    * discipline as componentsFor (a dedup truth set is an artifact,
    * not a per-consumer rebuild). */
  private val prefixPairsCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def prefixPairsFor(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sessionFixture(prefixPairsCache, s, d, "graft-prefix-pairs") {
      out =>
        Dedup.prefixFilteredPairs(Tables.documents(s, d), 0.8)
          .write.mode("overwrite").parquet(out.toString)
        out.toString
    })

  private def componentsFor(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sessionFixture(componentsCache, s, d, "graft-components") {
      out =>
        val comps = Dedup.dedupComponents(Tables.documents(s, d), 4)
        comps.write.mode("overwrite").parquet(out.toString)
        // the decisions now live in parquet; release the contraction
        // loop's final checkpoint blocks instead of stranding them
        org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(comps)
        out.toString
    })

  /** The end-to-end curation run is ONE pipeline serving two queries
    * (the funnel counts and the curated corpus) — built once per
    * (session, dir), both outputs persisted, the components loop's
    * checkpoint blocks freed once the parquet exists. At 100 TB a
    * curation run IS an artifact: stage counts are its audit record
    * and the kept-doc list its output manifest. */
  private val curationCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def curationFor(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = sessionFixture(curationCache, s, d, "graft-curation") { outP =>
      val out = outP.toString
      val st = graft.ops.Curation.stages(Tables.documents(s, d))
      graft.ops.Curation.stageCounts(st)
        .write.mode("overwrite").parquet(s"$out/counts")
      // the full curated rows (text included): downstream pipeline
      // stages (pipeline_pack_manifest) consume this artifact
      st.fin.write.mode("overwrite").parquet(s"$out/docs")
      // the per-doc disposition record (kept / first dropping stage)
      graft.ops.Curation.audit(st)
        .write.mode("overwrite").parquet(s"$out/audit")
      // outputs live in parquet now — free every lineage-cut block
      Seq(st.quality, st.exact, st.near, st.components)
        .foreach(graft.ops.Lineage.free)
      out
    }
    (s.read.parquet(s"$base/counts"), s.read.parquet(s"$base/docs"),
      s.read.parquet(s"$base/audit"))
  }

  /** Shared scaffold of the rel_join_autosalt_* certificates: install
    * [[graft.plans.SaltJoinRule]] plus a non-broadcastable-dim
    * threshold for the duration of `build` (-1 simulates the big dim
    * this rule exists for — a broadcastable one is guarded out: BHJ
    * has no fact shuffle, measured dominant), REQUIRE the built plan
    * to be the rewritten one (the row must certify the rule's output,
    * never the plain join), and materialize it before both settings
    * restore. */
  private def withSaltRule(s: SparkSession, requireFire: Boolean = true)(
      build: => DataFrame): DataFrame = {
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    withRules(s, graft.plans.SaltJoinRule(s)) {
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
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
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  /** Per-value totals off a graft-segment table's merged STRING map —
    * the zero-scan strata/mixture input shared by the mixture
    * certificates; fails diagnosably when the cap doctrine poisoned
    * the declared column (a value past the 64-byte cap or over the
    * distinct cap makes the statistic absent, never approximate). */
  private def manifestStrTotals(s: SparkSession, dir: String,
      column: String): Map[String, Long] = {
    val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
    val m = graft.sources.segment.SegmentLog.logicalView(
      graft.sources.segment.SegmentLog.read(fs, dir).get)
    graft.sources.segment.SegmentHistogram
      .decodeStr(m.shistMerged.getOrElse(column,
        throw new IllegalStateException(
          s"no merged string map for '$column' — the cap doctrine " +
            "poisoned the statistic; this certificate requires the " +
            "bounded domain its data declares")))
      .map { case (v, n) => v.toString -> n }.toMap
  }

  /** The synthetic CDC ops log shared by the batch apply, the
    * streaming bucketed consumer, and the time-travel read: insert
    * all, update k%3, delete k%7, re-insert k%21 — so tombstone-then-
    * reinsert is exercised and versions 2/3/4 are pairwise distinct. */
  private def cdcLog(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
    o.select(col("k"), lit(1L).as("seq"), lit("I").as("op"), col("cents"))
      .union(o.filter(col("k") % 3 === 0).select(col("k"), lit(2L).as("seq"),
        lit("U").as("op"), (col("cents") + 100L).as("cents")))
      .union(o.filter(col("k") % 7 === 0).select(col("k"), lit(3L).as("seq"),
        lit("D").as("op"), lit(null).cast("long").as("cents")))
      .union(o.filter(col("k") % 21 === 0).select(col("k"), lit(4L).as("seq"),
        lit("I").as("op"), (col("cents") + 55L).as("cents")))
  }

  /** Catalog plugins are instantiated once per NAME and keep their
    * init-time warehouse; queries that mount a temp-dir catalog must
    * mint a fresh name per invocation to stay re-runnable. */
  private val segCatalogSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def withTempDir(prefix: String)(f: String => DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    try f(base.toString).localCheckpoint(true)
    finally TempDirs.deleteTree(base) // closes its walk stream, unlike a bare walk
  }

  /** Stage a streaming query's input-fixture dirs CONCURRENTLY (guide
    * §2.6 — the writes are independent jobs to disjoint dirs; run
    * serially each pays its own scheduler round-trip while the cluster
    * sits in the previous write's tail), then stamp every staged
    * file's mtime in `ordered` sequence order: a maxFilesPerTrigger
    * file source drains files oldest-first, so arrival order — and
    * with it micro-batch assignment — stays exactly what the former
    * serial writes produced, decided by the explicit stamps instead of
    * write completion. `unordered` writes (dimension versions keyed by
    * NAME, sink seeds read all-at-once) overlap in the same pool and
    * get no stamp. */
  private def stageOrdered(
      ordered: Seq[(String, () => Unit)],
      unordered: Seq[() => Unit] = Seq.empty): Unit = {
    graft.streaming.Overlap.awaitAll(ordered.map(_._2) ++ unordered)
    val now = System.currentTimeMillis()
    ordered.map(_._1).zipWithIndex.foreach { case (dir, i) =>
      new java.io.File(dir).listFiles()
        .foreach(_.setLastModified(now - 200000L + i * 10000L))
    }
  }

  /** The streaming pipeline driven end-to-end as a deterministic job:
    * orders (10% sample of lineitem, grouped to order events, JSON-
    * serialized into ONE file) stream through parse → validate →
    * transactional inventory, verdict counts read back from the sink. */
  private def streamCheckoutCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-stream") { base =>
    val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 10 === 0)
    val inv = new graft.streaming.CheckoutStream.InventoryTable(s, s"$base/inv")
    // the order-JSON staging write and the inventory-table seed are
    // independent (disjoint dirs) — overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => Checkout.ordersWithItems(li)
        .select(to_json(struct(
          col("l_orderkey").cast("string").as("order_id"),
          concat(lit("cust-"), col("l_orderkey")).as("customer_id"),
          transform(col("items"), i => struct(
            i.getField("product_id").cast("string").as("product_id"),
            i.getField("quantity").as("quantity"))).as("items"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$base/in"),
      () => inv.initialize(Checkout.inventoryFromParts(Tables.part(s, d))
        .select(col("product_id").cast("string").as("product_id"), col("stock")))))
    val raw = s.readStream.text(s"$base/in")
    val (valid, _) = graft.streaming.CheckoutStream.parseOrderStream(raw, "value")
    val q = graft.streaming.CheckoutStream
      .start(valid, inv, s"$base/verdicts", s"$base/ckpt").start()
    q.awaitTermination()
    s.read.parquet(s"$base/verdicts")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("status"))
  }

  /** ST4 over the generic event stream: every event delivered twice,
    * watermarked stream dedup restores exactly-once — final counts are
    * oracle-checkable against the plain distinct counts. */
  private def streamDedupCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-dedup-stream") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    ev.unionAll(ev).write.mode("overwrite").parquet(s"$base/in")
    val q = s.readStream.schema(ev.schema).parquet(s"$base/in")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$base/out")
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** ST2/S4 driven end-to-end: every event enters a file-backed retry
    * queue; invalid events are poison — they fail every delivery,
    * re-enter the queue with attempts+1, and divert to the DLQ at
    * maxAttempts=3. Valid events deliver on attempt 1. The final
    * (outcome, count, total attempts) split is oracle-checkable because
    * the redrive policy is deterministic. */
  private def streamDlqCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-dlq") { base =>
    val queue = Ingest.parseAndValidateEvents(Tables.events(s, d))
      .select(col("event_id"), col("is_valid"), lit(0).as("attempts"))
    queue.write.mode("overwrite").parquet(s"$base/in/seed")
    graft.streaming.RetryLoop.run(s, queue.schema, s"$base/in",
      s"$base/delivered", s"$base/dlq", s"$base/ckpt", !col("is_valid"), maxAttempts = 3)
    // batch_N subdirs (plain names, no partition inference) need the
    // recursive lookup; a glob would trip FileStreamSink's metadata probe
    val del = s.read.schema(queue.schema).option("recursiveFileLookup", "true")
      .parquet(s"$base/delivered")
      .select(lit("delivered").as("outcome"), col("attempts"))
    val dead = s.read.schema(queue.schema).option("recursiveFileLookup", "true")
      .parquet(s"$base/dlq")
      .select(lit("dead_letter").as("outcome"), col("attempts"))
    del.unionByName(dead)
      .groupBy(col("outcome"))
      .agg(count(lit(1)).as("n_events"), sum(col("attempts")).cast("long").as("n_attempts"))
      .orderBy(col("outcome"))
  }

  /** A2 v2 driven end-to-end under the oracle: the keyed
    * `transformWithState` reserve (RocksDB state) over a file-source
    * stream, composed with the phase-2 order verdict. The request set
    * keeps ONE line per product (first order wins), so the keyed
    * sequential grant is exactly `quantity <= stock` per line and the
    * whole path is SQL-expressible; contention/compensation semantics
    * are certified separately by the StreamingSpec saga test. */
  private def streamSagaCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-saga") { base =>
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.InventoryProcessor
    import s.implicits._
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("l_orderkey"), col("l_linenumber"))
    val reqDf = Tables.lineitem(s, d).filter(col("l_orderkey") % 50 === 0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        col("l_orderkey").cast("string").as("order_id"),
        col("l_partkey").cast("string").as("product_id"),
        col("l_quantity").cast("long").as("quantity"))
    reqDf.write.mode("overwrite").parquet(s"$base/in")
    val reqSchema = org.apache.spark.sql.Encoders.product[InventoryProcessor.LineRequest].schema
    val requests = s.readStream.schema(reqSchema).parquet(s"$base/in")
      .as[InventoryProcessor.LineRequest].groupByKey(_.product_id)
    // seed only products the request set touches: a missing key reads as
    // stock 0 in the processor, which is exactly the oracle's
    // COALESCE(stock, 0) — so trimming the initial state is semantics-
    // free and keeps the keyed-state cardinality proportional to the
    // workload, not the catalog
    val seed = Checkout.inventoryFromParts(Tables.part(s, d))
      .select(col("product_id").cast("string").as("product_id"), col("stock").cast("long").as("stock"))
      .join(reqDf.select(col("product_id")).distinct(), Seq("product_id"), "left_semi")
      .as[InventoryProcessor.ProductStock].groupByKey(_.product_id)
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // one RocksDB instance per state partition: 8 stores cover this
      // key cardinality; 32 mostly-idle stores pay open/commit/maintain
      // per micro-batch for nothing (at cluster scale you SIZE this to
      // the key space — the knob, not the default, is the design)
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val q = InventoryProcessor.reserve(requests, seed)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/verdicts")
        .start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val verdicts = s.read.parquet(s"$base/verdicts").as[InventoryProcessor.LineVerdict]
    InventoryProcessor.orderVerdicts(verdicts)
      .select(col("order_id"),
        when(col("all_granted"), "PROCESSED").otherwise("FAILED").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("status"))
  }

  /** The SELF-CONTAINED saga (verdict r4 #6): [[graft.streaming.SagaLoop]]
    * drives reserve → order verdict → compensation → credit re-enqueue →
    * drain as ONE callable, against a deliberately CONTENDED request set.
    * Determinism under contention: at most two orders per product (ranked
    * by zero-padded order_id, so the processor's lexicographic
    * serialization equals the oracle's rank order), which makes the
    * greedy grant SQL-expressible in two steps — rn=1 grants iff
    * q1 <= stock, rn=2 iff q2 <= stock - (granted1 ? q1 : 0). Stock is
    * p_size (1..50, same range as quantities) so denials and
    * compensations actually occur; the output counts refund rows and
    * refunded quantity per status, certifying the credits really flowed
    * through the queue hop (all-zero refunds would hash-mismatch). */
  private def streamSagaLoopCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-sagaloop") { base =>
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.{InventoryProcessor, SagaLoop}
    import s.implicits._
    val oneLine = Window.partitionBy(col("l_orderkey"), col("l_partkey"))
      .orderBy(col("l_linenumber"))
    val perProduct = Window.partitionBy(col("product_id")).orderBy(col("order_id"))
    val reqDf = Tables.lineitem(s, d).filter(col("l_orderkey") % 37 === 0)
      .select(
        lpad(col("l_orderkey").cast("string"), 12, "0").as("order_id"),
        col("l_partkey").cast("string").as("product_id"),
        col("l_quantity").cast("long").as("quantity"),
        col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      .withColumn("dn", row_number().over(oneLine)).filter(col("dn") === 1)
      .withColumn("rn", row_number().over(perProduct)).filter(col("rn") <= 2)
      .select(col("order_id"), col("product_id"), col("quantity"))
    reqDf.write.mode("overwrite").parquet(s"$base/in/seed")
    val seed = Tables.part(s, d)
      .select(col("p_partkey").cast("string").as("product_id"),
        col("p_size").cast("long").as("stock"))
      .join(reqDf.select(col("product_id")).distinct(), Seq("product_id"), "left_semi")
      .as[InventoryProcessor.ProductStock]
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set("spark.sql.shuffle.partitions", "8") // sized to key space, as streamSagaCounts
      SagaLoop.run(s, s"$base/in", s"$base/verdicts", s"$base/ckpt", seed)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val verdicts = s.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/verdicts")
      .as[InventoryProcessor.LineVerdict]
    val orders = InventoryProcessor.orderVerdicts(verdicts)
    val refunds = verdicts.toDF().filter(col("quantity") < 0)
      .groupBy(col("order_id"))
      .agg(count(lit(1)).as("n_refund_lines"), sum(-col("quantity")).as("refund_qty"))
    orders.join(refunds, Seq("order_id"), "left")
      .groupBy(when(col("all_granted"), "PROCESSED").otherwise("FAILED").as("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        coalesce(sum(col("n_refund_lines")), lit(0L)).cast("long").as("n_refund_lines"),
        coalesce(sum(col("refund_qty")), lit(0L)).cast("long").as("refund_qty"))
      .orderBy(col("status"))
  }

  /** Spark's NATIVE gap-based `session_window` aggregation, streaming,
    * in append mode — certified against the SAME oracle SQL as the
    * batch `events_sessions` lag/gap formulation, proving the two
    * sessionization semantics coincide (a session extends while
    * consecutive events are < gap apart; an exact-gap arrival starts a
    * new session). Same one-pass sentinel design as streamWindowCounts:
    * everything lands in batch 0, the sentinel (3 h past the horizon,
    * user_id −1, filtered after readback) drags the watermark past
    * every real session's close, and the automatic flush batch emits
    * them all. Session state is keyed (user, session) in RocksDB-ready
    * keyed state — the 100 TB sessionization shape, no per-user sort of
    * the whole history. */
  private def streamSessionCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-sess") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    // both files land in the same (only) micro-batch — the writes are
    // independent, overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => ev.coalesce(8).write.mode("overwrite").parquet(s"$base/in/batch0"),
      () => s.range(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)).as("ts"),
        lit(-1L).as("user_id"),
        lit(0.0).as("value"))
        .write.mode("overwrite").parquet(s"$base/in/sentinel")))
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val q = s.readStream.schema(ev.schema).parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm").as("session_start"),
          col("n_events"), col("session_value"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(s"$base/out")
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream-STREAM interval join under the oracle: two watermarked file
    * streams (clicks, purchases) joined on user_id with a ±time bound —
    * the flagship Structured Streaming join, where BOTH sides buffer in
    * keyed state and the watermark bounds how long a row waits for its
    * match. Inner-join results are emitted as matches arrive regardless
    * of watermark progress, so one AvailableNow pass over fully-seeded
    * inputs yields exactly the batch join — which is the DuckDB oracle.
    * The time bound is what makes this scale: without it both sides'
    * state grows forever; with it the watermark evicts rows older than
    * the bound every batch. State partitions sized to the key space (8),
    * same design rule as the other stateful streams. */
  private def streamJoinCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-ssjoin") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // two independent single-batch sources — overlap the staging writes
    graft.streaming.Overlap.awaitAll(Seq(
      () => ev.filter(col("event_type") === "click").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_clicks"),
      () => ev.filter(col("event_type") === "purchase").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_purch")))
    val schema = ev.schema
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val clicks = s.readStream.schema(schema).parquet(s"$base/in_clicks")
        .withWatermark("ts", "1 hour")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val purchases = s.readStream.schema(schema).parquet(s"$base/in_purch")
        .withWatermark("ts", "1 hour")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
          col("user_id").as("p_user"))
      val q = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"))
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(s"$base/out")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("click_id")).as("n_clicks_matched"))
      .orderBy(col("user_id"))
  }

  /** Stream-stream LEFT OUTER interval join — the state-EVICTION
    * semantic the inner variant never exercises: an unmatched click's
    * null-extended row may only emit once the min-watermark across
    * both inputs passes its join bound (before that, a matching
    * purchase could still arrive). One sentinel per INPUT (both — the
    * join watermark is the minimum) jumps the watermark past every
    * real bound, and the engine's trailing watermark-flush batch
    * emits the whole unmatched set in the same single AvailableNow
    * run (streamWindowCounts' mechanism, applied to join state).
    * Sentinels pair only with each other (user -1) and are dropped at
    * the read-back. The emitted multiset then equals the batch LEFT
    * JOIN — matched rows per pair, one null row per unmatched click —
    * which is exactly the oracle. */
  private def streamJoinOuterCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-ssjoin-outer") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    def sentinel(id: Long) = s.range(1).select(
      lit(id).as("event_id"),
      lit(new java.sql.Timestamp(maxTs.getTime + 6L * 3600 * 1000)).as("ts"),
      lit(-1L).as("user_id"),
      lit("sentinel").as("event_type"))
    // four independent staging writes (two single-batch sources, one
    // sentinel each) — overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => ev.filter(col("event_type") === "click").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_clicks/data"),
      () => sentinel(-1L).write.mode("overwrite").parquet(s"$base/in_clicks/sentinel"),
      () => ev.filter(col("event_type") === "purchase").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_purch/data"),
      () => sentinel(-2L).write.mode("overwrite").parquet(s"$base/in_purch/sentinel")))
    val schema = ev.schema
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val clicks = s.readStream.schema(schema).parquet(s"$base/in_clicks/*")
        .withWatermark("ts", "1 hour")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val purchases = s.readStream.schema(schema).parquet(s"$base/in_purch/*")
        .withWatermark("ts", "1 hour")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
          col("user_id").as("p_user"))
      val q = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"),
        "leftOuter")
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(s"$base/out")
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_id")).as("n_matched"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy(col("user_id"))
  }

  /** Streaming AS-OF — the family's third leg (batch composed window,
    * native physical operator, and now IN-FLIGHT): a watermarked
    * interval join produces each click's candidate purchases, and a
    * SECOND stateful operator — a watermark-windowed aggregation —
    * picks the latest per click with `max(struct(p_ts, purchase_id))`
    * (ties to the larger id, the deterministic tiebreak). Chained
    * stateful operators in ONE append-mode query are the Spark-4
    * semantics this certifies: the join's output still carries c_ts's
    * event-time marker, so the downstream window evicts on the same
    * watermark. Sentinels on BOTH inputs (the join watermark is the
    * min) jump it past every real window end; the sentinels' own join
    * row stays in the open sentinel window and never emits. Lookback
    * is bounded (6 h), so join state and agg state are both
    * watermark-bounded — the 100 TB/day shape for streaming feature
    * lookup. */
  private def streamAsofCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-asof-stream") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    def sentinel(id: Long) = s.range(1).select(
      lit(id).as("event_id"),
      lit(new java.sql.Timestamp(maxTs.getTime + 6L * 3600 * 1000)).as("ts"),
      lit(-1L).as("user_id"),
      lit("sentinel").as("event_type"))
    // four independent staging writes (two single-batch sources, one
    // sentinel each) — overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => ev.filter(col("event_type") === "click").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_clicks/data"),
      () => sentinel(-1L).write.mode("overwrite").parquet(s"$base/in_clicks/sentinel"),
      () => ev.filter(col("event_type") === "purchase").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_purch/data"),
      () => sentinel(-2L).write.mode("overwrite").parquet(s"$base/in_purch/sentinel")))
    val schema = ev.schema
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val clicks = s.readStream.schema(schema).parquet(s"$base/in_clicks/*")
        .withWatermark("ts", "1 hour")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val purchases = s.readStream.schema(schema).parquet(s"$base/in_purch/*")
        .withWatermark("ts", "1 hour")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
          col("user_id").as("p_user"))
      val q = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 6 HOURS") &&
          col("p_ts") <= col("c_ts"))
        .groupBy(window(col("c_ts"), "1 hour"), col("click_id"), col("c_user"))
        .agg(max(struct(col("p_ts"), col("purchase_id"))).as("best"))
        .select(col("click_id"), col("c_user").as("user_id"),
          col("best.purchase_id").as("purchase_id"),
          date_format(col("best.p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(s"$base/out")
      .filter(col("user_id") =!= -1L)
      .orderBy(col("click_id"))
  }

  /** ST6 under the oracle: watermarked tumbling-window aggregation in
    * APPEND mode — a window row is emitted exactly once, when the
    * watermark passes its end. ONE AvailableNow run: the input dir holds
    * the real events plus one sentinel event 3 h past the horizon, all
    * of which land in the first micro-batch (the watermark is consulted
    * only BETWEEN batches, so nothing is late-dropped); after that batch
    * the watermark jumps past every real window's end and the engine's
    * automatic watermark-flush batch emits them all. The sentinel's own
    * window stays open (its end exceeds the final watermark) and is
    * filtered out. The emitted set then equals the batch tumbling
    * aggregate — the events_tumbling_hourly oracle. A prior two-pass
    * formulation (real events, then the sentinel through the same
    * checkpoint) proved the same semantics but paid query startup +
    * state restore twice: 12.7 s → 3.0 s at sf0.1 with this shape.
    * State partitions are sized to the window-group cardinality (8, not
    * the session's 32) — same design rule as streamSagaCounts. */
  private def streamWindowCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-win") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    // both files land in the same (only) micro-batch — the writes are
    // independent, overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => ev.coalesce(8).write.mode("overwrite").parquet(s"$base/in/batch0"),
      () => s.range(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)).as("ts"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
        .write.mode("overwrite").parquet(s"$base/in/sentinel")))
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val q = s.readStream.schema(ev.schema).parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
        .select(
          date_format(col("win.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("n_events"), col("total_value"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(s"$base/out")
      .filter(col("event_type") =!= "sentinel")
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Watermark-bounded streaming dedup (`dropDuplicatesWithinWatermark`):
    * the 100 TB answer to `dropDuplicates` on a stream, whose key state
    * grows forever — here a key's state is EVICTED once the watermark
    * passes its event time + delay, so state size tracks the dedup
    * horizon, not stream history. Input plants exact-duplicate files
    * (every %3 event twice, plus the %5 slice whose %15 overlap
    * duplicates across files); with the delay exceeding the corpus time
    * span nothing evicts mid-run, so the admitted set provably equals
    * batch DISTINCT — the oracle. Eviction + re-admission semantics are
    * certified separately in StreamingSpec (two runs over one
    * checkpoint). */
  private def streamWatermarkDedupCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-wmdedup") { base =>
    val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("event_type"))
    val third = ev.filter(col("event_id") % 3 === 0)
    // one micro-batch drains all three files; which byte-identical
    // duplicate row survives the dedup is unobservable — overlap
    graft.streaming.Overlap.awaitAll(Seq(
      () => third.coalesce(4).write.parquet(s"$base/in/a"),
      () => third.coalesce(4).write.parquet(s"$base/in/b"), // byte-identical duplicates
      () => ev.filter(col("event_id") % 5 === 0).coalesce(4).write.parquet(s"$base/in/c")))
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val q = s.readStream.schema(ev.schema).parquet(s"$base/in/*")
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(s"$base/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  // Shared SQL fragments for the checkout oracle (kept identical across
  // the queries that build on line verdicts).
  private val lvSql =
    "SELECT l_orderkey, l_linenumber, l_partkey, CAST(l_quantity AS INT) AS qty, " +
      "COALESCE(p_size*10, 0) AS stock, " +
      "(COALESCE(p_size*10, 0) >= CAST(l_quantity AS INT)) AS sufficient " +
      "FROM lineitem LEFT JOIN part ON l_partkey = p_partkey"

  private val ovSql =
    "SELECT l_orderkey, CASE WHEN bool_and(sufficient) THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
      s"CAST(count(*) AS BIGINT) AS n_items FROM ($lvSql) GROUP BY l_orderkey"

  /** Per-lang keep rates for `text_stratified_sample` — the SAME map
    * generates both the Spark predicate and the oracle SQL, so parity
    * holds by construction at any SF. */
  private val stratRates = Map("de" -> 0.9, "en" -> 0.4, "zh" -> 0.7)

  /** Target token shares for `text_mixture_sample` — the SAME map
    * generates the Spark rates and the oracle SQL's shares table, so
    * the data-dependent keep-rates agree bit-for-bit: both engines
    * compute c = min(tokens_s/share_s), rate = min(1, c·share_s/
    * tokens_s) and the 8-hex threshold with identical double ops. */
  private val mixShares: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (if (i % 4 == 0) 0.10 else 0.03)).toMap

  private def mixSharesValuesSql: String =
    mixShares.toSeq.sortBy(_._1)
      .map { case (s, w) => s"('$s', CAST($w AS DOUBLE))" }.mkString(", ")

  /** text_bpe_merges oracle: replays `n` BPE rounds — pair counts over
    * the delimited symbol strings, deterministic winner, merge applied
    * with exactly [[graft.ops.Bpe.mergePasses]] replace passes (the
    * defined fixpoint semantics; see Bpe's scaladoc). Generated so the
    * round structure and pass count can never drift from the Scala. */
  private def bpeCtes(n: Int): String = {
    val passes = graft.ops.Bpe.mergePasses
    val base = "w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq, " +
      "'|' || array_to_string(string_split(word, ''), '|') || '|' AS seq " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word)"
    val rounds = (1 to n).map { k =>
      val nested = (1 to passes).foldLeft("seq")((c, _) => s"replace($c, p, r)")
      s"p$k AS (SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b, " +
        "CAST(sum(freq) AS BIGINT) AS cnt " +
        "FROM (SELECT freq, unnest(list_transform(range(1, len(syms)), i -> syms[i] || ' ' || syms[i+1])) AS pr " +
        s"FROM (SELECT freq, list_filter(string_split(seq, '|'), x -> x <> '') AS syms FROM w${k - 1})) " +
        "GROUP BY 1, 2), " +
        s"win$k AS (SELECT CAST($k AS INT) AS merge_rank, a AS sym_a, b AS sym_b, " +
        s"a || b AS merged, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1), " +
        s"w$k AS (SELECT word, freq, $nested AS seq " +
        s"FROM (SELECT w.word, w.freq, w.seq, '|' || v.sym_a || '|' || v.sym_b || '|' AS p, " +
        s"'|' || v.merged || '|' AS r FROM w${k - 1} w CROSS JOIN win$k v))"
    }
    s"WITH $base, ${rounds.mkString(", ")}"
  }

  private def bpeOracleSql(n: Int): String =
    s"${bpeCtes(n)} " +
      (1 to n).map(k => s"SELECT * FROM win$k").mkString(" UNION ALL ") +
      " ORDER BY merge_rank"

  /** text_bpe_pieces oracle: the segmentation state after the final
    * round — pieces joined on one space (array hashing sidestepped). */
  private def bpePiecesSql(n: Int): String =
    s"${bpeCtes(n)} SELECT word, freq, " +
      "array_to_string(list_filter(string_split(seq, '|'), x -> x <> ''), ' ') AS pieces " +
      s"FROM w$n ORDER BY word"

  private val shingleSql =
    "SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
      "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
      "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"

  /** Histogram-sketch quantile replay (bin width 10 over [0, 640),
    * interpolated) — shared by the direct and shard-merged paths,
    * which must estimate identically. */
  private val quantileSketchSql =
    "WITH qsk AS (SELECT lang, CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 10.0), 0), 63) AS INT) AS bin, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2), " +
      "qcm AS (SELECT lang, bin, cnt, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum, " +
      "sum(cnt) OVER (PARTITION BY lang) AS n_total FROM qsk), " +
      "qq AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q) " +
      "SELECT lang, q, round(0.0 + bin * 10.0 + 10.0 * (q * n_total - (cum - cnt)) / cnt, 4) AS q_est " +
      "FROM qcm CROSS JOIN qq " +
      "WHERE cum >= q * n_total AND CAST(cum - cnt AS DOUBLE) < q * n_total " +
      "ORDER BY lang, q"

  /** One banding arm: signatures at `b` bands, bucket cap, distinct
    * candidate pairs — names suffixed so the arms coexist in one WITH. */
  private def bandingArmCtes(b: Int): String = {
    val bands = (0 until b).mkString(", ")
    s"sig_b$b AS (SELECT doc_id, b.band, " +
      "list_min(list_transform(shingles, s -> " +
      "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
      s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
      s"CROSS JOIN (SELECT unnest([$bands]) AS band) b), " +
      s"ok_b$b AS (SELECT band, signature FROM (SELECT band, signature, count(*) AS n " +
      s"FROM sig_b$b GROUP BY 1, 2) WHERE n <= 50), " +
      s"bk_b$b AS (SELECT sig_b$b.doc_id, sig_b$b.band, sig_b$b.signature " +
      s"FROM sig_b$b JOIN ok_b$b USING (band, signature)), " +
      s"cand_b$b AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bk_b$b x " +
      s"JOIN bk_b$b y ON x.band = y.band AND x.signature = y.signature AND x.doc_id < y.doc_id)"
  }

  private def bandingArmSelect(b: Int): String = {
    val cap = s"(SELECT CAST(count(*) AS BIGINT) FROM bt_truth t WHERE EXISTS " +
      s"(SELECT 1 FROM cand_b$b c WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))"
    s"SELECT $b AS bands, (SELECT CAST(count(*) AS BIGINT) FROM cand_b$b) AS n_candidates, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM bt_truth) AS n_true, " +
      s"$cap AS n_captured, " +
      s"round(CAST($cap AS DOUBLE) / (SELECT count(*) FROM bt_truth), 4) AS recall"
  }

  /** The streaming-curation closed-form admission chain (fixed-score
    * quality → exact keeper → band-claim minimum); `emitPred` narrows
    * which admitted docs the stream actually EMITS (the bootstrap
    * corpus claims state but is never written to the output). */
  private def streamCurationSql(emitPred: String): String =
    "WITH sq AS (SELECT doc_id, text FROM documents WHERE " +
      "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) >= 2), " +
      "sek AS (SELECT min(doc_id) AS doc_id FROM sq GROUP BY md5(text)), " +
      "sed AS (SELECT sq.* FROM sq JOIN sek USING (doc_id)), " +
      "ssh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
      "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
      "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sed)), " +
      "ssig AS (SELECT doc_id, b.band, " +
      "list_min(list_transform(shingles, s -> " +
      "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
      "FROM (SELECT * FROM ssh WHERE len(shingles) > 0) " +
      "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
      "smn AS (SELECT band, signature, min(doc_id) AS min_doc FROM ssig GROUP BY 1, 2), " +
      "srej AS (SELECT DISTINCT s.doc_id FROM ssig s JOIN smn USING (band, signature) " +
      "WHERE smn.min_doc < s.doc_id) " +
      "SELECT doc_id FROM sed WHERE doc_id NOT IN (SELECT doc_id FROM srej)" +
      s"$emitPred ORDER BY doc_id"

  /** 5-gram shingle list over a named doc CTE — the decontamination
    * gram width (range is end-exclusive: i = 1 .. len-4). */
  private def fiveGramSql(src: String, withId: Boolean) = {
    val id = if (withId) "doc_id, " else ""
    s"SELECT DISTINCT ${id}unnest(CASE WHEN len(w) >= 5 THEN " +
      "list_transform(range(1, len(w)-3), i -> " +
      "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) " +
      "ELSE CAST([] AS VARCHAR[]) END) AS shingle " +
      s"FROM (SELECT ${id}string_split(text, ' ') AS w FROM $src)"
  }

  /** The curation pipeline oracle: the standalone certified fragments
    * (text_sample_split, text_quality_filter, dedup_exact_groups,
    * dedup_kept_docs, text_ngram_decontam) composed into one CTE
    * chain, each stage reading the previous stage's survivors. */
  private val curationCtes =
    "WITH RECURSIVE " +
      // stage 1: deterministic md5-bucket split; heldout = benchmark
      s"cur_split AS (SELECT doc_id, CASE WHEN substring(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8) " +
      s"< '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train' ELSE 'heldout' END AS split FROM documents), " +
      "cur_train AS (SELECT d.* FROM documents d JOIN cur_split USING (doc_id) WHERE split = 'train'), " +
      "cur_bench AS (SELECT d.* FROM documents d JOIN cur_split USING (doc_id) WHERE split = 'heldout'), " +
      // stage 2: quality filter, histogram threshold over the TRAIN side
      "cur_q AS (SELECT doc_id, " +
      "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
      "FROM cur_train), " +
      "cur_hist AS (SELECT quality_score, count(*) AS cnt FROM cur_q GROUP BY 1), " +
      "cur_cum AS (SELECT quality_score, sum(cnt) OVER (ORDER BY quality_score DESC) AS cum_ge, " +
      "sum(cnt) OVER () AS n_total FROM cur_hist), " +
      "cur_thr AS (SELECT max(quality_score) AS q_threshold FROM cur_cum " +
      "WHERE CAST(cum_ge AS DOUBLE) >= CAST(n_total AS DOUBLE) * 0.5), " +
      "cur_qd AS (SELECT t.* FROM cur_train t JOIN cur_q USING (doc_id) CROSS JOIN cur_thr " +
      "WHERE cur_q.quality_score >= cur_thr.q_threshold), " +
      // stage 3: exact dedup — keeper = min doc_id per content digest
      "cur_ek AS (SELECT min(doc_id) AS doc_id FROM cur_qd GROUP BY md5(text)), " +
      "cur_ed AS (SELECT cur_qd.* FROM cur_qd JOIN cur_ek USING (doc_id)), " +
      // stage 4: LSH banding + component closure over survivors
      "cur_esh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
      "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
      "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM cur_ed)), " +
      "cur_sig AS (SELECT doc_id, b.band, " +
      "list_min(list_transform(shingles, s -> " +
      "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
      "FROM (SELECT * FROM cur_esh WHERE len(shingles) > 0) " +
      "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
      "cur_star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM cur_sig), " +
      "cur_edges AS (SELECT DISTINCT src, dst FROM cur_star WHERE src <> dst), " +
      "cur_sym AS (SELECT src, dst FROM cur_edges UNION SELECT dst, src FROM cur_edges), " +
      "cur_reach AS (SELECT doc_id, doc_id AS lbl FROM cur_ed " +
      "UNION SELECT e.dst, r.lbl FROM cur_sym e JOIN cur_reach r ON e.src = r.doc_id), " +
      "cur_keep AS (SELECT doc_id FROM cur_reach GROUP BY doc_id HAVING doc_id = min(lbl)), " +
      "cur_nd AS (SELECT cur_ed.* FROM cur_ed JOIN cur_keep USING (doc_id)), " +
      // stage 5: drop survivors sharing any 5-gram with the benchmark
      s"cur_bg AS (${fiveGramSql("cur_bench", withId = false)}), " +
      s"cur_ng AS (${fiveGramSql("cur_nd", withId = true)}), " +
      "cur_contam AS (SELECT DISTINCT cur_ng.doc_id FROM cur_ng JOIN cur_bg USING (shingle)), " +
      "cur_fin AS (SELECT * FROM cur_nd WHERE doc_id NOT IN (SELECT doc_id FROM cur_contam))"

  /** SimHash signatures in SQL — the token hash is the first 16 hex
    * chars of md5 as a big-endian 64-bit value, so bit i of the hash is
    * bit (i%4) of hex nibble at 1-based position 16 - i//4. Explode 64
    * bit positions per token, signed-sum the votes, assemble the
    * signature as HUGEINT, two's-complement down to BIGINT. Yields
    * `sig(doc_id, simhash)`. */
  private val simhashSigSql =
    "w AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents), " +
      "b AS (SELECT doc_id, h, unnest(range(0, 64)) AS i FROM w), " +
      "v AS (SELECT doc_id, i, sum(CASE WHEN " +
      "((strpos('0123456789abcdef', substr(h, CAST(16 - i // 4 AS INT), 1)) - 1) " +
      "// CAST(power(2, i % 4) AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS vote " +
      "FROM b GROUP BY doc_id, i), " +
      "sraw AS (SELECT doc_id, COALESCE(sum(CASE WHEN vote > 0 THEN CAST(power(2, i) AS HUGEINT) " +
      "ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS raw FROM v GROUP BY doc_id), " +
      "sig AS (SELECT doc_id, CAST(raw - CASE WHEN raw >= 9223372036854775808 " +
      "THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS simhash FROM sraw)"

  /** The scaledBits knob in SQL — MUST mirror `embBits`/`Similarity
    * .scaledBits` exactly (least over dim and 24, greatest with 4,
    * ceil-log2 of n/32) so both engines derive the same LSH bit width
    * from the data at any SF. */
  private val bitsSql =
    "prm AS (SELECT CAST(least(CAST(min(len(embedding)) AS INT), 24, " +
      "greatest(4, CAST(ceil(log2(greatest(1.0, count(*) / 32.0))) AS INT))) AS INT) AS b " +
      "FROM embeddings)"

  /** Sign-bucket assignment with the formula-derived bit width; bit i
    * (1-based) weighs 2^(b-i), matching Similarity.signBucket. */
  private val bktSql =
    s"$bitsSql, bkt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
      "list_sum(list_transform(range(1, b + 1), i -> CASE WHEN embedding[i] > 0 " +
      "THEN CAST(power(2, b - i) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS bucket " +
      "FROM embeddings CROSS JOIN prm)"

  private val validSql =
    "(user_id IS NOT NULL AND event_type IS NOT NULL AND " +
      "json_extract_string(props, '$.k') IS NOT NULL AND value >= 1.0)"

  /** Sequential-fold cosine over DOUBLE[] — bitwise-matches the Spark
    * HOF fold and the fused native expression (same element order). */
  private def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x))))"

  /** One damped PageRank iteration as a CTE, mirroring
    * [[graft.ops.PageRank.ranks]]'s update to the float-quantized bit
    * (the Pca-chain discipline): contribution sum in double, update
    * expression double throughout (decimal literals cast explicitly —
    * DuckDB parses bare 0.85 as DECIMAL, whose exact arithmetic
    * diverges from IEEE before quantization), then CAST to REAL. */
  private def pagerankIterSql(i: Int): String =
    s"r$i AS (SELECT nodes.node, CAST(CAST(" +
      "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn) + " +
      "CAST(0.85 AS DOUBLE) * COALESCE(cb.contrib, 0) AS REAL) AS DOUBLE) AS rank " +
      "FROM nodes LEFT JOIN (SELECT k.dst, sum(r.rank / d.outdeg) AS contrib " +
      s"FROM knn k JOIN r${i - 1} r ON k.src = r.node JOIN deg d ON k.src = d.src " +
      "GROUP BY k.dst) cb ON nodes.node = cb.dst)"

  /** The weighted variant of [[pagerankIterSql]]: contribution is
    * rank·w/wsum against the float-quantized per-src weight sums. */
  private def wprIterSql(i: Int): String =
    s"r$i AS (SELECT nodes.node, CAST(CAST(" +
      "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn) + " +
      "CAST(0.85 AS DOUBLE) * COALESCE(cb.contrib, 0) AS REAL) AS DOUBLE) AS rank " +
      "FROM nodes LEFT JOIN (SELECT k.dst, sum(r.rank * k.w / d.wsum) AS contrib " +
      s"FROM knn k JOIN r${i - 1} r ON k.src = r.node JOIN ws d ON k.src = d.src " +
      "GROUP BY k.dst) cb ON nodes.node = cb.dst)"

  /** The personalized variant of [[pagerankIterSql]]: the restart term
    * is seed-gated (nodesT carries is_seed), everything else mirrors
    * PageRank.loop identically. */
  private def pprIterSql(i: Int): String =
    s"r$i AS (SELECT nodesT.node, CAST(CAST(" +
      "CASE WHEN nodesT.is_seed THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM ns) " +
      "ELSE CAST(0.0 AS DOUBLE) END + " +
      "CAST(0.85 AS DOUBLE) * COALESCE(cb.contrib, 0) AS REAL) AS DOUBLE) AS rank " +
      "FROM nodesT LEFT JOIN (SELECT k.dst, sum(r.rank / d.outdeg) AS contrib " +
      s"FROM knn k JOIN r${i - 1} r ON k.src = r.node JOIN deg d ON k.src = d.src " +
      "GROUP BY k.dst) cb ON nodesT.node = cb.dst)"

  /** Two Lloyd iterations mirrored in SQL: seed from the 8 lowest ids,
    * assign (argmax cosine, centroid-id tiebreak), per-dim mean cast to
    * FLOAT (the quantization updateCentroids applies — also what keeps
    * both engines' aggregation-order double noise from leaking into the
    * comparison), re-assign. `a2` = final assignments, `c1` = the
    * centroids that produced them. */
  /** HLL ground truth — register = top 9 bits of the 32-bit md5 hash,
    * rho via ltrim-of-bin (integer-exact), bias-corrected harmonic
    * mean + linear-counting branch, every double exact. Shared by the
    * direct sketch (text_hll_vocab) and the shard-merge path
    * (text_hll_merged): max is associative+idempotent, so both must
    * produce THIS estimate bit-for-bit. */
  private val cmsTopkSql =
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
      "sk AS (SELECT i AS row, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || word), 1, 8) AS BIGINT) % 1024 AS bucket, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM tok CROSS JOIN range(0, 4) t(i) GROUP BY 1, 2), " +
      "top AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok " +
      "GROUP BY word ORDER BY freq DESC, word LIMIT 20), " +
      "probes AS (SELECT word, freq, i AS row, " +
      "CAST('0x' || substr(md5(CAST(i AS VARCHAR) || word), 1, 8) AS BIGINT) % 1024 AS bucket " +
      "FROM top CROSS JOIN range(0, 4) t(i)) " +
      "SELECT word, freq, min(cnt) AS n_est FROM probes JOIN sk USING (row, bucket) " +
      "GROUP BY word, freq ORDER BY freq DESC, word"

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

  /** KMV bottom-k sketch replay (k = 256): distinct md5-32 hashes per
    * lang, ranked ascending — shared by the vocab-estimate and
    * pair-overlap oracles. */
  private val kmvSketchCtes =
    "WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
      "h AS (SELECT DISTINCT lang, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM tok), " +
      "r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h), " +
      "sk AS (SELECT lang, hv FROM r WHERE rn <= 256)"

  private val kmvVocabSql =
    s"$kmvSketchCtes, " +
      "e AS (SELECT lang, count(*) AS n_sk, max(hv) AS h_k FROM sk GROUP BY lang) " +
      "SELECT lang, round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
      "ELSE 255 * 4294967296.0 / h_k END, 4) AS n_est FROM e ORDER BY lang"

  private val kmvOverlapSql =
    s"$kmvSketchCtes, " +
      "langs AS (SELECT DISTINCT lang FROM sk), " +
      "u AS (SELECT a.lang AS g_a, b.lang AS g_b, a.hv, 1 AS in_a, 0 AS in_b " +
      "FROM sk a JOIN langs b ON a.lang < b.lang " +
      "UNION ALL SELECT a.lang, b.lang, b.hv, 0, 1 FROM langs a JOIN sk b ON a.lang < b.lang), " +
      "g AS (SELECT g_a, g_b, hv, max(in_a) AS in_a, max(in_b) AS in_b FROM u GROUP BY 1, 2, 3), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY g_a, g_b ORDER BY hv) AS rn FROM g), " +
      "f AS (SELECT g_a, g_b, count(*) AS kp, max(hv) AS h_k, " +
      "CAST(sum(in_a * in_b) AS BIGINT) AS n_both, " +
      "CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_a_only, " +
      "CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_b_only " +
      "FROM rk WHERE rn <= 256 GROUP BY 1, 2), " +
      "fu AS (SELECT f.*, CASE WHEN kp < 256 THEN CAST(kp AS DOUBLE) " +
      "ELSE 255 * 4294967296.0 / h_k END AS union_est FROM f) " +
      "SELECT g_a, g_b, round(CAST(n_both AS DOUBLE) / kp, 4) AS jaccard_est, " +
      "round((CAST(n_both AS DOUBLE) / kp) * union_est, 4) AS inter_est, " +
      "round((CAST(n_a_only AS DOUBLE) / kp) * union_est, 4) AS a_only_est, " +
      "round((CAST(n_b_only AS DOUBLE) / kp) * union_est, 4) AS b_only_est " +
      "FROM fu ORDER BY g_a, g_b"

  private val hllVocabSql =
    "WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
      "h AS (SELECT lang, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM tok), " +
      "r AS (SELECT lang, CAST(hv // 8388608 AS INT) AS register, " +
      "max(24 - length(ltrim(bin(hv % 8388608), '0'))) AS max_rho FROM h GROUP BY 1, 2), " +
      "e AS (SELECT lang, count(*) AS np, sum(power(2.0, -max_rho)) AS sp FROM r GROUP BY lang) " +
      "SELECT lang, round(CASE WHEN raw <= 1280.0 AND (512.0 - np) > 0 " +
      "THEN 512.0 * ln(512.0 / (512.0 - np)) ELSE raw END, 4) AS n_est " +
      "FROM (SELECT lang, np, sp, (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / " +
      "((512.0 - np) + sp) AS raw FROM e) ORDER BY lang"

  /** CDC ground truth: newest op per key over the whole log, deletes
    * tombstoned — shared by the batch apply (store_cdc_apply) and the
    * streaming consumer (stream_cdc_apply). */
  private val cdcLogCtes =
    "WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice*100.0, 0) AS BIGINT) AS cents FROM orders), " +
      "log AS (SELECT k, CAST(1 AS BIGINT) AS seq, 'I' AS op, cents FROM o " +
      "UNION ALL SELECT k, 2, 'U', cents + 100 FROM o WHERE k % 3 = 0 " +
      "UNION ALL SELECT k, 3, 'D', NULL FROM o WHERE k % 7 = 0 " +
      "UNION ALL SELECT k, 4, 'I', cents + 55 FROM o WHERE k % 21 = 0)"

  /** Newest-op-wins collapse of the shared log, optionally cut at a
    * version — the oracle always replays the FULL prefix, so the
    * Spark side's checkpoint-plus-tail read is certified against
    * replay semantics. */
  private def cdcStateSql(versionCut: String) =
    s"$cdcLogCtes, " +
      s"r AS (SELECT k, seq, op, cents, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM log$versionCut) " +
      "SELECT k AS o_orderkey, seq, cents FROM r WHERE rn = 1 AND op <> 'D' " +
      "ORDER BY o_orderkey"

  private val cdcApplySql = cdcStateSql("")

  /** The join-view full rebuild the three-arm delta must reconstruct. */
  private val incrJoinSql =
    "SELECT o_custkey AS custkey, o_orderkey, " +
      "CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents, c_mktsegment " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "ORDER BY o_orderkey"

  /** One-shot per-customer aggregate ground truth — shared by the
    * batch incremental-merge path (store_incr_agg) and the streaming
    * snapshot chain (stream_incr_agg): both must land on exactly this
    * view. */
  private val incrAggSql =
    "SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(cents) AS BIGINT) AS sum_cents, min(cents) AS min_cents, " +
      "max(cents) AS max_cents " +
      "FROM (SELECT o_custkey, CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents FROM orders) " +
      "GROUP BY o_custkey ORDER BY o_custkey"

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

  /** Two power iterations from the e₁ seed mirrored in SQL: per-row
    * sequential dot fold, per-dim sums float-quantized (the row-order
    * noise absorber, same as the Lloyd centroid means), dim-ordered
    * norm fold, re-quantized iterate. */
  private val pcaChainSql = {
    def iter(t: Int, prevV: String): String =
      s"d$t AS (SELECT ve, list_sum(list_transform(range(1, len(ve)+1), i -> ve[i]*v[i])) AS dot " +
        s"FROM pe CROSS JOIN $prevV), " +
        s"s$t AS (SELECT dim, CAST(CAST(sum(val*dot) AS FLOAT) AS DOUBLE) AS s FROM " +
        s"(SELECT unnest(range(1, len(ve)+1)) AS dim, unnest(ve) AS val, dot FROM d$t) GROUP BY dim), " +
        s"l$t AS (SELECT list(s ORDER BY dim) AS l FROM s$t), " +
        s"n$t AS (SELECT sqrt(list_sum(list_transform(l, x -> x*x))) AS nrm FROM l$t), " +
        s"v$t AS (SELECT list_transform(l, x -> CAST(CAST(x / nrm AS FLOAT) AS DOUBLE)) AS v FROM l$t CROSS JOIN n$t)"
    "pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), " +
      "v0 AS (SELECT list_transform(range(1, (SELECT len(ve) FROM pe LIMIT 1) + 1), " +
      "i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS v), " +
      iter(1, "v0") + ", " + iter(2, "v1")
  }

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

  /** The unigram-LM (SentencePiece hard-EM) chain replayed in SQL:
    * seed vocab → Viterbi DP (one MATERIALIZED CTE per position, the
    * Lineage-cut twin) → path recount → second Viterbi. Costs are
    * float-quantized before every comparison; DP ties break
    * (cost, piece length DESC, piece) exactly as the engine does. */
  private val unigramLmSql: String = {
    def dp(pre: String, cand: String, out: String, maxWordLen: Int): String = {
      val d0 = s"${out}0 AS (SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS cost, '' AS path FROM $pre)"
      val steps = (1 to maxWordLen).map { j =>
        val p = s"$out${j - 1}"
        s"$out$j AS MATERIALIZED (SELECT word, pos, cost, path FROM (" +
          s"SELECT d.word AS word, c.end_pos AS pos, d.cost + c.nlp AS cost, " +
          "CASE WHEN d.path = '' THEN c.span ELSE d.path || '|' || c.span END AS path, " +
          "row_number() OVER (PARTITION BY d.word " +
          "ORDER BY d.cost + c.nlp, length(c.span) DESC, c.span) AS rn " +
          s"FROM $p d JOIN $cand c ON c.word = d.word AND c.pred_pos = d.pos AND c.end_pos = $j) " +
          s"WHERE rn = 1 UNION ALL SELECT word, pos, cost, path FROM $p)"
      }
      (d0 +: steps).mkString(", ")
    }
    "uw AS MATERIALIZED (SELECT word, count(*) AS freq FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE length(word) <= 8 AND length(word) >= 1 GROUP BY word), " +
      "usp AS MATERIALIZED (SELECT word, e AS end_pos, e - l AS pred_pos, " +
      "substr(word, e - l + 1, l) AS span " +
      "FROM uw, unnest(range(1, least(4, length(word)) + 1)) AS t1(l), " +
      "unnest(range(l, length(word) + 1)) AS t2(e)), " +
      "useed AS (SELECT span, sum(freq) AS pfreq FROM usp JOIN uw USING (word) GROUP BY span), " +
      "utop AS (SELECT span AS piece, pfreq FROM useed " +
      "QUALIFY row_number() OVER (ORDER BY pfreq DESC, span) <= 32 OR length(span) = 1), " +
      "up1 AS MATERIALIZED (SELECT piece, " +
      "CAST(CAST(-ln(CAST(pfreq AS DOUBLE) / t) AS FLOAT) AS DOUBLE) AS nlp " +
      "FROM utop CROSS JOIN (SELECT CAST(sum(pfreq) AS DOUBLE) AS t FROM utop) tt), " +
      "uc1 AS MATERIALIZED (SELECT s.word, s.end_pos, s.pred_pos, s.span, p.nlp " +
      "FROM usp s JOIN up1 p ON s.span = p.piece), " +
      dp("uw", "uc1", "ud", 8) + ", " +
      "uf1 AS MATERIALIZED (SELECT d.word, w.freq, d.path FROM ud8 d " +
      "JOIN uw w USING (word) WHERE d.pos = length(d.word)), " +
      "ucnt AS (SELECT piece, sum(freq) AS pfreq FROM " +
      "(SELECT freq, unnest(string_split(path, '|')) AS piece FROM uf1) GROUP BY piece), " +
      "up2 AS MATERIALIZED (SELECT piece, " +
      "CAST(CAST(-ln(CAST(pfreq AS DOUBLE) / t) AS FLOAT) AS DOUBLE) AS nlp " +
      "FROM ucnt CROSS JOIN (SELECT CAST(sum(pfreq) AS DOUBLE) AS t FROM ucnt) tt), " +
      "uc2 AS MATERIALIZED (SELECT s.word, s.end_pos, s.pred_pos, s.span, p.nlp " +
      "FROM usp s JOIN up2 p ON s.span = p.piece), " +
      dp("uw", "uc2", "ue", 8) + ", " +
      "uf2 AS (SELECT d.word, w.freq, d.path FROM ue8 d " +
      "JOIN uw w USING (word) WHERE d.pos = length(d.word))"
  }

  private val lrChainSql: String = {
    // every per-iteration CTE is MATERIALIZED: lw(t-1) is referenced
    // twice (gradient + update), so plain inlining would double the
    // expression tree per iteration — a 2^20 planner blowup (the SQL
    // twin of the Lineage-cut discipline)
    def iter(t: Int): String = {
      val p = s"lw${t - 1}"
      s"lg$t AS MATERIALIZED (SELECT " +
        (0 to 3).map(j => s"CAST(CAST(sum((s - y) * x$j) AS FLOAT) AS DOUBLE) AS g$j").mkString(", ") +
        " FROM (SELECT y, x0, x1, x2, x3, " +
        "CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE) AS s " +
        s"FROM lrf CROSS JOIN $p w)), " +
        s"lw$t AS MATERIALIZED (SELECT " +
        (0 to 3).map(j => s"CAST(CAST(w.w$j - 10.0*g.g$j/n.n AS FLOAT) AS DOUBLE) AS w$j").mkString(", ") +
        s" FROM $p w CROSS JOIN lg$t g CROSS JOIN lrn n)"
    }
    // MATERIALIZED: inlining the corpus scan into all 20 iteration
    // CTEs would open the parquet once per reference (fd exhaustion)
    "lrf AS MATERIALIZED (SELECT doc_id, " +
      "CASE WHEN nt BETWEEN 20 AND 80 AND mtl BETWEEN 3.0 AND 9.0 AND sr > 0 " +
      "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y, " +
      "CAST(1.0 AS DOUBLE) AS x0, abs(nt - 50.0)/50.0 AS x1, abs(mtl - 6.0)/6.0 AS x2, sr AS x3 " +
      "FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt, " +
      "CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mtl, " +
      "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) AS sr " +
      "FROM documents)), " +
      "lrn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lrf), " +
      "lw0 AS (SELECT " + (0 to 3).map(j => s"CAST(0.0 AS DOUBLE) AS w$j").mkString(", ") + "), " +
      (1 to 20).map(iter).mkString(", ")
  }

  private val pcaSql =
    s"WITH $pcaChainSql " +
      "SELECT CAST(dim - 1 AS INT) AS dim, round(v[dim], 4) AS loading " +
      "FROM (SELECT unnest(range(1, len(v)+1)) AS dim, v FROM v2) ORDER BY dim"

  /** The change feed's closed form, commit by commit, shared by the
    * batch (store_segment_changes) and streaming (stream_segment_cdf)
    * consumption modes: v1 appends k%3=1; v2 (the deleteRows rewrite)
    * deletes everything live and re-inserts survivors; v3 (compact) is
    * absent; v4 appends k%3=2. Keys unique per (version, change). */
  private val segmentChangesOracleSql: String =
    "WITH src AS (SELECT o_orderkey AS k, " +
      "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders) " +
      "SELECT * FROM (" +
      "SELECT k, cents, 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version " +
      "FROM src WHERE k % 3 = 1 " +
      "UNION ALL SELECT k, cents, 'delete', 2 FROM src WHERE k % 3 IN (0, 1) " +
      "UNION ALL SELECT k, cents, 'insert', 2 FROM src WHERE k % 3 IN (0, 1) AND NOT k % 5 = 0 " +
      "UNION ALL SELECT k, cents, 'insert', 4 FROM src WHERE k % 3 = 2) " +
      "ORDER BY _commit_version, _change_type, k"

  /** The two-iteration Lloyd chain over a (vec_id, ve) CTE named `src`
    * — shared by the embeddings-table index (ivfSql) and the augmented
    * corpus of dedup_semantic. */
  private def lloydSql(src: String): String =
    s"c0 AS (SELECT CAST(vec_id AS INT) AS centroid_id, ve AS ce FROM $src WHERE vec_id < 8), " +
      s"s1 AS (SELECT vec_id, ve, centroid_id, ${cosSql("ve", "ce")} AS sim FROM $src CROSS JOIN c0), " +
      "a1 AS (SELECT vec_id, ve, centroid_id FROM s1 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1), " +
      "cell AS (SELECT centroid_id, unnest(range(0, len(ve))) AS dim, unnest(ve) AS val FROM a1), " +
      "cm AS (SELECT centroid_id, dim, avg(val) AS m FROM cell GROUP BY centroid_id, dim), " +
      "c1 AS (SELECT centroid_id, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce FROM cm GROUP BY centroid_id), " +
      s"s2 AS (SELECT vec_id, ve, centroid_id, ${cosSql("ve", "ce")} AS sim FROM $src CROSS JOIN c1), " +
      "a2 AS (SELECT vec_id, ve, centroid_id FROM s2 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1)"

  private val ivfSql =
    "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), " +
      lloydSql("v")

  /** SQ8 train + encode + reconstruct as a CTE chain ending in
    * `sqrec(vec_id, re)` — shared by emb_sq8_topk (flat ADC) and
    * emb_ivfsq_topk (IVF-routed ADC). */
  private val sq8ChainSql: String =
    "sqc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
      "sqpd AS (SELECT t.i AS pos, e[t.i] AS v FROM sqc, unnest(range(1, len(e)+1)) AS t(i)), " +
      "sqst0 AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM sqpd GROUP BY pos), " +
      "sqst AS (SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs FROM sqst0), " +
      "sqenc AS (SELECT vec_id, list_transform(range(1, len(e)+1), i -> " +
      "CASE WHEN maxs[i] = mins[i] THEN 0 ELSE floor((e[i] - mins[i]) / (maxs[i] - mins[i]) * 255 + 0.5) END) AS codes " +
      "FROM sqc CROSS JOIN sqst), " +
      "sqrec AS (SELECT vec_id, list_transform(range(1, len(codes)+1), i -> " +
      "mins[i] + codes[i] / 255.0 * (maxs[i] - mins[i])) AS re FROM sqenc CROSS JOIN sqst)"

  /** PQ train+encode mirrored in SQL, one Lloyd schedule per subspace
    * (the ivfSql skeleton with an `m` key): slice each vector into 4
    * sub-vectors, seed each subspace's codebook from the 8 lowest ids,
    * assign (argmax cosine, code tiebreak), per-dim float-quantized
    * mean, re-assign. `pcodes` = final (vec_id, m, code), `pc1` = the
    * codebooks that produced it. */
  private val pqSql =
    "pv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), " +
      "pd AS (SELECT len(ve) // 4 AS dsub FROM pv LIMIT 1), " +
      "psub AS (SELECT vec_id, m, ve[m*dsub+1:(m+1)*dsub] AS sub " +
      "FROM pv CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) CROSS JOIN pd), " +
      "pc0 AS (SELECT m, CAST(vec_id AS INT) AS code, sub AS ce FROM psub WHERE vec_id < 8), " +
      s"ps1 AS (SELECT s.vec_id, s.m, s.sub, c.code, ${cosSql("s.sub", "c.ce")} AS sim " +
      "FROM psub s JOIN pc0 c ON s.m = c.m), " +
      "pa1 AS (SELECT vec_id, m, sub, code FROM ps1 " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sim DESC, code) = 1), " +
      "pcell AS (SELECT m, code, unnest(range(0, len(sub))) AS dim, unnest(sub) AS val FROM pa1), " +
      "pcm AS (SELECT m, code, dim, avg(val) AS mn FROM pcell GROUP BY m, code, dim), " +
      "pc1 AS (SELECT m, code, list(CAST(CAST(mn AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce " +
      "FROM pcm GROUP BY m, code), " +
      s"ps2 AS (SELECT s.vec_id, s.m, s.sub, c.code, ${cosSql("s.sub", "c.ce")} AS sim " +
      "FROM psub s JOIN pc1 c ON s.m = c.m), " +
      "pcodes AS (SELECT vec_id, m, code FROM ps2 " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sim DESC, code) = 1)"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (streaming state machines — covered by ScalaTest instead). */
  /** IVF routing (ir, from the ivfSql index) ∘ PQ scoring (pqSql codes
    * + per-query table): candidates = routed buckets' members, score =
    * fixed-order sum of the 4 subspace parts. Shared by
    * `emb_ivfpq_topk` (in-memory index) and `store_ann_roundtrip`
    * (parquet-persisted index) — the two paths must answer
    * identically. */
  private lazy val ivfPqTopkSql: String = ivfPqTopkSqlFiltered("")

  /** `candPred` narrows the candidate posting rows — the oracle form
    * of index-row deletion (store_ann_forget): removed ids can never
    * be candidates, and their codes are only ever joined THROUGH the
    * candidate set, so one predicate models the physical delete. */
  private def ivfPqTopkSqlFiltered(candPred: String): String =
    s"WITH $ivfSql, $pqSql, " +
      "iq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
      s"ir AS (SELECT q_id, centroid_id FROM (SELECT q_id, centroid_id, ${cosSql("qe", "ce")} AS csim " +
      "FROM iq CROSS JOIN c1) " +
      "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
      "icand AS (SELECT ir.q_id, a2.vec_id FROM ir JOIN a2 USING (centroid_id) " +
      s"WHERE a2.vec_id <> ir.q_id$candPred), " +
      "pq2 AS (SELECT vec_id AS q_id, m, sub AS qsub FROM psub WHERE vec_id < 5), " +
      "ptab2 AS (SELECT q_id, pq2.m, c.code, " +
      "list_sum(list_transform(range(1, len(qsub)+1), i -> qsub[i]*c.ce[i])) AS part " +
      "FROM pq2 JOIN pc1 c ON pq2.m = c.m), " +
      "psc2 AS (SELECT cd.q_id, cd.vec_id, " +
      "round(max(CASE WHEN k.m = 0 THEN t.part END) + max(CASE WHEN k.m = 1 THEN t.part END) + " +
      "max(CASE WHEN k.m = 2 THEN t.part END) + max(CASE WHEN k.m = 3 THEN t.part END), 4) AS score " +
      "FROM icand cd JOIN pcodes k ON cd.vec_id = k.vec_id " +
      "JOIN ptab2 t ON t.q_id = cd.q_id AND t.m = k.m AND t.code = k.code " +
      "GROUP BY cd.q_id, cd.vec_id) " +
      "SELECT q_id, vec_id, score, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rank " +
      "FROM psc2 QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) <= 10 " +
      "ORDER BY q_id, rank"

  /** BM25 chain over the five literal queries — shared by
    * `text_bm25_topk` (one-shot) and `store_bm25_roundtrip` (persisted
    * index), which must answer identically. */
  private lazy val bm25TopkSql: String = bm25TopkSqlOver("documents")

  /** `corpus` swaps the indexed collection — the oracle form of
    * document erasure (store_bm25_forget): the whole chain, collection
    * stats included, re-derives from the surviving corpus. */
  private def bm25TopkSqlOver(corpus: String): String =
    "WITH q(q_id, q_text) AS (VALUES (0, 'hash join'), (1, 'window scan fast'), " +
      "(2, 'customer order batch'), (3, 'vector merge slow'), (4, 'filter row')), " +
      s"tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $corpus), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), " +
      s"st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM $corpus) AS n, " +
      "(SELECT avg(dl) FROM dl) AS avgdl), " +
      "qt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM q), " +
      "post AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM qt) USING (term)), " +
      "dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term), " +
      "sc AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, " +
      s"round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ${1.2 + 1}) / " +
      "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
      "FROM qt JOIN post USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) " +
      "CROSS JOIN st GROUP BY 1, 2) " +
      "SELECT q_id, doc_id, score, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INT) AS rank " +
      "FROM sc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10 " +
      "ORDER BY q_id, rank"

  /** Frozen-routing incremental index state probed after additions —
    * shared by the batch append (store_ann_incremental) and the
    * streaming ingest (stream_ann_topk), which must land on the
    * identical final index. */
  private lazy val annIncrementalSql: String =
    s"WITH $ivfSql, $pqSql, " +
        "aad AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_prepend(CAST(CAST(embedding[1] * 1.01 AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) AS ve " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        s"aas AS (SELECT vec_id, centroid_id FROM (SELECT a.vec_id, c.centroid_id, ${cosSql("a.ve", "c.ce")} AS sim " +
        "FROM aad a CROSS JOIN c1 c) " +
        "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1), " +
        "a2u AS (SELECT vec_id, centroid_id FROM a2 UNION ALL SELECT vec_id, centroid_id FROM aas), " +
        "psubA AS (SELECT vec_id, m, ve[m*dsub+1:(m+1)*dsub] AS sub " +
        "FROM aad CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) CROSS JOIN pd), " +
        s"paA AS (SELECT vec_id, m, code FROM (SELECT s.vec_id, s.m, c.code, ${cosSql("s.sub", "c.ce")} AS sim " +
        "FROM psubA s JOIN pc1 c ON s.m = c.m) " +
        "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sim DESC, code) = 1), " +
        "pcu AS (SELECT vec_id, m, code FROM pcodes UNION ALL SELECT vec_id, m, code FROM paA), " +
        "iq2 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        s"ir2 AS (SELECT q_id, centroid_id FROM (SELECT q_id, centroid_id, ${cosSql("qe", "ce")} AS csim " +
        "FROM iq2 CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        "icand2 AS (SELECT ir2.q_id, a2u.vec_id FROM ir2 JOIN a2u USING (centroid_id) " +
        "WHERE a2u.vec_id <> ir2.q_id), " +
        "pq2b AS (SELECT vec_id AS q_id, m, sub AS qsub FROM psub WHERE vec_id < 5), " +
        "ptab2b AS (SELECT q_id, pq2b.m, c.code, " +
        "list_sum(list_transform(range(1, len(qsub)+1), i -> qsub[i]*c.ce[i])) AS part " +
        "FROM pq2b JOIN pc1 c ON pq2b.m = c.m), " +
        "psc2b AS (SELECT cd.q_id, cd.vec_id, " +
        "round(max(CASE WHEN k.m = 0 THEN t.part END) + max(CASE WHEN k.m = 1 THEN t.part END) + " +
        "max(CASE WHEN k.m = 2 THEN t.part END) + max(CASE WHEN k.m = 3 THEN t.part END), 4) AS score " +
        "FROM icand2 cd JOIN pcu k ON cd.vec_id = k.vec_id " +
        "JOIN ptab2b t ON t.q_id = cd.q_id AND t.m = k.m AND t.code = k.code " +
        "GROUP BY cd.q_id, cd.vec_id) " +
        "SELECT q_id, vec_id, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rank " +
        "FROM psc2b QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) <= 10 " +
        "ORDER BY q_id, rank"

  /** ORACLE-AUTHORING RULES — the driver sorts columns by NAME and
   *  HASHES values; a query that is value-exact locally can still go
   *  red at the driver. These traps have each fired at least once:
   *
   *  1. NO DECIMAL OUTPUT COLUMNS, any precision. <=18 digits has
   *     passed so far but >18 (byte-array-backed decimal128) is
   *     PROVEN hash-unstable (rel_decimal_exact r7, store_segment_widen
   *     r12). Emit exact scaled BIGINT (cents) when the magnitude fits
   *     a Long, else CAST(... AS STRING) on BOTH sides. Storing
   *     decimals in tables is fine — only the final projection matters.
   *  2. DuckDB sum(INT/BIGINT) returns HUGEINT — CAST(... AS BIGINT)
   *     in the oracle SQL to match Spark's LongType.
   *  3. Total ORDER BY on a unique key on BOTH sides — ties in the
   *     sort key make row order (and thus the hash) nondeterministic.
   *  4. Identical column aliases both sides: alias every computed
   *     column in the Spark query (.as("x") / AS x) AND the oracle.
   *  5. Avoid FLOAT outputs where an expression reorders between
   *     engines; DOUBLE computed the same way on both sides is fine.
   */
  def oracleSql: Map[String, String] = Map(
    "ingest_parse_validate" ->
      ("SELECT event_id, user_id, event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k, " +
        s"$validSql AS is_valid FROM events ORDER BY event_id"),
    "ingest_reject_split" ->
      (s"SELECT $validSql AS is_valid, CAST(count(*) AS BIGINT) AS n " +
        "FROM events GROUP BY 1 ORDER BY is_valid"),
    "ingest_idempotency_key" ->
      ("SELECT event_id, concat_ws('-', substr(h,1,8), substr(h,9,4), substr(h,13,4), substr(h,17,4), substr(h,21,12)) AS order_id " +
        "FROM (SELECT event_id, md5(concat_ws('|', user_id, event_type, event_id)) AS h FROM events) " +
        "ORDER BY event_id"),
    "ingest_enrich" ->
      ("SELECT event_id, printf('cust-%05d', user_id) AS customer_id, event_type, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events ORDER BY event_id"),
    "ingest_dedup_first" ->
      ("SELECT user_id, event_type, event_id FROM events " +
        "QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1 " +
        "ORDER BY user_id, event_type"),

    "checkout_items_roundtrip" ->
      ("SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty " +
        "FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"),
    "checkout_line_verdict" -> s"$lvSql ORDER BY l_orderkey, l_linenumber",
    "checkout_order_verdict" -> s"$ovSql ORDER BY l_orderkey",
    "checkout_unknown_products" ->
      ("SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines FROM lineitem " +
        "WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 7 <> 0) " +
        "GROUP BY l_partkey ORDER BY l_partkey"),
    "checkout_final_inventory" ->
      (s"WITH lv AS ($lvSql), " +
        "ov AS (SELECT l_orderkey FROM lv GROUP BY l_orderkey HAVING bool_and(sufficient)), " +
        "dem AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS demand FROM lv JOIN ov USING (l_orderkey) GROUP BY l_partkey) " +
        "SELECT p_partkey AS product_id, p_size*10 AS stock, COALESCE(demand, 0) AS demand, " +
        "CAST(p_size*10 - COALESCE(demand, 0) AS BIGINT) AS remaining " +
        "FROM part LEFT JOIN dem ON p_partkey = l_partkey ORDER BY product_id"),
    "checkout_status_upsert" ->
      (s"WITH ov AS ($ovSql) " +
        "SELECT o_orderkey, o_custkey, COALESCE(status, 'PENDING') AS final_status " +
        "FROM orders LEFT JOIN ov ON o_orderkey = l_orderkey ORDER BY o_orderkey"),
    "checkout_idempotent_consume" ->
      ("WITH d AS (SELECT o_orderkey, CAST(count(*) AS BIGINT) AS deliveries FROM " +
        "(SELECT o_orderkey FROM orders UNION ALL SELECT o_orderkey FROM orders) GROUP BY o_orderkey) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(deliveries) AS BIGINT) AS n_deliveries, " +
        "CAST(sum(deliveries) - count(*) AS BIGINT) AS n_skipped FROM d"),
    "notify_messages" ->
      (s"WITH ov AS ($ovSql) " +
        "SELECT o_orderkey, printf('Notification sent for Order ID: %d to Customer ID: %d', o_orderkey, o_custkey) AS message " +
        "FROM ov JOIN orders ON l_orderkey = o_orderkey WHERE status = 'PROCESSED' ORDER BY o_orderkey"),

    "rel_q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice*(1-l_discount)), 2) AS sum_disc_price, " +
        "round(avg(l_discount), 4) AS avg_disc, CAST(count(*) AS BIGINT) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "rel_q3_top_revenue" ->
      ("SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "rel_q5_region_revenue" ->
      ("SELECT n_name, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),
    "rel_q5_local_supplier" ->
      ("SELECT n_name, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),
    "rel_q4_priority_exists" ->
      ("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count FROM orders " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // l_quantity is integer-valued: sum/avg IEEE-exact, threshold stable
    "rel_q17_small_quantity" ->
      ("SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#1' " +
        "AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"),
    // the scalar avg threshold is float-quantized on both sides: a
    // row-order-dependent double sum must not decide row membership
    "rel_q22_idle_customers" ->
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust, round(sum(c_acctbal), 2) AS total_bal " +
        "FROM customer " +
        "WHERE c_acctbal > (SELECT CAST(CAST(avg(c_acctbal) AS FLOAT) AS DOUBLE) FROM customer WHERE c_acctbal > 0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000) " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "rel_q21_lone_fault_supplier" ->
      ("SELECT s_name, CAST(count(*) AS BIGINT) AS numwait " +
        "FROM supplier, lineitem l1, orders, nation " +
        "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey " +
        "AND l1.l_returnflag = 'R' AND o_orderstatus = 'F' " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey " +
        "AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey " +
        "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') " +
        "AND s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_7') " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10"),
    "rel_q7_nation_volume" ->
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
        "ORDER BY supp_nation, cust_nation, l_year"),
    "rel_q10_returned_revenue" ->
      ("SELECT c_custkey, c_name, n_name, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM customer, orders, lineitem, nation " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01' " +
        "AND CAST(o_orderdate AS DATE) < DATE '1996-01-01' " +
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey " +
        "GROUP BY c_custkey, c_name, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),
    "rel_q13_order_histogram" ->
      ("SELECT c_count, CAST(count(*) AS BIGINT) AS custdist " +
        "FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count " +
        "FROM customer LEFT JOIN orders " +
        "ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
        "GROUP BY c_custkey) " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
    "rel_q14_promo_share" ->
      ("SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' " +
        "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) " +
        "/ sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'"),
    "rel_q6_forecast_revenue" ->
      ("SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    // share numerator/denominator in exact integer cents (2-dec price
    // x 2-dec discount factor), so the 4-dec ratio is order-free
    "rel_q8_market_share" ->
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
        "GROUP BY o_year ORDER BY o_year"),
    // exact 1e-4-dollar integer profit units: the double-sum version
    // diffed on a half-cent rounding boundary at sf0.01
    "rel_q9_nation_profit" ->
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
        "GROUP BY nation, o_year ORDER BY nation, o_year"),
    // all-BIGINT stock values: the HAVING-above-fraction threshold is
    // exact on both engines (DuckDB's HUGEINT sum cast back down)
    "rel_q11_important_stock" ->
      ("WITH supply AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
        "CAST(sum(l_quantity) AS BIGINT) AS ps_availqty FROM lineitem GROUP BY l_partkey, l_suppkey), " +
        "value AS (SELECT ps_partkey, " +
        "CAST(sum(ps_availqty * CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents " +
        "FROM supply, part, supplier, nation " +
        "WHERE ps_partkey = p_partkey AND ps_suppkey = s_suppkey " +
        "AND s_nationkey = n_nationkey AND n_name = 'NATION_3' GROUP BY ps_partkey) " +
        "SELECT ps_partkey, value_cents FROM value " +
        "WHERE value_cents > (SELECT CAST(sum(value_cents) AS DOUBLE) * 0.002 FROM value) " +
        "ORDER BY value_cents DESC, ps_partkey"),
    // DuckDB spells Spark's datediff(end, start) as date_diff('day', start, end)
    "rel_q12_late_priority" ->
      ("SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE date_diff('day', o_orderdate, l_shipdate) > 60 " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY l_linestatus ORDER BY l_linestatus"),
    // revenue in exact cents ⇒ equality-with-max is engine-stable
    "rel_q15_top_supplier" ->
      ("WITH revenue AS (SELECT l_suppkey AS supplier_no, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) " +
        "* CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, round(CAST(total_cents AS DOUBLE) / 10000.0, 2) AS total_revenue " +
        "FROM supplier JOIN revenue ON s_suppkey = supplier_no " +
        "WHERE total_cents = (SELECT max(total_cents) FROM revenue) ORDER BY s_suppkey"),
    "rel_q16_supplier_counts" ->
      ("SELECT p_brand, p_type, p_size, CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt " +
        "FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) supply, part " +
        "WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#1' AND p_type <> 'PROMO' " +
        "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) " +
        "AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY p_brand, p_type, p_size " +
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),
    // integer-valued l_quantity ⇒ the HAVING threshold is exact
    "rel_q18_large_orders" ->
      ("SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "o_totalprice, CAST(sum(l_quantity) AS BIGINT) AS total_qty " +
        "FROM customer, orders, lineitem " +
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem " +
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 300) " +
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey " +
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    "rel_q19_disjunct_revenue" ->
      ("SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN part ON " +
        "(p_partkey = l_partkey AND p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_partkey = l_partkey AND p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 " +
        "AND l_quantity BETWEEN 20 AND 30)"),
    "rel_q20_part_promotion" ->
      ("SELECT s_name, s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_2' AND s_suppkey IN (" +
        "SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_name LIKE 'red%' " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 30) " +
        "ORDER BY s_name"),
    // unit price is one IEEE division over identical rows on both
    // engines; min() is order-free, so min-equality membership is exact
    "rel_q2_min_cost_supplier" ->
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
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"),
    // same basket-bounded pair join; lift = n_ab·N / (n_a·n_b)
    "rel_basket_lift" ->
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
        "FROM sc QUALIFY row_number() OVER (ORDER BY lift DESC, pa, pb) <= 50 ORDER BY rank"),
    // recursive-CTE BFS with hop cap + min-hop collapse ≡ the engine's
    // frontier relaxation (first touch = min hop)
    "rel_part_blast_radius" ->
      ("WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "bounded AS (SELECT * FROM li WHERE ok IN " +
        "(SELECT ok FROM li GROUP BY ok HAVING count(*) <= 64)), " +
        "ed AS (SELECT DISTINCT a.pk AS src, b.pk AS dst FROM bounded a JOIN bounded b ON a.ok = b.ok AND a.pk <> b.pk), " +
        "bfs AS (SELECT DISTINCT pk AS id, 0 AS hop FROM li WHERE pk < 10 " +
        "UNION SELECT ed.dst, b.hop + 1 FROM bfs b JOIN ed ON ed.src = b.id WHERE b.hop < 3), " +
        "d AS (SELECT id, min(hop) AS hop FROM bfs GROUP BY id) " +
        "SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_parts " +
        "FROM d GROUP BY hop ORDER BY hop"),
    // the lateral top-2 as an explicit partitioned rank
    "rel_lateral_topk" ->
      ("SELECT c_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders WHERE o_custkey < 100) WHERE rn <= 2 " +
        "ORDER BY c_custkey, o_orderkey"),
    "rel_percentiles" ->
      ("SELECT c_mktsegment, round(quantile_cont(c_acctbal, 0.5), 4) AS p50, " +
        "round(quantile_cont(c_acctbal, 0.9), 4) AS p90, " +
        "round(quantile_disc(c_acctbal, 0.5), 4) AS p50_disc " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // integer-cents path sums along unique root paths: order-free,
    // so the per-depth aggregate is engine-exact; `//` is DuckDB's
    // integer division (Spark spells it `div`)
    "rel_recursive_path_sum" ->
      ("WITH RECURSIVE tree AS (" +
        "SELECT c_custkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS path_cents, 0 AS depth " +
        "FROM customer WHERE c_custkey < 10 " +
        "UNION ALL " +
        "SELECT c.c_custkey, t.path_cents + CAST(round(c.c_acctbal * 100, 0) AS BIGINT), t.depth + 1 " +
        "FROM customer c JOIN tree t ON c.c_custkey // 10 = t.c_custkey AND c.c_custkey >= 10) " +
        "SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes, " +
        "CAST(sum(path_cents) AS BIGINT) AS total_path_cents " +
        "FROM tree GROUP BY depth ORDER BY depth"),
    "rel_window_extras" ->
      ("SELECT c_mktsegment, c_custkey, CAST(ntile(4) OVER w AS INT) AS quartile, " +
        "round(percent_rank() OVER w, 4) AS pct_rank, " +
        "first_value(c_custkey) OVER w AS segment_top " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) " +
        "ORDER BY c_mktsegment, c_custkey"),
    "rel_grouping_sets" ->
      ("SELECT coalesce(c_mktsegment, 'ALL') AS segment, " +
        "coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation, " +
        "CAST(count(*) AS BIGINT) AS n FROM customer " +
        "GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ()) " +
        "ORDER BY segment, nation"),
    "source_seed_loader" ->
      ("SELECT * FROM (VALUES ('prod-101', 'Wireless Headphones', 50), " +
        "('prod-102', 'Mechanical Keyboard', 20), ('prod-103', 'Gaming Mouse', 35), " +
        "('prod-104', 'USB-C Monitor', 10), ('prod-105', 'Ergonomic Chair', 5)) " +
        "AS t(product_id, product_name, quantity_available) ORDER BY product_id"),
    // both roundtrips must land exactly on the parquet source of truth
    "source_csv_roundtrip" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship " +
        "FROM lineitem WHERE l_orderkey % 100 = 0"),
    "source_jsonl_roundtrip" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship " +
        "FROM lineitem WHERE l_orderkey % 100 = 0"),
    "source_orc_roundtrip" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship " +
        "FROM lineitem WHERE l_orderkey % 100 = 0"),
    "rel_join_semi" ->
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "rel_join_anti" ->
      ("SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_totalprice > 300000) " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "rel_join_broadcast" ->
      ("SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers, " +
        "round(sum(c_acctbal), 2) AS total_acctbal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"),
    "rel_join_full_outer" ->
      ("WITH c AS (SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_rich_customers " +
        "FROM customer WHERE c_acctbal > 9900 GROUP BY 1), " +
        "s AS (SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_poor_suppliers " +
        "FROM supplier WHERE s_acctbal < 0 GROUP BY 1) " +
        "SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, " +
        "coalesce(n_rich_customers, 0) AS n_rich_customers, " +
        "coalesce(n_poor_suppliers, 0) AS n_poor_suppliers " +
        "FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey ORDER BY nationkey"),
    "rel_agg_distinct" ->
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers, " +
        "CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations, " +
        "round(avg(c_acctbal), 2) AS avg_acctbal FROM customer " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "rel_agg_rollup" ->
      ("SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation, " +
        "CAST(count(*) AS BIGINT) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation"),
    "rel_agg_cube" ->
      ("SELECT COALESCE(c_mktsegment, 'ALL') AS segment, COALESCE(o_orderpriority, 'ALL') AS priority, " +
        "CAST(count(*) AS BIGINT) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY CUBE(c_mktsegment, o_orderpriority) ORDER BY segment, priority"),
    "rel_window_rank" ->
      ("SELECT c_mktsegment, c_custkey, c_acctbal, CAST(row_number() OVER w AS INT) AS rn, " +
        "CAST(rank() OVER w AS INT) AS rnk, lag(c_acctbal, 1) OVER w AS prev_acctbal " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) " +
        "QUALIFY row_number() OVER w <= 3 ORDER BY c_mktsegment, rn"),
    "rel_window_running" ->
      ("SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total " +
        "FROM orders WHERE o_custkey <= 100 ORDER BY o_custkey, o_orderkey"),
    "rel_sort_topk" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
    "rel_set_ops" ->
      ("WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders), " +
        "pos AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0) " +
        "SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT custkey FROM buyers UNION SELECT custkey FROM pos) " +
        "UNION ALL SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM pos) " +
        "UNION ALL SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM pos) " +
        "ORDER BY op"),
    "rel_scalar_string_math" ->
      ("SELECT p_partkey, upper(substr(p_name, 1, 8)) AS name_prefix, CAST(length(p_name) AS INT) AS name_len, " +
        "replace(p_type, ' ', '_') AS type_slug, p_size % 5 AS size_mod, " +
        "round(p_retailprice * 1.1, 2) AS uplifted, concat_ws(':', p_brand, p_size) AS brand_size " +
        "FROM part ORDER BY p_partkey"),
    // the salted join must produce exactly the plain join's aggregate
    "rel_join_salted" ->
      ("SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines, " +
        "round(sum(l_extendedprice), 2) AS total_price " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    // the auto-salted two-phase aggregation replayed as the PLAIN
    // GROUP BY: the derived split must be invisible in the result
    "rel_agg_autosalt" ->
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents, " +
        "l_partkey FROM lineitem) " +
        "SELECT k, CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        "CAST(count(*) AS BIGINT) AS n_lines, " +
        "min(cents) AS min_cents, max(cents) AS max_cents, " +
        "CAST(sum(cents) AS DOUBLE) / count(cents) AS avg_cents, " +
        "count(DISTINCT l_partkey) AS n_parts " +
        "FROM fact GROUP BY k ORDER BY k"),
    // the planner-salted join replayed as the PLAIN join it rewrote
    "rel_join_autosalt_rule" ->
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents " +
        "FROM lineitem), " +
        "dim AS (SELECT range AS k, 'g' || CAST(range % 5 AS VARCHAR) AS grp " +
        "FROM range(97)) " +
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM fact JOIN dim USING (k) GROUP BY grp ORDER BY grp"),
    // the composite-key planner rewrite replayed as the PLAIN join
    "rel_join_autosalt_composite" ->
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
        "FROM fact2 JOIN dim USING (k, k2) GROUP BY grp ORDER BY grp"),
    // the fact-preserving left-join rewrite replayed as the PLAIN
    // left join — null-extended rows must appear exactly once
    "rel_join_autosalt_left" ->
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, " +
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents " +
        "FROM lineitem), " +
        "dim AS (SELECT range AS k, 'g' || CAST(range % 5 AS VARCHAR) AS grp " +
        "FROM range(50)) " +
        "SELECT coalesce(grp, 'missing') AS grp, " +
        "CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM fact LEFT JOIN dim USING (k) GROUP BY 1 ORDER BY 1"),
    // the bloom-pruned join must produce exactly the plain join's result
    "rel_join_bloom" ->
      ("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, " +
        "round(sum(o_totalprice), 2) AS total_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // same md5-derived cells, same inner product, same min-over-rows
    "rel_join_size_estimate" ->
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
        "FROM r LEFT JOIN e USING (row)"),

    // the quadratic ground truth the blocked deletion-neighborhood join
    // must reproduce exactly (same perturbation, same threshold)
    "rel_fuzzy_join" -> fuzzyJoinSql,
    // the rule-rewritten theta join must land on the identical result
    "rel_fuzzy_join_auto" -> fuzzyJoinSql,

    "rel_scalar_dates" ->
      ("SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS y, CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS m, " +
        "CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS d, CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q, " +
        "CAST(o_orderdate AS DATE) + 30 AS due_date, last_day(CAST(o_orderdate AS DATE)) AS month_end, " +
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS INT) AS age_days " +
        "FROM orders ORDER BY o_orderkey"),

    "text_token_stats" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(length(text) AS INT) AS n_chars, " +
        "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len " +
        "FROM documents ORDER BY doc_id"),

    // same normalization chain; RE2 spells the invisibles \x{200B},
    // Java regex \\u200B; explicit whitespace class on both engines
    // (bare \s membership differs between them); 'g' flag — DuckDB
    // regexp_replace is first-match-only by default, Spark's is global
    "text_normalized_stats" ->
      ("SELECT doc_id, CAST(length(nt) AS INT) AS n_chars_norm, " +
        "CAST(len(string_split(nt, ' ')) AS INT) AS n_tokens_norm, md5(nt) AS norm_hash " +
        "FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{00AD}]', '', 'g'), " +
        "'[ \\t\\n\\r\\f]+', ' ', 'g')) AS nt FROM documents) ORDER BY doc_id"),
    // same injection, same patterns (Java regex == RE2 for this subset:
    // explicit classes, bounded repeats, \b, no lookaround); 'g' flag as
    // above; len() is BIGINT in DuckDB, Spark's size() is INT
    "text_pii_scrub" ->
      ("WITH seeded AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.1.42' ELSE '' END AS text FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phones, " +
        "CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ips, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')) AS scrub_hash " +
        "FROM seeded ORDER BY doc_id"),
    "text_term_freq" ->
      ("SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
        "GROUP BY word ORDER BY freq DESC, word LIMIT 50"),
    "text_quality_by_lang" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, round(avg(n_chars), 2) AS avg_chars, " +
        "round(avg(n_tokens), 2) AS avg_tokens, round(avg(stop_ratio), 4) AS avg_stop_ratio, " +
        "round(avg(punct_ratio), 4) AS avg_punct_ratio FROM " +
        "(SELECT lang, n_chars, len(string_split(text, ' ')) AS n_tokens, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio, " +
        "CAST(length(text) - length(replace(replace(text, ',', ''), '.', '')) AS DOUBLE) / length(text) AS punct_ratio " +
        "FROM documents) GROUP BY lang ORDER BY lang"),
    "text_lang_id" ->
      ("SELECT doc_id, lang AS labeled_lang, " +
        "CASE WHEN en >= de AND en >= es THEN 'en' WHEN de >= es THEN 'de' ELSE 'es' END AS guessed_lang FROM " +
        "(SELECT doc_id, lang, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS en, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','ein'))) AS de, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('el','la','de','y','que','un'))) AS es " +
        "FROM documents) ORDER BY doc_id"),
    "text_lang_confusion" ->
      ("SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n_docs FROM " +
        "(SELECT lang AS labeled_lang, " +
        "CASE WHEN en >= de AND en >= es THEN 'en' WHEN de >= es THEN 'de' ELSE 'es' END AS guessed_lang FROM " +
        "(SELECT lang, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS en, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','ein'))) AS de, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('el','la','de','y','que','un'))) AS es " +
        "FROM documents)) GROUP BY 1, 2 ORDER BY 1, 2"),
    // κ from the same confusion counts: integer moments, one division
    "text_lang_kappa" ->
      ("WITH cm AS (SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n FROM " +
        "(SELECT lang AS labeled_lang, " +
        "CASE WHEN en >= de AND en >= es THEN 'en' WHEN de >= es THEN 'de' ELSE 'es' END AS guessed_lang FROM " +
        "(SELECT lang, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS en, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','ein'))) AS de, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('el','la','de','y','que','un'))) AS es " +
        "FROM documents)) GROUP BY 1, 2), " +
        "ag AS (SELECT CAST(COALESCE(sum(CASE WHEN labeled_lang = guessed_lang THEN n END), 0) AS BIGINT) AS n_agree FROM cm), " +
        "rr AS (SELECT labeled_lang AS k, CAST(sum(n) AS BIGINT) AS r FROM cm GROUP BY 1), " +
        "cc AS (SELECT guessed_lang AS k, CAST(sum(n) AS BIGINT) AS c FROM cm GROUP BY 1), " +
        "pp AS (SELECT CAST(COALESCE(sum(rr.r * cc.c), 0) AS BIGINT) AS s_rc FROM rr JOIN cc USING (k)), " +
        "tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cm) " +
        "SELECT nn AS n_docs, round(CAST(nn * n_agree - s_rc AS DOUBLE) / " +
        "CAST(nn * nn - s_rc AS DOUBLE), 4) AS kappa FROM ag CROSS JOIN pp CROSS JOIN tt"),
    "text_fingerprints" ->
      (s"SELECT doc_id, list_min(list_transform(shingles, s -> md5(s))) AS fingerprint " +
        s"FROM ($shingleSql) ORDER BY doc_id"),
    // the same wrapper + strip chain; 'g' makes DuckDB's
    // regexp_replace global (Spark's always is), patterns are RE2-safe
    "text_html_extract" ->
      ("WITH h AS (SELECT doc_id, " +
        "'<html><head><script type=\"text/javascript\">var x = 1 &amp;&amp; 2;' || chr(10) || " +
        "'var y;</script><style>p { color: red }</style></head><body><h1>Doc</h1><p>' || " +
        "text || ' &amp; &lt;tail&gt; &quot;q&#39;</p></body></html>' AS html FROM documents), " +
        "s1 AS (SELECT doc_id, regexp_replace(html, '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h), " +
        "s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1), " +
        "s3 AS (SELECT doc_id, replace(replace(replace(replace(replace(t, " +
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&amp;', '&') AS t FROM s2), " +
        "s4 AS (SELECT doc_id, trim(regexp_replace(t, '[ \t' || chr(10) || chr(13) || chr(12) || ']+', ' ', 'g'), ' ') AS t FROM s3) " +
        "SELECT doc_id, md5(t) AS extract_hash, CAST(length(t) AS INT) AS n_extract_chars " +
        "FROM s4 ORDER BY doc_id"),

    "text_quality_scores" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS mean_token_len, " +
        "round(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio, " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
        "FROM documents ORDER BY doc_id"),
    "text_token_regex" ->
      ("SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9'']+'), t -> length(t) > 0)) AS INT) AS n_regex_tokens " +
        "FROM documents ORDER BY doc_id"),

    // 1-based inclusive slice w[cs+1 : cs+32] truncates at the end —
    // matching Spark's slice(words, start+1, 32)
    "text_chunks" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS cs FROM t) " +
        "SELECT doc_id, CAST(cs AS INT) AS chunk_start, " +
        "CAST(least(32, len(w) - cs) AS INT) AS n_chunk_tokens, " +
        "md5(array_to_string(w[cs + 1 : cs + 32], ' ')) AS chunk_hash " +
        "FROM s WHERE least(32, len(w) - cs) > 0 ORDER BY doc_id, chunk_start"),

    // DuckDB window sum(INT) is HUGEINT — cast at the comparison/output
    // edges; /128.0 forces double division (DuckDB '/' on ints is
    // integer division, Spark's never is)
    "text_packed_sequences" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, w, unnest(range(0, len(w), 32)) AS cs FROM t), " +
        "c AS (SELECT doc_id, CAST(cs AS INT) AS chunk_start, " +
        "CAST(least(32, len(w) - cs) AS INT) AS n_chunk_tokens FROM s WHERE least(32, len(w) - cs) > 0), " +
        "x AS (SELECT doc_id, n_chunk_tokens, " +
        "sum(n_chunk_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_start) - n_chunk_tokens AS cum_before FROM c) " +
        "SELECT doc_id, CAST(floor(CAST(cum_before AS DOUBLE) / 128.0) AS BIGINT) AS seq_id, " +
        "CAST(count(*) AS BIGINT) AS n_chunks, CAST(sum(n_chunk_tokens) AS BIGINT) AS seq_tokens " +
        "FROM x GROUP BY 1, 2 ORDER BY doc_id, seq_id"),

    "text_tfidf" ->
      ("WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY 1, 2), " +
        "dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, word, tf, df, " +
        "round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf " +
        "FROM tf JOIN dfreq USING (word) CROSS JOIN n), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn FROM scored) " +
        "SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf, CAST(rn AS INT) AS rank " +
        "FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank"),

    // same per-doc score expressions as text_quality_scores; the
    // histogram-derived threshold is the smallest score whose ≥-cohort
    // covers half the corpus
    "text_quality_filter" ->
      ("WITH q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS mean_token_len, " +
        "round(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio, " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
        "FROM documents), " +
        "hist AS (SELECT quality_score, count(*) AS cnt FROM q GROUP BY 1), " +
        "cum AS (SELECT quality_score, sum(cnt) OVER (ORDER BY quality_score DESC) AS cum_ge, " +
        "sum(cnt) OVER () AS n_total FROM hist), " +
        "thr AS (SELECT max(quality_score) AS q_threshold FROM cum " +
        "WHERE CAST(cum_ge AS DOUBLE) >= CAST(n_total AS DOUBLE) * 0.5) " +
        "SELECT q.*, thr.q_threshold FROM q CROSS JOIN thr " +
        "WHERE quality_score >= q_threshold ORDER BY doc_id"),

    // the SAME hexThreshold(0.8) literal is injected on both sides, and
    // the md5-prefix compare is lexicographic in both engines
    "text_sample_split" ->
      (s"WITH h AS (SELECT doc_id, n_chars, " +
        "substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) AS bucket_hash FROM documents) " +
        s"SELECT doc_id, n_chars, bucket_hash, " +
        s"CASE WHEN bucket_hash < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train' ELSE 'heldout' END AS split " +
        "FROM h ORDER BY doc_id"),

    // DuckDB window sum(INT) → HUGEINT; cast at the output edge
    "text_shard_assignments" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, " +
        "sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS cum_before FROM t) " +
        "SELECT doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before, " +
        "CAST(floor(CAST(cum_before AS DOUBLE) / 4096) AS BIGINT) AS shard_id " +
        "FROM c ORDER BY doc_id"),

    "text_lang_regression" ->
      ("WITH t AS (SELECT lang, CAST(n_chars AS DOUBLE) AS y, " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE) AS x FROM documents) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "round(corr(y, x), 4) AS corr_yx, round(covar_samp(y, x), 4) AS covar_yx, " +
        "round(regr_slope(y, x), 4) AS slope, round(regr_intercept(y, x), 4) AS intercept " +
        "FROM t GROUP BY lang ORDER BY lang"),

    "text_vocab_stats" ->
      ("WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "SELECT lang, CAST(count(DISTINCT word) AS BIGINT) AS n_vocab, " +
        "CAST(count(*) AS BIGINT) AS n_tokens FROM w GROUP BY lang ORDER BY lang"),

    // Spark `percentile` and DuckDB `quantile_cont` are both exact
    // linear-interpolated quantiles; round(.,4) absorbs fp noise
    "text_length_quantiles" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "round(quantile_cont(n_chars, 0.25), 4) AS p25, " +
        "round(quantile_cont(n_chars, 0.50), 4) AS p50, " +
        "round(quantile_cont(n_chars, 0.75), 4) AS p75, " +
        "round(quantile_cont(n_chars, 0.95), 4) AS p95 " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "text_quantile_sketch" -> quantileSketchSql,
    // the native aggregate's interpolation is the same fixed-order
    // expression — shared oracle
    "text_quantile_native" -> quantileSketchSql,
    // shard-merge must estimate identically (exact integer addition)
    "text_quantile_sketch_merged" -> quantileSketchSql,
    // ...and so must the micro-batch snapshot folds
    "stream_quantile_sketch" -> quantileSketchSql,

    "dedup_incremental_new" ->
      ("WITH b AS (SELECT md5(text) AS content_hash, doc_id FROM documents WHERE doc_id % 5 = 0), " +
        "h AS (SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 5 <> 0) " +
        "SELECT content_hash, min(doc_id) AS keeper_doc_id, CAST(count(*) AS BIGINT) AS n_copies " +
        "FROM b WHERE content_hash NOT IN (SELECT content_hash FROM h) " +
        "GROUP BY content_hash ORDER BY content_hash"),

    // the rate map compiles to the same md5-threshold predicate on
    // both sides (see stratRates)
    "text_stratified_sample" -> {
      val conds = stratRates.toSeq.sortBy(_._1).map { case (l, r) =>
        s"(lang = '$l' AND substring(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.hexThreshold(r)}')"
      }.mkString(" OR ")
      s"SELECT doc_id, lang FROM documents WHERE $conds ORDER BY doc_id"
    },

    // near-dup eval leakage: same fingerprint CTE as text_fingerprints,
    // same split threshold as text_sample_split
    "text_split_contamination" ->
      (s"WITH f AS (SELECT doc_id, list_min(list_transform(shingles, s -> md5(s))) AS fingerprint FROM ($shingleSql)), " +
        "sp AS (SELECT doc_id, fingerprint, " +
        s"CASE WHEN substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train' ELSE 'heldout' END AS split FROM f) " +
        "SELECT doc_id, fingerprint FROM sp WHERE split = 'heldout' " +
        "AND fingerprint IN (SELECT fingerprint FROM sp WHERE split = 'train' AND fingerprint IS NOT NULL) " +
        "ORDER BY doc_id"),

    // DuckDB range(1, len) yields 1..len-1, pairing w[i] with w[i+1] —
    // the same bigram set as Spark's posexplode+lead postings
    "text_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram " +
        "FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)), " +
        "bc AS (SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2), " +
        "bt AS (SELECT doc_id, max(cnt) AS top_cnt FROM bc GROUP BY 1) " +
        "SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens, " +
        "round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS dup_token_ratio, " +
        "round(CAST(coalesce(top_cnt, 0) AS DOUBLE) / greatest(len(w) - 1, 1), 4) AS top_bigram_ratio " +
        "FROM t LEFT JOIN bt ON t.doc_id = bt.doc_id ORDER BY t.doc_id"),

    // the bucketed layout must reproduce the plain join's aggregate
    "store_bucketed_join" ->
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, " +
        "round(sum(o_totalprice), 2) AS total_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    // the partitioned layout must reproduce the plain filtered aggregate
    "store_partitioned_scan" ->
      ("SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents WHERE lang = 'de' GROUP BY source ORDER BY source"),

    // the clustered layout must reproduce the plain range-filtered aggregate
    "store_sorted_scan" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents WHERE n_chars BETWEEN 200 AND 400 " +
        "GROUP BY lang ORDER BY lang"),
    "store_zorder_scan" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents WHERE doc_id % 2 = 0 AND n_chars BETWEEN 100 AND 500 " +
        "GROUP BY lang ORDER BY lang"),
    // FULL rebuild over all changes — the incremental Spark path must
    // reproduce it exactly
    "store_scd2_merge" ->
      ("SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from, o_orderkey, " +
        "o_orderstatus AS status, " +
        "lead(CAST(o_orderdate AS DATE)) OVER w AS valid_to, " +
        "lead(o_orderdate) OVER w IS NULL AS is_current " +
        "FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) " +
        "ORDER BY o_custkey, valid_from, o_orderkey"),

    // untouched partitions keep their original rows; the F partition
    // carries the patch — any clobber or duplicate breaks the hash
    "store_dynamic_overwrite" ->
      ("SELECT o_orderkey, o_custkey, CAST(round(o_totalprice*100.0, 0) AS BIGINT) + " +
        "CASE WHEN o_orderstatus = 'F' THEN 7 ELSE 0 END AS cents, o_orderstatus " +
        "FROM orders ORDER BY o_orderkey"),

    // the full SCD2 chain filtered to intervals covering the as-of date
    "store_scd2_asof" ->
      ("SELECT * FROM (SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from, o_orderkey, " +
        "o_orderstatus AS status, " +
        "lead(CAST(o_orderdate AS DATE)) OVER w AS valid_to, " +
        "lead(o_orderdate) OVER w IS NULL AS is_current " +
        "FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)) " +
        "WHERE valid_from <= DATE '1997-06-15' " +
        "AND (valid_to IS NULL OR valid_to > DATE '1997-06-15') " +
        "ORDER BY o_custkey, valid_from, o_orderkey"),

    // compaction is result-invisible
    "store_compacted_scan" ->
      ("SELECT o_orderkey, o_custkey, o_orderpriority FROM orders ORDER BY o_orderkey"),

    // the stats-index pruned scan must equal the full-table filter
    "store_fileskip_scan" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders " +
        "WHERE o_orderkey BETWEEN 1000 AND 4000 ORDER BY o_orderkey"),

    "store_bloomskip_scan" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders " +
        "WHERE o_custkey = 42 ORDER BY o_orderkey"),

    // DSv2 round-trip: segment pruning + residual filters ≡ the plain
    // relational answer
    "store_segment_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders " +
        "WHERE o_orderkey BETWEEN 1000 AND 4000 AND o_orderstatus <> 'P' " +
        "ORDER BY o_orderkey"),

    "store_segment_dates" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),

    // manifest-answered aggregates must be EXACT vs the row-level truth
    "store_segment_agg_meta" ->
      ("SELECT count(*) AS n_rows, count(o_custkey) AS n_cust, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
        "min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS min_cents, " +
        "max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS max_cents, " +
        "min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status " +
        "FROM orders"),

    // the exchange-free bucket-aligned join must equal the plain join
    "store_segment_spj_join" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    // pre-evolution rows carry NULL in the later column
    "store_segment_evolve" ->
      ("SELECT o_orderkey, o_custkey, CAST(NULL AS BIGINT) AS cents FROM orders " +
        "WHERE o_orderkey % 2 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 2 <> 0 ORDER BY o_orderkey"),

    // DELETE keeps exactly the rows where the condition is not true
    "store_segment_delete" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE NOT (o_orderkey % 7 = 0 OR CAST(round(o_totalprice * 100, 0) AS BIGINT) > 20000000) " +
        "ORDER BY o_orderkey"),

    "store_segment_dv" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE NOT (o_orderkey % 7 = 0) " +
        "AND NOT (CAST(round(o_totalprice * 100, 0) AS BIGINT) > 20000000) " +
        "ORDER BY o_orderkey"),

    "store_segment_dv_update" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE 0 END AS cents " +
        "FROM orders ORDER BY o_orderkey"),

    "store_segment_zorder" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents " +
        "WHERE doc_id % 2 = 0 AND n_chars BETWEEN 100 AND 500 " +
        "GROUP BY lang ORDER BY lang"),

    "store_segment_bloom" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE o_custkey IN (7, 731, 1301) ORDER BY o_orderkey"),

    // the logical outcome of rename→drop→re-add→append: old rows carry
    // the renamed money column and a NULL re-added status; shifted-key
    // rows carry both
    "store_segment_rename" ->
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders) " +
        "SELECT * FROM (" +
        "SELECT k, cents AS price_cents, CAST(NULL AS VARCHAR) AS status FROM src " +
        "UNION ALL SELECT o_orderkey + 10000000, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + 1, 'NEW' FROM orders " +
        "WHERE (o_orderkey + 10000000) % 3 = 0) " +
        "ORDER BY k"),

    // the change feed's closed form, commit by commit: v1 appends
    // k%3=1; v2 (the deleteRows rewrite) deletes everything live and
    // re-inserts the survivors; v3 (compact) is absent; v4 appends
    // k%3=2. Keys are unique within each (version, change) slice
    "store_segment_changes" -> segmentChangesOracleSql,
    // pre-rename rows surface under the renamed column; the DDL commit
    // (v1) is feed-silent
    "store_segment_changes_rename" ->
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents FROM orders) " +
        "SELECT * FROM (" +
        "SELECT k, price_cents, 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version " +
        "FROM src WHERE k % 2 = 0 " +
        "UNION ALL SELECT k, price_cents, 'insert', 2 FROM src WHERE k % 2 = 1) " +
        "ORDER BY _commit_version, k"),
    // the CALL-driven lifecycle's ledger: create (empty), two 4-way
    // clustered inserts, the 2-way compact, one more insert
    "store_segment_ctas" ->
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 ORDER BY k"),

    "store_segment_compact_where" ->
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) % 10 <> 3 " +
        "ORDER BY o_orderkey"),

    // the whole MoR DML sequence replayed as closed-form SQL: k%11=0
    // always ends at -1 (matched update, or re-insert of a deleted
    // key); other k%7=0 stay deleted; other k%5=0 carry the +3 update
    "store_segment_mor_sql" ->
      ("WITH t1 AS (SELECT o_orderkey AS k, " +
        "CASE WHEN o_orderkey % 11 = 0 THEN CAST(-1 AS BIGINT) " +
        "WHEN o_orderkey % 5 = 0 THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) + 3 " +
        "ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS cents " +
        "FROM orders WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 <> 0) " +
        // the second MERGE in closed form: matched (k%13=0) update;
        // unmatched-by-source delete (k%17=0) then update (k%19=0),
        // first clause wins
        "SELECT k, CASE WHEN k % 13 = 0 THEN cents + 1000 " +
        "WHEN k % 19 = 0 THEN CAST(0 AS BIGINT) ELSE cents END AS cents " +
        "FROM t1 WHERE k % 13 = 0 OR k % 17 <> 0 ORDER BY k"),

    // generation 1 (k%3=0): status filled by the CREATE-time default,
    // retries by the ADD-time existence default; generation 2 (k%3=1):
    // status by the post-SET default, retries explicit
    "store_segment_defaults" ->
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'PENDING' ELSE 'QUEUED' END AS status, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN CAST(7 AS BIGINT) " +
        "ELSE o_orderkey % 5 END AS retries " +
        "FROM orders WHERE o_orderkey % 3 IN (0, 1) ORDER BY k"),

    // both generations in one closed form: pre-widen rows were written
    // int/float, post-widen rows bigint/float-rounded-double — the
    // values coincide by construction, so the replay is ONE select
    "store_segment_widen" ->
      ("SELECT o_orderkey AS k, CAST(o_orderkey % 50 AS BIGINT) AS qty, " +
        "CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price, " +
        "CAST(o_orderkey % 7 AS DOUBLE) AS ratio, " +
        "CAST(CASE WHEN o_orderkey % 2 = 0 " +
        "THEN CAST(o_orderkey % 1000 + 0.25 AS DECIMAL(20,2)) " +
        "ELSE CAST(123456789012345000.25 + (o_orderkey % 1000) AS DECIMAL(20,2)) " +
        "END AS VARCHAR) AS money " +
        "FROM orders WHERE o_orderkey % 50 >= 10 ORDER BY k"),

    // the manifest-merged KMV ≡ the global min-k of the distinct
    // portable hashes (min-k is mergeable), replayed directly
    "store_segment_ndv" ->
      ("WITH hd AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rd AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hd), " +
        "ed AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rd WHERE rn <= 256), " +
        "hl AS (SELECT DISTINCT CAST('0x' || substr(md5(lang), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE lang IS NOT NULL), " +
        "rl AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hl), " +
        "el AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rl WHERE rn <= 256), " +
        "hdt AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(DATE '2020-01-01' + CAST(doc_id % 900 AS INT) AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rdt AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hdt), " +
        "edt AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rdt WHERE rn <= 256), " +
        "hmn AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(CAST(doc_id % 500 AS DECIMAL(12,2)) + CAST(0.25 AS DECIMAL(3,2)) AS VARCHAR)" +
        "), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rmn AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hmn), " +
        "emn AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rmn WHERE rn <= 256), " +
        // TIMESTAMP: the epoch-micros canonical replays as the same
        // integer arithmetic that built the column — zone-free
        "hts AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(doc_id * 1000000 + (doc_id % 777) * 1000 AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rts AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hts), " +
        "ets AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rts WHERE rn <= 256), " +
        // struct field meta.b: the child's int canonical, same hash
        "hmb AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(CAST(doc_id % 300 AS INT) AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rmb AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hmb), " +
        "emb AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rmb WHERE rn <= 256) " +
        "SELECT col_name, n_est FROM (" +
        "SELECT 'doc_id' AS col_name, round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) AS n_est FROM ed " +
        "UNION ALL SELECT 'lang', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM el " +
        "UNION ALL SELECT 'd', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM edt " +
        "UNION ALL SELECT 'money', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM emn " +
        "UNION ALL SELECT 'ts', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM ets " +
        "UNION ALL SELECT 'meta.b', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM emb) ORDER BY col_name"),

    // both generations replay as the expression over the whole source
    "store_segment_generated" ->
      ("SELECT o_orderkey AS k, o_totalprice AS price, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, " +
        "CASE WHEN o_totalprice >= 1000 THEN 'high' ELSE 'low' END AS tier " +
        "FROM orders ORDER BY k"),

    // the storage hop is transparent: same replay as the parquet-side
    // variant certificate
    "store_segment_variant" ->
      ("WITH j AS (SELECT event_id, '{\"orig\": ' || props || ', \"tag\": \"t' || " +
        "(event_id % 3) || '\", \"arr\": [' || (event_id % 5) || ',' || (event_id % 7) || ']}' AS js " +
        "FROM events) " +
        "SELECT event_id, CAST(json_extract(js, '$.orig.k') AS BIGINT) AS k, " +
        "json_extract_string(js, '$.tag') AS tag, " +
        "CAST(json_extract(js, '$.arr[1]') AS BIGINT) AS arr1, " +
        "CAST(-1 AS BIGINT) AS missing " +
        "FROM j ORDER BY event_id"),

    // items[0].product_id after array_sort = the lexicographic-first
    // struct's product_id = min(l_partkey) per order (product_id is
    // the leading sort field)
    "store_segment_items" ->
      ("SELECT l_orderkey AS k, CAST(count(*) AS INT) AS n_items, " +
        "CAST(min(l_partkey) AS BIGINT) AS first_pid, " +
        "CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty " +
        "FROM lineitem GROUP BY l_orderkey ORDER BY k"),

    // the span shape replays closed-form: n_spans = m+1, first_e =
    // doc_id%7, tok_total = sum over spans i=0..m of sum(i..i+q) with
    // m = doc_id%3, q = doc_id%4 — integer division is exact (m(m+1)
    // and q(q+1) are even), // keeps DuckDB in the integer domain
    "store_segment_spans" ->
      ("SELECT doc_id AS k, CAST(doc_id % 3 + 1 AS INT) AS n_spans, " +
        "CAST(doc_id % 7 AS INT) AS first_e, " +
        "CAST((doc_id % 4 + 1) * ((doc_id % 3) * (doc_id % 3 + 1) // 2) + " +
        "(doc_id % 3 + 1) * ((doc_id % 4) * (doc_id % 4 + 1) // 2) AS BIGINT) AS tok_total " +
        "FROM documents ORDER BY k"),

    // the deep shape replays as pure arithmetic: with m = doc_id%2,
    // q5 = doc_id%5, grid_sum = Σ_{i=0..m} Σ_{j=0..i} (10i + j + q5)
    // = q5 (m=0) or 3·q5 + 21 (m=1); keyed_sum = Σ_{i=0..m}
    // (doc_id%11 + i + (doc_id%3 + 1)) — // keeps the triangular term
    // integral
    "store_segment_deep" ->
      ("SELECT doc_id AS k, CAST(doc_id % 7 AS INT) AS inner_x, " +
        "CAST(doc_id % 2 + 1 AS INT) AS n_ys, " +
        "CAST((doc_id % 9) * 0.5 AS DOUBLE) AS w, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 " +
        "ELSE 3 * (doc_id % 5) + 21 END AS BIGINT) AS grid_sum, " +
        "CAST((doc_id % 2 + 1) * (doc_id % 11) + " +
        "((doc_id % 2) * (doc_id % 2 + 1) // 2) + " +
        "(doc_id % 2 + 1) * (doc_id % 3 + 1) AS BIGINT) AS keyed_sum " +
        "FROM documents ORDER BY k"),

    // the map<string, struct> shape replays closed-form: w_sum =
    // Σ_{j=0..m} ((doc_id%9)/2 + j) = (m+1)(doc_id%9)/2 + m(m+1)/2
    // with m = doc_id%3 — 0.5-granular terms are exact doubles, and
    // // keeps the triangular term in the integer domain
    "store_segment_map_struct" ->
      ("SELECT doc_id AS k, CAST(doc_id % 3 + 1 AS INT) AS n_keys, " +
        "CAST(doc_id % 100 AS INT) AS t0_n, " +
        "CAST((doc_id % 3 + 1) * (doc_id % 9) * 0.5 + " +
        "((doc_id % 3) * (doc_id % 3 + 1) // 2) AS DOUBLE) AS w_sum, " +
        "CASE WHEN doc_id % 3 >= 2 THEN 'l2' END AS lbl2 " +
        "FROM documents ORDER BY k"),

    "store_segment_mor_bulk" ->
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + " +
        "CASE WHEN o_orderkey % 5 <> 0 THEN 7 ELSE 0 END AS cents " +
        "FROM orders ORDER BY k"),

    "store_segment_compressed" ->
      ("SELECT doc_id, text, lang, n_chars FROM documents " +
        "WHERE doc_id % 3 = 0 ORDER BY doc_id"),

    "store_segment_exact_meta" ->
      ("SELECT count(*) AS n, min(o_orderkey) AS min_k, max(o_orderkey) AS max_k " +
        "FROM orders WHERE o_orderkey >= 1"),

    "store_segment_clone" ->
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders) " +
        "SELECT clone_kind, k, cents FROM (" +
        "SELECT 'shallow' AS clone_kind, k, cents FROM src " +
        "UNION ALL SELECT 'deep' AS clone_kind, k, cents FROM src) " +
        "ORDER BY clone_kind, k"),

    "store_segment_nested" ->
      ("SELECT doc_id, CAST(doc_id % 100 AS TINYINT) AS y, " +
        "CAST(n_chars % 10000 AS SMALLINT) AS w, " +
        "lang, CAST(n_chars AS INT) AS n, n_chars AS total " +
        "FROM documents ORDER BY doc_id"),

    "store_segment_typed" ->
      ("SELECT doc_id, text AS text_back, " +
        "CAST(n_chars + 0.25 AS DECIMAL(12,2)) AS score, " +
        "CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "string_split(text, ' ')[1] AS first_token " +
        "FROM documents WHERE n_chars + 0.25 >= 100.25 ORDER BY doc_id"),

    "store_segment_call" ->
      ("WITH src AS (SELECT o_orderkey AS k FROM orders), " +
        "n0 AS (SELECT count(*) AS c FROM src WHERE k % 3 = 0), " +
        "n01 AS (SELECT count(*) AS c FROM src WHERE k % 3 IN (0, 1)), " +
        "nall AS (SELECT count(*) AS c FROM src) " +
        "SELECT * FROM (" +
        "SELECT CAST(0 AS BIGINT) AS version, 'create' AS kind, 0 AS n_segments, " +
        "CAST(0 AS BIGINT) AS n_rows " +
        "UNION ALL SELECT 1, 'append', 4, (SELECT c FROM n0) " +
        "UNION ALL SELECT 2, 'append', 8, (SELECT c FROM n01) " +
        "UNION ALL SELECT 3, 'compact', 2, (SELECT c FROM n01) " +
        // the compact RE-DECLARED the layout (k, 2), and the catalog's
        // plain INSERT inherits the live layout: 2 new segments, not 4
        "UNION ALL SELECT 4, 'append', 4, (SELECT c FROM nall)) " +
        "ORDER BY version"),
    // every stats cell recomputed from the source rows: bounds are
    // true min/max (ISO date / epoch-micros renders match the
    // procedure's canonicals), NDV on the declared under-k column is
    // the exact distinct count, len_sum/len_max are value byte sums;
    // binary carries lengths but (honestly) no bounds
    "store_segment_stats" ->
      ("WITH src AS (SELECT doc_id, lang, " +
        "DATE '2020-01-01' + CAST(doc_id % 900 AS INT) AS d, " +
        "doc_id * 1000000 + doc_id % 777 AS tsu, " +
        "CASE WHEN doc_id % 97 = 0 THEN NULL " +
        "ELSE 'n' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') END AS name, " +
        "'b' || CAST(doc_id % 10 AS VARCHAR) AS blob_s, " +
        "CASE WHEN doc_id % 11 = 0 THEN NULL " +
        "ELSE repeat('y', CAST(doc_id % 5 AS INT)) END AS title " +
        "FROM documents) " +
        "SELECT * FROM (" +
        "SELECT 'blob' AS col_name, count(blob_s) AS n_values, " +
        "count(*) - count(blob_s) AS n_nulls, " +
        "CAST(NULL AS VARCHAR) AS min_val, CAST(NULL AS VARCHAR) AS max_val, " +
        "CAST(NULL AS DOUBLE) AS ndv_est, " +
        "CAST(sum(strlen(blob_s)) AS BIGINT) AS len_sum, " +
        "CAST(max(strlen(blob_s)) AS BIGINT) AS len_max, " +
        "CAST(NULL AS BIGINT) AS hist_ndv FROM src " +
        "UNION ALL SELECT 'd', count(d), count(*) - count(d), " +
        "CAST(min(d) AS VARCHAR), CAST(max(d) AS VARCHAR), NULL, NULL, NULL, " +
        "CAST(count(DISTINCT d) AS BIGINT) FROM src " +
        "UNION ALL SELECT 'doc_id', count(doc_id), count(*) - count(doc_id), " +
        "CAST(min(doc_id) AS VARCHAR), CAST(max(doc_id) AS VARCHAR), NULL, NULL, NULL, " +
        "NULL FROM src " +
        "UNION ALL SELECT 'lang', count(lang), count(*) - count(lang), " +
        "min(lang), max(lang), CAST(count(DISTINCT lang) AS DOUBLE), " +
        "CAST(sum(strlen(lang)) AS BIGINT), " +
        "CAST(max(strlen(lang)) AS BIGINT), NULL FROM src " +
        "UNION ALL SELECT 'name', count(name), count(*) - count(name), " +
        "min(name), max(name), NULL, " +
        "CAST(sum(strlen(name)) AS BIGINT), " +
        "CAST(max(strlen(name)) AS BIGINT), " +
        "CAST(count(DISTINCT name) AS BIGINT) FROM src " +
        "UNION ALL SELECT 'meta', count(*), 0, NULL, NULL, NULL, NULL, NULL, " +
        "NULL FROM src " +
        "UNION ALL SELECT 'meta.title', count(title), count(*) - count(title), " +
        "min(title), max(title), NULL, " +
        "CAST(sum(strlen(title)) AS BIGINT), " +
        "CAST(max(strlen(title)) AS BIGINT), NULL FROM src " +
        "UNION ALL SELECT 'ts', count(tsu), count(*) - count(tsu), " +
        "CAST(min(tsu) AS VARCHAR), CAST(max(tsu) AS VARCHAR), NULL, NULL, NULL, " +
        "NULL FROM src" +
        ") ORDER BY col_name"),

    // every (column, value, count) of the manifest frequency maps
    // recomputed from the source rows: values are the long canonicals —
    // DATE as epoch days (date minus epoch in DuckDB is integer days),
    // TIMESTAMP as the same epoch-micros arithmetic that built it
    "store_segment_hist" ->
      ("SELECT col_name, value, value_str, cnt, true AS exact FROM (" +
        "SELECT 'bucket' AS col_name, CAST(doc_id % 37 AS BIGINT) AS value, " +
        "CAST(NULL AS VARCHAR) AS value_str, " +
        "count(*) AS cnt FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'd', CAST(DATE '2021-06-01' + CAST(doc_id % 45 AS INT) " +
        "- DATE '1970-01-01' AS BIGINT), NULL, count(*) FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'meta.code', CAST(doc_id % 11 AS BIGINT), NULL, count(*) " +
        "FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'money', CAST((doc_id % 50) * 100 + 25 AS BIGINT), NULL, " +
        "count(*) FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'tag', NULL, " +
        "'t' || lpad(CAST(doc_id % 29 AS VARCHAR), 2, '0'), count(*) " +
        "FROM documents GROUP BY 3 " +
        "UNION ALL SELECT 'ts', CAST((doc_id % 23) * 1000000 AS BIGINT), NULL, count(*) " +
        "FROM documents GROUP BY 2" +
        ") ORDER BY col_name, value, value_str"),

    // the DV annotation: delete_mark leaves rows dv'd (not rewritten),
    // the maps keep the PRE-delete mass, and exact = false says so —
    // the oracle replays the full corpus with the flag down
    "store_segment_hist_dv" ->
      ("SELECT col_name, value, value_str, cnt, false AS exact FROM (" +
        "SELECT 'bucket' AS col_name, CAST(doc_id % 19 AS BIGINT) AS value, " +
        "CAST(NULL AS VARCHAR) AS value_str, " +
        "count(*) AS cnt FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'tag', NULL, " +
        "'t' || lpad(CAST(doc_id % 23 AS VARCHAR), 2, '0'), count(*) " +
        "FROM documents GROUP BY 3" +
        ") ORDER BY col_name, value, value_str"),

    // the same discrete rule — value at row ceil(q×N) in value order —
    // replayed as a windowed cumulative sum over the source rows
    "store_segment_quantiles" ->
      ("WITH src AS (SELECT " +
        "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE CAST(doc_id % 37 AS INT) END AS b, " +
        "(doc_id % 50) * 100 + 25 AS mu, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 13 AS VARCHAR), 2, '0') END AS tg " +
        "FROM documents), " +
        "n AS (SELECT count(*) AS n FROM src), " +
        "qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9, 0.99]) AS DOUBLE) AS q), " +
        "cb AS (SELECT b AS value, count(*) AS cnt FROM src GROUP BY 1), " +
        "cumb AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum FROM cb), " +
        "cm AS (SELECT mu AS value, count(*) AS cnt FROM src GROUP BY 1), " +
        "cumm AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum FROM cm), " +
        "ct AS (SELECT tg AS value, count(*) AS cnt FROM src GROUP BY 1), " +
        "cumt AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum FROM ct) " +
        "SELECT col_name, q, value, value_str, true AS exact FROM (" +
        "SELECT 'bucket' AS col_name, q, (SELECT CAST(min(value) AS BIGINT) FROM cumb " +
        "WHERE cum >= greatest(1, CAST(ceil(q * (SELECT n FROM n)) AS BIGINT))) AS value, " +
        "CAST(NULL AS VARCHAR) AS value_str FROM qs " +
        "UNION ALL SELECT 'money', q, (SELECT CAST(min(value) AS BIGINT) FROM cumm " +
        "WHERE cum >= greatest(1, CAST(ceil(q * (SELECT n FROM n)) AS BIGINT))), NULL FROM qs " +
        "UNION ALL SELECT 'tag', q, NULL, (SELECT min(value) FROM cumt " +
        "WHERE cum >= greatest(1, CAST(ceil(q * (SELECT n FROM n)) AS BIGINT))) FROM qs" +
        ") ORDER BY col_name, q"),

    // the derived fan-out replayed from source rows: the manifest maps
    // are the exact GROUP BY, so the hottest count is too
    "store_segment_salts" ->
      ("WITH src AS (SELECT CASE WHEN doc_id % 4 < 3 THEN 7 " +
        "ELSE doc_id % 97 END AS k, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 13 AS VARCHAR), 2, '0') END AS tag " +
        "FROM documents), " +
        "hk AS (SELECT max(c) AS hot FROM (SELECT count(*) AS c FROM src GROUP BY k)), " +
        "ht AS (SELECT max(c) AS hot FROM (SELECT count(*) AS c FROM src GROUP BY tag)) " +
        "SELECT col_name, salts, true AS derived, true AS exact FROM (" +
        "SELECT 'k' AS col_name, CAST(least(64, greatest(1, " +
        "CAST(ceil(CAST((SELECT hot FROM hk) AS DOUBLE) / 50) AS BIGINT))) AS INT) AS salts " +
        "UNION ALL SELECT 'tag', CAST(least(64, greatest(1, " +
        "CAST(ceil(CAST((SELECT hot FROM ht) AS DOUBLE) / 50) AS BIGINT))) AS INT) " +
        // the composite bound: min over declared columns at target 30
        "UNION ALL SELECT 'k,tag', CAST(least(" +
        "least(64, greatest(1, CAST(ceil(CAST((SELECT hot FROM hk) AS DOUBLE) / 30) AS BIGINT))), " +
        "least(64, greatest(1, CAST(ceil(CAST((SELECT hot FROM ht) AS DOUBLE) / 30) AS BIGINT)))" +
        ") AS INT) " +
        // an undeclared column contributes no bound — k's alone
        "UNION ALL SELECT 'k,nodecl', CAST(least(64, greatest(1, " +
        "CAST(ceil(CAST((SELECT hot FROM hk) AS DOUBLE) / 50) AS BIGINT))) AS INT)" +
        ") ORDER BY col_name"),
    // the metadata-derived join counts replayed as the ACTUAL joins
    "store_join_estimate" ->
      ("WITH a AS (SELECT CASE WHEN doc_id % 4 < 3 THEN 7 " +
        "ELSE doc_id % 97 END AS k, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 13 AS VARCHAR), 2, '0') END AS tag " +
        "FROM documents), " +
        "b AS (SELECT doc_id % 13 AS k, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 20 AS VARCHAR), 2, '0') END AS tag " +
        "FROM documents) " +
        "SELECT probe, n_rows, derived, exact FROM (" +
        "SELECT 'k_long' AS probe, CAST((SELECT count(*) FROM a JOIN b " +
        "ON a.k = b.k) AS BIGINT) AS n_rows, true AS derived, true AS exact " +
        "UNION ALL SELECT 'tag_str', CAST((SELECT count(*) FROM a JOIN b " +
        "ON a.tag = b.tag) AS BIGINT), true, true " +
        "UNION ALL SELECT 'undeclared', NULL, false, true" +
        ") ORDER BY probe"),

    // the metadata-derived mixture: identical rate chain to
    // text_mixture_sample with DOC counts as the totals — the GROUP BY
    // here is exactly what the manifest string map equals by contract
    "store_mixture_metadata" ->
      (s"WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS toks FROM documents GROUP BY source), " +
        s"sh(source, share) AS (VALUES $mixSharesValuesSql), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM t JOIN sh USING (source) WHERE share > 0), " +
        "r AS (SELECT source, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate " +
        "FROM t JOIN sh USING (source) CROSS JOIN c WHERE share > 0), " +
        "thr AS (SELECT source, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN thr ON d.source = thr.source " +
        "WHERE substr(md5('mixsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "ORDER BY d.doc_id"),
    // temperature mixture: share = sqrt(count) per source, identical
    // rate chain — sqrt/div/mul on the same operands, no cross-source
    // sum anywhere (the normalizer cancels inside the rate formula)
    "store_mixture_temperature" ->
      ("WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 4 < 3 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "t AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM docs GROUP BY src), " +
        "sh AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM t), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sh), " +
        "r AS (SELECT src, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate FROM sh CROSS JOIN c), " +
        "thr AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.doc_id, d.src FROM docs d JOIN thr ON d.src = thr.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "ORDER BY d.doc_id"),
    // the CALL face's rates replayed over the exact GROUP BY
    "store_mixture_rates" ->
      ("WITH docs AS (SELECT CASE WHEN doc_id % 4 < 3 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "t AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM docs GROUP BY src), " +
        "sh AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM t), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sh) " +
        "SELECT src AS value, toks AS n_rows, " +
        "least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate, " +
        "true AS exact FROM sh CROSS JOIN c ORDER BY value"),
    // the streamed mixture replayed as the batch chain, grouped
    "stream_mixture_counts" ->
      ("WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 4 < 3 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "t AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM docs GROUP BY src), " +
        "sh AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM t), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sh), " +
        "r AS (SELECT src, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate FROM sh CROSS JOIN c), " +
        "thr AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.src, CAST(count(*) AS BIGINT) AS n_kept, " +
        "min(d.doc_id) AS min_id, max(d.doc_id) AS max_id " +
        "FROM docs d JOIN thr ON d.src = thr.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "GROUP BY d.src ORDER BY d.src"),
    // the refreshed stream replayed as the CONCATENATED two-regime
    // batch: regime A (the even half) under rates derived from A's
    // totals, regime B (the web-only append) under rates derived from
    // the cumulative A∪B totals — the same sqrt/div/mul/trunc chain
    // per regime, so face and predicate cannot drift
    "stream_mixture_refresh" ->
      ("WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 8 < 5 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "a AS (SELECT * FROM docs WHERE doc_id % 2 = 0), " +
        "b AS (SELECT * FROM docs WHERE doc_id % 8 = 1), " +
        "ab AS (SELECT * FROM docs WHERE doc_id % 2 = 0 OR doc_id % 8 = 1), " +
        "ta AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM a GROUP BY src), " +
        "sha AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM ta), " +
        "ca AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sha), " +
        "ra AS (SELECT src, least(CAST(1.0 AS DOUBLE), ca.c * share / CAST(toks AS DOUBLE)) AS rate FROM sha CROSS JOIN ca), " +
        "thra AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM ra), " +
        "tb AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM ab GROUP BY src), " +
        "shb AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM tb), " +
        "cb AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM shb), " +
        "rb AS (SELECT src, least(CAST(1.0 AS DOUBLE), cb.c * share / CAST(toks AS DOUBLE)) AS rate FROM shb CROSS JOIN cb), " +
        "thrb AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM rb), " +
        "kept AS (" +
        "SELECT d.doc_id, d.src FROM a d JOIN thra ON d.src = thra.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thra.thr " +
        "UNION ALL " +
        "SELECT d.doc_id, d.src FROM b d JOIN thrb ON d.src = thrb.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thrb.thr) " +
        "SELECT src, CAST(count(*) AS BIGINT) AS n_kept, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id " +
        "FROM kept GROUP BY src ORDER BY src"),

    // the auto-salted join replayed as the PLAIN join: the derived
    // fan-out must be invisible in the result by construction
    "store_join_autosalt" ->
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, l_extendedprice FROM lineitem), " +
        "dim AS (SELECT DISTINCT k, 'g' || CAST(k % 5 AS VARCHAR) AS grp FROM fact) " +
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_lines, " +
        "round(sum(l_extendedprice), 2) AS total_price " +
        "FROM fact JOIN dim USING (k) GROUP BY grp ORDER BY grp"),
    // only the constraint-satisfying insert survives; the violating
    // batch failed whole (write-side enforcement, atomic commit)
    "store_segment_check_constraint" ->
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 ORDER BY k"),

    // the same commit sequence's lifecycle ledger in closed form:
    // counts from the predicates, segment totals from the declared
    // layouts (4-way clustered writes, the 2-way compact)
    "store_segment_history" ->
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders), " +
        "n0 AS (SELECT count(*) AS c FROM src WHERE k % 3 = 0), " +
        "n01 AS (SELECT count(*) AS c FROM src WHERE k % 3 IN (0, 1)), " +
        "nk AS (SELECT count(*) AS c FROM src WHERE k % 3 IN (0, 1) AND NOT k % 5 = 0), " +
        "nf AS (SELECT count(*) AS c FROM src WHERE k % 3 = 2) " +
        "SELECT * FROM (" +
        "SELECT CAST(0 AS BIGINT) AS version, 'append' AS kind, 4 AS n_segments, " +
        "CAST((SELECT c FROM n0) AS BIGINT) AS n_rows " +
        "UNION ALL SELECT 1, 'append', 8, (SELECT c FROM n01) " +
        "UNION ALL SELECT 2, 'replace', 4, (SELECT c FROM nk) " +
        "UNION ALL SELECT 3, 'compact', 2, (SELECT c FROM nk) " +
        "UNION ALL SELECT 4, 'append', 6, (SELECT c FROM nk) + (SELECT c FROM nf)) " +
        "ORDER BY version"),
    // the STREAMED feed over the identical commit sequence must land
    // on the identical closed form — one oracle, two consumption modes
    "stream_segment_cdf" -> segmentChangesOracleSql,

    // Q3 on the native format ≡ Q3 on parquet (rel_q3's oracle text)
    "store_segment_q3" ->
      ("SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"),

    // MERGE ≡ unmatched-target ∪ updated-matches ∪ inserted-source
    "store_segment_merge" ->
      ("WITH t AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 3 = 0), " +
        "s AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) + 11 AS cents, " +
        "CASE WHEN o_orderkey % 4 = 0 THEN 'D' ELSE 'U' END AS op " +
        "FROM orders WHERE o_orderkey % 2 = 0) " +
        "SELECT k, cents FROM t WHERE k NOT IN (SELECT k FROM s) " +
        "UNION ALL SELECT t.k, s.cents FROM t JOIN s ON t.k = s.k WHERE s.op <> 'D' " +
        "UNION ALL SELECT s.k, s.cents FROM s WHERE s.op <> 'D' AND s.k NOT IN (SELECT k FROM t) " +
        "ORDER BY k"),

    // the segment-cut top-N must be the plain top-N
    "store_segment_topn" ->
      ("SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders ORDER BY o_orderkey DESC LIMIT 25"),

    // the increment past v0 is exactly the non-(k%3=0) rows
    "store_segment_incremental" ->
      ("SELECT o_custkey, count(*) AS n_new, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 3 <> 0 " +
        "GROUP BY o_custkey ORDER BY o_custkey"),

    // each log version replays to its snapshot's aggregate
    "store_segment_time_travel" ->
      ("SELECT 0 AS version, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 " +
        "UNION ALL " +
        "SELECT 1 AS version, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders ORDER BY version"),

    // each commit's own timestamp binds back to that commit's snapshot
    "store_segment_time_travel_ts" ->
      ("SELECT 0 AS snap, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 " +
        "UNION ALL " +
        "SELECT 1 AS snap, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders ORDER BY snap"),

    // phase 0: the rolled-back (deleted) snapshot, still readable via
    // time travel; phase 1: the restored full table after rollback
    "store_segment_rollback" ->
      ("SELECT 0 AS phase, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 5 <> 0 " +
        "UNION ALL " +
        "SELECT 1 AS phase, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders ORDER BY phase"),

    // the segment log drained as a stream must reconstruct the table
    "stream_segment_source_counts" ->
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events GROUP BY event_type ORDER BY event_type"),

    // starting at the second commit's stamp delivers its rows only
    "stream_segment_ts_counts" ->
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events WHERE event_id % 3 <> 0 " +
        "GROUP BY event_type ORDER BY event_type"),

    // dv-deleted rows never reach the stream
    "stream_segment_dv_counts" ->
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events WHERE event_id % 7 <> 0 " +
        "GROUP BY event_type ORDER BY event_type"),

    // first third consumed before the delete + last third appended
    // after it; the deleted middle third is skipped
    "stream_segment_skipcc_counts" ->
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events " +
        "WHERE event_id <= (SELECT max(event_id) FROM events) // 3 " +
        "OR event_id > 2 * (SELECT max(event_id) FROM events) // 3 " +
        "GROUP BY event_type ORDER BY event_type"),

    // a stream drained INTO the segment table must reconstruct it too
    "stream_segment_sink_counts" ->
      ("SELECT event_type, count(*) AS n_events, " +
        "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // pre-evolution rows carry NULL in the later column
    "store_schema_merge" ->
      ("SELECT o_orderkey, o_custkey, CAST(NULL AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT o_orderkey, o_custkey, CAST(round(o_totalprice*100.0, 0) AS BIGINT) " +
        "FROM orders WHERE o_orderkey % 2 <> 0 ORDER BY o_orderkey"),

    // each constraint replayed as its defining query
    "store_constraints" ->
      ("SELECT 'lineitem_key_unique' AS check_name, CAST(count(*) AS BIGINT) AS n_violations " +
        "FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1) " +
        "UNION ALL SELECT 'orders_custkey_not_null', CAST(count(*) AS BIGINT) " +
        "FROM orders WHERE o_custkey IS NULL " +
        "UNION ALL SELECT 'orders_price_cap', CAST(count(*) AS BIGINT) " +
        "FROM orders WHERE NOT coalesce(o_totalprice <= 400000.0, FALSE) " +
        "UNION ALL SELECT 'orders_customer_fk', CAST(count(*) AS BIGINT) " +
        "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey " +
        "WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL " +
        "ORDER BY check_name"),

    // per-column statistics, one branch per profiled column
    "store_profile" ->
      ("WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(o_orderkey) AS BIGINT) AS c1, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d1, " +
        "CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1, " +
        "CAST(count(o_custkey) AS BIGINT) AS c2, CAST(count(DISTINCT o_custkey) AS BIGINT) AS d2, " +
        "CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2, " +
        "CAST(count(o_orderstatus) AS BIGINT) AS c3, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d3, " +
        "min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3, " +
        "CAST(count(o_orderpriority) AS BIGINT) AS c4, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d4, " +
        "min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4 FROM orders) " +
        "SELECT 'o_orderkey' AS col_name, n_rows, n_rows - c1 AS n_nulls, d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM s " +
        "UNION ALL SELECT 'o_custkey', n_rows, n_rows - c2, d2, mn2, mx2 FROM s " +
        "UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - c3, d3, mn3, mx3 FROM s " +
        "UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - c4, d4, mn4, mx4 FROM s " +
        "ORDER BY col_name"),

    // full-outer reconciliation: presence decides added/removed, the
    // null-safe compare decides changed; unchanged keys drop out
    "store_table_diff" ->
      ("WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice*100.0, 0) AS BIGINT) AS cents FROM orders), " +
        "n AS (SELECT k, CASE WHEN k % 3 = 0 THEN cents + 7 ELSE cents END AS cents FROM o WHERE k % 5 <> 0 " +
        "UNION ALL SELECT k + 10000000, cents FROM o WHERE k % 11 = 0) " +
        "SELECT coalesce(o.k, n.k) AS o_orderkey, " +
        "CASE WHEN o.k IS NULL THEN 'added' WHEN n.k IS NULL THEN 'removed' " +
        "WHEN o.cents IS DISTINCT FROM n.cents THEN 'changed' END AS change_type " +
        "FROM o FULL OUTER JOIN n ON o.k = n.k " +
        "WHERE o.k IS NULL OR n.k IS NULL OR o.cents IS DISTINCT FROM n.cents " +
        "ORDER BY o_orderkey"),

    // decimal arithmetic is exact, so no rounding anywhere — the
    // sums have fixed scale (2 and 4) and the *10^scale output edge is
    // an exact integer, emitted as BIGINT on both engines
    "rel_decimal_exact" ->
      ("SELECT l_returnflag, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_price_cents, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS sum_revenue_x10000, " +
        "CAST(count(*) AS BIGINT) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    // quadratic levenshtein matching + recursive closure + per-entity
    // aggregates — entity_id = component min on both engines
    "rel_entity_resolution" ->
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
        "FROM records JOIN lab USING (rec_id) GROUP BY entity_id ORDER BY entity_id"),
    // the MV-routed aggregate must be indistinguishable from the
    // fact-table aggregate (sum/count are partition-decomposable;
    // l_quantity is integer-valued so the regrouped double sum is
    // IEEE-exact)
    "rel_mv_rewrite_auto" ->
      ("SELECT l_returnflag, sum(l_quantity) AS sum_qty, " +
        "CAST(count(*) AS BIGINT) AS n_rows FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // same add-one-smoothed shares in the same expression order; the
    // range(10) grid keeps empty bands present on both sides
    // KS: same per-value counts; the oracle's global cum window is fine
    // at its scale (the engine side distributes the prefix scan);
    // integer |cumA·nB − cumB·nA| discrepancy, ONE final division
    "store_drift_ks" ->
      ("WITH t AS (SELECT CASE WHEN o_totalprice < 150000 AND o_orderkey % 2 = 1 " +
        "THEN o_totalprice + 10000 ELSE o_totalprice END AS v, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_a FROM orders), " +
        "pv AS (SELECT v, CAST(sum(is_a) AS BIGINT) AS n_a, " +
        "CAST(sum(1 - is_a) AS BIGINT) AS n_b FROM t GROUP BY v), " +
        "c AS (SELECT v, sum(n_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca, " +
        "sum(n_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb FROM pv), " +
        "tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb FROM pv) " +
        "SELECT round(CAST(max(abs(ca * nb - cb * na)) AS DOUBLE) / " +
        "CAST((max(na) * max(nb)) AS DOUBLE), 6) AS ks_d, " +
        "CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b " +
        "FROM c CROSS JOIN tot"),
    "store_drift_psi" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders), " +
        "neu AS (SELECT k, CASE WHEN k % 3 = 0 THEN p + 50000.0 ELSE p END AS p " +
        "FROM o WHERE k % 5 <> 0), " +
        "bo AS (SELECT CAST(least(greatest(floor(p / 50000.0), 0), 9) AS INT) AS band, " +
        "count(*) AS n FROM o GROUP BY band), " +
        "bn AS (SELECT CAST(least(greatest(floor(p / 50000.0), 0), 9) AS INT) AS band, " +
        "count(*) AS n FROM neu GROUP BY band), " +
        "g AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS band), " +
        "j AS (SELECT g.band AS band, CAST(coalesce(bo.n, 0) AS BIGINT) AS n_old, " +
        "CAST(coalesce(bn.n, 0) AS BIGINT) AS n_new " +
        "FROM g LEFT JOIN bo ON g.band = bo.band LEFT JOIN bn ON g.band = bn.band), " +
        "t AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old, CAST(sum(n_new) AS BIGINT) AS t_new FROM j) " +
        "SELECT band, n_old, n_new, " +
        "round((((n_old + 1) / CAST(t_old + 10 AS DOUBLE)) - ((n_new + 1) / CAST(t_new + 10 AS DOUBLE))) * " +
        "ln(((n_old + 1) / CAST(t_old + 10 AS DOUBLE)) / ((n_new + 1) / CAST(t_new + 10 AS DOUBLE))), 6) AS psi_term " +
        "FROM j CROSS JOIN t ORDER BY band"),
    // same inverse-CDF in the same expression order over the same
    // hash uniform; u strictly inside (0,1) by the +0.5 offset
    "store_dp_counts" ->
      ("WITH c AS (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY c_nationkey), " +
        "u AS (SELECT c_nationkey, n, " +
        "(CAST('0x' || substr(md5('dp' || CAST(c_nationkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5) / 4294967296.0 AS uu " +
        "FROM c) " +
        "SELECT c_nationkey, round(n + -1.0 * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)), 4) AS noisy_count " +
        "FROM u ORDER BY c_nationkey"),
    "store_k_anonymity" ->
      ("WITH q AS (SELECT c_custkey, c_nationkey, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer), " +
        "n AS (SELECT q.*, count(*) OVER (PARTITION BY c_nationkey, bal_band) AS qi FROM q) " +
        "SELECT c_custkey, CASE WHEN qi >= 5 THEN c_nationkey END AS c_nationkey, " +
        "CASE WHEN qi >= 5 THEN bal_band END AS bal_band, qi < 5 AS suppressed " +
        "FROM n ORDER BY c_custkey"),
    // the same suppression replayed, then per-group size + distinct
    // sensitive values (NULL-keyed suppressed pool groups as one)
    "store_l_diversity" ->
      ("WITH lq AS (SELECT c_custkey, c_nationkey, c_mktsegment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer), " +
        "ln AS (SELECT lq.*, count(*) OVER (PARTITION BY c_nationkey, bal_band) AS qi FROM lq), " +
        "la AS (SELECT CASE WHEN qi >= 5 THEN c_nationkey END AS c_nationkey, " +
        "CASE WHEN qi >= 5 THEN bal_band END AS bal_band, c_mktsegment FROM ln) " +
        "SELECT c_nationkey, bal_band, CAST(count(*) AS BIGINT) AS group_n, " +
        "CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct " +
        "FROM la GROUP BY 1, 2 ORDER BY 1, 2"),
    // t-closeness: integer-exact |n_gv·N − n_v·n_g| numerators, absent
    // values via the closed form N·n_g − Σ_present n_v·n_g, ONE final
    // float division — replayed token for token
    "store_t_closeness" ->
      ("WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer), " +
        "gv AS (SELECT c_nationkey, bal_band, c_mktsegment, CAST(count(*) AS BIGINT) AS n_gv " +
        "FROM c GROUP BY 1, 2, 3), " +
        "v AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_v FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM c), " +
        "g AS (SELECT gv.*, n_v, n_total, " +
        "CAST(sum(n_gv) OVER (PARTITION BY c_nationkey, bal_band) AS BIGINT) AS n_g " +
        "FROM gv JOIN v USING (c_mktsegment) CROSS JOIN t), " +
        "f AS (SELECT c_nationkey, bal_band, CAST(max(n_g) AS BIGINT) AS group_n, " +
        "max(n_total) AS nn, CAST(sum(abs(n_gv * n_total - n_v * n_g)) AS BIGINT) AS pa, " +
        "CAST(sum(n_v * n_g) AS BIGINT) AS pq FROM g GROUP BY 1, 2) " +
        "SELECT c_nationkey, bal_band, group_n, " +
        "round(CAST(pa + (nn * group_n - pq) AS DOUBLE) / (2.0 * group_n * nn), 4) AS t_closeness " +
        "FROM f ORDER BY c_nationkey, bal_band"),
    // lead-built intervals partition time per key: at most one
    // version covers each fact's lookup date
    "store_temporal_join" ->
      ("WITH ch AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS vfrom, " +
        "CASE WHEN o_totalprice < 100000 THEN 'bronze' " +
        "WHEN o_totalprice < 300000 THEN 'silver' ELSE 'gold' END AS tier, " +
        "o_orderkey AS tie FROM orders), " +
        "h AS (SELECT k, vfrom, tier, " +
        "lead(vfrom) OVER (PARTITION BY k ORDER BY vfrom, tie) AS valid_to FROM ch), " +
        "f AS (SELECT o_orderkey, o_custkey AS k, " +
        "CAST(o_orderdate AS DATE) - 30 AS lookup_date FROM orders) " +
        "SELECT f.o_orderkey AS o_orderkey, f.k AS k, " +
        "coalesce(h.tier, 'none') AS prior_tier " +
        "FROM f LEFT JOIN h ON h.k = f.k AND h.vfrom <= f.lookup_date " +
        "AND (h.valid_to IS NULL OR h.valid_to > f.lookup_date) " +
        "ORDER BY o_orderkey"),
    // cascade membership replayed as IN-subqueries; purged derived
    // before/after so the audit can't drift from the data
    "store_forget_cascade" ->
      ("WITH k AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0), " +
        "po AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM k)) " +
        "SELECT 'customer' AS tbl, (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_before, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_custkey IN (SELECT c_custkey FROM k)) AS n_purged, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM k)) AS n_after " +
        "UNION ALL SELECT 'lineitem', (SELECT CAST(count(*) AS BIGINT) FROM lineitem), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po)), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)) " +
        "UNION ALL SELECT 'orders', (SELECT CAST(count(*) AS BIGINT) FROM orders), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM k)), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM k)) " +
        "ORDER BY tbl"),

    // newest op per key decides; deletes tombstone unless re-inserted
    "store_cdc_apply" -> cdcApplySql,
    "store_time_travel" -> cdcStateSql(" WHERE seq <= 3"),
    // any micro-batch partition of the log converges to the same table
    "stream_cdc_apply" -> cdcApplySql,

    // late rows (the re-sent %10 slice, arriving beyond the advanced
    // watermark) contribute NOTHING to the windowed aggregate; the
    // engine's drop counter ticks once per late (window, type) group
    // (the drop runs post-partial-aggregation)
    "stream_late_drop_counts" ->
      ("SELECT (SELECT CAST(count(*) AS BIGINT) FROM " +
        "(SELECT DISTINCT date_trunc('hour', ts), event_type FROM events) t) AS n_window_rows, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM events) AS n_events_counted, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM " +
        "(SELECT DISTINCT date_trunc('hour', ts), event_type FROM events " +
        "WHERE event_id % 10 = 0) u) AS n_dropped_late"),

    // event-time-pure timeout contract replayed as a batch join:
    // completed iff a same-user purchase lands in [click, click+6h]
    // at millisecond precision (both engines floor native resolution
    // to ms — epoch_ms here, Timestamp.getTime in the processor);
    // latency = floor-seconds difference; expired rows carry -1
    "stream_timeout_expiry" ->
      ("WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "c AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'), " +
        "m AS (SELECT s.event_id, min(epoch_ms(c.ts)) AS cms FROM s JOIN c " +
        "ON c.user_id = s.user_id AND epoch_ms(c.ts) >= epoch_ms(s.ts) " +
        "AND epoch_ms(c.ts) - epoch_ms(s.ts) <= 21600000 GROUP BY s.event_id) " +
        "SELECT s.event_id AS start_id, s.user_id AS user_id, " +
        "CASE WHEN m.cms IS NOT NULL THEN 'completed' ELSE 'expired' END AS outcome, " +
        "CAST(CASE WHEN m.cms IS NOT NULL THEN m.cms // 1000 - epoch_ms(s.ts) // 1000 " +
        "ELSE -1 END AS BIGINT) AS latency_sec " +
        "FROM s LEFT JOIN m ON s.event_id = m.event_id ORDER BY start_id"),

    // the integer credit chain replayed sequentially per user: first
    // event starts at full cap; refill = elapsed ms capped, admit
    // spends costMs, throttled events still advance the clock
    "stream_rate_limit" ->
      ("WITH RECURSIVE ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn FROM events), " +
        "tb AS (SELECT user_id, rn, event_id, ms, " +
        "true AS admitted, CAST(28800000 - 14400000 AS BIGINT) AS credit FROM ev WHERE rn = 1 " +
        "UNION ALL SELECT e.user_id, e.rn, e.event_id, e.ms, " +
        "least(28800000, t.credit + (e.ms - t.ms)) >= 14400000 AS admitted, " +
        "CASE WHEN least(28800000, t.credit + (e.ms - t.ms)) >= 14400000 " +
        "THEN least(28800000, t.credit + (e.ms - t.ms)) - 14400000 " +
        "ELSE least(28800000, t.credit + (e.ms - t.ms)) END AS credit " +
        "FROM ev e JOIN tb t ON e.user_id = t.user_id AND e.rn = t.rn + 1) " +
        "SELECT event_id, user_id, admitted FROM tb ORDER BY event_id"),
    // batch k = orders with o_orderkey % 3 = k joined to dim version k
    "stream_dim_refresh_counts" ->
      ("SELECT 'v' || (o_orderkey % 3) || '-' || c_mktsegment AS seg_v, " +
        "CAST(count(*) AS BIGINT) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY seg_v ORDER BY seg_v"),
    // the listener's per-batch input-row counts are the staged file
    // sizes — one file per batch under maxFilesPerTrigger=1
    "stream_metrics_counts" ->
      ("SELECT CAST(count(*) AS BIGINT) AS input_rows FROM orders " +
        "GROUP BY CASE WHEN o_orderkey % 10 < 1 THEN 0 " +
        "WHEN o_orderkey % 10 < 4 THEN 1 ELSE 2 END " +
        "ORDER BY input_rows"),

    // one-shot full aggregate — the incremental base+delta+delta merge
    // chain must reproduce it exactly (cents keep the sum associative)
    "store_incr_agg" -> incrAggSql,
    "store_incr_join" -> incrJoinSql,
    // the streaming snapshot chain lands on the identical view
    "stream_incr_agg" -> incrAggSql,
    // the table-format state backend must reach the identical view
    "stream_incr_agg_segment" -> incrAggSql,

    // floor() on both sides: DuckDB CAST(double AS INT) rounds while
    // Spark's truncates, but floor-then-cast agrees everywhere
    "mm_frame_schedule" ->
      ("WITH m AS (SELECT doc_id AS media_id, n_chars * 100 AS duration_ms FROM documents), " +
        "n AS (SELECT media_id, duration_ms, " +
        "CAST(least(5, greatest(floor(duration_ms / 1000), 1)) AS INT) AS n_frames FROM m), " +
        "f AS (SELECT media_id, n_frames, duration_ms, " +
        "CAST(unnest(range(0, n_frames)) AS INT) AS frame_idx FROM n) " +
        "SELECT media_id, n_frames, frame_idx, " +
        "CAST(floor(duration_ms * (frame_idx * 2 + 1) / (n_frames * 2)) AS BIGINT) AS ts_ms " +
        "FROM f ORDER BY media_id, frame_idx"),

    "events_props_stats" ->
      ("WITH e AS (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k FROM events) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, round(avg(k), 4) AS avg_k, " +
        "min(k) AS min_k, max(k) AS max_k " +
        "FROM e GROUP BY event_type ORDER BY event_type"),
    // the variant probes replayed over DuckDB JSON paths (both
    // engines' array indexes are 0-based JSONPath)
    "events_props_variant" ->
      ("WITH j AS (SELECT event_id, '{\"orig\": ' || props || ', \"tag\": \"t' || " +
        "(event_id % 3) || '\", \"arr\": [' || (event_id % 5) || ',' || (event_id % 7) || ']}' AS js " +
        "FROM events) " +
        "SELECT event_id, CAST(json_extract(js, '$.orig.k') AS BIGINT) AS k, " +
        "json_extract_string(js, '$.tag') AS tag, " +
        "CAST(json_extract(js, '$.arr[1]') AS BIGINT) AS arr1, " +
        "CAST(-1 AS BIGINT) AS missing " +
        "FROM j ORDER BY event_id"),
    "dedup_exact_groups" ->
      ("SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, " +
        "CAST(count(*) AS BIGINT) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash"),
    "dedup_jaccard_pairs" ->
      (s"WITH sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sh AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, " +
        "count(*) OVER (PARTITION BY shingle) AS df FROM sh0) WHERE df <= 100), " +
        "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id), " +
        "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard " +
        "FROM common JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id " +
        "ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"),
    // the BRUTE-FORCE exact threshold pairs (no prefix, no cap): a
    // green row means the Spark side's prefix filter lost nothing
    "dedup_prefix_pairs" ->
      (s"WITH psh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "psz AS (SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id), " +
        "pov AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM psh x JOIN psh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 4) AS jaccard " +
        "FROM pov JOIN psz za ON doc_a = za.doc_id JOIN psz zb ON doc_b = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8 " +
        "ORDER BY doc_a, doc_b"),
    // per-doc top-k neighbors by shared-shingle count over the same
    // df-capped postings — integer counts, (count DESC, id) order,
    // selection through the k-bounded partial aggregate
    "text_similar_docs" ->
      (s"WITH sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sh AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, " +
        "count(*) OVER (PARTITION BY shingle) AS df FROM sh0) WHERE df <= 100), " +
        "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a AS doc_id, doc_b AS similar_doc_id, n_shared, " +
        "CAST(row_number() OVER (PARTITION BY doc_a ORDER BY n_shared DESC, doc_b) AS INT) AS rank " +
        "FROM common QUALIFY row_number() OVER (PARTITION BY doc_a ORDER BY n_shared DESC, doc_b) <= 5 " +
        "ORDER BY doc_id, rank"),
    // directed containment over the SAME df-capped shingle postings:
    // C(a→b) = |Sa ∩ Sb| / |Sa|, only doc_a's size in the denominator
    "dedup_containment_pairs" ->
      (s"WITH sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sh AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, " +
        "count(*) OVER (PARTITION BY shingle) AS df FROM sh0) WHERE df <= 100), " +
        "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id), " +
        "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(n_common AS DOUBLE) / sa.n_shingles, 4) AS containment " +
        "FROM common JOIN sz sa ON doc_a = sa.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / sa.n_shingles >= 0.8 " +
        "ORDER BY doc_a, doc_b"),
    // one md5 per shingle; band hash = 8-hex-char rotation of the digest.
    // Docs too short to shingle are dropped on BOTH sides (len > 0 filter
    // here; the lead-window filter in shinglePostings on the Spark side).
    "dedup_minhash_buckets" ->
      (s"WITH sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b) " +
        "SELECT band, signature, CAST(count(*) AS BIGINT) AS n_docs FROM sig " +
        "GROUP BY band, signature ORDER BY band, signature"),

    // online admission ≡ min doc_id in every LSH band bucket (docs too
    // short to shingle claim nothing and are always admitted)
    "stream_neardup_docs" ->
      (s"WITH sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "mn AS (SELECT band, signature, min(doc_id) AS min_doc FROM sig GROUP BY 1, 2), " +
        "rej AS (SELECT DISTINCT s.doc_id FROM sig s JOIN mn USING (band, signature) " +
        "WHERE mn.min_doc < s.doc_id) " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM rej) " +
        "ORDER BY doc_id"),

    // closed-form admission replay: quality gate (fixed score ≥ 2),
    // exact keeper = min doc_id per digest among quality survivors,
    // near-dup keeper = bucket minimum among exact survivors — no
    // notion of batches, certifying batching-independence
    // first-failing-wins tagging as one CASE chain
    "stream_contract_counts" ->
      ("WITH co AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS ck, " +
        "o_totalprice AS p FROM orders) " +
        "SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM " +
        "(SELECT CASE WHEN ck IS NULL THEN 'custkey_null' " +
        "WHEN NOT (p <= 400000.0) THEN 'price_cap' ELSE 'valid' END AS bucket FROM co) " +
        "GROUP BY 1 ORDER BY 1"),
    "stream_curation_docs" -> streamCurationSql(""),
    // identical closed form; the emit filter models the bootstrap
    // corpus (claims counted, never emitted by the stream)
    "stream_curation_boot_docs" -> streamCurationSql(" AND doc_id >= 250"),

    // the full recipe replayed batch-free: split routing (fixed md5
    // threshold), fixed-score quality, exact keeper, band-claim
    // near-dup, then the static benchmark-gram anti-join
    "stream_curation_full_docs" ->
      (s"WITH fsp AS (SELECT doc_id, substring(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8) " +
        s"< '${graft.ops.Sampling.hexThreshold(0.8)}' AS is_train FROM documents), " +
        "ftr AS (SELECT d.doc_id, d.text FROM documents d JOIN fsp USING (doc_id) WHERE is_train), " +
        "fbe AS (SELECT d.doc_id, d.text FROM documents d JOIN fsp USING (doc_id) WHERE NOT is_train), " +
        "fsq AS (SELECT doc_id, text FROM ftr WHERE " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) >= 2), " +
        "fek AS (SELECT min(doc_id) AS doc_id FROM fsq GROUP BY md5(text)), " +
        "fed AS (SELECT fsq.* FROM fsq JOIN fek USING (doc_id)), " +
        "fsh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
        "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
        "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM fed)), " +
        "fsig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        "FROM (SELECT * FROM fsh WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "fmn AS (SELECT band, signature, min(doc_id) AS min_doc FROM fsig GROUP BY 1, 2), " +
        "frej AS (SELECT DISTINCT s.doc_id FROM fsig s JOIN fmn USING (band, signature) " +
        "WHERE fmn.min_doc < s.doc_id), " +
        "fad AS (SELECT doc_id, text FROM fed WHERE doc_id NOT IN (SELECT doc_id FROM frej)), " +
        s"fbg AS (${fiveGramSql("fbe", withId = false)}), " +
        s"fng AS (${fiveGramSql("fad", withId = true)}), " +
        "fcon AS (SELECT DISTINCT fng.doc_id FROM fng JOIN fbg USING (shingle)) " +
        "SELECT doc_id FROM fad WHERE doc_id NOT IN (SELECT doc_id FROM fcon) " +
        "ORDER BY doc_id"),

    // keepers = docs whose id equals their component min (same recursive
    // closure as dedup_components), semi-joined back onto the corpus
    "dedup_kept_docs" ->
      (s"WITH RECURSIVE sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM sig), " +
        "edges AS (SELECT DISTINCT src, dst FROM star WHERE src <> dst), " +
        "sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), " +
        "reach AS (SELECT doc_id, doc_id AS lbl FROM documents " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.doc_id), " +
        "keep AS (SELECT doc_id FROM reach GROUP BY doc_id HAVING doc_id = min(lbl)) " +
        "SELECT d.doc_id, lang, n_chars FROM documents d JOIN keep USING (doc_id) ORDER BY doc_id"),

    // same recursive closure as dedup_kept_docs, but the keeper per
    // component is the quality argmax (ties → min id)
    "dedup_best_kept_docs" ->
      (s"WITH RECURSIVE sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM sig), " +
        "edges AS (SELECT DISTINCT src, dst FROM star WHERE src <> dst), " +
        "sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), " +
        "reach AS (SELECT doc_id, doc_id AS lbl FROM documents " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.doc_id), " +
        "comp AS (SELECT doc_id, min(lbl) AS cid FROM reach GROUP BY doc_id), " +
        "qsc AS (SELECT doc_id, " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
        "FROM documents) " +
        "SELECT d.doc_id, lang, n_chars, quality_score " +
        "FROM documents d JOIN comp USING (doc_id) JOIN qsc USING (doc_id) " +
        "QUALIFY row_number() OVER (PARTITION BY cid ORDER BY quality_score DESC, d.doc_id) = 1 " +
        "ORDER BY d.doc_id"),

    // the composed funnel: each stage count reads the previous stage's
    // survivor CTE (the standalone oracles chained end-to-end)
    "pipeline_curation_counts" ->
      (s"$curationCtes " +
        "SELECT * FROM (" +
        "SELECT 0 AS stage_idx, 'corpus' AS stage, CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs " +
        "UNION ALL SELECT 1, 'train_split', CAST((SELECT count(*) FROM cur_train) AS BIGINT) " +
        "UNION ALL SELECT 2, 'quality', CAST((SELECT count(*) FROM cur_qd) AS BIGINT) " +
        "UNION ALL SELECT 3, 'exact_dedup', CAST((SELECT count(*) FROM cur_ed) AS BIGINT) " +
        "UNION ALL SELECT 4, 'near_dedup', CAST((SELECT count(*) FROM cur_nd) AS BIGINT) " +
        "UNION ALL SELECT 5, 'decontaminated', CAST((SELECT count(*) FROM cur_fin) AS BIGINT)" +
        ") ORDER BY stage_idx"),
    "pipeline_curation_docs" ->
      (s"$curationCtes " +
        "SELECT doc_id, lang, n_chars FROM cur_fin ORDER BY doc_id"),
    // per-stage whitespace-token sums over the same survivor CTEs
    "pipeline_curation_tokens" ->
      (s"$curationCtes " +
        "SELECT * FROM (" +
        "SELECT 0 AS stage_idx, 'corpus' AS stage, CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM documents), 0) AS BIGINT) AS sum_tokens " +
        "UNION ALL SELECT 1, 'train_split', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_train), 0) AS BIGINT) " +
        "UNION ALL SELECT 2, 'quality', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_qd), 0) AS BIGINT) " +
        "UNION ALL SELECT 3, 'exact_dedup', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_ed), 0) AS BIGINT) " +
        "UNION ALL SELECT 4, 'near_dedup', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_nd), 0) AS BIGINT) " +
        "UNION ALL SELECT 5, 'decontaminated', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_fin), 0) AS BIGINT)" +
        ") ORDER BY stage_idx"),
    "pipeline_curation_audit" ->
      (s"$curationCtes " +
        "SELECT d.doc_id, " +
        "CASE WHEN f.doc_id IS NOT NULL THEN 'kept' " +
        "WHEN t.doc_id IS NULL THEN 'benchmark' " +
        "WHEN q.doc_id IS NULL THEN 'quality' " +
        "WHEN e.doc_id IS NULL THEN 'exact_dup' " +
        "WHEN n.doc_id IS NULL THEN 'near_dup' " +
        "ELSE 'contaminated' END AS disposition " +
        "FROM documents d " +
        "LEFT JOIN cur_train t USING (doc_id) " +
        "LEFT JOIN cur_qd q USING (doc_id) " +
        "LEFT JOIN cur_ed e USING (doc_id) " +
        "LEFT JOIN cur_nd n USING (doc_id) " +
        "LEFT JOIN cur_fin f USING (doc_id) " +
        "ORDER BY d.doc_id"),
    // the packed-sequence manifest over the curated corpus — the
    // text_packed_sequences chunk/pack CTEs re-rooted on cur_fin, then
    // rolled up per language (window sum(INT) is HUGEINT in DuckDB:
    // cast at every output edge)
    "pipeline_pack_manifest" ->
      (s"$curationCtes, " +
        "pk_t AS (SELECT doc_id, string_split(text, ' ') AS w FROM cur_fin), " +
        "pk_s AS (SELECT doc_id, w, unnest(range(0, len(w), 32)) AS cs FROM pk_t), " +
        "pk_c AS (SELECT doc_id, CAST(cs AS INT) AS chunk_start, " +
        "CAST(least(32, len(w) - cs) AS INT) AS n_chunk_tokens FROM pk_s WHERE least(32, len(w) - cs) > 0), " +
        "pk_x AS (SELECT doc_id, n_chunk_tokens, " +
        "sum(n_chunk_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_start) - n_chunk_tokens AS cum_before FROM pk_c), " +
        "pk_p AS (SELECT doc_id, CAST(floor(CAST(cum_before AS DOUBLE) / 128.0) AS BIGINT) AS seq_id, " +
        "CAST(sum(n_chunk_tokens) AS BIGINT) AS seq_tokens FROM pk_x GROUP BY 1, 2) " +
        "SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_seqs, CAST(sum(seq_tokens) AS BIGINT) AS sum_tokens " +
        "FROM pk_p JOIN cur_fin USING (doc_id) GROUP BY lang ORDER BY lang"),

    // LSH-candidate generation mirrored exactly; exact Jaccard verify
    // over the FULL (uncapped) shingle sets restricted to candidates.
    "dedup_minhash_verified" ->
      (s"WITH sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "ok AS (SELECT band, signature FROM (SELECT band, signature, count(*) AS n " +
        "FROM sig GROUP BY 1, 2) WHERE n <= 50), " +
        "bucketed AS (SELECT sig.doc_id, sig.band, sig.signature FROM sig JOIN ok USING (band, signature)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bucketed x " +
        "JOIN bucketed y ON x.band = y.band AND x.signature = y.signature AND x.doc_id < y.doc_id), " +
        s"sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh0 GROUP BY doc_id), " +
        "common AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common FROM cand " +
        "JOIN sh0 p ON p.doc_id = doc_a JOIN sh0 q ON q.doc_id = doc_b AND q.shingle = p.shingle GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard " +
        "FROM common JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id " +
        "ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"),

    // recall of the banded candidate stage against the COMPLETE exact
    // truth: truth = brute-force Jaccard >= 0.8 pairs (the prefix
    // filter's oracle shape), candidates = the replayed sig/cap/bucket
    // pipeline of dedup_minhash_verified — counts and their ratio
    "dedup_minhash_recall" ->
      (s"WITH psh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "psz AS (SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id), " +
        "pov AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM psh x JOIN psh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "truth AS (SELECT doc_a, doc_b FROM pov JOIN psz za ON doc_a = za.doc_id " +
        "JOIN psz zb ON doc_b = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8), " +
        "sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "ok AS (SELECT band, signature FROM (SELECT band, signature, count(*) AS n " +
        "FROM sig GROUP BY 1, 2) WHERE n <= 50), " +
        "bucketed AS (SELECT sig.doc_id, sig.band, sig.signature FROM sig JOIN ok USING (band, signature)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bucketed x " +
        "JOIN bucketed y ON x.band = y.band AND x.signature = y.signature AND x.doc_id < y.doc_id) " +
        "SELECT CAST(t.n AS BIGINT) AS n_true, CAST(c.n AS BIGINT) AS n_captured, " +
        "round(CAST(c.n AS DOUBLE) / t.n, 4) AS recall " +
        "FROM (SELECT count(*) AS n FROM truth) t, " +
        "(SELECT count(*) AS n FROM truth JOIN cand USING (doc_a, doc_b)) c"),
    // three banding arms over the shared brute-force truth, one row each
    "dedup_banding_tradeoff" ->
      (s"WITH psh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "psz AS (SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id), " +
        "pov AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM psh x JOIN psh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "bt_truth AS (SELECT doc_a, doc_b FROM pov JOIN psz za ON doc_a = za.doc_id " +
        "JOIN psz zb ON doc_b = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8), " +
        Seq(1, 2, 4).map(bandingArmCtes).mkString(", ") + " " +
        Seq(1, 2, 4).map(bandingArmSelect).mkString(" UNION ALL ") +
        " ORDER BY bands"),
    "dedup_embedding_cosine" ->
      (s"WITH $bktSql " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(" +
        "list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i])) / " +
        "(sqrt(list_sum(list_transform(a.e, x -> x*x))) * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) AS sim " +
        "FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id " +
        "ORDER BY sim DESC, vec_a, vec_b LIMIT 20"),
    "stream_dedup_counts" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n_events " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // the streamed outer join's emitted multiset == the batch LEFT
    // JOIN: k rows per k-matched click, one null row per unmatched
    "stream_join_outer_counts" ->
      ("SELECT c.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(p.event_id) AS BIGINT) AS n_matched, " +
        "CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id " +
        "AND p.ts >= c.ts - INTERVAL '30 minutes' AND p.ts <= c.ts " +
        "GROUP BY c.user_id ORDER BY c.user_id"),

    // One line per product (first order by (orderkey, linenumber) wins),
    // so the keyed sequential grant reduces to quantity <= stock and the
    // order verdict to bool_and over the order's retained lines.
    "stream_saga_counts" ->
      ("WITH r AS (SELECT l_orderkey, l_partkey, CAST(l_quantity AS BIGINT) AS q FROM lineitem " +
        "WHERE l_orderkey % 50 = 0 " +
        "QUALIFY row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) = 1), " +
        "v AS (SELECT l_orderkey, bool_and(q <= COALESCE(p_size*10, 0)) AS ok " +
        "FROM r LEFT JOIN part ON l_partkey = p_partkey GROUP BY l_orderkey) " +
        "SELECT CASE WHEN ok THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
        "CAST(count(*) AS BIGINT) AS n_orders FROM v GROUP BY 1 ORDER BY status"),

    // Contended saga under one driver: <=2 orders per product ranked by
    // zero-padded order_id makes the engine's greedy within-batch grant
    // expressible as two SQL steps; refunds = granted lines of FAILED
    // orders, which the engine must have credited through the queue hop.
    "stream_saga_loop_counts" ->
      ("WITH base AS (SELECT lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS order_id, " +
        "l_partkey, CAST(l_quantity AS BIGINT) AS q, l_linenumber FROM lineitem " +
        "WHERE l_orderkey % 37 = 0 " +
        "QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber) = 1), " +
        "ranked AS (SELECT order_id, l_partkey, q, " +
        "row_number() OVER (PARTITION BY l_partkey ORDER BY order_id) AS rn " +
        "FROM base QUALIFY rn <= 2), " +
        "seeded AS (SELECT r.order_id, r.l_partkey, r.q, r.rn, CAST(p.p_size AS BIGINT) AS stock " +
        "FROM ranked r JOIN part p ON r.l_partkey = p.p_partkey), " +
        "l1 AS (SELECT order_id, l_partkey, q, q <= stock AS granted FROM seeded WHERE rn = 1), " +
        "l2 AS (SELECT s.order_id, s.l_partkey, s.q, " +
        "s.q <= s.stock - CASE WHEN l1.granted THEN l1.q ELSE 0 END AS granted " +
        "FROM seeded s JOIN l1 ON s.l_partkey = l1.l_partkey WHERE s.rn = 2), " +
        "lines AS (SELECT order_id, q, granted FROM l1 UNION ALL SELECT order_id, q, granted FROM l2), " +
        "orders AS (SELECT order_id, bool_and(granted) AS all_granted FROM lines GROUP BY order_id), " +
        "refunds AS (SELECT l.order_id, count(*) AS n_refund_lines, sum(l.q) AS refund_qty " +
        "FROM lines l JOIN orders o ON l.order_id = o.order_id " +
        "WHERE l.granted AND NOT o.all_granted GROUP BY l.order_id) " +
        "SELECT CASE WHEN o.all_granted THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
        "CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(COALESCE(sum(r.n_refund_lines), 0) AS BIGINT) AS n_refund_lines, " +
        "CAST(COALESCE(sum(r.refund_qty), 0) AS BIGINT) AS refund_qty " +
        "FROM orders o LEFT JOIN refunds r ON o.order_id = r.order_id " +
        "GROUP BY 1 ORDER BY status"),

    // Deterministic redrive policy: valid events deliver on attempt 1,
    // poison events burn exactly maxAttempts=3 attempts then dead-letter.
    "stream_dlq_counts" ->
      (s"SELECT CASE WHEN $validSql THEN 'delivered' ELSE 'dead_letter' END AS outcome, " +
        "CAST(count(*) AS BIGINT) AS n_events, " +
        s"CAST(sum(CASE WHEN $validSql THEN 1 ELSE 3 END) AS BIGINT) AS n_attempts " +
        "FROM events GROUP BY 1 ORDER BY outcome"),
    "rel_pivot" ->
      ("SELECT c_nationkey, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS AUTOMOBILE, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS BUILDING, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS FURNITURE, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS HOUSEHOLD, " +
        "CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS MACHINERY " +
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),
    "text_array_ops" ->
      ("SELECT doc_id, w[1] AS first_word, w[-1] AS last_word, " +
        "CAST(len(w) AS INT) AS n_tokens, list_min(w) AS min_word, " +
        "array_to_string(w[1:3], '-') AS prefix3, " +
        "list_contains(w, 'the') AS has_the, " +
        "CAST(COALESCE(list_position(w, 'the'), 0) AS BIGINT) AS the_pos " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) " +
        "ORDER BY doc_id"),
    "emb_cosine_topk" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    "emb_cosine_topk_native" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    // same oracle as emb_cosine_topk: the segment-table route must be
    // value-identical to the parquet route
    "emb_cosine_topk_segment" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    "emb_cosine_sql" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    // cross-label top-k: same double cosine formula as emb_cosine_topk
    // with the label disequality applied before ranking
    "emb_hard_negatives" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe, label AS q_label " +
        "FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce, label FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, label, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id AND label <> q_label) " +
        "SELECT q_id, vec_id, label, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    // both stages replayed: coarse cosine on dims 1..16, QUALIFY
    // top-100, exact full-dim rerank to 10
    "emb_prefix_rerank" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "coarse AS (SELECT q_id, vec_id, qe, ce, round(" +
        "list_sum(list_transform(range(1, 17), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe[1:16], x -> x*x))) * sqrt(list_sum(list_transform(ce[1:16], x -> x*x)))), 4) AS coarse_sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id), " +
        "cand AS (SELECT q_id, vec_id, qe, ce FROM coarse " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY coarse_sim DESC, vec_id) <= 100), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM cand) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    // the full SQ8 chain replayed: per-dim min/max, floor(x+0.5)
    // codes, affine reconstruction, asymmetric cosine — identical
    // double operation order end to end
    "emb_sq8_topk" ->
      (s"WITH $sq8ChainSql, " +
        "sqq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "sqs AS (SELECT q_id, sqrec.vec_id AS vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*re[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(re, x -> x*x)))), 4) AS sim " +
        "FROM sqq CROSS JOIN sqrec WHERE sqrec.vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM sqs QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    // IVF routing (ivfSql's trained index) composed with SQ8 ADC —
    // candidates from the probed buckets only, scored on affine
    // reconstructions; the third ANN quantization tier
    "emb_ivfsq_topk" ->
      (s"WITH $ivfSql, $sq8ChainSql, " +
        "iq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        s"ir AS (SELECT q_id, centroid_id FROM (SELECT q_id, centroid_id, ${cosSql("qe", "ce")} AS csim " +
        "FROM iq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        "icand AS (SELECT ir.q_id, a2.vec_id FROM ir JOIN a2 USING (centroid_id) " +
        "WHERE a2.vec_id <> ir.q_id), " +
        s"sqs AS (SELECT cd.q_id, cd.vec_id, round(${cosSql("q.qe", "r.re")}, 4) AS sim " +
        "FROM icand cd JOIN sqrec r ON cd.vec_id = r.vec_id JOIN iq q ON q.q_id = cd.q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM sqs QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    "emb_bucket_histogram" ->
      ("SELECT ((CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END) + " +
        "(CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END)) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_vectors, CAST(count(DISTINCT label) AS BIGINT) AS n_labels " +
        "FROM embeddings GROUP BY 1 ORDER BY bucket"),
    "emb_ann_lsh_topk" ->
      (s"WITH $bktSql, " +
        "q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM bkt WHERE vec_id < 5), " +
        "s AS (SELECT q_id, c.vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*c.e[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(c.e, x -> x*x)))), 4) AS sim " +
        "FROM q JOIN bkt c ON q.bucket = c.bucket AND c.vec_id <> q.q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 5 ORDER BY q_id, rank"),
    // candidate set = own bucket ∪ Hamming-1 buckets: xor of the two
    // bucket ids is a power of two below 2^b (bucket is HUGEINT from
    // list_sum — cast to BIGINT for xor)
    "emb_ann_multiprobe_topk" ->
      (s"WITH $bktSql, " +
        "q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM bkt WHERE vec_id < 5), " +
        "s AS (SELECT q_id, c.vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*c.e[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(c.e, x -> x*x)))), 4) AS sim " +
        "FROM q JOIN bkt c ON c.vec_id <> q.q_id CROSS JOIN prm " +
        "WHERE q.bucket = c.bucket OR list_contains(" +
        "list_transform(range(0, CAST(b AS BIGINT)), i -> CAST(power(2, i) AS BIGINT)), " +
        "xor(CAST(q.bucket AS BIGINT), CAST(c.bucket AS BIGINT)))) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 5 ORDER BY q_id, rank"),

    // recall@5 per query: exact top-5 left-joined against each LSH
    // path's top-5; count of non-null = hits
    "emb_ann_recall" ->
      (s"WITH $bktSql, " +
        "q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM bkt WHERE vec_id < 5), " +
        "bf AS (SELECT q_id, c.vec_id FROM q CROSS JOIN bkt c WHERE c.vec_id <> q.q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.e")}, 4) DESC, c.vec_id) <= 5), " +
        "ls AS (SELECT q_id, c.vec_id FROM q JOIN bkt c ON c.vec_id <> q.q_id AND q.bucket = c.bucket " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.e")}, 4) DESC, c.vec_id) <= 5), " +
        "mp AS (SELECT q_id, c.vec_id FROM q JOIN bkt c ON c.vec_id <> q.q_id CROSS JOIN prm " +
        "WHERE q.bucket = c.bucket OR list_contains(" +
        "list_transform(range(0, CAST(b AS BIGINT)), i -> CAST(power(2, i) AS BIGINT)), " +
        "xor(CAST(q.bucket AS BIGINT), CAST(c.bucket AS BIGINT))) " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.e")}, 4) DESC, c.vec_id) <= 5) " +
        "SELECT b.q_id AS q_id, CAST(count(l.vec_id) AS BIGINT) AS hits_single, " +
        "CAST(count(m.vec_id) AS BIGINT) AS hits_multi " +
        "FROM bf b LEFT JOIN ls l ON b.q_id = l.q_id AND b.vec_id = l.vec_id " +
        "LEFT JOIN mp m ON b.q_id = m.q_id AND b.vec_id = m.vec_id " +
        "GROUP BY b.q_id ORDER BY b.q_id"),

    // per-dimension means float-quantized before the d-row reduction,
    // mirroring the Spark side exactly (the Pca iterate discipline)
    "emb_drift_shift" ->
      ("WITH deo AS (SELECT CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id % 2 = 0), " +
        "den AS (SELECT CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id % 2 <> 0), " +
        "dmo AS (SELECT dim, CAST(CAST(avg(val) AS REAL) AS DOUBLE) AS a FROM " +
        "(SELECT unnest(range(1, len(ve)+1)) AS dim, unnest(ve) AS val FROM deo) GROUP BY dim), " +
        "dmn AS (SELECT dim, CAST(CAST(avg(val) AS REAL) AS DOUBLE) AS b FROM " +
        "(SELECT unnest(range(1, len(ve)+1)) AS dim, unnest(ve) AS val FROM den) GROUP BY dim) " +
        "SELECT CAST(count(*) AS INT) AS n_dims, " +
        "round(sum(a*b) / (sqrt(sum(a*a)) * sqrt(sum(b*b))), 6) AS cos_means, " +
        "round(sqrt(sum((a-b)*(a-b))) / sqrt(sum(a*a)), 6) AS shift_ratio " +
        "FROM dmo JOIN dmn USING (dim)"),
    "emb_pca_power" -> pcaSql,
    // residual after removing the dominant direction: same chain, one
    // more map-only projection pass
    "emb_pca_residuals" ->
      (s"WITH $pcaChainSql, " +
        "pr AS (SELECT vec_id, ve, v, list_sum(list_transform(range(1, len(ve)+1), i -> ve[i]*v[i])) AS dot " +
        "FROM pe CROSS JOIN v2) " +
        "SELECT vec_id, round(sqrt(list_sum(list_transform(" +
        "list_transform(range(1, len(ve)+1), i -> ve[i] - dot * v[i]), x -> x*x))), 4) AS residual_norm " +
        "FROM pr ORDER BY vec_id"),

    // the full PageRank chain replayed: brute-force 5-NN edges (the
    // emb_cosine_topk scoring shape), degree/node frames, then five
    // float-quantized damped iterations r1..r5
    // the same knn edge build, symmetrized; 5 synchronous LPA rounds
    // with (count desc, label asc) argmax per node — integers only
    "emb_communities" ->
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "sym AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn), " +
        "lp0 AS (SELECT DISTINCT src AS node, src AS label FROM sym), " +
        (1 to 5).map { k =>
          s"lp$k AS MATERIALIZED (SELECT src AS node, nbr_label AS label FROM (" +
            "SELECT e.src, l.label AS nbr_label, count(*) AS n " +
            s"FROM sym e JOIN lp${k - 1} l ON e.dst = l.node GROUP BY e.src, l.label) " +
            "QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, nbr_label) = 1)"
        }.mkString(", ") + " " +
        "SELECT node AS vec_id, CAST(label AS BIGINT) AS community FROM lp5 ORDER BY vec_id"),
    "emb_pagerank" ->
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        // UNROUNDED sim: bit-identical dim-ordered folds in both
        // engines (the Pca contract) — see PageRank.knnEdges
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src), " +
        "nodes AS (SELECT src AS node FROM knn UNION SELECT dst FROM knn), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "r0 AS (SELECT node, CAST(CAST(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS REAL) AS DOUBLE) AS rank FROM nodes), " +
        (1 to 5).map(pagerankIterSql).mkString(", ") + " " +
        "SELECT node AS vec_id, round(rank, 8) AS pr FROM r5 ORDER BY vec_id"),

    // the weighted chain: (1+cosine)/2 edge weights, float-quantized
    // per-src weight sums, contribution rank·w/wsum
    "emb_pagerank_weighted" ->
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst, (CAST(1.0 AS DOUBLE) + sim) / CAST(2.0 AS DOUBLE) AS w " +
        "FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "ws AS (SELECT src, CAST(CAST(sum(w) AS REAL) AS DOUBLE) AS wsum FROM knn GROUP BY src), " +
        "nodes AS (SELECT src AS node FROM knn UNION SELECT dst AS node FROM knn), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "r0 AS (SELECT node, CAST(CAST(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS REAL) AS DOUBLE) AS rank FROM nodes), " +
        (1 to 5).map(wprIterSql).mkString(", ") + " " +
        "SELECT node AS vec_id, round(rank, 8) AS pr FROM r5 ORDER BY vec_id"),

    // the personalized chain: seed-gated restart mass over the same
    // 5-NN edges; seeds not in the graph join in as isolated nodes
    "emb_pagerank_seeded" ->
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src), " +
        "gnodes AS (SELECT src AS node FROM knn UNION SELECT dst FROM knn), " +
        "seeds AS (SELECT DISTINCT vec_id AS node FROM embeddings WHERE label = 0), " +
        "nodesT AS (SELECT n.node, (s.node IS NOT NULL) AS is_seed " +
        "FROM (SELECT node FROM gnodes UNION SELECT node FROM seeds) n " +
        "LEFT JOIN seeds s ON n.node = s.node), " +
        "ns AS (SELECT count(*) AS n FROM nodesT WHERE is_seed), " +
        "r0 AS (SELECT node, CAST(CAST(CASE WHEN is_seed THEN CAST(1.0 AS DOUBLE) / (SELECT n FROM ns) " +
        "ELSE CAST(0.0 AS DOUBLE) END AS REAL) AS DOUBLE) AS rank FROM nodesT), " +
        (1 to 5).map(pprIterSql).mkString(", ") + " " +
        "SELECT node AS vec_id, round(rank, 8) AS pr FROM r5 ORDER BY vec_id"),

    // canonical a<b<c triple join counts each triangle once; corners
    // UNION ALL recovers per-node participation; all-integer until
    // the final coefficient division (explicit DOUBLE casts — bare
    // 2.0 parses as DECIMAL in DuckDB)
    "emb_graph_clustering" ->
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn WHERE src <> dst), " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) GROUP BY node), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1 " +
        "JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "corners AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM " +
        "(SELECT x AS node FROM tri UNION ALL SELECT y AS node FROM tri UNION ALL SELECT z AS node FROM tri) GROUP BY node) " +
        "SELECT deg.node AS vec_id, degree, COALESCE(n_triangles, 0) AS n_triangles, " +
        "round(CASE WHEN degree >= 2 THEN CAST(2.0 AS DOUBLE) * COALESCE(n_triangles, 0) / (degree * (degree - 1)) " +
        "ELSE CAST(0.0 AS DOUBLE) END, 6) AS clustering " +
        "FROM deg LEFT JOIN corners USING (node) ORDER BY vec_id"),

    // same Lloyd chain; per-cluster float-quantized mean/second-moment,
    // z from exact sims, variance-guarded, bounded top-20 by (z, id)
    "emb_cluster_outliers" ->
      (s"WITH $ivfSql, " +
        s"oc AS (SELECT a2.vec_id, a2.centroid_id, ${cosSql("a2.ve", "c1.ce")} AS sim " +
        "FROM a2 JOIN c1 USING (centroid_id)), " +
        "ost AS (SELECT centroid_id, CAST(CAST(avg(sim) AS FLOAT) AS DOUBLE) AS mu, " +
        "CAST(CAST(avg(sim*sim) AS FLOAT) AS DOUBLE) AS m2 FROM oc GROUP BY centroid_id), " +
        "oz AS (SELECT vec_id, centroid_id, (sim - mu) / sqrt(m2 - mu*mu) AS z " +
        "FROM oc JOIN ost USING (centroid_id) WHERE m2 - mu*mu > 0) " +
        "SELECT vec_id, centroid_id, round(z, 4) AS z_score FROM oz " +
        "ORDER BY z, vec_id LIMIT 20"),
    "emb_ivf_assign" ->
      (s"WITH $ivfSql " +
        "SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors FROM a2 " +
        "GROUP BY centroid_id ORDER BY centroid_id"),
    // same final assignments (a2) as emb_ivf_assign/topk; within-bucket
    // pairs scored with the sequential-fold cosine
    "dedup_embedding_ivf" ->
      (s"WITH $ivfSql " +
        s"SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, round(${cosSql("x.ve", "y.ve")}, 4) AS sim " +
        "FROM a2 x JOIN a2 y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id " +
        "ORDER BY sim DESC, vec_a, vec_b LIMIT 20"),
    // augmented corpus (planted float-quantized copies) → the SAME
    // Lloyd chain → within-cluster ≥0.99 edges → recursive-CTE closure
    // the s-core peel replayed for 5 fixed rounds (monotone → trailing
    // no-ops equal the fixpoint); per-round CTEs MATERIALIZED (each is
    // referenced twice — the lrChainSql lesson), weighted degrees
    // float-quantized before every τ comparison, exactly as in Scala
    "emb_weighted_core" -> {
      def peel(t: Int): String = {
        val p = s"ke${t - 1}"
        s"kd$t AS MATERIALIZED (SELECT node FROM (SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
          s"FROM (SELECT a AS node, w FROM $p UNION ALL SELECT b, w FROM $p) GROUP BY node) WHERE wd >= 4.5), " +
          s"ke$t AS MATERIALIZED (SELECT e.a, e.b, e.w FROM $p e " +
          s"JOIN kd$t ka ON e.a = ka.node JOIN kd$t kb ON e.b = kb.node)"
      }
      "WITH kaug AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings " +
        "UNION ALL SELECT vec_id + 100000*j, " +
        "list_prepend(CAST(CAST(embedding[1] * (1.0 + j/100.0) AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) " +
        "FROM embeddings, (SELECT unnest([1,2,3,4,5,6]) AS j) WHERE vec_id % 25 = 0), " +
        s"ksc AS (SELECT x.vec_id AS src, y.vec_id AS dst, ${cosSql("x.e", "y.e")} AS sim " +
        "FROM kaug x CROSS JOIN kaug y WHERE y.vec_id <> x.vec_id), " +
        "kknn AS (SELECT src, dst, sim FROM ksc " +
        "QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "ke0 AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b, max(sim) AS w " +
        "FROM kknn GROUP BY 1, 2), " +
        (1 to 5).map(peel).mkString(", ") + " " +
        "SELECT node AS vec_id, round(wd, 4) AS core_weight FROM " +
        "(SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
        "FROM (SELECT a AS node, w FROM ke5 UNION ALL SELECT b, w FROM ke5) GROUP BY node) " +
        "ORDER BY vec_id"
    },
    // the bucketed kNN graph's closed form: Lloyd (the shared
    // lloydSql replay, k=8 × 2 iters) restricts candidate pairs to
    // shared clusters; everything after (top-5, max-weight edge fold,
    // τ-core peeling to fixpoint) is identical to emb_weighted_core.
    // 8 peel rounds ≥ the engine's observed fixpoint; peeling a
    // fixpoint is idempotent, so extra rounds are harmless
    "emb_weighted_core_bucketed" -> {
      def peel(t: Int): String = {
        val p = s"be${t - 1}"
        s"bd$t AS MATERIALIZED (SELECT node FROM (SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
          s"FROM (SELECT a AS node, w FROM $p UNION ALL SELECT b, w FROM $p) GROUP BY node) WHERE wd >= 4.5), " +
          s"be$t AS MATERIALIZED (SELECT e.a, e.b, e.w FROM $p e " +
          s"JOIN bd$t ka ON e.a = ka.node JOIN bd$t kb ON e.b = kb.node)"
      }
      "WITH baug AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings " +
        "UNION ALL SELECT vec_id + 100000*j, " +
        "list_prepend(CAST(CAST(embedding[1] * (1.0 + j/100.0) AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) " +
        "FROM embeddings, (SELECT unnest([1,2,3,4,5,6]) AS j) WHERE vec_id % 25 = 0), " +
        lloydSql("baug") + ", " +
        s"bsc AS (SELECT x.vec_id AS src, y.vec_id AS dst, ${cosSql("x.ve", "y.ve")} AS sim " +
        "FROM a2 x JOIN a2 y ON x.centroid_id = y.centroid_id AND y.vec_id <> x.vec_id), " +
        "bknn AS (SELECT src, dst, sim FROM bsc " +
        "QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "be0 AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b, max(sim) AS w " +
        "FROM bknn GROUP BY 1, 2), " +
        (1 to 8).map(peel).mkString(", ") + " " +
        "SELECT node AS vec_id, round(wd, 4) AS core_weight FROM " +
        "(SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
        "FROM (SELECT a AS node, w FROM be8 UNION ALL SELECT b, w FROM be8) GROUP BY node) " +
        "ORDER BY vec_id"
    },
    "dedup_semantic" ->
      ("WITH RECURSIVE aug AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings " +
        "UNION ALL SELECT vec_id + 100000, " +
        "list_prepend(CAST(CAST(embedding[1] * 1.01 AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        lloydSql("aug") + ", " +
        "sedges AS (SELECT x.vec_id AS src, y.vec_id AS dst FROM a2 x JOIN a2 y " +
        "ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id " +
        s"AND round(${cosSql("x.ve", "y.ve")}, 4) >= 0.99), " +
        "sym AS (SELECT src, dst FROM sedges UNION SELECT dst, src FROM sedges), " +
        "reach AS (SELECT vec_id, vec_id AS lbl FROM aug " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.vec_id) " +
        "SELECT vec_id, min(lbl) AS component_id, vec_id = min(lbl) AS is_keeper " +
        "FROM reach GROUP BY vec_id ORDER BY vec_id"),

    "emb_pq_codes" ->
      (s"WITH $pqSql " +
        "SELECT m, code, CAST(count(*) AS BIGINT) AS n_vectors FROM pcodes " +
        "GROUP BY m, code ORDER BY m, code"),
    // ADC: per-query partial-dot table against the codebooks, candidate
    // score = fixed-order sum of the 4 subspace parts (same addition
    // order as the Spark side, so the doubles agree bit-for-bit)
    "emb_pq_topk" ->
      (s"WITH $pqSql, " +
        "pq AS (SELECT vec_id AS q_id, m, sub AS qsub FROM psub WHERE vec_id < 5), " +
        "ptab AS (SELECT q_id, pq.m, c.code, " +
        "list_sum(list_transform(range(1, len(qsub)+1), i -> qsub[i]*c.ce[i])) AS part " +
        "FROM pq JOIN pc1 c ON pq.m = c.m), " +
        "psc AS (SELECT t.q_id, k.vec_id, " +
        "round(max(CASE WHEN k.m = 0 THEN t.part END) + max(CASE WHEN k.m = 1 THEN t.part END) + " +
        "max(CASE WHEN k.m = 2 THEN t.part END) + max(CASE WHEN k.m = 3 THEN t.part END), 4) AS score " +
        "FROM pcodes k JOIN ptab t ON k.m = t.m AND k.code = t.code " +
        "WHERE k.vec_id <> t.q_id GROUP BY t.q_id, k.vec_id) " +
        "SELECT q_id, vec_id, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rank " +
        "FROM psc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) <= 10 " +
        "ORDER BY q_id, rank"),
    // IVF routing (ir, from the ivfSql index) ∘ PQ scoring (pqSql codes
    // + per-query table): candidates = routed buckets' members, score =
    // fixed-order sum of the 4 subspace parts
    "emb_ivfpq_topk" -> ivfPqTopkSql,
    // the stored-index roundtrip answers bit-identically to the
    // in-memory IVF-PQ path, so it shares its oracle
    "store_ann_roundtrip" -> ivfPqTopkSql,
    "store_ann_forget" -> ivfPqTopkSqlFiltered(" AND a2.vec_id % 7 <> 0"),
    // ivfSql/pqSql train on the BASE embeddings only (naturally frozen
    // wrt the additions); the appended near-copies are then assigned
    // (vs c1) and encoded (vs pc1) exactly as AnnIndex.appendVectors
    // does, and the ADC probe runs over the unioned postings/codes
    "store_ann_incremental" -> annIncrementalSql,
    "stream_ann_topk" -> annIncrementalSql,
    "emb_ivf_topk" ->
      (s"WITH $ivfSql, " +
        "q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        s"r AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, ${cosSql("qe", "ce")} AS csim FROM q CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        s"sc AS (SELECT q_id, vec_id, round(${cosSql("qe", "ve")}, 4) AS sim " +
        "FROM r JOIN a2 USING (centroid_id) WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM sc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank"),
    // every vector routes to its 2 nearest final centroids, candidates
    // share a probed bucket with the candidate's OWN assignment (a2),
    // top-5 per source on raw cosine (vec_id tiebreak), weight
    // (1+cos)/2 rounded at output only
    "emb_knn_bucketed" ->
      (s"WITH $ivfSql, " +
        "kr AS (SELECT q_id, qe, centroid_id FROM (SELECT v.vec_id AS q_id, v.ve AS qe, c1.centroid_id, " +
        s"${cosSql("v.ve", "ce")} AS csim FROM v CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        s"ksc AS (SELECT q_id, vec_id, ${cosSql("qe", "ve")} AS cs FROM kr JOIN a2 USING (centroid_id) WHERE vec_id <> q_id), " +
        "ktop AS (SELECT q_id, vec_id, cs FROM ksc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) <= 5) " +
        "SELECT q_id AS src, vec_id AS dst, round((1 + cs) / 2, 4) AS w " +
        "FROM ktop ORDER BY src, dst"),

    // three nprobe arms over the SAME trained index (r{np} = routed
    // centroids, s{np} = bucket-restricted top-5), recall counted
    // against the a2-corpus brute force
    "emb_ivf_nprobe_tradeoff" ->
      (s"WITH $ivfSql, " +
        "npq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "npbf AS (SELECT q_id, c.vec_id FROM npq CROSS JOIN a2 c WHERE c.vec_id <> npq.q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.ve")}, 4) DESC, c.vec_id) <= 5), " +
        "npr1 AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, " +
        s"${cosSql("qe", "ce")} AS csim FROM npq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 1), " +
        "nps1 AS (SELECT q_id, vec_id FROM npr1 JOIN a2 USING (centroid_id) WHERE vec_id <> q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "ve")}, 4) DESC, vec_id) <= 5), " +
        "npr2 AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, " +
        s"${cosSql("qe", "ce")} AS csim FROM npq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        "nps2 AS (SELECT q_id, vec_id FROM npr2 JOIN a2 USING (centroid_id) WHERE vec_id <> q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "ve")}, 4) DESC, vec_id) <= 5), " +
        "npr4 AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, " +
        s"${cosSql("qe", "ce")} AS csim FROM npq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 4), " +
        "nps4 AS (SELECT q_id, vec_id FROM npr4 JOIN a2 USING (centroid_id) WHERE vec_id <> q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "ve")}, 4) DESC, vec_id) <= 5) " +
        "SELECT b.q_id AS q_id, CAST(count(a1.vec_id) AS BIGINT) AS hits_np1, " +
        "CAST(count(a2j.vec_id) AS BIGINT) AS hits_np2, CAST(count(a4.vec_id) AS BIGINT) AS hits_np4 " +
        "FROM npbf b LEFT JOIN nps1 a1 ON b.q_id = a1.q_id AND b.vec_id = a1.vec_id " +
        "LEFT JOIN nps2 a2j ON b.q_id = a2j.q_id AND b.vec_id = a2j.vec_id " +
        "LEFT JOIN nps4 a4 ON b.q_id = a4.q_id AND b.vec_id = a4.vec_id " +
        "GROUP BY b.q_id ORDER BY b.q_id"),
    "events_tumbling_hourly" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start, event_type, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"),

    // stream-wide admission = one per distinct content, independent of
    // micro-batch arrival order
    "stream_ingest_dedup_counts" ->
      ("WITH i AS (SELECT md5(text) AS h FROM documents " +
        "UNION ALL SELECT md5(text) AS h FROM documents WHERE doc_id % 7 = 0) " +
        "SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_admitted, " +
        "CAST((count(*) - count(DISTINCT h)) AS BIGINT) AS n_rejected FROM i"),

    // append-mode watermarked windows must equal the batch aggregate
    "stream_window_counts" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start, event_type, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"),
    "events_sliding_hourly" ->
      ("WITH x AS (SELECT user_id, unnest([time_bucket(INTERVAL '30 minutes', ts), " +
        "time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws FROM events) " +
        "SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM x GROUP BY ws ORDER BY win_start"),
    // first-seen day per user, datediff offsets, distinct users
    "events_retention" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id) " +
        "SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM e JOIN f ON e.user_id = f.user_id " +
        "WHERE date_diff('day', cohort_day, day) <= 7 " +
        "GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"),
    // same time-order path string (NULLs dropped before the sort — the
    // engines' null ordering differs), same anchored subsequence regex
    "events_sequence_match" ->
      ("SELECT user_id, CAST(count(*) AS INT) AS n_events, " +
        "regexp_matches(string_agg(event_type, ',' ORDER BY ts, event_id), " +
        "'(^|,)view,(.*,)?click,(.*,)?purchase(,|$)') AS matched " +
        "FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL " +
        "GROUP BY user_id ORDER BY user_id"),
    // same two leads over the same (ts, event_id) per-user order
    "events_frequent_paths" ->
      ("WITH l AS (SELECT user_id, event_type AS t0, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2 FROM events), " +
        "p AS (SELECT t0 || '>' || t1 || '>' || t2 AS path FROM l " +
        "WHERE t1 IS NOT NULL AND t2 IS NOT NULL), " +
        "c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_paths FROM p GROUP BY path) " +
        "SELECT path, n_paths, CAST(row_number() OVER (ORDER BY n_paths DESC, path) AS INT) AS rank " +
        "FROM c QUALIFY row_number() OVER (ORDER BY n_paths DESC, path) <= 25 ORDER BY rank"),
    "events_sessions" ->
      ("WITH o AS (SELECT user_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "m AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s FROM o), " +
        "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M') AS session_start, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"),
    // IDENTICAL oracle to events_sessions: native session_window must
    // reproduce the lag/gap sessionization exactly
    "stream_session_counts" ->
      ("WITH o AS (SELECT user_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "m AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s FROM o), " +
        "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M') AS session_start, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"),
    // the stream-stream join's inner results equal the batch join
    "stream_join_counts" ->
      ("SELECT c.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(count(DISTINCT c.event_id) AS BIGINT) AS n_clicks_matched " +
        "FROM events c JOIN events p ON c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND c.user_id = p.user_id " +
        "AND p.ts >= c.ts - INTERVAL '30 minutes' AND p.ts <= c.ts " +
        "GROUP BY c.user_id ORDER BY c.user_id"),
    // watermark-bounded dedup ≡ batch DISTINCT over the planted-dup
    // input (no eviction mid-run: delay exceeds the corpus time span)
    "stream_watermark_dedup_counts" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n_events " +
        "FROM (SELECT DISTINCT event_id, event_type FROM events " +
        "WHERE event_id % 3 = 0 OR event_id % 5 = 0) " +
        "GROUP BY event_type ORDER BY event_type"),
    // two-step conditional-min funnel; integer-floor gap on both engines
    "events_funnel" ->
      ("WITH f AS (SELECT user_id, min(ts) AS first_from FROM events " +
        "WHERE event_type = 'click' GROUP BY user_id), " +
        "t AS (SELECT p.user_id, min(p.ts) AS first_to FROM events p " +
        "JOIN f ON p.user_id = f.user_id " +
        "WHERE p.event_type = 'purchase' AND p.ts >= f.first_from GROUP BY p.user_id) " +
        "SELECT f.user_id, strftime(f.first_from, '%Y-%m-%d %H:%M') AS first_from, " +
        "t.first_to IS NOT NULL AS converted, " +
        "CAST((epoch_us(t.first_to) - epoch_us(f.first_from)) // 1000000 AS BIGINT) AS gap_sec " +
        "FROM f LEFT JOIN t ON f.user_id = t.user_id ORDER BY f.user_id"),
    // RANGE (value-based) frame → tie handling is deterministic on both
    "events_rolling_rate" ->
      ("SELECT event_id, user_id, CAST(count(*) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS n_window FROM events ORDER BY event_id"),
    // quadratic-per-key ground truth: rank every purchase by |Δt|
    // then (earlier first) and keep the winner; clicks with no
    // purchase on the key survive with nulls via the LEFT JOIN
    "events_asof_nearest" -> asofNearestSql,
    // the native merge-sweep nearest under the SAME oracle
    "events_asof_nearest_native" -> asofNearestSql,
    // brute-force theta ground truth for the binned overlap join
    "events_overlap_join" ->
      ("WITH oa AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS a_start, " +
        "epoch_us(ts) + 3600000000 AS a_end FROM events WHERE event_type = 'click'), " +
        "ob AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS b_start, " +
        "epoch_us(ts) + 3600000000 AS b_end FROM events WHERE event_type = 'purchase') " +
        "SELECT user_id, click_id, purchase_id, " +
        "CAST((least(a_end, b_end) - greatest(a_start, b_start)) // 1000000 AS BIGINT) AS overlap_sec " +
        "FROM oa JOIN ob USING (user_id) WHERE a_start <= b_end AND b_start <= a_end " +
        "ORDER BY user_id, click_id, purchase_id"),
    // gap-islands by running flag sum, cap sub-slots from island start
    "events_capped_sessions" ->
      ("WITH cs0 AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events), " +
        "cs1 AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id) > 21600000000 THEN 1 ELSE 0 END AS new_island FROM cs0), " +
        "cs2 AS (SELECT *, sum(new_island) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS island FROM cs1), " +
        "cs3 AS (SELECT *, CAST((ts_us - min(ts_us) OVER (PARTITION BY user_id, island)) // 7200000000 AS BIGINT) AS sub FROM cs2) " +
        "SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM cs3 GROUP BY user_id, island, sub ORDER BY user_id, session_start_us"),
    // consecutive-event silence above the threshold, µs-exact
    "events_gaps" ->
      ("WITH eg AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us, " +
        "lag(event_id) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_event_id " +
        "FROM events) " +
        "SELECT user_id, prev_event_id, event_id, " +
        "CAST((ts_us - prev_us) // 1000000 AS BIGINT) AS gap_sec FROM eg " +
        "WHERE prev_us IS NOT NULL AND ts_us - prev_us > 21600000000 " +
        "ORDER BY user_id, event_id"),
    // per-user 6h slot grid, last-in-slot at microsecond precision
    // (ties by event_id), forward fill via IGNORE NULLS last_value
    "events_resample_ffill" ->
      (s"WITH $resampleChainSql " +
        "SELECT user_id, slot_sec, value_ffill, is_observed FROM rs " +
        "ORDER BY user_id, slot_sec"),
    // trailing-8-slot z-score; moments in exact integer cents, the
    // zero-variance guard an exact integer compare, |z| > 2 on
    // bit-identical doubles
    "events_anomalies" ->
      (s"WITH $resampleChainSql, " +
        "ac AS (SELECT user_id, slot_sec, CAST(round(value_ffill * 100.0, 0) AS BIGINT) AS cents FROM rs), " +
        "aw AS (SELECT user_id, slot_sec, cents, count(*) OVER w AS wn, " +
        "sum(cents) OVER w AS s1, sum(cents * cents) OVER w AS s2 FROM ac " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY slot_sec ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        "SELECT user_id, slot_sec, cents, round(z, 4) AS z FROM " +
        "(SELECT user_id, slot_sec, cents, " +
        "(cents - s1 / 8.0) / sqrt((s2 - s1 * s1 / 8.0) / 8.0) AS z " +
        "FROM aw WHERE wn = 8 AND s2 * 8 > s1 * s1) " +
        "WHERE abs(z) > 2.0 ORDER BY user_id, slot_sec"),
    // f/n is true division (DOUBLE) on both engines; ln natural log
    "text_unigram_logprob" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "freq AS (SELECT word, count(*) AS f FROM tok GROUP BY word), " +
        "tot AS (SELECT count(*) AS n FROM tok) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_tokens, " +
        "round(avg(-ln(f / n)), 4) AS avg_neg_logp " +
        "FROM tok JOIN freq USING (word) CROSS JOIN tot " +
        "GROUP BY doc_id ORDER BY doc_id"),
    // interpolated bigram LM: bigrams re-derived positionally from the
    // token list (range(1, len) pairs ≡ the Spark lag window), both
    // count tables joined back, fixed literals 0.7/0.3
    "text_bigram_logprob" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "uni AS (SELECT word, count(*) AS uf FROM tok GROUP BY word), " +
        "tot AS (SELECT count(*) AS n FROM tok), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "bgp AS (SELECT doc_id, string_split(bigram, ' ')[1] AS prev, string_split(bigram, ' ')[2] AS word FROM bg), " +
        "bf AS (SELECT prev, word, count(*) AS bf FROM bgp GROUP BY prev, word) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, " +
        "round(avg(-ln(0.7 * bf.bf / pf.uf + 0.3 * uni.uf / n)), 4) AS avg_neg_logp " +
        "FROM bgp JOIN bf ON bgp.prev = bf.prev AND bgp.word = bf.word " +
        "JOIN uni ON bgp.word = uni.word JOIN uni pf ON bgp.prev = pf.word CROSS JOIN tot " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "text_bpe_merges" -> bpeOracleSql(6),
    "text_bpe_pieces" -> bpePiecesSql(6),
    // sketch cells = md5-derived (row, bucket) votes; estimate = min
    // over the 4 rows' counters for each top-20 term
    "text_cms_topk" -> cmsTopkSql,
    // micro-batch-summed counters are the one-shot sketch exactly
    "stream_cms_topk" -> cmsTopkSql,
    // ground truth = the rank element itself (value at ceil(p·n),
    // 1-based ascending), selected directly
    "text_exact_percentiles" ->
      ("WITH t AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars IS NOT NULL), " +
        "n AS (SELECT count(*) AS n FROM t), " +
        "r AS (SELECT CAST(p AS DOUBLE) AS p, CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT) AS rk " +
        "FROM (VALUES (0.5), (0.9), (0.99)) v(p) CROSS JOIN n), " +
        "s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t) " +
        "SELECT p, v AS value FROM r JOIN s ON s.rn = r.rk ORDER BY p"),

    // BM25 replayed relationally: same idf form, same double-op order,
    // the (k1+1) constant interpolated from the identical Scala double
    "text_bm25_topk" -> bm25TopkSql,
    // the stored-index path must answer bit-identically — one oracle
    // for both, the store_ann_roundtrip pattern
    "store_bm25_roundtrip" -> bm25TopkSql,
    "store_bm25_forget" ->
      bm25TopkSqlOver("(SELECT * FROM documents WHERE doc_id % 7 <> 0)"),
    // the BM25 chain over the 32/24 chunk corpus (packed BIGINT chunk
    // keys), then best-chunk-per-doc rollup and top-3 attribution
    "pipeline_rag_chunks" ->
      ("WITH rcq(q_id, q_text) AS (VALUES (0, 'hash join'), (1, 'window scan fast'), " +
        "(2, 'customer order batch'), (3, 'vector merge slow'), (4, 'filter row')), " +
        "rct AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "rcs AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS cs FROM rct), " +
        "rcc AS (SELECT doc_id * 1000000 + cs AS doc_id, " +
        "array_to_string(w[cs + 1 : cs + 32], ' ') AS text FROM rcs WHERE least(32, len(w) - cs) > 0), " +
        "rtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM rcc), " +
        "rtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM rtok GROUP BY 1, 2), " +
        "rdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM rtf GROUP BY 1), " +
        "rst AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM rcc) AS n, " +
        "(SELECT avg(dl) FROM rdl) AS avgdl), " +
        "rqt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM rcq), " +
        "rpost AS (SELECT rtf.* FROM rtf JOIN (SELECT DISTINCT term FROM rqt) USING (term)), " +
        "rdfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM rpost GROUP BY term), " +
        "rsc AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, " +
        s"round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ${1.2 + 1}) / " +
        "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
        "FROM rqt JOIN rpost USING (term) JOIN rdfq USING (term) JOIN rdl USING (doc_id) " +
        "CROSS JOIN rst GROUP BY 1, 2), " +
        "rhits AS (SELECT q_id, doc_id, score FROM rsc " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10), " +
        "ratt AS (SELECT q_id, doc_id // 1000000 AS src_doc, doc_id % 1000000 AS chunk_start, score FROM rhits), " +
        "rbest AS (SELECT q_id, src_doc, chunk_start, score FROM ratt " +
        "QUALIFY row_number() OVER (PARTITION BY q_id, src_doc ORDER BY score DESC, chunk_start) = 1) " +
        "SELECT q_id, src_doc AS doc_id, chunk_start, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, src_doc) AS INT) AS rank " +
        "FROM rbest QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, src_doc) <= 3 " +
        "ORDER BY q_id, rank"),
    // RRF fusion of the BM25 chain and the cosine chain: both rankers
    // replayed to their (q_id, doc_id, rank) lists, fused as
    // 1/(60+rank) terms summed in system order (bit-identical IEEE —
    // ranks are ints, one division per term, fixed fold order)
    "text_hybrid_rrf" ->
      ("WITH q(q_id, q_text) AS (VALUES (0, 'hash join'), (1, 'window scan fast'), " +
        "(2, 'customer order batch'), (3, 'vector merge slow'), (4, 'filter row')), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), " +
        "st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n, " +
        "(SELECT avg(dl) FROM dl) AS avgdl), " +
        "qt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM q), " +
        "post AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM qt) USING (term)), " +
        "dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term), " +
        "sc AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, " +
        s"round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ${1.2 + 1}) / " +
        "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
        "FROM qt JOIN post USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) " +
        "CROSS JOIN st GROUP BY 1, 2), " +
        "bm AS (SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INT) AS rank " +
        "FROM sc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10), " +
        "ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "qe AS (SELECT vec_id AS q_id, e AS qv FROM ce WHERE vec_id < 5), " +
        s"ss AS (SELECT q_id, c.vec_id, round(${cosSql("qv", "c.e")}, 4) AS sim " +
        "FROM qe CROSS JOIN ce c WHERE c.vec_id <> q_id), " +
        "cs AS (SELECT q_id, vec_id AS doc_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM ss QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10), " +
        "fused AS (SELECT COALESCE(bm.q_id, cs.q_id) AS q_id, COALESCE(bm.doc_id, cs.doc_id) AS doc_id, " +
        "COALESCE(CAST(1.0 AS DOUBLE) / (60 + bm.rank), 0) + COALESCE(CAST(1.0 AS DOUBLE) / (60 + cs.rank), 0) AS score " +
        "FROM bm FULL JOIN cs ON bm.q_id = cs.q_id AND bm.doc_id = cs.doc_id) " +
        "SELECT q_id, doc_id, round(score, 6) AS rrf, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INT) AS rank " +
        "FROM fused QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10 " +
        "ORDER BY q_id, rank"),
    // HLL: register = top 9 bits of the 32-bit md5 hash, rho = first
    // 1-bit position in the low 23 (ltrim-of-bin, integer-exact);
    // estimate = bias-corrected harmonic mean + linear-counting branch,
    // every double exact so the rounded value matches bit-for-bit
    "text_hll_vocab" -> hllVocabSql,
    // the native TypedImperativeAggregate must land on the identical
    // estimate — shared oracle, strongest possible cross-check
    "text_hll_native" -> hllVocabSql,
    // cumulative 3-gram type count by per-type min bucket; same
    // exact-integer OLS
    "text_heaps_law" ->
      ("WITH wd AS (SELECT CAST(doc_id % 8 AS INT) AS b, string_split(text, ' ') AS w FROM documents), " +
        "tok AS (SELECT b, array_to_string(w[i:i+2], ' ') AS word " +
        "FROM wd, unnest(range(1, len(w) - 1)) AS t(i)), " +
        "pb AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY b), " +
        "vb AS (SELECT b, CAST(count(*) AS BIGINT) AS nv FROM " +
        "(SELECT word, CAST(min(b) AS INT) AS b FROM tok GROUP BY word) GROUP BY b), " +
        "cm AS (SELECT pb.b, CAST(sum(nt) OVER (ORDER BY pb.b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ct, " +
        "CAST(sum(COALESCE(nv, 0)) OVER (ORDER BY pb.b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cv " +
        "FROM pb LEFT JOIN vb ON pb.b = vb.b), " +
        "sc AS (SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 10000) AS BIGINT) AS x4, " +
        "CAST(round(ln(CAST(cv AS DOUBLE)) * 10000) AS BIGINT) AS y4 FROM cm), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x4) AS BIGINT) AS sx, " +
        "CAST(sum(y4) AS BIGINT) AS sy, CAST(sum(x4 * y4) AS BIGINT) AS sxy, " +
        "CAST(sum(x4 * x4) AS BIGINT) AS sxx, CAST(sum(y4 * y4) AS BIGINT) AS syy FROM sc) " +
        "SELECT n AS n_points, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS heaps_beta, " +
        "round((CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * " +
        "(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * syy - sy * sy AS DOUBLE)), 4) AS r2 " +
        "FROM a"),
    // quantized-integer OLS: every sum exact, two final divisions
    "text_zipf_slope" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tf AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY word), " +
        "top AS (SELECT f, row_number() OVER (ORDER BY f DESC, word) AS rank FROM tf " +
        "QUALIFY row_number() OVER (ORDER BY f DESC, word) <= 200), " +
        "sc AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 10000) AS BIGINT) AS x4, " +
        "CAST(round(ln(CAST(f AS DOUBLE)) * 10000) AS BIGINT) AS y4 FROM top), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x4) AS BIGINT) AS sx, " +
        "CAST(sum(y4) AS BIGINT) AS sy, CAST(sum(x4 * y4) AS BIGINT) AS sxy, " +
        "CAST(sum(x4 * x4) AS BIGINT) AS sxx, CAST(sum(y4 * y4) AS BIGINT) AS syy FROM sc) " +
        "SELECT n AS n_terms, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope, " +
        "round((CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * " +
        "(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * syy - sy * sy AS DOUBLE)), 4) AS r2 " +
        "FROM a"),
    // the generator ≡ the slice formulation: every 5-token window,
    // single-space joined, trailing-empty tokenization on both sides
    // (the SQL-function path must land on the identical frame)
    "text_shingle_sql" ->
      ("WITH w AS (SELECT lang, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT lang, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM w, unnest(range(1, len(w) - 3)) AS t(i)) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct " +
        "FROM sh GROUP BY lang ORDER BY lang"),
    "text_shingle_rows" ->
      ("WITH w AS (SELECT lang, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT lang, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM w, unnest(range(1, len(w) - 3)) AS t(i)) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct " +
        "FROM sh GROUP BY lang ORDER BY lang"),
    // GROUPING SETS pushed into the register build: max associativity
    // makes each level ≡ its direct sketch
    "text_hll_rollup" ->
      ("WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "h AS (SELECT lang, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM tok), " +
        "r AS (SELECT lang, CAST(hv // 8388608 AS INT) AS register, " +
        "max(24 - length(ltrim(bin(hv % 8388608), '0'))) AS max_rho FROM h " +
        "GROUP BY GROUPING SETS ((lang, register), (register))), " +
        "e AS (SELECT lang, count(*) AS np, sum(power(2.0, -max_rho)) AS sp FROM r GROUP BY lang) " +
        "SELECT COALESCE(lang, 'ALL') AS lang, round(CASE WHEN raw <= 1280.0 AND (512.0 - np) > 0 " +
        "THEN 512.0 * ln(512.0 / (512.0 - np)) ELSE raw END, 4) AS n_est " +
        "FROM (SELECT lang, np, sp, (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / " +
        "((512.0 - np) + sp) AS raw FROM e) ORDER BY lang"),
    "text_kmv_vocab" -> kmvVocabSql,
    // the native bounded-buffer aggregate lands on the identical
    // estimate — shared oracle
    "text_kmv_native" -> kmvVocabSql,

    // exact heavy hitters: every token holding > 1/200 of all
    // occurrences (the MG guarantee makes the sketch's candidate set a
    // superset, so the exact-threshold answer is deterministic)
    "text_heavy_hitters" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tot AS (SELECT count(*) AS n_total FROM tok) " +
        "SELECT word, count(*) AS n_occurrences FROM tok, tot " +
        "GROUP BY word, tot.n_total HAVING count(*) * 200 > tot.n_total " +
        "ORDER BY word"),
    // min-k is associative + idempotent: shard-then-merge ≡ direct
    "text_kmv_merged" -> kmvVocabSql,
    // ... and the streaming snapshot-state fold is the same merge
    "stream_kmv_vocab" -> kmvVocabSql,
    "text_kmv_overlap" -> kmvOverlapSql,
    // shard-merge must land on the identical estimate
    "text_hll_merged" -> hllVocabSql,
    // micro-batch register folds must land on the identical estimate
    "stream_hll_vocab" -> hllVocabSql,
    // 5-gram postings; train side distinct, heldout occurrences counted
    "text_ngram_decontam" ->
      ("WITH sh AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5 THEN " +
        "list_transform(range(1, len(w)-3), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) " +
        "ELSE CAST([] AS VARCHAR[]) END) AS g " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "tagged AS (SELECT doc_id, substr(md5('decontam' || CAST(doc_id AS VARCHAR)), 1, 8) " +
        s"< '${graft.ops.Sampling.hexThreshold(0.8)}' AS is_train FROM documents), " +
        "tg AS (SELECT DISTINCT g FROM sh JOIN tagged USING (doc_id) WHERE is_train) " +
        "SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams " +
        "FROM sh JOIN tagged USING (doc_id) JOIN tg USING (g) " +
        "WHERE NOT is_train GROUP BY sh.doc_id ORDER BY sh.doc_id"),
    // per-row weight → floor(w·2^32) → zero-padded hex, compared
    // lexicographically against the same 8-hex bucket hash
    "text_importance_sample" ->
      ("SELECT doc_id, n_chars FROM (SELECT doc_id, n_chars, " +
        "printf('%08x', least(CAST(floor(least(CAST(1.0 AS DOUBLE), " +
        "greatest(CAST(0.0 AS DOUBLE), CAST(n_chars AS DOUBLE) / 400.0)) " +
        "* 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM documents) " +
        "WHERE substr(md5('impsalt' || CAST(doc_id AS VARCHAR)), 1, 8) < thr " +
        "ORDER BY doc_id"),
    "text_source_cap" ->
      ("SELECT doc_id, source FROM documents " +
        "QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 15 " +
        "ORDER BY doc_id"),
    // key = ln((hash32+1)/2^32) / weight, top-50 by key desc
    "text_weighted_sample" ->
      ("SELECT doc_id, n_chars FROM (SELECT doc_id, n_chars, " +
        "ln((CAST('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1.0) / 4294967296.0) " +
        "/ CAST(n_chars AS DOUBLE) AS es_key FROM documents " +
        "ORDER BY es_key DESC, doc_id LIMIT 50) ORDER BY doc_id"),
    // distinct postings → shingle doc-frequency → per-doc share of
    // shingles seen elsewhere
    "text_dup_span_fraction" ->
      (s"WITH sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "round(avg(CASE WHEN df.df > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_fraction " +
        "FROM sh JOIN df USING (shingle) GROUP BY doc_id ORDER BY doc_id"),
    // positional shingles (lockstep unnest = posexplode), df over
    // distinct doc-shingle pairs, islands by pos - row_number; a run
    // of L duplicated 3-gram positions covers L+2 tokens
    "text_dup_max_span" ->
      (s"WITH shp AS (SELECT doc_id, unnest(range(0, len(shingles))) AS pos, " +
        s"unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sdf AS (SELECT shingle, count(*) AS df FROM " +
        "(SELECT DISTINCT doc_id, shingle FROM shp) GROUP BY shingle), " +
        "dup AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn " +
        "FROM shp JOIN sdf USING (shingle) WHERE sdf.df > 1), " +
        "runs AS (SELECT doc_id, pos - rn AS island, count(*) AS len FROM dup GROUP BY doc_id, island), " +
        "agg AS (SELECT doc_id, max(len) AS mx, count(*) AS nr FROM runs GROUP BY doc_id) " +
        "SELECT d.doc_id AS doc_id, CAST(coalesce(agg.mx + 2, 0) AS INT) AS max_dup_span_tokens, " +
        "CAST(coalesce(agg.nr, 0) AS INT) AS n_dup_spans " +
        "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id ORDER BY doc_id"),
    // 5-token spans, df across docs, rewrite keeping df<2 spans in
    // chunk_start order; string_agg skips the NULLed boilerplate rows
    // and coalesces to '' when a doc is ALL boilerplate
    "text_boilerplate_scrub" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sp AS (SELECT doc_id, i AS chunk_start, array_to_string(w[i+1:i+5], ' ') AS chunk " +
        "FROM w, unnest(range(0, len(w), 5)) AS t(i) WHERE i < len(w)), " +
        "df AS (SELECT chunk, count(DISTINCT doc_id) AS span_df FROM sp GROUP BY chunk) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_spans, " +
        "CAST(count(*) FILTER (span_df >= 2) AS INT) AS n_dropped, " +
        "md5(coalesce(string_agg(CASE WHEN span_df < 2 THEN chunk END, ' ' " +
        "ORDER BY chunk_start), '')) AS clean_hash " +
        "FROM sp JOIN df USING (chunk) GROUP BY doc_id ORDER BY doc_id"),
    // PMI on exact integer counts; both engines evaluate the ln on the
    // SAME left-to-right double product, then round — scalar totals
    // forced to DOUBLE (DuckDB sums BIGINT into DECIMAL otherwise)
    "text_pmi_bigrams" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM w, unnest(range(1, len(w))) AS t(i)), " +
        "pc AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY w1, w2), " +
        "u AS (SELECT word, count(*) AS n_word FROM " +
        "(SELECT unnest(w) AS word FROM w) GROUP BY word), " +
        "tot AS (SELECT (SELECT CAST(sum(n_pair) AS DOUBLE) FROM pc) AS b_total, " +
        "(SELECT CAST(sum(n_word) AS DOUBLE) FROM u) AS t_total), " +
        "scored AS (SELECT w1, w2, n_pair, " +
        "round(ln(CAST(n_pair AS DOUBLE) * t_total * t_total / " +
        "(b_total * u1.n_word * u2.n_word)), 4) AS pmi " +
        "FROM pc JOIN u u1 ON pc.w1 = u1.word JOIN u u2 ON pc.w2 = u2.word " +
        "CROSS JOIN tot WHERE n_pair >= 5) " +
        "SELECT w1, w2, n_pair, pmi, " +
        "CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT) AS rank " +
        "FROM scored QUALIFY row_number() OVER (ORDER BY pmi DESC, w1, w2) <= 50 " +
        "ORDER BY rank"),
    // G²: fixed-order 4-term expression replayed token for token;
    // marginals are per-position re-aggregates of the pair counts
    "text_llr_bigrams" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM w, unnest(range(1, len(w))) AS t(i)), " +
        "pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2), " +
        "fc AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_first FROM pc GROUP BY w1), " +
        "sc AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_second FROM pc GROUP BY w2), " +
        "tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS b_total FROM pc), " +
        "j AS (SELECT w1, w2, n_pair, CAST(b_total AS DOUBLE) AS n, " +
        "CAST(n_pair AS DOUBLE) AS ka, CAST(n_first - n_pair AS DOUBLE) AS kb, " +
        "CAST(n_second - n_pair AS DOUBLE) AS kc, " +
        "CAST(b_total - n_first - n_second + n_pair AS DOUBLE) AS kd, " +
        "CAST(n_first AS DOUBLE) AS r1, CAST(n_second AS DOUBLE) AS c1 " +
        "FROM pc JOIN fc USING (w1) JOIN sc USING (w2) CROSS JOIN tot WHERE n_pair >= 5), " +
        "s AS (SELECT w1, w2, n_pair, round(2.0 * (((" +
        "CASE WHEN ka > 0 THEN ka * ln(ka * n / (r1 * c1)) ELSE 0.0 END + " +
        "CASE WHEN kb > 0 THEN kb * ln(kb * n / (r1 * (n - c1))) ELSE 0.0 END) + " +
        "CASE WHEN kc > 0 THEN kc * ln(kc * n / ((n - r1) * c1)) ELSE 0.0 END) + " +
        "CASE WHEN kd > 0 THEN kd * ln(kd * n / ((n - r1) * (n - c1))) ELSE 0.0 END), 4) AS llr " +
        "FROM j) " +
        "SELECT w1, w2, n_pair, llr, CAST(row_number() OVER (ORDER BY llr DESC, w1, w2) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (ORDER BY llr DESC, w1, w2) <= 50 ORDER BY rank"),
    // same md5 text on both engines; ties (none expected) by doc_id
    "text_reservoir_sample" ->
      ("SELECT doc_id, lang, CAST(rn AS INT) AS rank FROM " +
        "(SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5('seed7|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
        "WHERE rn <= 20 ORDER BY lang, rank"),
    // the full two-Viterbi hard-EM chain (see unigramLmSql)
    "text_unigram_lm" ->
      (s"WITH $unigramLmSql " +
        "SELECT word, CAST(freq AS BIGINT) AS freq, path, " +
        "CAST(len(string_split(path, '|')) AS INT) AS n_pieces " +
        "FROM uf2 ORDER BY word"),
    // the trained table applied back to the corpus: per-doc token
    // expansion from exact integer counts
    "text_unigram_encode" ->
      (s"WITH $unigramLmSql, " +
        "utok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(len(string_split(f.path, '|'))) AS BIGINT) AS n_pieces_total, " +
        "round(CAST(sum(len(string_split(f.path, '|'))) AS DOUBLE) / count(*), 4) AS pieces_per_word " +
        "FROM utok t JOIN uf2 f USING (word) GROUP BY doc_id ORDER BY doc_id"),
    // unigram-LM score joined back to lang, ntile(3) per language
    // (ties split by doc_id — both engines distribute remainders to
    // the leading tiles per the SQL standard)
    "text_ppl_buckets" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "freq AS (SELECT word, count(*) AS f FROM tok GROUP BY word), " +
        "tot AS (SELECT count(*) AS n FROM tok), " +
        "u AS (SELECT doc_id, round(avg(-ln(f / n)), 4) AS avg_neg_logp " +
        "FROM tok JOIN freq USING (word) CROSS JOIN tot GROUP BY doc_id), " +
        "t AS (SELECT u.doc_id, d.lang, u.avg_neg_logp, " +
        "ntile(3) OVER (PARTITION BY d.lang ORDER BY u.avg_neg_logp, u.doc_id) AS tc " +
        "FROM u JOIN documents d ON u.doc_id = d.doc_id) " +
        "SELECT doc_id, lang, avg_neg_logp, CASE WHEN tc = 1 THEN 'head' " +
        "WHEN tc = 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket " +
        "FROM t ORDER BY doc_id"),
    // logistic-regression GD replayed end-to-end; weights surfaced
    // after 20 iterations, rounded at the output edge only
    "text_lr_weights" ->
      (s"WITH $lrChainSql " +
        "SELECT CAST(f AS INT) AS feature, round(w, 4) AS weight " +
        "FROM (SELECT unnest([0, 1, 2, 3]) AS f, unnest([w0, w1, w2, w3]) AS w FROM lw20) " +
        "ORDER BY feature"),
    // same chain + map-only scoring pass; probability float-quantized
    // BEFORE the 0.5 threshold so the prediction is engine-stable
    "text_lr_scores" ->
      (s"WITH $lrChainSql " +
        "SELECT doc_id, CAST(y AS INT) AS rule_label, round(p, 4) AS prob, " +
        "CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred " +
        "FROM (SELECT doc_id, y, " +
        "CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE) AS p " +
        "FROM lrf CROSS JOIN lw20 w) ORDER BY doc_id"),
    // tie-averaged Mann–Whitney over the rounded-score histogram:
    // 2R⁺ = Σ np·(r0+r1) integer, one final division
    "text_lr_auc" ->
      (s"WITH $lrChainSql, " +
        "sc AS (SELECT round(CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE), 4) AS prob, y " +
        "FROM lrf CROSS JOIN lw20 w), " +
        "g AS (SELECT prob, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS np FROM sc GROUP BY prob), " +
        "c AS (SELECT *, CAST(sum(n) OVER (ORDER BY prob ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1 FROM g), " +
        "t AS (SELECT CAST(sum(np * (c1 - n + 1 + c1)) AS BIGINT) AS two_r, " +
        "CAST(sum(np) AS BIGINT) AS npos, CAST(sum(n) - sum(np) AS BIGINT) AS nneg FROM c) " +
        "SELECT npos AS n_pos, nneg AS n_neg, " +
        "round(CAST(two_r - npos * (npos + 1) AS DOUBLE) / CAST(2 * npos * nneg AS DOUBLE), 6) AS auc FROM t"),
    // calibration: same float-quantized score, exact ten-thousandths
    "text_lr_calibration" ->
      (s"WITH $lrChainSql, " +
        "sc AS (SELECT round(CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE), 4) AS prob, y " +
        "FROM lrf CROSS JOIN lw20 w), " +
        "b AS (SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bin, " +
        "CAST(round(prob * 10000) AS BIGINT) AS p4, y FROM sc) " +
        "SELECT bin, CAST(count(*) AS BIGINT) AS n, " +
        "round(CAST(sum(p4) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE), 4) AS mean_prob, " +
        "round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS pos_rate " +
        "FROM b GROUP BY bin ORDER BY bin"),
    // mixture rebalancing: per-source token totals → c = min(toks/share)
    // → rate = least(1, c*share/toks) → 8-hex threshold, all in the
    // same double-op order as Sampling.mixtureRates/hexThreshold
    "text_mixture_sample" ->
      (s"WITH t AS (SELECT source, sum(len(string_split(text, ' '))) AS toks FROM documents GROUP BY source), " +
        s"sh(source, share) AS (VALUES $mixSharesValuesSql), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM t JOIN sh USING (source) WHERE share > 0), " +
        "r AS (SELECT source, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate " +
        "FROM t JOIN sh USING (source) CROSS JOIN c WHERE share > 0), " +
        "thr AS (SELECT source, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN thr ON d.source = thr.source " +
        "WHERE substr(md5('mixsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "ORDER BY d.doc_id"),
    // plain inequality join certifies the binned equi-join + residual
    "events_range_join" ->
      ("WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS win_s, " +
        "epoch_us(ts) + 600000000 AS win_e FROM events WHERE event_type = 'error'), " +
        "p AS (SELECT event_id, epoch_us(ts) AS pu, value FROM events " +
        "WHERE event_type IN ('click', 'view')) " +
        "SELECT e.err_id, CAST(count(p.event_id) AS BIGINT) AS n_hits, " +
        "round(COALESCE(sum(p.value), 0), 2) AS total_value " +
        "FROM e LEFT JOIN p ON p.pu BETWEEN e.win_s AND e.win_e " +
        "GROUP BY e.err_id ORDER BY err_id"),
    // identical oracle: the Catalyst rewrite must be result-invisible
    "events_range_join_auto" ->
      ("WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS win_s, " +
        "epoch_us(ts) + 600000000 AS win_e FROM events WHERE event_type = 'error'), " +
        "p AS (SELECT event_id, epoch_us(ts) AS pu, value FROM events " +
        "WHERE event_type IN ('click', 'view')) " +
        "SELECT e.err_id, CAST(count(p.event_id) AS BIGINT) AS n_hits, " +
        "round(COALESCE(sum(p.value), 0), 2) AS total_value " +
        "FROM e LEFT JOIN p ON p.pu BETWEEN e.win_s AND e.win_e " +
        "GROUP BY e.err_id ORDER BY err_id"),
    // streaming as-of ≡ batch: latest purchase per click within the
    // 6-hour lookback, ties to the larger purchase id
    "stream_asof_counts" ->
      ("WITH l AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT l.click_id, l.user_id, r.event_id AS purchase_id, r.ts AS p_ts " +
        "FROM l JOIN r ON l.user_id = r.user_id " +
        "AND r.ts >= l.ts - INTERVAL '6 hours' AND r.ts <= l.ts) " +
        "SELECT click_id, user_id, purchase_id, " +
        "strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts FROM j " +
        "QUALIFY row_number() OVER (PARTITION BY click_id ORDER BY p_ts DESC, purchase_id DESC) = 1 " +
        "ORDER BY click_id"),
    // DuckDB's native ASOF JOIN certifies ops.AsOf's window formulation
    "events_asof_join" -> asofBackwardSql,
    // ... and the SAME oracle certifies the custom physical operator
    // (AsOfJoinExec merge sweep) byte-for-byte against it
    "events_asof_native" -> asofBackwardSql,

    // Streaming checkout, batch-equivalent final state: one micro-batch ⇒
    // admission = every line fits under cumulative demand charged in
    // order_id-string order (pessimistic full-charge round, see
    // CheckoutStream.admitOrders). Integer-only arithmetic.
    "stream_checkout_counts" ->
      ("WITH l AS (SELECT CAST(l_orderkey AS VARCHAR) AS order_id, l_partkey AS product_id, " +
        "CAST(l_quantity AS BIGINT) AS quantity FROM lineitem WHERE l_orderkey % 10 = 0), " +
        "cum AS (SELECT *, sum(quantity) OVER (PARTITION BY product_id ORDER BY order_id, quantity " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM l), " +
        "v AS (SELECT order_id, bool_and(cum <= COALESCE(p_size*10, 0)) AS ok " +
        "FROM cum LEFT JOIN part ON product_id = p_partkey GROUP BY order_id) " +
        "SELECT CASE WHEN ok THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
        "CAST(count(*) AS BIGINT) AS n_orders FROM v GROUP BY 1 ORDER BY status"),

    // SimHash bit-vote re-derived from the md5 hex digest (simhashSigSql)
    "dedup_simhash" ->
      s"WITH $simhashSigSql SELECT doc_id, simhash FROM sig ORDER BY doc_id",

    // Brute-force all-pairs Hamming ≤ 3 — deliberately NOT banded: at
    // this threshold the Spark side's 4-chunk banding is provably
    // complete (pigeonhole), so brute force checks the LSH loses nothing.
    "dedup_simhash_pairs" ->
      (s"WITH $simhashSigSql " +
        "SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, " +
        "CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming " +
        "FROM sig x JOIN sig y ON x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.simhash, y.simhash)) <= 3 ORDER BY doc_a, doc_b"),

    // Connected components as a recursive-CTE transitive closure over the
    // SAME star edges (bucket-min hub ↔ member) the Spark operator builds;
    // min reachable label == converged min-label propagation.
    "dedup_components" ->
      (s"WITH RECURSIVE sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM sig), " +
        "edges AS (SELECT DISTINCT src, dst FROM star WHERE src <> dst), " +
        "sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), " +
        "reach AS (SELECT doc_id, doc_id AS lbl FROM documents " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.doc_id) " +
        "SELECT doc_id, min(lbl) AS component_id, doc_id = min(lbl) AS is_keeper " +
        "FROM reach GROUP BY doc_id ORDER BY doc_id"),

    "mm_binary_features" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, " +
        "CAST(ascii(substr(text, 1, 1)) AS INT) AS first_code, md5(text) AS content_hash " +
        "FROM documents ORDER BY doc_id"),

    // closed-form pixel sums of the two-band synthetic PNGs: left wa
    // columns in color A, the rest in color B, per-channel colors
    // (doc_id·m) mod 256 — matches Multimodal.syntheticImages exactly;
    // equality proves ImageIO returned the encoded pixels verbatim
    "mm_decode_features" ->
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents) " +
        "SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w*h AS BIGINT) AS n_pixels, " +
        "CAST(h*(wa*ra + (w-wa)*rb) AS BIGINT) AS sum_r, " +
        "CAST(h*(wa*ga + (w-wa)*gb) AS BIGINT) AS sum_g, " +
        "CAST(h*(wa*ba + (w-wa)*bb) AS BIGINT) AS sum_b " +
        "FROM g ORDER BY media_id"),
    "mm_decode_segment" ->
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents) " +
        "SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w*h AS BIGINT) AS n_pixels, " +
        "CAST(h*(wa*ra + (w-wa)*rb) AS BIGINT) AS sum_r, " +
        "CAST(h*(wa*ga + (w-wa)*gb) AS BIGINT) AS sum_g, " +
        "CAST(h*(wa*ba + (w-wa)*bb) AS BIGINT) AS sum_b " +
        "FROM g ORDER BY media_id"),
    "stream_mm_decode_features" ->
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents) " +
        "SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w*h AS BIGINT) AS n_pixels, " +
        "CAST(h*(wa*ra + (w-wa)*rb) AS BIGINT) AS sum_r, " +
        "CAST(h*(wa*ga + (w-wa)*gb) AS BIGINT) AS sum_g, " +
        "CAST(h*(wa*ba + (w-wa)*bb) AS BIGINT) AS sum_b " +
        "FROM g ORDER BY media_id"),

    // closed-form resize oracle: the target row samples source column
    // (x*w)//16, which lands in band A iff (x*w)//16 < wa — the count
    // of band-A samples over x in 0..15 is a generate_series aggregate,
    // and every target row repeats it (the source has no y-variation)
    "mm_resize_features" ->
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents), " +
        "cnt AS (SELECT *, " +
        "(SELECT count(*) FROM generate_series(0, 15) t(x) WHERE (x * w) // 16 < wa) AS n_a " +
        "FROM g) " +
        "SELECT media_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h, " +
        "CAST(16 AS INT) AS out_w, CAST(12 AS INT) AS out_h, " +
        "CAST(12 * (n_a * ra + (16 - n_a) * rb) AS BIGINT) AS sum_r, " +
        "CAST(12 * (n_a * ga + (16 - n_a) * gb) AS BIGINT) AS sum_g, " +
        "CAST(12 * (n_a * ba + (16 - n_a) * bb) AS BIGINT) AS sum_b " +
        "FROM cnt ORDER BY media_id"),
    // closed-form PCM stats of the synthetic square-wave WAVs: every
    // sample is exactly ±A, so sum_abs = n·A and peak = A — matches
    // Multimodal.syntheticAudio; equality proves the AudioSystem
    // round trip returned the encoded samples verbatim
    "mm_audio_features" ->
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "(doc_id*97) % 16384 + 1000 AS amp, 400 + doc_id % 50 AS n FROM documents) " +
        "SELECT media_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels, " +
        "CAST(n AS BIGINT) AS n_frames, CAST(n * amp AS BIGINT) AS sum_abs, " +
        "CAST(amp AS INT) AS peak FROM g ORDER BY media_id"),

    // closed-form dHash of the synthetic gradient PNGs, brute-force
    // paired: the 9×8 sampled luma grid is (base + 2x·k) % 252 + v
    // (variant-3 bottom-row perturbation copies sampled x=3), the hash
    // accumulates per-bit in HUGEINT and wraps to signed 64, and pairs
    // are ALL-pairs Hamming ≤ 3 — deliberately not banded, so equality
    // certifies the Spark side's decode → downsample → dHash → banded
    // join loses nothing (same pigeonhole argument as dedup_simhash_pairs)
    "mm_phash_pairs" ->
      ("WITH p AS (SELECT doc_id AS media_id, (doc_id // 4) * 37 % 252 AS base, " +
        "7 + (doc_id // 4) % 11 AS k, 3 + (doc_id // 4) % 5 AS j, doc_id % 4 AS v FROM documents), " +
        "grid AS (SELECT media_id, x, y, CASE WHEN v = 3 AND y = 7 AND x = 4 " +
        "THEN (base + 6 * k + 14 * j) % 252 + v ELSE (base + 2 * x * k + 2 * y * j) % 252 + v END AS gval " +
        "FROM p, (SELECT unnest([0,1,2,3,4,5,6,7,8]) AS x), " +
        "(SELECT unnest([0,1,2,3,4,5,6,7]) AS y)), " +
        "bits AS (SELECT a.media_id, a.x, a.y, (b.gval > a.gval) AS bit " +
        "FROM grid a JOIN grid b ON a.media_id = b.media_id AND a.y = b.y AND b.x = a.x + 1 " +
        "WHERE a.x < 8), " +
        "h AS (SELECT media_id, SUM(CASE WHEN bit THEN 1::HUGEINT << (y*8 + x) " +
        "ELSE 0::HUGEINT END) AS hh FROM bits GROUP BY media_id), " +
        "sig AS (SELECT media_id, CAST(CASE WHEN hh >= 9223372036854775808 " +
        "THEN hh - 18446744073709551616 ELSE hh END AS BIGINT) AS phash FROM h) " +
        "SELECT a.media_id AS media_a, b.media_id AS media_b, " +
        "CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming " +
        "FROM sig a JOIN sig b ON a.media_id < b.media_id " +
        "WHERE bit_count(xor(a.phash, b.phash)) <= 3 ORDER BY media_a, media_b"),

    // closed-form envelope hash of the AM synthetic WAVs, brute-force
    // paired: window k's amplitude is 600 + ((c+7)(k+3)·13) % 900 + off
    // with c = doc_id % 50 and the volume offset cancelling out of
    // every rise/fall comparison, so bit k = base(k+1) > base(k); the
    // 31-bit hash fits BIGINT directly. All-pairs ≤ 3 certifies the
    // Spark side's decode → energy → hash → banded join loses nothing
    "mm_audio_dup_pairs" ->
      ("WITH p AS (SELECT doc_id AS media_id, doc_id % 50 AS c FROM documents), " +
        "e AS (SELECT media_id, k, 600 + ((c+7)*(k+3)*13) % 900 AS base " +
        "FROM p, (SELECT unnest(range(0, 32)) AS k)), " +
        "bits AS (SELECT a.media_id, a.k, (b.base > a.base) AS bit " +
        "FROM e a JOIN e b ON a.media_id = b.media_id AND b.k = a.k + 1 WHERE a.k < 31), " +
        "h AS (SELECT media_id, SUM(CASE WHEN bit THEN 1::BIGINT << k ELSE 0::BIGINT END) AS afp " +
        "FROM bits GROUP BY media_id) " +
        "SELECT a.media_id AS media_a, b.media_id AS media_b, " +
        "CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming " +
        "FROM h a JOIN h b ON a.media_id < b.media_id " +
        "WHERE bit_count(xor(a.afp, b.afp)) <= 3 ORDER BY media_a, media_b")
  )
}
