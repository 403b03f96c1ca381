package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{GQuery, Tables}

/** Core relational surface: scan/filter/project, aggregation, every join
  * flavor, set ops, windows, rollup — the general query capability layer
  * (SURVEY.md §2.5 [EXT] built-ins) expressed as lazy DataFrame plans so
  * Catalyst handles pushdown/pruning/join-strategy.
  *
  * Determinism contract with the DuckDB oracle: every output is fully
  * ordered by a unique key (or by a rounded measure + unique key), double
  * aggregates are rounded, and computed integers are cast to long so the
  * Spark parquet schema matches DuckDB's BIGINT results.
  *
  * Scale notes (100 TB mindset):
  *  - dims (region/nation) are always broadcast — no shuffle for them;
  *  - fact-fact joins (orders ⋈ lineitem) shuffle on the join key once and
  *    the following groupBy reuses that partitioning where keys align;
  *  - top-k uses sort+limit (Spark executes as TakeOrderedAndProject — no
  *    global sort materialization);
  *  - aggregations are partial (map-side combine) by construction.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  val defs: Seq[GQuery] = Seq(

    // ---- TPC-H Q1 style pricing summary: full-scan agg with map-side combine.
    GQuery(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- Filter + projection + top-k: predicate and column pruning reach
    // the parquet scan; limit executes as TakeOrderedAndProject.
    GQuery(
      "q02_filter_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 100000
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // ---- TPC-H Q3 style: 3-way join, grouped revenue, top-10.
    GQuery(
      "q03_unshipped_revenue",
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-03-15'
        |  AND l_shipdate > TIMESTAMP '1996-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
      // customer is fact-scale at TPC-H sf100+ — no broadcast hint; the
      // segment filter makes it AQE-broadcastable when it actually fits.
      // orders⋈customer runs FIRST so lineitem (the widest input) joins
      // against the doubly-filtered orders.
      //
      // The SHUFFLE_HASH hint on that side exists because the static
      // estimator inverts the build side here (measured r9, BENCH_NOTES):
      // column pruning prices filtered LINEITEM under the broadcast
      // threshold while orders⋈customer carries a join-product estimate,
      // so the planner collected the millions-of-rows side through the
      // driver and probed it with the small one. The hint pins the classic
      // distributed Q3 shape — shuffle lineitem on its join key, build the
      // per-partition hash from the doubly-filtered side — which is also
      // the only shape that survives 100 TB, where neither side fits a
      // broadcast. PlanAuditSpec pins both the pushed timestamp predicates
      // and the absence of a lineitem-side broadcast.
      //
      // The general alternative — ANALYZE every table and let cbo.enabled
      // price the build sides from row counts — was A/B'd at sf0.1 and
      // REJECTED: 88.8 s against 56.9 s over 115 queries (+56%), the dedup
      // family's synthetic intermediates get mispriced (BENCH_NOTES r10).
      // The hint stays: targeted, free, and correct in the stat-less
      // sessions where the static estimator inverts.
      l.join(o.join(c, col("o_custkey") === col("c_custkey"))
            .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ---- TPC-H Q5 style: star join with broadcast dims, grouped by geo.
    GQuery(
      "q04_revenue_by_nation",
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lineitems
        |FROM region, nation, customer, orders, lineitem
        |WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      val geo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
      // geo contains all of customer (15 M rows at sf100) — broadcast only
      // the true dims above; this join shuffles on custkey and AQE may
      // still promote it to broadcast at small sf
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(geo.select("c_custkey", "n_name", "r_name"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // ---- Grouped join + top-k customers by spend.
    GQuery(
      "q05_top_customers",
      """SELECT c_custkey, c_name,
        |  round(sum(o_totalprice), 2) AS total_spent,
        |  count(*) AS n_orders
        |FROM customer, orders
        |WHERE c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spent DESC, c_custkey
        |LIMIT 25""".stripMargin) { (s, dir) =>
      // customer is fact-scale — plain equi-join; AQE broadcasts iff it fits
      t(s, dir, "orders")
        .join(t(s, dir, "customer").select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
        .limit(25)
    },

    // ---- TPC-H Q6 style scalar aggregate: whole plan is scan+filter+agg,
    // filters fully pushed to parquet.
    GQuery(
      "q06_revenue_forecast",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.03, 0.07)
          && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    // ---- Left-semi join (EXISTS).
    GQuery(
      "q07_customers_with_big_orders",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- Left-anti join (NOT EXISTS).
    GQuery(
      "q08_customers_without_orders",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      // restricted to "no orders since 2000" so the anti-join result is
      // non-empty at every test sf (every customer has SOME order)
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- Left-outer join preserving zero-order customers.
    GQuery(
      "q09_order_counts_outer",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select("c_custkey")
        .join(t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0)), 2).as("total_spent"))
        .orderBy("c_custkey")
    },

    // ---- DISTINCT.
    GQuery(
      "q10_distinct_segments",
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment") {
      (s, dir) =>
        t(s, dir, "customer").select("c_mktsegment").distinct()
          .orderBy("c_mktsegment")
    },

    // ---- INTERSECT.
    GQuery(
      "q11_active_rich_customers",
      """SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 1000
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("c_custkey"))
        .intersect(t(s, dir, "customer").filter(col("c_acctbal") > 1000)
          .select("c_custkey"))
        .orderBy("c_custkey")
    },

    // ---- EXCEPT.
    GQuery(
      "q12_inactive_customers",
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      // "customers who never placed a big order" — the price cut keeps the
      // EXCEPT non-empty at every test sf (all customers have orders)
      t(s, dir, "customer").select("c_custkey")
        .except(t(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    },

    // ---- Window: ranked top-3 per partition.
    GQuery(
      "q13_top3_per_segment",
      """SELECT * FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) ranked
        |WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("c_mktsegment"), col("rn"))
    },

    // ---- Window: running total per key (frame-based cumulative sum).
    GQuery(
      "q14_running_spend",
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS running_spend
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },

    // ---- ROLLUP with broadcast dims; NULLS FIRST pinned on both engines.
    GQuery(
      "q15_rollup_customer_geo",
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  round(sum(c_acctbal), 2) + 0.0 AS total_bal
        |FROM customer, nation, region
        |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            // + 0.0 normalizes IEEE signed zero after rounding
            (round(sum(col("c_acctbal")), 2) + lit(0.0)).as("total_bal"))
          .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },

    // ---- Conditional aggregation (CASE WHEN inside agg, TPC-H Q12 style).
    GQuery(
      "q16_priority_split",
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!isHigh, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("o_orderstatus")
    },

    // ---- Date-part extraction + aggregation.
    GQuery(
      "q17_orders_by_month",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY o_year, o_month
        |ORDER BY o_year, o_month""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_year", "o_month")
    },

    // ---- String functions: upper/substring/length/LIKE.
    GQuery(
      "q18_part_strings",
      """SELECT p_partkey, upper(p_brand) AS brand_uc,
        |  substring(p_name, 1, 8) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part
        |WHERE p_type LIKE '%ECO%' OR p_name LIKE '%red%'
        |ORDER BY p_partkey
        |LIMIT 500""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").like("%ECO%") || col("p_name").like("%red%"))
        .select(col("p_partkey"), upper(col("p_brand")).as("brand_uc"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"))
        .orderBy("p_partkey")
        .limit(500)
    },

    // ---- GROUP BY + HAVING.
    GQuery(
      "q19_common_brands",
      """SELECT p_brand, count(*) AS n_parts,
        |  round(avg(p_retailprice), 2) AS avg_price
        |FROM part
        |GROUP BY p_brand
        |HAVING count(*) > 5
        |ORDER BY p_brand""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 2).as("avg_price"))
        .filter(col("n_parts") > 5)
        .orderBy("p_brand")
    },

    // ---- Scalar subquery (vs global aggregate) via broadcast cross join —
    // no collect(), stays fully distributed.
    GQuery(
      "q20_above_avg_balance",
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val avgBal = c.agg(avg(col("c_acctbal")).as("global_avg"))
      c.select("c_custkey", "c_acctbal")
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("global_avg"))
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // ---- Full outer join: year-over-year comparison of big-order days
    // (day-of-March grain is sparse enough that both null sides occur at
    // the gate scale — a full-outer that degenerates to inner proves
    // nothing). USING-join coalesces the key on both engines.
    GQuery(
      "q33_full_outer_compare",
      """WITH a AS (
        |  SELECT CAST(day(o_orderdate) AS BIGINT) AS d,
        |    count(*) AS n96, round(sum(o_totalprice), 2) AS s96
        |  FROM orders
        |  WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 3
        |    AND o_totalprice > 400000
        |  GROUP BY 1),
        |b AS (
        |  SELECT CAST(day(o_orderdate) AS BIGINT) AS d,
        |    count(*) AS n97, round(sum(o_totalprice), 2) AS s97
        |  FROM orders
        |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 3
        |    AND o_totalprice > 400000
        |  GROUP BY 1)
        |SELECT d AS day, n96, s96, n97, s97
        |FROM a FULL JOIN b USING (d)
        |ORDER BY day""".stripMargin) { (s, dir) =>
      def side(yr: Int, n: String, sm: String) =
        t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === yr
            && month(col("o_orderdate")) === 3
            && col("o_totalprice") > 400000)
          .groupBy(dayofmonth(col("o_orderdate")).cast("long").as("day"))
          .agg(count(lit(1)).as(n), round(sum(col("o_totalprice")), 2).as(sm))
      side(1996, "n96", "s96")
        .join(side(1997, "n97", "s97"), Seq("day"), "full_outer")
        .orderBy("day")
    }
  )
}
