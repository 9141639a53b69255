package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational operator surface (SURVEY.md §2.2): the reference
  * delegates all of these to DataFusion over its segment scan; we express
  * them Spark-first with the DataFrame API and let Catalyst/Tungsten plan
  * them (broadcast joins for dims, partial aggregation, TopK, WSCG).
  *
  * Determinism rules (DuckDB-oracle hash compare):
  *  - every query ends in a total ORDER BY;
  *  - double-typed aggregates are round()ed (both engines round positive
  *    values identically);
  *  - timestamps in output are cast to date or string.
  */
object Relational extends QuerySet {

  private def ts(s: String) = lit(java.sql.Timestamp.valueOf(s + " 00:00:00"))

  def all: Seq[Q] = Seq(

    // -- TPC-H Q1 style: scan + filter + hash agg (partial+final) + sort.
    Q("q1_agg",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") <= ts("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("sum_disc_price"),
            round(avg(col("l_quantity")), 2).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_quantity), 2) AS avg_qty,
              count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    // -- TPC-H Q6 style: selective filter fully pushed to the parquet scan.
    Q("q2_filter_agg",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01") &&
                  col("l_shipdate") < ts("1997-01-01") &&
                  col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                  col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
               count(lit(1)).as("n_rows"))
      },
      Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
              count(*) AS n_rows
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // -- TPC-H Q3 style: 3-way shuffle join + agg + TopK
    //    (TakeOrderedAndProject; the orders/customer side is broadcast at
    //    small SF via AQE, shuffle-hash at 100 TB).
    Q("q3_join_topk",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.load(s, dir, "orders").filter(col("o_orderdate") < ts("1997-06-01"))
        val l = Tables.load(s, dir, "lineitem").filter(col("l_shipdate") > ts("1997-06-01"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .select(col("l_orderkey"),
                  col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
                  col("o_orderpriority"), col("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
              o_orderpriority,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
              FROM customer, orders, lineitem
              WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
                AND o_orderkey = l_orderkey
                AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
                AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
              GROUP BY l_orderkey, o_orderdate, o_orderpriority
              ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // -- TPC-H Q4 style: EXISTS as left-semi join.
    Q("q4_semi_exists",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01") &&
                  col("o_orderdate") < ts("1996-07-01"))
        val l = Tables.load(s, dir, "lineitem").filter(col("l_quantity") > 45)
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
                AND EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey AND l_quantity > 45)
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // -- Star-schema dim joins: explicitly broadcast the small dims.
    Q("q5_broadcast_dims",
      (s, dir) => {
        val su = Tables.load(s, dir, "supplier")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region")
        su.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_suppliers"),
               round(sum(col("s_acctbal")), 2).as("total_acctbal"))
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name, count(*) AS n_suppliers,
              round(sum(s_acctbal), 2) AS total_acctbal
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""")),

    // -- NOT EXISTS as left-anti join.
    Q("q6_anti_join",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") < ts("1995-07-01"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers
              FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                                AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // -- Ranking window function + filter (top-3 per group).
    Q("q7_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.load(s, dir, "orders")
          .filter(col("o_custkey") < 100)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
                  round(col("o_totalprice"), 2).as("o_totalprice"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
              FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
                    FROM orders WHERE o_custkey < 100) t
              WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // -- Analytic window functions: running sum + lag over a time order.
    //    (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    //    so pre-aggregate to unique keys — window results over tied
    //    orderings are engine-dependent otherwise.
    Q("q8_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("ship"), col("l_orderkey"), col("l_linenumber"))
        Tables.load(s, dir, "lineitem")
          .filter(col("l_suppkey") < 20)
          .groupBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
          .agg(round(sum(col("l_quantity")), 2).as("qty"),
               min(col("l_shipdate")).as("ship"))
          .withColumn("running_qty",
            round(sum(col("qty")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
          .withColumn("prev_qty", lag(col("qty"), 1).over(w))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
                  col("running_qty"), col("prev_qty"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
              round(sum(qty) OVER (PARTITION BY l_suppkey
                ORDER BY ship, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
              lag(qty, 1) OVER (PARTITION BY l_suppkey
                ORDER BY ship, l_orderkey, l_linenumber) AS prev_qty
              FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
                    round(sum(l_quantity), 2) AS qty, min(l_shipdate) AS ship
                    FROM lineitem WHERE l_suppkey < 20
                    GROUP BY l_suppkey, l_orderkey, l_linenumber) t
              ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // -- Distinct aggregation (expand + two-phase agg in Spark).
    Q("q9_distinct_agg",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
               countDistinct(col("l_partkey")).as("n_part"),
               count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
              count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // -- Set operations: symmetric difference via UNION/INTERSECT/EXCEPT.
    Q("q10_setops",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
        val a = p.filter(col("p_size") < 10).select(col("p_brand"))
        val b = p.filter(col("p_retailprice") > 1500).select(col("p_brand"))
        a.union(b).distinct()
          .except(a.intersect(b))
          .orderBy(col("p_brand"))
      },
      Some("""(SELECT p_brand FROM part WHERE p_size < 10
               UNION
               SELECT p_brand FROM part WHERE p_retailprice > 1500)
              EXCEPT
              (SELECT p_brand FROM part WHERE p_size < 10
               INTERSECT
               SELECT p_brand FROM part WHERE p_retailprice > 1500)
              ORDER BY p_brand""")),

    // -- Multiset set ops (the ALL variants): intersectAll keeps
    //    min(countA, countB) copies per value, exceptAll keeps
    //    countA - countB — semantics q10's distinct ops can't express;
    //    both plan as aggregate-join-generate without materializing
    //    either side twice.
    Q("q35_setops_all",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        val a = l.filter(col("l_quantity") <= 25).select(col("l_suppkey"))
        val b = l.filter(col("l_discount") >= 0.05).select(col("l_suppkey"))
        val ia = a.intersectAll(b).groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        val ea = a.exceptAll(b).groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        ia.union(ea).orderBy(col("op"), col("l_suppkey"))
      },
      Some("""WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 25),
              b AS (SELECT l_suppkey FROM lineitem WHERE l_discount >= 0.05),
              ia AS (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b),
              ea AS (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
              SELECT l_suppkey, n, op FROM (
                SELECT l_suppkey, count(*) AS n, 'intersect_all' AS op
                FROM ia GROUP BY l_suppkey
                UNION ALL
                SELECT l_suppkey, count(*) AS n, 'except_all' AS op
                FROM ea GROUP BY l_suppkey)
              ORDER BY op, l_suppkey""")),

    // -- ROLLUP with grouping_id.
    Q("q11_rollup",
      (s, dir) => {
        val su = Tables.load(s, dir, "supplier")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region")
        su.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("s_acctbal")), 2).as("acctbal"),
               grouping_id().as("gid"))
          .orderBy(col("gid"), col("r_name").asc_nulls_last, col("n_name").asc_nulls_last)
      },
      Some("""SELECT r_name, n_name, count(*) AS n, round(sum(s_acctbal), 2) AS acctbal,
              GROUPING(r_name, n_name) AS gid
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY ROLLUP (r_name, n_name)
              ORDER BY gid, r_name NULLS LAST, n_name NULLS LAST""")),

    // -- CUBE with grouping_id.
    Q("q12_cube",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("l_quantity")), 2).as("qty"),
               grouping_id().as("gid"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_last,
                   col("l_linestatus").asc_nulls_last)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              round(sum(l_quantity), 2) AS qty,
              GROUPING(l_returnflag, l_linestatus) AS gid
              FROM lineitem
              GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST""")),

    // -- Conditional aggregation (TPC-H Q14 style promo share).
    Q("q13_case_agg",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        l.join(p, col("l_partkey") === col("p_partkey"))
          .agg(round(lit(100.0) *
                 sum(when(col("p_size") < 25, disc).otherwise(lit(0.0))) / sum(disc), 4)
               .as("small_part_pct"),
               count(lit(1)).as("n_rows"))
      },
      Some("""SELECT round(100.0 *
                sum(CASE WHEN p_size < 25 THEN l_extendedprice * (1.0 - l_discount)
                         ELSE 0.0 END) /
                sum(l_extendedprice * (1.0 - l_discount)), 4) AS small_part_pct,
              count(*) AS n_rows
              FROM lineitem JOIN part ON l_partkey = p_partkey""")),

    // -- Scalar string/math functions (identical semantics both engines).
    Q("q14_scalar_funcs",
      (s, dir) => {
        Tables.load(s, dir, "part")
          .filter(col("p_partkey") <= 200)
          .select(col("p_partkey"),
                  upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
                  length(col("p_name")).as("name_len"),
                  abs(col("p_size") - 25).as("size_dist"),
                  round(sqrt(col("p_retailprice")), 3).as("price_sqrt"),
                  concat(col("p_brand"), lit("_"), col("p_type")).as("brand_type"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, upper(substring(p_name, 1, 8)) AS name_prefix,
              length(p_name) AS name_len, abs(p_size - 25) AS size_dist,
              round(sqrt(p_retailprice), 3) AS price_sqrt,
              concat(p_brand, '_', p_type) AS brand_type
              FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""")),

    // -- Date/time extraction + truncation.
    Q("q15_datetime",
      (s, dir) => {
        Tables.load(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"),
                   month(col("o_orderdate")).as("mo"))
          .agg(count(lit(1)).as("n_orders"),
               round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy(col("yr"), col("mo"))
      },
      Some("""SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
              count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
              FROM orders GROUP BY yr, mo ORDER BY yr, mo""")),

    // -- IN-subquery as semi join over a broadcast dim.
    Q("q16_in_subquery",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val n = Tables.load(s, dir, "nation").filter(col("n_regionkey") === 0)
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
               round(avg(col("c_acctbal")), 2).as("avg_bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
              round(avg(c_acctbal), 2) AS avg_bal
              FROM customer
              WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // -- Scalar subquery (global avg) against every row.
    Q("q17_scalar_subquery",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
        val avgPrice = p.agg(avg(col("p_retailprice")).as("ap"))
        p.crossJoin(broadcast(avgPrice))
          .filter(col("p_retailprice") > col("ap"))
          .agg(count(lit(1)).as("n_above_avg"),
               round(min(col("p_retailprice")), 2).as("min_price"),
               round(max(col("p_retailprice")), 2).as("max_price"))
      },
      Some("""SELECT count(*) AS n_above_avg,
              round(min(p_retailprice), 2) AS min_price,
              round(max(p_retailprice), 2) AS max_price
              FROM part
              WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)""")),

    // -- HAVING over a big agg + join back (TPC-H Q18 style).
    Q("q18_having",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val big = l.groupBy(col("l_orderkey"))
          .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
          .filter(col("total_qty") > 150)
        big.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
                  round(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
              total_qty
              FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
                    FROM lineitem GROUP BY l_orderkey
                    HAVING round(sum(l_quantity), 2) > 150) t
              JOIN orders ON l_orderkey = o_orderkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")),

    // -- Non-equi (theta) self join.
    Q("q19_theta_join",
      (s, dir) => {
        val n1 = Tables.load(s, dir, "nation").select(
          col("n_nationkey").as("k1"), col("n_regionkey").as("r1"))
        val n2 = Tables.load(s, dir, "nation").select(
          col("n_nationkey").as("k2"), col("n_regionkey").as("r2"))
        n1.join(n2, col("r1") === col("r2") && col("k1") < col("k2"))
          .groupBy(col("r1").as("regionkey"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("regionkey"))
      },
      Some("""SELECT n1.n_regionkey AS regionkey, count(*) AS n_pairs
              FROM nation n1 JOIN nation n2
                ON n1.n_regionkey = n2.n_regionkey
               AND n1.n_nationkey < n2.n_nationkey
              GROUP BY n1.n_regionkey ORDER BY regionkey""")),

    // -- Exact percentiles (continuous interpolation in both engines).
    Q("q20_percentile",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(expr("percentile(l_quantity, 0.5)"), 2).as("median_qty"),
               round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90_price"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 2) AS median_qty,
              round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // -- Time-bucketed aggregation over the events stream table.
    Q("q21_time_bucket",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(date_trunc("day", col("ts")).cast("date").cast("string").as("day"),
                   col("event_type"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("total_value"))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day, event_type,
              count(*) AS n, round(sum(value), 2) AS total_value
              FROM events GROUP BY day, event_type ORDER BY day, event_type""")),

    // -- Min/max/first-last-free summary per group (fully deterministic).
    Q("q22_minmax",
      (s, dir) => {
        Tables.load(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(min(col("o_orderdate")).cast("date").cast("string").as("first_date"),
               max(col("o_orderdate")).cast("date").cast("string").as("last_date"),
               round(min(col("o_totalprice")), 2).as("min_price"),
               round(max(col("o_totalprice")), 2).as("max_price"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
              CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS first_date,
              CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS last_date,
              round(min(o_totalprice), 2) AS min_price,
              round(max(o_totalprice), 2) AS max_price
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // -- Approximate aggregates (HLL / quantile sketch). The raw
    //    estimates are engine-specific, so the GATE is the accuracy
    //    CONTRACT instead: the approx-distinct lands within ±10% of the
    //    exact count (HLL++ rsd 0.05 → 2σ) and the approx-median lands
    //    between the exact p40 and p60 (rank-error bound). The oracle
    //    replays the exact count and the contract booleans as `true` —
    //    rows, schema and hashes all checked.
    Q("q23_approx",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("exact_parts"),
               approx_count_distinct(col("l_partkey")).as("apd"),
               expr("approx_percentile(l_extendedprice, 0.5)").as("amed"),
               expr("percentile(l_extendedprice, 0.4)").as("p40"),
               expr("percentile(l_extendedprice, 0.6)").as("p60"))
          .select(col("l_returnflag"), col("exact_parts"),
                  (col("apd") >= col("exact_parts") * 0.9 &&
                   col("apd") <= col("exact_parts") * 1.1).as("approx_parts_ok"),
                  (col("amed") >= col("p40") && col("amed") <= col("p60"))
                    .as("approx_median_ok"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
              true AS approx_parts_ok, true AS approx_median_ok
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // -- Druid `timeseries` semantics: granular buckets ZERO-FILLED over
    //    the full [min, max] range (Druid emits empty buckets; a bare
    //    GROUP BY does not). The spine is generated from the 1-row
    //    min/max aggregate via sequence+explode — bucket count is
    //    range/granularity (tiny), so the fill join broadcasts; the only
    //    data-sized shuffle is the bucket aggregate itself.
    Q("q24_timeseries_fill",
      (s, dir) => {
        val buckets = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        val spine = buckets
          .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("INTERVAL 1 HOUR"))).as("h"))
        spine.join(buckets, Seq("h"), "left")
          .select(col("h").cast("string").as("h"),
                  coalesce(col("n"), lit(0L)).as("n"),
                  round(coalesce(col("sv"), lit(0.0)), 2).as("sv"))
          .orderBy(col("h"))
      },
      Some("""WITH b AS (
                SELECT date_trunc('hour', ts) AS h, count(*) AS n,
                       sum(value) AS sv
                FROM events WHERE event_type = 'purchase' GROUP BY 1),
              spine AS (
                SELECT unnest(generate_series((SELECT min(h) FROM b),
                  (SELECT max(h) FROM b), INTERVAL 1 HOUR)) AS h)
              SELECT CAST(spine.h AS VARCHAR) AS h,
                     coalesce(b.n, 0) AS n,
                     round(coalesce(b.sv, 0), 2) AS sv
              FROM spine LEFT JOIN b ON spine.h = b.h ORDER BY h""")),

    // -- Gap-fill by INTERPOLATION (LOCF): the carry-forward twin of
    //    q24's zero-fill — a sparse hourly series (high-value events
    //    only) on a dense per-type spine, empty hours taking the last
    //    observed value via one windowed last(ignoreNulls). Exchanges
    //    carry only the BUCKETED series (one row per (type, hour)),
    //    never raw events — the spine build, join, and window re-cluster
    //    that small series, so scale tracks the spine, not the corpus.
    Q("q34_locf_fill",
      (s, dir) => {
        val buckets = Tables.events(s, dir)
          .filter(col("value") >= 200)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(round(avg(col("value")), 4).as("v"))
        val spine = buckets.groupBy(col("event_type"))
          .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"),
              expr("INTERVAL 1 HOUR"))).as("h"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(buckets, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"),
            col("v").isNotNull.as("observed"),
            last(col("v"), ignoreNulls = true).over(w).as("filled"))
          .select(col("event_type"), col("h").cast("string").as("h"),
            col("observed"), col("filled"))
          .orderBy(col("event_type"), col("h"))
      },
      Some("""WITH b AS (
                SELECT event_type, date_trunc('hour', ts) AS h,
                       round(avg(value), 4) AS v
                FROM events WHERE value >= 200 GROUP BY 1, 2),
              spine AS (
                SELECT event_type,
                  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                FROM (SELECT event_type, min(h) AS lo, max(h) AS hi
                      FROM b GROUP BY 1)),
              j AS (
                SELECT s.event_type, s.h, b.v
                FROM spine s LEFT JOIN b USING (event_type, h))
              SELECT event_type, CAST(h AS VARCHAR) AS h,
                v IS NOT NULL AS observed,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
              FROM j ORDER BY event_type, h""")),

    // -- Druid LATEST/EARLIEST aggregators: the value carried by the
    //    newest/oldest row per group (max_by/min_by — one hash agg, the
    //    comparand rides along in the partial state; no window, no
    //    self-join). `ts` is unique in the events table, so the result
    //    is deterministic.
    Q("q25_latest_earliest",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(round(max_by(col("value"), col("ts")), 2).as("latest_value"),
               round(min_by(col("value"), col("ts")), 2).as("earliest_value"),
               max(col("ts")).cast("string").as("latest_ts"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
              round(arg_max(value, ts), 2) AS latest_value,
              round(arg_min(value, ts), 2) AS earliest_value,
              CAST(max(ts) AS VARCHAR) AS latest_ts
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- Pivot (wide rollup): weekly grain, event_type fanned out to
    //    measure columns. Spark's relational pivot compiles to ONE hash
    //    aggregate over (week) with pivot-filtered partials — same
    //    shuffle profile as the plain GROUP BY, no per-value scans.
    Q("q26_pivot",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(date_trunc("week", col("ts")).cast("date").cast("string")
            .as("wk"))
          .pivot("event_type", Seq("click", "purchase"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
          .orderBy(col("wk"))
      },
      Some("""SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS wk,
              count(*) FILTER (WHERE event_type = 'click') AS click_n,
              round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click_sv,
              count(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
              round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_sv
              FROM events GROUP BY wk ORDER BY wk""")),

    // -- Sessionization (gaps-and-islands): a session breaks after a
    //    30-minute idle gap. One shuffle on user_id feeds the lag
    //    window, the running session-id sum, and the per-session count;
    //    the final histogram is a tiny second aggregate. Reported as
    //    events-per-session distribution.
    Q("q27_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        Tables.events(s, dir)
          .withColumn("prev", lag(col("ts"), 1).over(w))
          .withColumn("new_s",
            when(col("prev").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev")) >
                1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(col("n_events")).agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_events"))
      },
      Some("""WITH t AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events),
              s AS (
                SELECT user_id, ts,
                       CASE WHEN prev IS NULL
                              OR ts - prev > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM t),
              g AS (
                SELECT user_id,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
                FROM s),
              per AS (
                SELECT user_id, sid, count(*) AS n_events
                FROM g GROUP BY user_id, sid)
              SELECT n_events, count(*) AS n_sessions
              FROM per GROUP BY n_events ORDER BY n_events""")),

    // -- Salted skew join: lineitem⋈orders through Skew.saltedJoin —
    //    each orderkey spreads over 8 (key, salt) sub-keys, the orders
    //    side replicated per salt. The RESULT is salt-invariant (the
    //    oracle is the plain join); what salting changes is the
    //    partition layout under a hot key, the manual fix when one key
    //    exceeds an executor in a shuffled hash join and AQE's
    //    sort-merge skew split can't apply.
    Q("q28_salted_join",
      (s, dir) => {
        import graft.pipeline.Skew
        Skew.saltedJoin(
            Tables.load(s, dir, "lineitem"),
            Tables.load(s, dir, "orders").select(col("o_orderkey"),
              col("o_orderpriority")),
            "l_orderkey", "o_orderkey", factor = 8, joinType = "inner")
          .groupBy(col("o_orderpriority"))
          .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
               count(lit(1)).as("n"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, round(sum(l_quantity), 2) AS sum_qty,
              count(*) AS n
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // -- Semi-structured JSON column: extract a typed field from the
    //    events `props` JSON and aggregate it. get_json_object is
    //    codegen'd path extraction — no UDF, no full JSON parse into a
    //    struct when one field is needed.
    Q("q29_json_extract",
      (s, dir) => {
        Tables.events(s, dir)
          .select(col("event_type"),
                  get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(col("k")).as("n"),
               round(avg(col("k")), 2).as("avg_k"),
               max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
              count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
              round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2)
                AS avg_k,
              max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- The rest of the window-function family over one unique
    //    ordering: lag/lead, ntile, percent_rank, first/last value
    //    (last over an explicit full frame — the default frame stops
    //    at CURRENT ROW in both engines and would be a footgun).
    Q("q31_window_family",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        Tables.load(s, dir, "orders")
          .filter(col("o_custkey") < 60)
          .withColumn("prev_price", round(lag(col("o_totalprice"), 1).over(w), 2))
          .withColumn("next_price", round(lead(col("o_totalprice"), 1).over(w), 2))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("pr", round(percent_rank().over(w), 4))
          .withColumn("first_key", first(col("o_orderkey")).over(w))
          .withColumn("last_key", last(col("o_orderkey")).over(wf))
          .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
            col("next_price"), col("quartile"), col("pr"),
            col("first_key"), col("last_key"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
             |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  round(percent_rank() OVER w, 4) AS pr,
             |  first_value(o_orderkey) OVER w AS first_key,
             |  last_value(o_orderkey) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |    AS last_key
             |FROM orders WHERE o_custkey < 60
             |WINDOW w AS (PARTITION BY o_custkey
             |             ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // -- Explicit GROUPING SETS (the general form rollup/cube sugar):
    //    two independent dimension breakdowns + grand total in ONE
    //    pass over the fact table (Spark expands to a single
    //    Expand+Aggregate — not three scans).
    Q("q33_grouping_sets",
      (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderpriority, o_orderstatus,
                 count(*) AS n, round(sum(o_totalprice), 2) AS total,
                 CAST(grouping(o_orderpriority) AS BIGINT) AS g1,
                 CAST(grouping(o_orderstatus) AS BIGINT) AS g2
                 FROM orders_gs
                 GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
                 ORDER BY g1, g2, o_orderpriority NULLS LAST,
                          o_orderstatus NULLS LAST""")
      },
      Some("""SELECT o_orderpriority, o_orderstatus,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS total,
             |  CAST(grouping(o_orderpriority) AS BIGINT) AS g1,
             |  CAST(grouping(o_orderstatus) AS BIGINT) AS g2
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
             |ORDER BY g1, g2, o_orderpriority NULLS LAST,
             |         o_orderstatus NULLS LAST""".stripMargin)),

    // -- Higher-order array functions INSIDE the row (no explode, no
    //    shuffle until the final tiny roll-up): filter / transform /
    //    aggregate / exists over the split word array — codegen'd
    //    lambda expressions, the "functions, not UDFs" discipline.
    Q("q32_array_hof",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("source",
            "size(filter(split(text, ' '), w -> length(w) > 4)) AS long_words",
            "aggregate(transform(split(text, ' '), w -> length(w)), " +
              "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS total_chars",
            "CASE WHEN exists(split(text, ' '), w -> w = 'spark') " +
              "THEN 1 ELSE 0 END AS has_spark")
          .groupBy(col("source"))
          .agg(sum(col("long_words")).as("long_words"),
               sum(col("total_chars")).as("word_chars"),
               sum(col("has_spark")).as("docs_with_spark"))
          .orderBy(col("source"))
      },
      Some("""SELECT source,
             |  CAST(sum(len(list_filter(string_split(text, ' '),
             |                           w -> length(w) > 4))) AS BIGINT)
             |    AS long_words,
             |  CAST(sum(list_aggregate(list_transform(string_split(text, ' '),
             |                                         w -> length(w)),
             |                          'sum')) AS BIGINT) AS word_chars,
             |  CAST(sum(CASE WHEN list_contains(string_split(text, ' '), 'spark')
             |                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_spark
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // -- Bucketed co-located join: lineitem and orders pre-bucketed by
    //    orderkey into the same bucket count, so the fact-fact join
    //    needs NO exchange on either side — the 100 TB answer to
    //    repeated large-table joins (pay one bucketed write, then every
    //    downstream join on that key is shuffle-free; PlanSpec pins the
    //    exchange-free plan). The merge hint forces SMJ so the demo
    //    doesn't degenerate to broadcast at test scale; at real scale
    //    SMJ is what the planner picks anyway.
    Q("q30_bucketed_join",
      (s, dir) => {
        val (lt, ot) = stageBucketed(s, dir)
        val l = s.table(lt).hint("merge")
        val o = s.table(ot)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
               round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
                 .as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Materialized-rollup ROUTING — the engine's first whole-plan
    // Catalyst rewrite: the query below is written against the RAW
    // events table (the oracle replays it there), but a registered
    // daily rollup makes the optimizer swap the relation and answer
    // monthly sums/counts/mins/maxes from the pre-aggregate — the
    // materialized-view selection a 100 TB event log lives by
    // (RollupRoutingSpec asserts the executed plan reads the ROLLUP
    // file and not the raw one). The dim-only filter commutes with
    // the rollup's grouping; the MONTH trunc is coarser than the
    // rollup's DAY buckets, so trunc-of-trunc is exact.
    Q("q36_rollup_routing",
      (s, dir) => {
        val base = Tables.events(s, dir)
        val rollup = s.read.parquet(stageRollup(s, dir))
        graft.plans.RollupRouting.register(s, base, rollup,
          timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
          sums = Map("value" -> "value_sum"),
          mins = Map("value" -> "value_min"),
          maxs = Map("value" -> "value_max"),
          countCol = Some("cnt"))
        base.filter(col("event_type") =!= "purchase")
          .groupBy(expr("date_trunc('MONTH', ts)")
              .cast("date").cast("string").as("month"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("value_sum"),
               round(min(col("value")), 2).as("value_min"),
               round(max(col("value")), 2).as("value_max"))
          .orderBy(col("month"), col("event_type"))
      },
      Some("""SELECT CAST(CAST(date_trunc('MONTH', ts) AS DATE) AS VARCHAR)
              |    AS month, event_type,
              |  count(*) AS n,
              |  round(sum(value), 2) AS value_sum,
              |  round(min(value), 2) AS value_min,
              |  round(max(value), 2) AS value_max
              |FROM events WHERE event_type <> 'purchase'
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Rollup routing widened to the decomposable aggregates: avg(m)
    // routes as sum(sum_col)/sum(cnt_col) — the exact decomposition —
    // and count(m) as sum of the rollup's per-measure NON-NULL count
    // column. The query is written (and oracle-replayed) against the
    // RAW events table; RollupRoutingSpec plan-asserts the swap and
    // the negative cases (avg without a registered count column never
    // routes). avg is rendered to 6 decimals so the decomposed
    // double division and DuckDB's agree bit-for-bit after rounding.
    Q("q37_rollup_avg_routing",
      (s, dir) => {
        val base = Tables.events(s, dir)
        val rollup = s.read.parquet(stageRollup(s, dir))
        graft.plans.RollupRouting.register(s, base, rollup,
          timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
          sums = Map("value" -> "value_sum"),
          mins = Map("value" -> "value_min"),
          maxs = Map("value" -> "value_max"),
          countCol = Some("cnt"),
          counts = Map("value" -> "value_cnt"))
        base.filter(col("event_type") =!= "purchase")
          .groupBy(expr("date_trunc('MONTH', ts)")
              .cast("date").cast("string").as("month"),
            col("event_type"))
          .agg(round(avg(col("value")), 6).as("value_avg"),
               count(col("value")).as("value_n"))
          .orderBy(col("month"), col("event_type"))
      },
      Some("""SELECT CAST(CAST(date_trunc('MONTH', ts) AS DATE) AS VARCHAR)
              |    AS month, event_type,
              |  round(sum(value) / count(value), 6) AS value_avg,
              |  count(value) AS value_n
              |FROM events WHERE event_type <> 'purchase'
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Sketch-aware rollup routing — the Druid HLL-metric rollup shape:
    // hll_sketch_agg(user_id) over the RAW table routes to
    // hll_union_agg of the rollup's pre-aggregated per-day sketches.
    // Exactly the merged-sketch value a distributed raw scan computes
    // (union state is register-wise max — order-insensitive), and in
    // the coupon-exact regime (per-group distincts far below the
    // lgK=12 sketch's promotion threshold at this SF) the estimate IS
    // the exact distinct count, so the oracle replays it as
    // count(DISTINCT user_id) hash-exactly. RollupRoutingSpec pins
    // the plan swap, routed==unrouted value equality, and the lgK-
    // mismatch negative.
    Q("q38_rollup_sketch_routing",
      (s, dir) => {
        val base = Tables.events(s, dir)
        val rollup = s.read.parquet(stageRollup(s, dir))
        graft.plans.RollupRouting.register(s, base, rollup,
          timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
          sums = Map("value" -> "value_sum"),
          mins = Map("value" -> "value_min"),
          maxs = Map("value" -> "value_max"),
          countCol = Some("cnt"),
          counts = Map("value" -> "value_cnt"),
          hlls = Map("user_id" -> (("user_hll", 12))))
        base.filter(col("event_type") =!= "purchase")
          .groupBy(expr("date_trunc('MONTH', ts)")
              .cast("date").cast("string").as("month"),
            col("event_type"))
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
            .as("approx_users"))
          .orderBy(col("month"), col("event_type"))
      },
      Some("""SELECT CAST(CAST(date_trunc('MONTH', ts) AS DATE) AS VARCHAR)
              |    AS month, event_type,
              |  count(DISTINCT user_id) AS approx_users
              |FROM events WHERE event_type <> 'purchase'
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- Frequent-Items rollup routing: ds_freq(user_mod, 2048) over
    //    the base routes onto the rollup's pre-aggregated sketch blob
    //    column (same TypedImperativeAggregate blob-merges BinaryType
    //    children) — the Druid heavy-hitters-metric rollup shape. The
    //    query's maxMapSize must EQUAL the registered metric's (the
    //    lgK-guard class, q38); RollupRoutingSpec plan-asserts both the
    //    routed scan and the mismatch negative. user_mod's cardinality
    //    is bounded (100), so the sketch never purges and every routed
    //    estimate is an exact count — oracle-deterministic at any SF.
    Q("q39_rollup_freq_routing",
      (s, dir) => {
        val base = Tables.events(s, dir)
          .withColumn("user_mod", expr("cast(user_id % 100 as string)"))
        val rollup = s.read.parquet(stageRollup(s, dir))
        graft.plans.RollupRouting.register(s, base, rollup,
          timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
          freqs = Map("user_mod" -> (("user_mod_freq", 2048))))
        base.groupBy(expr("date_trunc('MONTH', ts)")
              .cast("date").cast("string").as("month"),
            col("event_type"))
          .agg(expr("ds_freq(user_mod, 2048)").as("sk"))
          .select(col("month"), col("event_type"),
            expr("ds_freq_max_error(sk)").as("max_err"),
            posexplode(expr("ds_freq_topk(sk, 3)")))
          .select(col("month"), col("event_type"),
            (col("pos") + 1).cast("long").as("rank"),
            col("col.item").as("user_mod"), col("col.est").as("n"),
            col("max_err"))
          .orderBy(col("month"), col("event_type"), col("rank"))
      },
      Some("""WITH c AS (
             |  SELECT CAST(CAST(date_trunc('MONTH', ts) AS DATE) AS VARCHAR)
             |      AS month, event_type,
             |    CAST(user_id % 100 AS VARCHAR) AS user_mod, count(*) AS n
             |  FROM events GROUP BY 1, 2, 3),
             |r AS (
             |  SELECT month, event_type, user_mod, n, row_number() OVER (
             |    PARTITION BY month, event_type
             |    ORDER BY n DESC, user_mod) AS rank
             |  FROM c)
             |SELECT month, event_type, CAST(rank AS BIGINT) AS rank,
             |  user_mod, n, CAST(0 AS BIGINT) AS max_err
             |FROM r WHERE rank <= 3
             |ORDER BY month, event_type, rank""".stripMargin)),

    // -- Druid SQL's JSON function family (sql/DsJson.scala over the
    //    JSON-text surface): json_value (scalar-or-NULL, containers
    //    null out — RETURNING spelled as an outer CAST), json_query
    //    (JSON serialization of any node), json_keys, json_paths,
    //    try_parse_json. JsonFnSpec pins per-function semantics and
    //    json_value's bitmap pushdown on nested columns.
    Q("q40_json_fn_family",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events_jfn")
        s.sql("""SELECT event_type,
                   count(*) AS n,
                   sum(CAST(json_value(props, '$.k') AS BIGINT)) AS sum_k,
                   max(json_query(props, '$.k')) AS max_kq,
                   max(array_join(json_keys(props, '$'), ',')) AS keys,
                   max(array_join(json_paths(props), ',')) AS paths
                 FROM events_jfn
                 WHERE try_parse_json(props) IS NOT NULL
                 GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |       AS BIGINT) AS sum_k,
             |  max(CAST(json_extract(props, '$.k') AS VARCHAR)) AS max_kq,
             |  max('k') AS keys, max('$.k') AS paths
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- HOT-KEY-ONLY salting (Skew.hotKeySaltedJoin): measure the
    //    fact key histogram, salt just the keys above the threshold,
    //    join the cold majority plain, union. Blanket salting
    //    replicates the whole dim side ×factor whether or not skew
    //    exists (the sf10 wave-3 probe measured q28's uniform ×8 salt
    //    at 2–5× the plain AQE join); this pays replication only where
    //    needed and degrades to the plain join when no key is hot. The
    //    fact here is MADE skewed (70% of rows on one key) so the hot
    //    path actually exercises.
    Q("q41_hotkey_salted_join",
      (s, dir) => {
        import graft.pipeline.Skew
        val fact = Tables.events(s, dir)
          .withColumn("skew_key",
            when(col("user_id") % 10 < 7, 0L)
              .otherwise(col("user_id") % 1000))
        val dim = Tables.events(s, dir)
          .select((col("user_id") % 1000).as("dk")).distinct()
          .withColumn("bucket", (col("dk") % 7).cast("long"))
        Skew.hotKeySaltedJoin(fact, dim, "skew_key", "dk",
            factor = 8, hotThreshold = 1000)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("sum_v"))
          .orderBy(col("bucket"))
      },
      Some("""WITH fact AS (
             |  SELECT CASE WHEN user_id % 10 < 7 THEN 0
             |              ELSE user_id % 1000 END AS skew_key, value
             |  FROM events),
             |d2 AS (SELECT dk, dk % 7 AS bucket FROM (
             |  SELECT DISTINCT user_id % 1000 AS dk FROM events)),
             |j AS (SELECT bucket, value FROM fact JOIN d2
             |      ON skew_key = dk)
             |SELECT bucket, count(*) AS n, round(sum(value), 2) AS sum_v
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- Tuple-sketch rollup routing (completes the sketch-routing
    //    family alongside q38 HLL / q39 Frequent-Items / the spec's
    //    quantiles case): ds_tuple(user_mod, tup_m, 4096) over the
    //    registered base re-plans onto the rollup's pre-aggregated
    //    arrayOfDoubles blob column — tuple UNION sums metric vectors
    //    for shared keys, so the routed sketch equals a distributed
    //    raw build. Key cardinality is bounded at 100 (theta stays 1:
    //    estimates are exact counts at ANY SF) and the metric is
    //    integer-valued floor(value) (order-independent sums), which
    //    is what lets this be an ORACLE gate rather than a tolerance
    //    check. nominalEntries mismatch refuses routing
    //    (RollupRoutingSpec's negative).
    Q("q42_rollup_tuple_routing",
      (s, dir) => {
        val base = Tables.events(s, dir)
          .withColumn("user_mod", expr("cast(user_id % 100 as string)"))
          .withColumn("tup_m", expr("array(floor(value))"))
        val rollup = s.read.parquet(stageRollup(s, dir))
        graft.plans.RollupRouting.register(s, base, rollup,
          timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
          tuples = Map(("user_mod", "tup_m") -> (("user_tuple", 4096))))
        base.groupBy(expr("date_trunc('MONTH', ts)")
              .cast("date").cast("string").as("month"),
            col("event_type"))
          .agg(expr("ds_tuple(user_mod, tup_m, 4096)").as("sk"))
          .select(col("month"), col("event_type"),
            expr("ds_tuple_estimate(sk)").cast("long").as("distinct_users"),
            expr("ds_tuple_n(sk)").as("n_keys"),
            round(expr("element_at(ds_tuple_metrics_sum(sk), 1)"), 1)
              .as("sum_v"))
          .orderBy(col("month"), col("event_type"))
      },
      Some("""SELECT
             |  CAST(CAST(date_trunc('MONTH', ts) AS DATE) AS VARCHAR)
             |    AS month,
             |  event_type,
             |  CAST(count(DISTINCT user_id % 100) AS BIGINT)
             |    AS distinct_users,
             |  CAST(count(DISTINCT user_id % 100) AS BIGINT) AS n_keys,
             |  round(sum(floor(value)), 1) AS sum_v
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
  )

  /** Daily events rollup (event_type dim; sum/min/max of value plus
    * count) written once per JVM and scale dir — the materialized
    * half of q36's rollup routing. Lives under /tmp.
    */
  def stageRollup(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"/tmp/graft_rollup/$tag/events_daily"
    Staging.once(out) {
      graft.sql.GraftExtensions.install(s) // ds_freq for the freq metric
      Tables.events(s, dir)
        .groupBy(expr("date_trunc('DAY', ts)").as("ts"), col("event_type"))
        .agg(sum(col("value")).as("value_sum"),
             count(lit(1)).as("cnt"),
             min(col("value")).as("value_min"),
             max(col("value")).as("value_max"),
             // per-measure NON-NULL count: what avg(value) and
             // count(value) decompose onto (q37)
             count(col("value")).as("value_cnt"),
             // pre-aggregated distinct-user sketch: what
             // hll_sketch_agg(user_id, 12) routes onto (q38) — the
             // Druid-rollup HLL-metric shape
             expr("hll_sketch_agg(user_id, 12)").as("user_hll"),
             // pre-aggregated Frequent-Items sketch: what
             // ds_freq(user_mod, 2048) routes onto (q39) — cardinality
             // bounded at 100 so the sketch never purges and every
             // routed estimate is an exact count at ANY scale
             expr("ds_freq(cast(user_id % 100 as string), 2048)")
               .as("user_mod_freq"),
             // pre-aggregated quantiles sketch: what
             // ds_quantiles_sketch(value, 128) routes onto
             // (RollupRoutingSpec's quantiles case — value-equal in
             // the exact regime, day-level groups under k)
             expr("ds_quantiles_sketch(value, 128)").as("value_q"),
             // pre-aggregated Tuple (arrayOfDoubles) sketch: what
             // ds_tuple(user_mod, tup_m, 4096) routes onto (q42) —
             // key cardinality bounded at 100 so theta stays 1 and
             // the routed estimate/sums are exact at ANY scale; the
             // metric is floor(value), integer-valued so per-key sums
             // are order-independent
             expr("ds_tuple(cast(user_id % 100 as string), " +
               "array(floor(value)), 4096)").as("user_tuple"),
             // pre-aggregated t-digest: what tdigest_agg(value, 100)
             // routes onto (RollupRoutingSpec's tdigest case —
             // spec-gated with rank-error tolerance, no exact regime)
             expr("tdigest_agg(value, 100)").as("value_td"))
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** Write lineitem + orders as parquet tables bucketed by orderkey
    * (8 buckets, one file per bucket via a matching repartition) once
    * per JVM and scale dir; returns the two table names. External-table
    * paths live under /tmp so nothing touches the repo or testdata.
    */
  def stageBucketed(s: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    Staging.once(s"/tmp/graft_bucketed/$tag") {
      val (lt, ot) = (s"li_bkt_$tag", s"ord_bkt_$tag")
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"/tmp/graft_bucketed/$tag/lineitem")
        .saveAsTable(lt)
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"/tmp/graft_bucketed/$tag/orders")
        .saveAsTable(ot)
      (lt, ot)
    }
  }

  /** The bucketed tables (q30) and the rollup (q36-q39, q42). */
  def staging: Seq[StageJob] = Seq(
    StageJob("bucketed", stageBucketed), StageJob("rollup", stageRollup))
}
