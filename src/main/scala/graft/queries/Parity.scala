package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryUtil._

/** Reference-parity relational surface (SURVEY.md §2.2–§2.8): scans,
  * projection/filter, all five join kinds plus semi/anti, hash
  * aggregation, DISTINCT, sorts, limit/offset, set operations,
  * subqueries, CASE/NULL handling, and the scalar function library
  * the reference reaches through DataFusion (SURVEY §2.8,
  * `/root/reference/src/execute_impl/select.rs:41-95`). Everything is
  * declared through the DataFrame API so Catalyst plans pushdown,
  * pruning and join strategy selection itself.
  *
  * Every query ends in a deterministic total ORDER BY and aliases
  * every computed column identically to its oracle SQL.
  */
object Parity {

  val defs: Map[String, Q] = Map(

    // ---- aggregation (TPC-H Q1 shape): partial+final hash agg, exact
    // integer-cents sums so the hash compare is order-insensitive.
    "q01_pricing_summary" -> Q(
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            money(sum(cents(col("l_extendedprice")))).as("sum_base_price"),
            money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")))))
              .as("sum_disc_price"),
            (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("cnt"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        |CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |${oSumCents("l_extendedprice")} AS sum_base_price,
        |${oSumCents4("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
        |sum(l_quantity)/count(*) AS avg_qty,
        |count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- filter + projection with row-level arithmetic (row-level
    // doubles are bit-identical across engines; no rounding needed).
    "q02_filter_project" -> Q(
      (s, dir) => tbl(s, dir, "lineitem")
        .filter(col("l_discount").between(0.02, 0.06)
          && col("l_quantity") < 30
          && col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
        // (l_orderkey, l_linenumber) is NOT unique in this generator's
        // lineitem — net_price completes the total order.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_price"))
        .limit(500),
      Some("""SELECT l_orderkey, l_linenumber,
        |l_extendedprice*(1-l_discount) AS net_price
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 30
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |ORDER BY l_orderkey, l_linenumber, net_price LIMIT 500""".stripMargin)),

    // ---- 3-way inner join + agg + top-k (TPC-H Q3 shape). customer
    // is tiny vs lineitem: Catalyst/AQE broadcasts it.
    "q03_top_revenue_customers" -> Q(
      (s, dir) => {
        val c = tbl(s, dir, "customer")
        val o = tbl(s, dir, "orders")
        val l = tbl(s, dir, "lineitem")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")))))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(10)
      },
      Some(s"""SELECT c_custkey, c_name,
        |${oSumCents4("l_extendedprice*(1-l_discount)")} AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin)),

    // ---- left outer join: every customer, zero-order ones included.
    "q04_left_join_order_counts" -> Q(
      (s, dir) => {
        val c = tbl(s, dir, "customer")
        val o = tbl(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // ---- right outer join (reference forwards RIGHT OUTER verbatim,
    // SURVEY §2.3).
    "q05_right_join" -> Q(
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        val c = tbl(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"), "right")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            money(sum(cents(col("o_totalprice")))).as("total_spend"))
          .orderBy(col("c_custkey"))
      },
      Some(s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
        |${oSumCents("o_totalprice")} AS total_spend
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // ---- full outer join over deliberately mismatched key sets.
    "q06_full_outer_join" -> Q(
      (s, dir) => {
        val a = tbl(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_f_orders"))
        val b = tbl(s, dir, "customer")
          .filter(col("c_acctbal") > 8000)
          .select(col("c_custkey"), col("c_acctbal"))
        a.join(b, a("o_custkey") === b("c_custkey"), "full")
          .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
            col("n_f_orders"), col("c_acctbal"))
          .orderBy(col("custkey"))
      },
      Some("""SELECT coalesce(o_custkey, c_custkey) AS custkey, n_f_orders, c_acctbal
        |FROM (SELECT o_custkey, count(*) AS n_f_orders FROM orders
        |      WHERE o_orderstatus = 'F' GROUP BY o_custkey) a
        |FULL OUTER JOIN (SELECT c_custkey, c_acctbal FROM customer
        |      WHERE c_acctbal > 8000) b
        |ON a.o_custkey = b.c_custkey
        |ORDER BY custkey""".stripMargin)),

    // ---- cross join (reference: implicit comma-list FROM, §2.3).
    "q07_cross_join" -> Q(
      (s, dir) => tbl(s, dir, "region")
        .crossJoin(tbl(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin)),

    // ---- semi join (EXISTS / IN): Spark left_semi.
    "q08_semi_join" -> Q(
      (s, dir) => {
        val c = tbl(s, dir, "customer")
        val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- anti join (NOT EXISTS): Spark left_anti. Inner side is
    // filtered so the anti set is non-trivial (every customer has
    // *some* order in this corpus).
    "q09_anti_join" -> Q(
      (s, dir) => {
        val c = tbl(s, dir, "customer")
        val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- SELECT DISTINCT (§2.4).
    "q10_distinct" -> Q(
      (s, dir) => tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- top-k: sort + limit fuse into TakeOrderedAndProject.
    "q11_topk_orders" -> Q(
      (s, dir) => tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- multi-column mixed-direction sort.
    "q12_sort_multi" -> Q(
      (s, dir) => tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .orderBy(col("p_brand").asc, col("p_size").desc, col("p_partkey").asc)
        .limit(50),
      Some("""SELECT p_partkey, p_brand, p_size FROM part
        |ORDER BY p_brand ASC, p_size DESC, p_partkey ASC LIMIT 50""".stripMargin)),

    // ---- UNION ALL across heterogeneous sources.
    "q13_union_all" -> Q(
      (s, dir) => {
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey").as("entity_key"), lit("customer").as("src"))
        val su = tbl(s, dir, "supplier")
          .select(col("s_suppkey").as("entity_key"), lit("supplier").as("src"))
        c.union(su).orderBy(col("src"), col("entity_key"))
      },
      Some("""SELECT * FROM (
        |  SELECT c_custkey AS entity_key, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS entity_key, 'supplier' AS src FROM supplier)
        |ORDER BY src, entity_key""".stripMargin)),

    // ---- UNION DISTINCT.
    "q14_union_distinct" -> Q(
      (s, dir) => {
        val n = tbl(s, dir, "nation").select(col("n_regionkey").as("k"))
        val r = tbl(s, dir, "region").select(col("r_regionkey").as("k"))
        n.union(r).distinct().orderBy(col("k"))
      },
      Some("""SELECT n_regionkey AS k FROM nation
        |UNION SELECT r_regionkey AS k FROM region ORDER BY k""".stripMargin)),

    // ---- INTERSECT (distinct semantics on both engines).
    "q15_intersect" -> Q(
      (s, dir) => tbl(s, dir, "nation").select(col("n_nationkey").as("k"))
        .intersect(tbl(s, dir, "region").select(col("r_regionkey").as("k")))
        .orderBy(col("k")),
      Some("""SELECT n_nationkey AS k FROM nation
        |INTERSECT SELECT r_regionkey AS k FROM region ORDER BY k""".stripMargin)),

    // ---- EXCEPT.
    "q16_except" -> Q(
      (s, dir) => tbl(s, dir, "nation").select(col("n_nationkey").as("k"))
        .except(tbl(s, dir, "region").select(col("r_regionkey").as("k")))
        .orderBy(col("k")),
      Some("""SELECT n_nationkey AS k FROM nation
        |EXCEPT SELECT r_regionkey AS k FROM region ORDER BY k""".stripMargin)),

    // ---- GROUP BY + HAVING (§2.4).
    "q22_having" -> Q(
      (s, dir) => tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin)),

    // ---- CASE WHEN buckets + NULL constructors (nullif / count skips
    // nulls).
    "q23_case_null" -> Q(
      (s, dir) => tbl(s, dir, "lineitem")
        .select(
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 30, "mid")
            .otherwise("high").as("band"),
          nullif(col("l_discount"), lit(0.0)).as("nn_disc"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("cnt"),
          count(col("nn_disc")).as("n_discounted"))
        .orderBy(col("band")),
      Some("""SELECT CASE WHEN l_quantity < 10 THEN 'low'
        |  WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS band,
        |count(*) AS cnt,
        |count(nullif(l_discount, 0.0)) AS n_discounted
        |FROM lineitem GROUP BY 1 ORDER BY band""".stripMargin)),

    // ---- IN-list / BETWEEN / LIKE predicate grammar (§2.8).
    "q24_in_between_like" -> Q(
      (s, dir) => tbl(s, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
          && col("p_size").between(5, 35)
          && col("p_name").like("%e%"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name, p_brand, p_size FROM part
        |WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
        |  AND p_size BETWEEN 5 AND 35 AND p_name LIKE '%e%'
        |ORDER BY p_partkey""".stripMargin)),

    // ---- scalar math library (§2.8). sqrt is IEEE-exact; exp/ln/pow
    // can differ by an ulp between libm implementations, so rounded.
    "q25_math_fns" -> Q(
      (s, dir) => tbl(s, dir, "part")
        .select(col("p_partkey"),
          abs(col("p_size") - 25).as("abs_v"),
          ceil(col("p_retailprice")).as("ceil_v"),
          floor(col("p_retailprice")).as("floor_v"),
          sqrt(col("p_size")).as("sqrt_v"),
          round(exp(col("p_size") / 10.0), 6).as("exp_v"),
          round(log(col("p_size")), 8).as("ln_v"),
          round(log10(col("p_size")), 8).as("log10_v"),
          round(pow(col("p_size"), 2.0), 6).as("pow_v"),
          signum(col("p_size") - 25).as("sign_v"),
          (col("p_partkey") % 7).as("mod_v"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
        |abs(p_size - 25) AS abs_v,
        |CAST(ceil(p_retailprice) AS BIGINT) AS ceil_v,
        |CAST(floor(p_retailprice) AS BIGINT) AS floor_v,
        |sqrt(p_size) AS sqrt_v,
        |round(exp(p_size/10.0), 6) AS exp_v,
        |round(ln(p_size), 8) AS ln_v,
        |round(log10(p_size), 8) AS log10_v,
        |round(pow(p_size, 2.0), 6) AS pow_v,
        |CAST(sign(p_size - 25) AS DOUBLE) AS sign_v,
        |p_partkey % 7 AS mod_v
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- scalar string library (§2.8).
    "q26_string_fns" -> Q(
      (s, dir) => tbl(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_mktsegment")).as("up_seg"),
          lower(col("c_name")).as("lo_name"),
          substring(col("c_name"), 10, 5).as("sub_name"),
          length(col("c_name")).cast("long").as("len_name"),
          concat_ws("-", col("c_mktsegment"), col("c_custkey").cast("string")).as("cw"),
          regexp_replace(col("c_name"), "Customer", "C").as("rep_name"),
          reverse(col("c_mktsegment")).as("rev_seg"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("lp"),
          rpad(col("c_mktsegment"), 12, "x").as("rp"),
          instr(col("c_name"), "#").cast("long").as("pos_hash"),
          trim(lpad(col("c_mktsegment"), 15, " ")).as("tr"),
          expr("left(c_name, 8)").as("left8"),
          expr("right(c_name, 4)").as("right4"),
          repeat(substring(col("c_name"), 1, 1), 3).as("rep3"),
          ascii(col("c_name")).as("asc_v"),
          md5(col("c_name")).as("md5_v"),
          sha2(col("c_name"), 256).as("sha256_v"),
          expr("split_part(c_name, '#', 2)").as("sp"),
          col("c_name").startsWith("Customer").as("sw"),
          translate(col("c_name"), "0123", "abcd").as("tl"))
        .orderBy(col("c_custkey")).limit(200),
      Some("""SELECT c_custkey,
        |upper(c_mktsegment) AS up_seg,
        |lower(c_name) AS lo_name,
        |substr(c_name, 10, 5) AS sub_name,
        |length(c_name) AS len_name,
        |concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS cw,
        |regexp_replace(c_name, 'Customer', 'C', 'g') AS rep_name,
        |reverse(c_mktsegment) AS rev_seg,
        |lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS lp,
        |rpad(c_mktsegment, 12, 'x') AS rp,
        |CAST(strpos(c_name, '#') AS BIGINT) AS pos_hash,
        |trim(lpad(c_mktsegment, 15, ' ')) AS tr,
        |left(c_name, 8) AS left8,
        |right(c_name, 4) AS right4,
        |repeat(substr(c_name, 1, 1), 3) AS rep3,
        |ascii(c_name) AS asc_v,
        |md5(c_name) AS md5_v,
        |sha256(c_name) AS sha256_v,
        |split_part(c_name, '#', 2) AS sp,
        |starts_with(c_name, 'Customer') AS sw,
        |translate(c_name, '0123', 'abcd') AS tl
        |FROM customer ORDER BY c_custkey LIMIT 200""".stripMargin)),

    // ---- date/time library (§2.8): extraction, formatting, trunc,
    // interval arithmetic, epoch millis.
    "q27_date_fns" -> Q(
      (s, dir) => tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dy"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate_str"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long")
            .as("days_since"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
            .as("month_start"),
          expr("date_format(o_orderdate + INTERVAL 30 DAY, 'yyyy-MM-dd')").as("plus30"))
        .orderBy(col("o_orderkey")).limit(300),
      Some("""SELECT o_orderkey,
        |year(o_orderdate) AS yr,
        |month(o_orderdate) AS mo,
        |day(o_orderdate) AS dy,
        |quarter(o_orderdate) AS qtr,
        |strftime(o_orderdate, '%Y-%m-%d') AS odate_str,
        |date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since,
        |strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
        |FROM orders ORDER BY o_orderkey LIMIT 300""".stripMargin)),

    // ---- COUNT(DISTINCT) single and multi (§2.4).
    "q28_count_distinct" -> Q(
      (s, dir) => tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          countDistinct(col("l_orderkey")).as("n_ord"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        |count(DISTINCT l_suppkey) AS n_supp,
        |count(DISTINCT l_partkey) AS n_part,
        |count(DISTINCT l_orderkey) AS n_ord
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- statistical aggregates (DataFusion 6 built-in family,
    // §2.4): rounded — these are genuinely order-sensitive.
    "q29_stats" -> Q(
      (s, dir) => tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_quantity")), 3).as("sd_qty"),
          round(var_samp(col("l_quantity")), 3).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qd"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        |round(stddev_samp(l_quantity), 3) AS sd_qty,
        |round(var_samp(l_quantity), 3) AS var_qty,
        |round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |round(covar_samp(l_quantity, l_discount), 4) AS cov_qd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- ordered array_agg / string_agg (DataFusion's array_agg,
    // §2.4) made deterministic by sorting inside the group.
    "q30_string_agg" -> Q(
      (s, dir) => {
        val c = tbl(s, dir, "customer").filter(col("c_custkey") < 200)
        c.groupBy(col("c_nationkey"))
          .agg(concat_ws(",", sort_array(collect_list(col("c_name")))).as("names"),
            count(lit(1)).as("cnt"))
          .orderBy(col("c_nationkey"))
      },
      Some("""SELECT c_nationkey,
        |string_agg(c_name, ',' ORDER BY c_name) AS names,
        |count(*) AS cnt
        |FROM customer WHERE c_custkey < 200
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ---- ROLLUP (beyond reference parity — Spark/DuckDB both native).
    "q31_rollup" -> Q(
      (s, dir) => tbl(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy(col("rflag"), col("lstatus")),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |coalesce(l_linestatus, 'ALL') AS lstatus,
        |count(*) AS cnt, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin)),

    // ---- CUBE.
    "q32_cube" -> Q(
      (s, dir) => tbl(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          money(sum(cents(col("o_totalprice")))).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"), col("total"))
        .orderBy(col("status"), col("priority")),
      Some(s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |coalesce(o_orderpriority, 'ALL') AS priority,
        |count(*) AS cnt, ${oSumCents("o_totalprice")} AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)),

    // ---- uncorrelated scalar subquery.
    "q33_scalar_subquery" -> Q(
      (s, dir) => {
        val p = tbl(s, dir, "part")
        val avgPrice = p.agg(avg(col("p_retailprice")).as("a"))
        p.join(avgPrice)
          .filter(col("p_retailprice") > col("a"))
          .select(col("p_partkey"), col("p_retailprice"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin)),

    // ---- correlated EXISTS with predicate on the inner side.
    "q34_exists_correlated" -> Q(
      (s, dir) => {
        val c = tbl(s, dir, "customer")
        val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 450000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer c WHERE EXISTS (
        |SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND o.o_totalprice > 450000) ORDER BY c_custkey""".stripMargin)),

    // ---- 5-way star join, revenue per nation (TPC-H Q5 shape): two
    // broadcastable dims + three fact-side joins; AQE picks strategy.
    "q35_regional_revenue" -> Q(
      (s, dir) => {
        val r = tbl(s, dir, "region")
        val n = tbl(s, dir, "nation")
        val c = tbl(s, dir, "customer")
        val o = tbl(s, dir, "orders")
        val l = tbl(s, dir, "lineitem")
        r.join(n, r("r_regionkey") === n("n_regionkey"))
          .join(c, n("n_nationkey") === c("c_nationkey"))
          .join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")))))
            .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""SELECT r_name, n_name,
        |${oSumCents4("l_extendedprice*(1-l_discount)")} AS revenue,
        |count(*) AS n_items
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // ---- LIMIT + OFFSET pagination over a total order.
    "q36_limit_offset" -> Q(
      (s, dir) => tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .offset(100).limit(20),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 20 OFFSET 100""".stripMargin)),

    // ---- remaining scalar surface: regexp extraction, hex, chr,
    // btrim, bit/octet length, greatest/least (§2.8 tail).
    "q44_more_scalars" -> Q(
      (s, dir) => tbl(s, dir, "customer")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          lower(hex(col("c_custkey"))).as("key_hex"),
          expr("chr(65 + CAST(c_custkey % 26 AS INT))").as("letter"),
          trim(concat(lit("  "), col("c_mktsegment"), lit("  "))).as("bt"),
          bit_length(col("c_mktsegment")).cast("long").as("bits"),
          octet_length(col("c_mktsegment")).cast("long").as("octets"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
          least(col("c_acctbal"), lit(5000.0)).as("bal_cap"))
        .orderBy(col("c_custkey")).limit(300),
      Some("""SELECT c_custkey,
        |regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |lower(to_hex(c_custkey)) AS key_hex,
        |chr(65 + CAST(c_custkey % 26 AS INT)) AS letter,
        |trim(concat('  ', c_mktsegment, '  ')) AS bt,
        |bit_length(c_mktsegment) AS bits,
        |octet_length(encode(c_mktsegment)) AS octets,
        |greatest(c_acctbal, 0.0) AS bal_floor,
        |least(c_acctbal, 5000.0) AS bal_cap
        |FROM customer ORDER BY c_custkey LIMIT 300""".stripMargin)),

    // ---- HLL approximate distinct (DataFusion's approx_distinct,
    // SURVEY §2.4). No oracle — approximation differs per engine;
    // OperatorSpec bounds the relative error against the exact count.
    // HLL sketch values are engine-specific, but the HLL CONTRACT is
    // not: with rsd 0.02 the estimate must sit within a few σ of the
    // exact count. Emitting the exact counts (DuckDB-matchable) plus
    // deterministic within-6% (3σ) flags turns the old no_oracle row
    // into a hash-matched error-bound oracle — Spark's HLL is
    // deterministic for a given dataset, so the flags are stable
    // facts the oracle simply states as 1. The sketch-level error
    // distribution stays spec-pinned (ApproxSpec).
    "q42_approx_distinct" -> Q(
      (s, dir) => {
        // Two exact distincts + two HLLs in ONE agg forces Spark's
        // multi-distinct rewrite: a 3× Expand of the scan (one
        // replica per distinct group) feeding a fat shuffle. Split
        // into two single-distinct aggs — each stays on the
        // Expand-free two-phase plan — and join the 3-row group
        // frames (bench: 7.9s → well under 1s at sf0.1).
        val li = tbl(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_partkey"), col("l_orderkey"))
        li.groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .join(li.groupBy(col("l_returnflag"))
            .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
              countDistinct(col("l_orderkey")).as("exact_orders")),
            Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * 0.06).cast("long").as("parts_within_6pct"),
          (abs(col("ao") - col("exact_orders")) <=
            col("exact_orders") * 0.06).cast("long").as("orders_within_6pct"))
        .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  CAST(1 AS BIGINT) AS parts_within_6pct,
        |  CAST(1 AS BIGINT) AS orders_within_6pct
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // ---- approximate percentiles (Greenwald-Khanna sketch): the
    // scale path when q47's exact percentile map would blow up on a
    // high-cardinality value domain — sketch state is bounded by the
    // accuracy parameter, not the domain. Engine-specific sketch →
    // rows-only check; the error-bound spec in OperatorSpec pins
    // accuracy against the exact aggregate.
    // Same upgrade as q42: the GK-family sketch picks engine-specific
    // elements, but its RANK guarantee (relative rank error ≤
    // 1/accuracy) is checkable deterministically — join the picked
    // p50/p95 back against the group and flag whether their ranks
    // land inside the guaranteed window (±εn, with one rank of
    // boundary slack). The oracle states n from DuckDB and the flags
    // as 1; sketch internals stay spec-pinned.
    "q53_approx_percentile" -> Q(
      (s, dir) => {
        val cents = tbl(s, dir, "orders").select(col("o_orderpriority"),
          expr("CAST(round(o_totalprice*100) AS BIGINT)").as("c"))
        val ap = cents.groupBy(col("o_orderpriority"))
          .agg(expr("approx_percentile(c, array(0.5D, 0.95D), 10000)")
            .as("ac"))
          .select(col("o_orderpriority"), col("ac")(0).as("p50"),
            col("ac")(1).as("p95"))
        val eps = 1.0 / 10000
        def inBounds(q: Double, le: Column, lt: Column, n: Column): Column =
          (le >= ceil(n * q - n * eps - lit(1))) &&
            (lt <= floor(n * q + n * eps + lit(1)))
        cents.join(broadcast(ap), Seq("o_orderpriority"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum((col("c") <= col("p50")).cast("long")).as("le50"),
            sum((col("c") < col("p50")).cast("long")).as("lt50"),
            sum((col("c") <= col("p95")).cast("long")).as("le95"),
            sum((col("c") < col("p95")).cast("long")).as("lt95"))
          .select(col("o_orderpriority"), col("n"),
            inBounds(0.5, col("le50"), col("lt50"), col("n"))
              .cast("long").as("p50_in_bounds"),
            inBounds(0.95, col("le95"), col("lt95"), col("n"))
              .cast("long").as("p95_in_bounds"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS p50_in_bounds,
        |  CAST(1 AS BIGINT) AS p95_in_bounds
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // ---- salted two-phase aggregation (skew path; must equal the
    // straight groupBy, which is the oracle).
    "q43_salted_agg" -> Q(
      (s, dir) => graft.operators.Skew.saltedSumCount(
          tbl(s, dir, "lineitem")
            .withColumn("qty_cents", QueryUtil.cents(col("l_quantity"))),
          Seq("l_returnflag"), "qty_cents", 16)
        .select(col("l_returnflag"),
          col("sum_qty_cents").cast("long").as("sum_qty_cents"), col("cnt"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        |CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- mixed equi + non-equi join condition.
    "q41_nonequi_join" -> Q(
      (s, dir) => {
        val p = tbl(s, dir, "part")
        val l = tbl(s, dir, "lineitem")
        p.join(l, p("p_partkey") === l("l_partkey") && l("l_quantity") > p("p_size"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_over"),
            sum(col("l_quantity")).cast("long").as("qty_over"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, count(*) AS n_over,
        |CAST(sum(l_quantity) AS BIGINT) AS qty_over
        |FROM part JOIN lineitem
        |ON p_partkey = l_partkey AND l_quantity > p_size
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ---- GROUPING SETS (beyond ROLLUP/CUBE): explicit grouping-set
    // list through the typed API; exceeds reference parity the same
    // way q31/q32 do (SURVEY §2.4 marks these absent in DataFusion 6).
    "q45_grouping_sets" -> Q(
      (s, dir) => tbl(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          money(sum(cents(col("o_totalprice")))).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |${oSumCents("o_totalprice")} AS revenue
        |FROM orders GROUP BY GROUPING SETS
        |  ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // ---- exact grouped percentiles (median + p95). Integer-cents
    // input makes the sort key exact; both engines interpolate with
    // the same (n-1)*q linear rule, so the doubles agree bit-for-bit.
    // Spark's exact `percentile` is a partial-aggregable sketch-free
    // aggregate: per-partition value maps combine map-side, only the
    // (value, count) maps cross the shuffle — not the raw rows.
    // MEMORY CONTRACT: that value→count map is O(distinct values per
    // group). Integer cents on a bounded price domain keeps it small
    // here; on an unbounded/continuous domain the map grows with the
    // group and exact percentile becomes a per-group memory risk —
    // switch to the approx_percentile twin (q53, bounded GK sketch
    // with a spec'd error bound) at that point.
    "q47_percentiles" -> Q(
      (s, dir) => tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile(CAST(round(o_totalprice*100) AS BIGINT), 0.5D)")
            .as("p50_cents"),
          expr("percentile(CAST(round(o_totalprice*100) AS BIGINT), 0.95D)")
            .as("p95_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
        |quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5)
        |  AS p50_cents,
        |quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.95)
        |  AS p95_cents,
        |count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // ---- UNPIVOT: wide per-nation metrics back to long form — the
    // melt every metrics/report table eventually needs. Spark's
    // Dataset.unpivot runs as a narrow Expand (each input row fans
    // out in place, no shuffle beyond the upstream aggregate); the
    // oracle uses the SQL-standard UNPIVOT clause.
    "q52_unpivot" -> Q(
      (s, dir) => {
        val wide = tbl(s, dir, "customer")
          .join(tbl(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"),
            sum(cents(col("c_acctbal"))).as("sum_bal_cents"),
            max(cents(col("c_acctbal"))).as("max_bal_cents"))
        wide.unpivot(
            Array(col("n_name")),
            Array(col("n_cust"), col("sum_bal_cents"),
              col("max_bal_cents")),
            "metric", "value")
          .orderBy(col("n_name"), col("metric"))
      },
      Some("""WITH w AS (SELECT n_name, count(*) AS n_cust,
        |    CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_cents,
        |    max(CAST(round(c_acctbal*100) AS BIGINT)) AS max_bal_cents
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, metric, value
        |FROM w UNPIVOT (value FOR metric
        |  IN (n_cust, sum_bal_cents, max_bal_cents))
        |ORDER BY n_name, metric""".stripMargin)),

    // ---- the reference's STATEMENT SURFACE under the oracle gate:
    // the same join+aggregate a user of the reference would type,
    // executed through `GraftEngine.sql` (statement frontend →
    // catalog-registered external tables → Catalyst), not the
    // DataFrame API. Engine DDL/DML behavior is spec-gated in
    // EngineSpec (DuckDB has no MySQL statement surface); THIS entry
    // pins that a SELECT through the engine produces byte-identical
    // results to the ANSI oracle — the query surface itself is
    // engine-independent. Fresh throwaway warehouse per call (catalog
    // metadata only — the returned frame reads the testdata parquet
    // directly, so it outlives the warehouse).
    "q62_engine_sql" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q62_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q62")
        eng.sql("use q62")
        eng.sql(s"create external table ord USING PARQUET LOCATION '$dir/orders.parquet'")
        eng.sql(s"create external table cust USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """select c_mktsegment,
            |  count(*) as n_orders,
            |  count(distinct o_custkey) as n_customers,
            |  cast(sum(cast(round(o_totalprice * 100) as bigint)) as double) / 100.0
            |    as total_price
            |from ord join cust on o_custkey = c_custkey
            |where o_orderstatus <> 'X'
            |group by c_mktsegment
            |having count(*) > 0
            |order by c_mktsegment""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""SELECT c_mktsegment,
        |  count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'X'
        |GROUP BY c_mktsegment
        |HAVING count(*) > 0
        |ORDER BY c_mktsegment""".stripMargin)),

    // ---- the §2.7 storage-mutating family under the oracle gate:
    // INSERT…SELECT into a managed versioned table, a COW UPDATE, a
    // COW DELETE, then BOTH the pre-mutation snapshot (time-travel
    // `VERSION AS OF`) and the current image aggregated in one
    // statement through `GraftEngine.sql`. The oracle reconstructs
    // both snapshots declaratively from the source table, so the
    // engine's write path, version store, and time-travel reads are
    // all hash-gated — not just spec-gated. Fresh throwaway
    // warehouse per call; managed data is customer-sized (the
    // smallest interesting fact table), so the entry stays cheap.
    "q63_engine_time_travel" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q63_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.setVersionRetention(10)
        eng.sql("create schema q63")
        eng.sql("use q63")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create table cust (c_custkey int, c_name char,
            |c_nationkey int, c_acctbal float, c_mktsegment char,
            |PRIMARY KEY(c_custkey))""".stripMargin)
        eng.sql(
          """insert into cust select c_custkey, c_name, c_nationkey,
            |c_acctbal, c_mktsegment from cust_src""".stripMargin) // v1
        eng.sql(
          "update cust set c_acctbal = 0.0 where c_mktsegment = 'BUILDING'") // v2
        eng.sql("delete from cust where c_nationkey = 3")                    // v3
        eng.sql(
          """select 'v1' as snap, c_mktsegment as seg, count(*) as n,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0 as bal
            |from cust version as of 1 group by c_mktsegment
            |union all
            |select 'cur' as snap, c_mktsegment as seg, count(*) as n,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0 as bal
            |from cust group by c_mktsegment
            |order by snap, seg""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH v1 AS (SELECT 'v1' AS snap, c_mktsegment AS seg,
        |    count(*) AS n,
        |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |      / 100.0 AS bal
        |  FROM customer GROUP BY c_mktsegment),
        |cur AS (SELECT 'cur' AS snap, c_mktsegment AS seg,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
        |        THEN CAST(0 AS BIGINT)
        |        ELSE CAST(round(c_acctbal * 100) AS BIGINT) END)
        |      AS DOUBLE) / 100.0 AS bal
        |  FROM customer WHERE c_nationkey <> 3 GROUP BY c_mktsegment)
        |SELECT * FROM v1 UNION ALL SELECT * FROM cur
        |ORDER BY snap, seg""".stripMargin)),

    // ---- the change data feed under the oracle gate: the q63
    // mutation chain (INSERT…SELECT → COW UPDATE → COW DELETE), then
    // `engine.changes(cust, 1, 3)` — the rowid-keyed snapshot diff —
    // aggregated per (change_type, segment). v1→v3 semantics: every
    // c_nationkey=3 row is a `delete` carrying v1 values (including
    // BUILDING∩nationkey=3 rows updated in v2 — the diff is
    // endpoint-to-endpoint, not a replay); surviving BUILDING rows
    // emit update_preimage (original balance) + update_postimage
    // (zeroed). No source row has c_acctbal = 0.0 at any SF, so
    // every surviving BUILDING row really changed. The oracle
    // reconstructs all three row classes from the source table.
    "q64_engine_cdf" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q64_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.setVersionRetention(10)
        eng.sql("create schema q64")
        eng.sql("use q64")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create table cust (c_custkey int, c_name char,
            |c_nationkey int, c_acctbal float, c_mktsegment char,
            |PRIMARY KEY(c_custkey))""".stripMargin)
        eng.sql(
          """insert into cust select c_custkey, c_name, c_nationkey,
            |c_acctbal, c_mktsegment from cust_src""".stripMargin) // v1
        eng.sql(
          "update cust set c_acctbal = 0.0 where c_mktsegment = 'BUILDING'") // v2
        eng.sql("delete from cust where c_nationkey = 3")                    // v3
        eng.changes("cust", 1, 3)
          .groupBy(col("_change_type").as("change_type"),
            col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n"),
            money(sum(cents(col("c_acctbal")))).as("bal"))
          .orderBy(col("change_type"), col("seg"))
      },
      Some("""WITH del AS (SELECT 'delete' AS change_type,
        |    c_mktsegment AS seg, count(*) AS n,
        |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |      / 100.0 AS bal
        |  FROM customer WHERE c_nationkey = 3 GROUP BY c_mktsegment),
        |pre AS (SELECT 'update_preimage' AS change_type,
        |    c_mktsegment AS seg, count(*) AS n,
        |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |      / 100.0 AS bal
        |  FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_nationkey <> 3
        |  GROUP BY c_mktsegment),
        |post AS (SELECT 'update_postimage' AS change_type,
        |    c_mktsegment AS seg, count(*) AS n, 0.0 AS bal
        |  FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_nationkey <> 3
        |  GROUP BY c_mktsegment)
        |SELECT * FROM del UNION ALL SELECT * FROM pre
        |UNION ALL SELECT * FROM post
        |ORDER BY change_type, seg""".stripMargin)),

    // ---- prepared statements under the oracle gate: prepare a
    // 2-parameter SELECT on a per-connection session, execute it with
    // a string and a numeric param (the engine's `?` splice —
    // SURVEY's sanctioned equivalent of the reference's binary
    // param codec), and the result must hash-match the oracle run
    // with the same literals inlined.
    "q65_engine_prepared" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q65_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q65")
        eng.sql("use q65")
        eng.sql(s"create external table ord USING PARQUET LOCATION '$dir/orders.parquet'")
        val ses = eng.newSession()
        ses.sql("use q65")
        val pid = ses.prepare(
          """select o_orderstatus, count(*) as n,
            |  cast(sum(cast(round(o_totalprice * 100) as bigint)) as double) / 100.0
            |    as total
            |from ord
            |where o_orderstatus <> ? and o_totalprice >= ?
            |group by o_orderstatus order by o_orderstatus""".stripMargin)
        val out = ses.executePrepared(pid, Seq("X", 1000.0)) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
        ses.closePrepared(pid)
        out
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total
        |FROM orders
        |WHERE o_orderstatus <> 'X' AND o_totalprice >= 1000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- CREATE TABLE AS SELECT through the statement surface:
    // schema inferred from the query onto the engine's {INT, FLOAT,
    // CHAR} surface, bulk-loaded via the INSERT…SELECT path, then
    // proven to be a REAL managed table by running a COW DELETE on
    // it before the gated read-back. The oracle reconstructs the
    // post-delete materialization declaratively.
    "q73_engine_ctas" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q73_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q73")
        eng.sql("use q73")
        eng.sql(s"create external table cust USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create table seg as
            |select c_mktsegment as seg, count(*) as n_customers,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double)
            |    / 100.0 as total_bal
            |from cust group by c_mktsegment""".stripMargin)
        eng.sql("delete from seg where seg = 'MACHINERY'")
        eng.sql("select seg, n_customers, total_bal from seg order by seg") match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""SELECT c_mktsegment AS seg, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_bal
        |FROM customer GROUP BY c_mktsegment
        |HAVING c_mktsegment <> 'MACHINERY'
        |ORDER BY seg""".stripMargin)),

    // ---- MERGE INTO through the statement surface: the set-oriented
    // upsert (file-pruned COW — `GraftEngine.doMerge`). One statement
    // exercises all three legs against a derived source built from
    // orders: heavy customers (≥20 orders) DELETE, other matched
    // customers UPDATE (balance += their order total), and a
    // key-shifted branch INSERTs brand-new 'MERGED' customers.
    // Clause order matters (DELETE declared before UPDATE). The
    // oracle replays the same semantics declaratively: LEFT JOIN +
    // clause-precedence CASE for the target legs, anti-join for the
    // insert leg. Cents are quantized per row before the final sum
    // (the cross-engine float discipline).
    "q74_engine_merge" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q74_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q74")
        eng.sql("use q74")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(s"create external table ord_src USING PARQUET LOCATION '$dir/orders.parquet'")
        eng.sql(
          """create table cust (c_custkey int, c_nationkey int,
            |c_acctbal float, c_mktsegment char,
            |PRIMARY KEY(c_custkey))""".stripMargin)
        eng.sql(
          """insert into cust select c_custkey, c_nationkey, c_acctbal,
            |c_mktsegment from cust_src""".stripMargin)
        eng.sql(
          """merge into cust t using (
            |  select o_custkey as k, count(*) as n_ord,
            |    sum(cast(round(o_totalprice * 100) as bigint)) as cents
            |  from ord_src group by o_custkey
            |  union all
            |  select o_custkey + 10000000 as k, 0 as n_ord,
            |    sum(cast(round(o_totalprice * 100) as bigint)) as cents
            |  from ord_src where o_orderkey % 1000 = 1 group by o_custkey
            |) s on t.c_custkey = s.k
            |when matched and s.n_ord >= 20 then delete
            |when matched then update set
            |  c_acctbal = t.c_acctbal + cast(s.cents as double) / 100.0
            |when not matched then insert
            |  (c_custkey, c_nationkey, c_acctbal, c_mktsegment)
            |  values (s.k, 99, cast(s.cents as double) / 100.0, 'MERGED')
            |""".stripMargin)
        eng.sql(
          """select c_mktsegment as seg, count(*) as n,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0
            |    as bal
            |from cust group by c_mktsegment order by seg""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH src AS (
        |  SELECT o_custkey AS k, count(*) AS n_ord,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey
        |  UNION ALL
        |  SELECT o_custkey + 10000000 AS k, 0 AS n_ord,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders WHERE o_orderkey % 1000 = 1 GROUP BY o_custkey),
        |merged AS (
        |  SELECT c.c_mktsegment AS seg,
        |    CASE WHEN s.k IS NOT NULL
        |      THEN c.c_acctbal + CAST(s.cents AS DOUBLE) / 100.0
        |      ELSE c.c_acctbal END AS b
        |  FROM customer c LEFT JOIN src s ON c.c_custkey = s.k
        |  WHERE NOT (s.k IS NOT NULL AND s.n_ord >= 20)
        |  UNION ALL
        |  SELECT 'MERGED' AS seg, CAST(s.cents AS DOUBLE) / 100.0 AS b
        |  FROM src s LEFT JOIN customer c ON c.c_custkey = s.k
        |  WHERE c.c_custkey IS NULL)
        |SELECT seg, count(*) AS n,
        |  CAST(sum(CAST(round(b * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS bal
        |FROM merged GROUP BY seg ORDER BY seg""".stripMargin)),

    // ---- RESTORE under the oracle gate: the q63 mutation chain
    // (INSERT…SELECT → COW UPDATE → COW DELETE), then `RESTORE … TO
    // VERSION AS OF 1` — which commits the v1 image as a NEW version
    // (history preserved, pointer never moves backwards) — then one
    // more DELETE to prove the restored image is the live mutation
    // base. The gated statement aggregates BOTH the current image
    // (restored data minus the post-restore delete: the update and
    // delete are UNDONE) and the pre-restore snapshot v3 (still
    // time-travelable THROUGH the restore). The oracle reconstructs
    // both states declaratively from the source table.
    "q76_engine_restore" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q76_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.setVersionRetention(10)
        eng.sql("create schema q76")
        eng.sql("use q76")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create table cust (c_custkey int, c_nationkey int,
            |c_acctbal float, c_mktsegment char,
            |PRIMARY KEY(c_custkey))""".stripMargin)
        eng.sql(
          """insert into cust select c_custkey, c_nationkey,
            |c_acctbal, c_mktsegment from cust_src""".stripMargin)           // v1
        eng.sql(
          "update cust set c_acctbal = 0.0 where c_mktsegment = 'BUILDING'") // v2
        eng.sql("delete from cust where c_nationkey = 3")                    // v3
        eng.sql("restore cust to version as of 1")                           // v4 = v1 image
        eng.sql("delete from cust where c_mktsegment = 'MACHINERY'")         // v5
        eng.sql(
          """select 'cur' as snap, c_mktsegment as seg, count(*) as n,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0 as bal
            |from cust group by c_mktsegment
            |union all
            |select 'v3' as snap, c_mktsegment as seg, count(*) as n,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0 as bal
            |from cust version as of 3 group by c_mktsegment
            |order by snap, seg""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH cur AS (SELECT 'cur' AS snap, c_mktsegment AS seg,
        |    count(*) AS n,
        |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |      / 100.0 AS bal
        |  FROM customer WHERE c_mktsegment <> 'MACHINERY'
        |  GROUP BY c_mktsegment),
        |v3 AS (SELECT 'v3' AS snap, c_mktsegment AS seg,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
        |        THEN CAST(0 AS BIGINT)
        |        ELSE CAST(round(c_acctbal * 100) AS BIGINT) END)
        |      AS DOUBLE) / 100.0 AS bal
        |  FROM customer WHERE c_nationkey <> 3 GROUP BY c_mktsegment)
        |SELECT * FROM cur UNION ALL SELECT * FROM v3
        |ORDER BY snap, seg""".stripMargin)),

    // ---- views under the oracle gate: CREATE VIEW (a persisted,
    // re-analyzed-per-read SELECT over external tables), a nested
    // view on top, and a read through the nested view from ANOTHER
    // schema — exercising definer-schema resolution (the inner view's
    // bare names bind to its own schema) and recursive expansion. The
    // oracle replays both layers as CTEs. Beyond the reference
    // surface (it ships only the view privilege flags).
    "q77_engine_view" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q77_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q77")
        eng.sql("use q77")
        eng.sql(s"create external table ord USING PARQUET LOCATION '$dir/orders.parquet'")
        eng.sql(s"create external table cust USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create view cust_orders as
            |select c_mktsegment as seg, o_orderstatus as st,
            |  count(*) as n,
            |  sum(cast(round(o_totalprice * 100) as bigint)) as cents
            |from ord join cust on o_custkey = c_custkey
            |group by c_mktsegment, o_orderstatus""".stripMargin)
        eng.sql(
          """create view seg_summary as
            |select seg, count(*) as n_status, sum(n) as n_orders,
            |  cast(sum(cents) as double) / 100.0 as total
            |from cust_orders group by seg""".stripMargin)
        eng.sql("create schema q77other")
        eng.sql("use q77other")
        eng.sql(
          """select seg, n_status, n_orders, total
            |from q77.seg_summary where n_orders > 0
            |order by seg""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH cust_orders AS (
        |  SELECT c_mktsegment AS seg, o_orderstatus AS st,
        |    count(*) AS n,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, o_orderstatus),
        |seg_summary AS (
        |  SELECT seg, count(*) AS n_status, sum(n) AS n_orders,
        |    CAST(sum(cents) AS DOUBLE) / 100.0 AS total
        |  FROM cust_orders GROUP BY seg)
        |SELECT seg, n_status, CAST(n_orders AS BIGINT) AS n_orders,
        |  total
        |FROM seg_summary WHERE n_orders > 0
        |ORDER BY seg""".stripMargin)),

    // ---- transactions through the statement surface: BEGIN /
    // ROLLBACK / COMMIT over the version store. The reference accepts
    // all three as no-ops (`/root/reference/src/core/execution.rs:
    // 1265-1267`, autocommit only); here BEGIN opens a real
    // snapshot-undo transaction — ROLLBACK rewinds every mutated
    // table to its pre-transaction version through the RESTORE
    // machinery (documented deviation/improvement, SURVEY §2.7). The
    // chain: seed cust from customer; a transaction that zeroes
    // BUILDING balances, deletes nations < 10 and inserts a GHOST row
    // is ROLLED BACK (fully undone); a second transaction (+100.00 to
    // AUTOMOBILE balances, delete nation 3) COMMITs; a trailing bare
    // ROLLBACK is a no-op. The table is then RENAMEd (catalog +
    // version-history move) and a scratch copy is TRUNCATEd (DDL:
    // empty image committed as a new version). The gated statement
    // reads the renamed table plus the truncated one — only the
    // committed transaction's effects are visible. The oracle applies
    // exactly those, declaratively.
    "q78_engine_txn" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q78_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q78")
        eng.sql("use q78")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create table cust (c_custkey int, c_nationkey int,
            |c_acctbal float, c_mktsegment char,
            |PRIMARY KEY(c_custkey))""".stripMargin)
        eng.sql(
          """insert into cust select c_custkey, c_nationkey, c_acctbal,
            |c_mktsegment from cust_src""".stripMargin)
        eng.sql("begin")
        eng.sql("update cust set c_acctbal = 0.0 where c_mktsegment = 'BUILDING'")
        eng.sql("delete from cust where c_nationkey < 10")
        eng.sql("insert into cust values (99999999, 0, 1.0, 'GHOST')")
        eng.sql("rollback") // every statement above: undone
        eng.sql("begin")
        eng.sql("update cust set c_acctbal = c_acctbal + 100.0 where c_mktsegment = 'AUTOMOBILE'")
        eng.sql("delete from cust where c_nationkey = 3")
        eng.sql("commit")
        eng.sql("rollback") // no-op: nothing open
        eng.sql("rename table cust to cust_final")
        eng.sql("create table junk (id int, PRIMARY KEY(id))")
        eng.sql("insert into junk select c_custkey from cust_src")
        eng.sql("truncate table junk")
        eng.sql(
          """select c_mktsegment as seg, count(*) as n,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0 as bal
            |from cust_final group by c_mktsegment
            |union all
            |select 'TRUNCATED' as seg, count(*) as n, 0.0 as bal from junk
            |order by seg""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""SELECT c_mktsegment AS seg, count(*) AS n,
        |  CAST(sum(CAST(round((c_acctbal +
        |    CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 100.0 ELSE 0.0 END)
        |    * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS bal
        |FROM customer WHERE c_nationkey <> 3
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'TRUNCATED' AS seg, CAST(0 AS BIGINT) AS n, 0.0 AS bal
        |ORDER BY seg""".stripMargin)),

    // ---- the WIRE PROTOCOL under the oracle gate: the q62 SELECT
    // executed through a real TCP connection to `wire.MysqlServer`
    // (handshake → COM_QUERY → text resultset), the rows parsed from
    // lenenc-text cells back into typed values and hash-compared to
    // the same DuckDB truth as every other entry. This pins the
    // server's value→text serialization (the reference's all-text
    // row conversion, `core_util.rs:357-427`) end-to-end: a wrong
    // NULL marker, a double formatted differently, or a swapped
    // column def would hash-mismatch. The resultset is
    // statement-sized (one row per market segment), so the
    // text→local→createDataFrame hop is catalog-scale, not
    // data-scale — the payload query itself still runs distributed
    // inside the engine.
    "q79_wire_query" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q79_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q79")
        eng.sql("use q79")
        eng.sql(s"create external table ord USING PARQUET LOCATION '$dir/orders.parquet'")
        eng.sql(s"create external table cust USING PARQUET LOCATION '$dir/customer.parquet'")
        val server = new graft.wire.MysqlServer(eng, 0)
        try {
          val cli = new graft.wire.TextClient("127.0.0.1", server.boundPort)
          try {
            cli.query("use q79") // wire connections get a fresh session
            val (cols, rows) = cli.query(
              """select c_mktsegment,
                |  count(*) as n_orders,
                |  count(distinct o_custkey) as n_customers,
                |  cast(sum(cast(round(o_totalprice * 100) as bigint)) as double) / 100.0
                |    as total_price
                |from ord join cust on o_custkey = c_custkey
                |where o_orderstatus <> 'X'
                |group by c_mktsegment
                |having count(*) > 0
                |order by c_mktsegment""".stripMargin)
            require(cols == Seq("c_mktsegment", "n_orders",
              "n_customers", "total_price"),
              s"unexpected wire column defs: $cols")
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("c_mktsegment",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n_orders",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n_customers",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("total_price",
                org.apache.spark.sql.types.DoubleType)))
            val data = rows.map { r =>
              org.apache.spark.sql.Row(
                r(0).orNull,
                r(1).map(v => java.lang.Long.valueOf(v)).orNull,
                r(2).map(v => java.lang.Long.valueOf(v)).orNull,
                r(3).map(v => java.lang.Double.valueOf(v)).orNull)
            }
            s.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
              schema)
          } finally cli.close()
        } finally server.close()
      },
      Some("""SELECT c_mktsegment,
        |  count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'X'
        |GROUP BY c_mktsegment
        |HAVING count(*) > 0
        |ORDER BY c_mktsegment""".stripMargin)),

    // ---- the BINARY protocol under the oracle gate (q79's twin for
    // COM_STMT_PREPARE/EXECUTE): a parameterized aggregate prepared
    // and executed through a real TCP connection, the `?` spliced
    // server-side from a binary LONGLONG param, and the BINARY
    // resultset rows (NULL-bitmap, little-endian LONGLONG/DOUBLE,
    // lenenc strings) parsed back into typed values and
    // hash-compared against DuckDB. A wrong endianness, bitmap
    // offset, or type code would hash-mismatch.
    "q84_wire_prepared" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q84_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q84")
        eng.sql("use q84")
        eng.sql(s"create external table cust USING PARQUET LOCATION '$dir/customer.parquet'")
        val server = new graft.wire.MysqlServer(eng, 0)
        try {
          val cli = new graft.wire.TextClient("127.0.0.1", server.boundPort)
          try {
            cli.query("use q84")
            val (stmtId, nParams) = cli.prepare(
              """select c_mktsegment, count(*) as n,
                |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0
                |    as bal,
                |  cast(min(c_custkey) as bigint) as min_k
                |from cust where c_custkey <= ?
                |group by c_mktsegment order by c_mktsegment""".stripMargin)
            require(nParams == 1, s"expected 1 param, got $nParams")
            val (cols, rows) = cli.executeQuery(stmtId, Seq(1000L))
            require(cols == Seq("c_mktsegment", "n", "bal", "min_k"),
              s"unexpected wire column defs: $cols")
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("c_mktsegment",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("bal",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("min_k",
                org.apache.spark.sql.types.LongType)))
            val data = rows.map { r =>
              org.apache.spark.sql.Row(r(0).orNull, r(1).orNull,
                r(2).orNull, r(3).orNull)
            }
            s.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
              schema)
          } finally cli.close()
        } finally server.close()
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS bal,
        |  CAST(min(c_custkey) AS BIGINT) AS min_k
        |FROM customer WHERE c_custkey <= 1000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- CLIENT_MULTI_STATEMENTS under the oracle gate (the third
    // wire entry): ONE COM_QUERY carries a 5-statement script —
    // USE, CREATE TABLE, INSERT…SELECT, DELETE, final SELECT — and
    // the client reads the sequenced responses (each but the last
    // flagged SERVER_MORE_RESULTS_EXISTS), hash-comparing the final
    // resultset against DuckDB's declarative reconstruction. A wrong
    // split point, a dropped MORE flag, or a mis-sequenced packet
    // would break the parse or the hash.
    "q85_wire_multi" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q85_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q85")
        eng.sql("use q85")
        eng.sql(s"create external table cust USING PARQUET LOCATION '$dir/customer.parquet'")
        val server = new graft.wire.MysqlServer(eng, 0)
        try {
          val cli = new graft.wire.TextClient("127.0.0.1", server.boundPort,
            multiStatements = true)
          try {
            val responses = cli.queryAll(
              """use q85;
                |create table seg (k int, seg char, bal float, PRIMARY KEY(k));
                |insert into seg select c_custkey, c_mktsegment, c_acctbal
                |  from cust where c_custkey <= 1200;
                |delete from seg where k % 7 = 0;
                |select seg, count(*) as n,
                |  cast(sum(cast(round(bal * 100) as bigint)) as double) / 100.0
                |    as total_bal,
                |  min(k) as min_k, max(k) as max_k
                |from seg group by seg order by seg""".stripMargin)
            require(responses.length == 5,
              s"expected 5 sequenced responses, got ${responses.length}")
            require(responses.take(4).forall(_._1.isEmpty),
              "statements 1-4 must answer OK (no resultset)")
            val (cols, rows) = responses.last
            require(cols == Seq("seg", "n", "total_bal", "min_k", "max_k"),
              s"unexpected wire column defs: $cols")
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("seg",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("total_bal",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("min_k",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("max_k",
                org.apache.spark.sql.types.LongType)))
            val data = rows.map { r =>
              org.apache.spark.sql.Row(
                r(0).orNull,
                r(1).map(v => java.lang.Long.valueOf(v)).orNull,
                r(2).map(v => java.lang.Double.valueOf(v)).orNull,
                r(3).map(v => java.lang.Long.valueOf(v)).orNull,
                r(4).map(v => java.lang.Long.valueOf(v)).orNull)
            }
            s.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
              schema)
          } finally cli.close()
        } finally server.close()
      },
      Some("""WITH img AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |    c_acctbal AS bal
        |  FROM customer
        |  WHERE c_custkey <= 1200 AND c_custkey % 7 <> 0)
        |SELECT seg, count(*) AS n,
        |  CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total_bal,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM img GROUP BY seg ORDER BY seg""".stripMargin)),

    // ---- multi-statement scripts whose NON-final statements return
    // RESULTSETS (`select …; select …`): q85 gates OK-packet
    // sequencing; this entry gates SERVER_MORE_RESULTS_EXISTS on an
    // INTERMEDIATE resultset's terminating EOF (the reference
    // sequences multi-results in `handle.rs:262-306`). A dropped
    // MORE flag would stop the client after the first resultset
    // (the length require fails); broken sequencing would break the
    // packet parse; a value error breaks the hash.
    "q86_wire_multi_resultsets" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q86_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q86")
        eng.sql("use q86")
        eng.sql(s"create external table region USING PARQUET LOCATION '$dir/region.parquet'")
        eng.sql(s"create external table nation USING PARQUET LOCATION '$dir/nation.parquet'")
        val server = new graft.wire.MysqlServer(eng, 0)
        try {
          val cli = new graft.wire.TextClient("127.0.0.1", server.boundPort,
            multiStatements = true)
          try {
            val all = cli.queryAll(
              """use q86;
                |select r_regionkey as k, r_name as name
                |  from region order by r_regionkey;
                |select n_nationkey as k, n_name as name
                |  from nation where n_nationkey < 10
                |  order by n_nationkey""".stripMargin)
            require(all.length == 3,
              s"expected OK + 2 sequenced resultsets, got ${all.length}")
            require(all.head._1.isEmpty, "USE must answer OK")
            val responses = all.tail
            require(responses.forall(_._1 == Seq("k", "name")),
              s"unexpected wire column defs: ${responses.map(_._1)}")
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("src",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("name",
                org.apache.spark.sql.types.StringType)))
            val data = responses.zipWithIndex.flatMap { case ((_, rows), i) =>
              rows.map { r =>
                org.apache.spark.sql.Row(
                  java.lang.Long.valueOf(i + 1L),
                  r(0).map(v => java.lang.Long.valueOf(v)).orNull,
                  r(1).orNull)
              }
            }
            s.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
              schema)
          } finally cli.close()
        } finally server.close()
      },
      Some("""SELECT CAST(1 AS BIGINT) AS src,
        |  CAST(r_regionkey AS BIGINT) AS k, r_name AS name FROM region
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS src,
        |  CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation
        |WHERE n_nationkey < 10
        |ORDER BY src, k""".stripMargin)),

    // ---- ORC as an external-table format (§2.1 source matrix,
    // alongside parquet/CSV/JSON/KV): executor-written ORC files of
    // the customer table, cataloged via CREATE EXTERNAL TABLE …
    // USING ORC, aggregated through engine SQL. ORC scans get the
    // same vectorized reader + predicate pushdown treatment parquet
    // does in Spark; the oracle recomputes from the parquet source,
    // so the entry pins that the ORC write→catalog→scan loop is
    // value-exact.
    "q80_engine_orc" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q80_")
        val orcDir = s"$wh/orc_src"
        s.read.parquet(s"$dir/customer.parquet")
          .write.mode("overwrite").orc(orcDir)
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q80")
        eng.sql("use q80")
        eng.sql(s"create external table cust USING ORC LOCATION '$orcDir'")
        eng.sql(
          """select c_mktsegment, count(*) as n,
            |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0
            |    as bal,
            |  min(c_custkey) as min_k, max(c_custkey) as max_k
            |from cust group by c_mktsegment
            |order by c_mktsegment""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS bal,
        |  min(c_custkey) AS min_k, max(c_custkey) AS max_k
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // ---- INSERT … ON DUPLICATE KEY UPDATE under the oracle gate:
    // MySQL's upsert — a second overlapping INSERT…SELECT batch
    // updates the matched rows (VALUES() pulls the incoming value,
    // bare columns read the OLD row) and inserts the rest, in ONE
    // COW version commit. The oracle reconstructs the final image
    // declaratively: keys ≤500 untouched, 501–1000 updated (doubled
    // balance, hits+1), 1001–1500 fresh inserts.
    "q81_engine_upsert" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q81_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q81")
        eng.sql("use q81")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create table acc (k int, bal float, hits int,
            |PRIMARY KEY(k))""".stripMargin)
        eng.sql(
          """insert into acc select c_custkey, c_acctbal, 1
            |from cust_src where c_custkey <= 1000""".stripMargin)
        eng.sql(
          """insert into acc select c_custkey, c_acctbal * 2, 1
            |from cust_src where c_custkey between 501 and 1500
            |on duplicate key update bal = VALUES(bal),
            |hits = hits + 1""".stripMargin)
        eng.sql(
          """select hits, count(*) as n,
            |  cast(sum(cast(round(bal * 100) as bigint)) as double) / 100.0
            |    as total_bal,
            |  min(k) as min_k, max(k) as max_k
            |from acc group by hits order by hits""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH img AS (SELECT c_custkey AS k,
        |    CASE WHEN c_custkey >= 501 THEN c_acctbal * 2
        |      ELSE c_acctbal END AS bal,
        |    CASE WHEN c_custkey BETWEEN 501 AND 1000
        |      THEN 2 ELSE 1 END AS hits
        |  FROM customer WHERE c_custkey <= 1500)
        |SELECT hits, count(*) AS n,
        |  CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total_bal,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM img GROUP BY hits ORDER BY hits""".stripMargin)),

    // ---- REPLACE INTO under the oracle gate: MySQL's
    // delete-then-insert upsert — the overlapping half of the second
    // batch evicts and re-inserts (lowercased segment), the rest
    // appends; one COW version commit. Oracle reconstructs the final
    // image declaratively.
    "q82_engine_replace" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q82_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q82")
        eng.sql("use q82")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql("create table tag (k int, seg char, PRIMARY KEY(k))")
        eng.sql(
          """insert into tag select c_custkey, c_mktsegment
            |from cust_src where c_custkey <= 1000""".stripMargin)
        eng.sql(
          """replace into tag select c_custkey, lower(c_mktsegment)
            |from cust_src where c_custkey between 501 and 1500""".stripMargin)
        eng.sql(
          """select seg, count(*) as n, min(k) as min_k, max(k) as max_k
            |from tag group by seg order by seg""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH img AS (SELECT c_custkey AS k,
        |    CASE WHEN c_custkey >= 501 THEN lower(c_mktsegment)
        |      ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey <= 1500)
        |SELECT seg, count(*) AS n, min(k) AS min_k, max(k) AS max_k
        |FROM img GROUP BY seg ORDER BY seg""".stripMargin)),

    // ---- INSERT IGNORE under the oracle gate: the overlapping half
    // of the second batch (501–1000, lowercased) is silently skipped
    // — the existing rows win — and only 1001–1500 land. Oracle
    // reconstructs the final image declaratively.
    "q83_engine_insert_ignore" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q83_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q83")
        eng.sql("use q83")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql("create table tag (k int, seg char, PRIMARY KEY(k))")
        eng.sql(
          """insert into tag select c_custkey, c_mktsegment
            |from cust_src where c_custkey <= 1000""".stripMargin)
        eng.sql(
          """insert ignore into tag select c_custkey, lower(c_mktsegment)
            |from cust_src where c_custkey between 501 and 1500""".stripMargin)
        eng.sql(
          """select seg, count(*) as n, min(k) as min_k, max(k) as max_k
            |from tag group by seg order by seg""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH img AS (SELECT c_custkey AS k,
        |    CASE WHEN c_custkey > 1000 THEN lower(c_mktsegment)
        |      ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey <= 1500)
        |SELECT seg, count(*) AS n, min(k) AS min_k, max(k) AS max_k
        |FROM img GROUP BY seg ORDER BY seg""".stripMargin)),

    // ---- managed KV tables through the statement surface — the
    // reference's KV-as-primary-store semantics
    // (`src/store/engine/sled.rs:36-44`, `physical_plan/insert.rs:
    // 29-104`) as engine SQL: CREATE … USING KV, a distributed
    // INSERT…SELECT that lands as range-partitioned write-once
    // segments, an UPDATE that appends ONLY the matched key range
    // (newest-wins shadowing — O(matched), no table rewrite), a
    // fence-pruned DELETE version commit, then a range read back
    // through the DSv2 connector (key predicate pushed to the
    // segment fence index; PlanSpec pins the RangeScan). The oracle
    // replays insert→update→delete→read declaratively over customer.
    "q68_engine_kv_dml" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q68_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q68")
        eng.sql("use q68")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql("create table kvt (k int, v char) using kv")
        eng.sql("insert into kvt select c_custkey, c_mktsegment from cust_src")
        eng.sql("update kvt set v = concat(v, '!') where k between 100 and 500")
        eng.sql("delete from kvt where k % 10 = 7")
        eng.sql(
          """select v, count(*) as n, min(k) as min_k, max(k) as max_k
            |from kvt where k between 50 and 1000
            |group by v order by v""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""WITH kv AS (SELECT c_custkey AS k,
        |    CASE WHEN c_custkey BETWEEN 100 AND 500
        |      THEN c_mktsegment || '!' ELSE c_mktsegment END AS v
        |  FROM customer WHERE c_custkey % 10 <> 7)
        |SELECT v, count(*) AS n, min(k) AS min_k, max(k) AS max_k
        |FROM kv WHERE k BETWEEN 50 AND 1000
        |GROUP BY v ORDER BY v""".stripMargin)),

    // ---- OPTIMIZE … ZORDER BY through the statement surface: the
    // multi-column data-clustering rewrite (Morton interleave of
    // normalized keys → range partition → sorted files, so min/max
    // footer stats prune on EITHER column — `functions.ZOrder`). The
    // oracle pins READ EQUIVALENCE under re-layout: a range aggregate
    // over the z-ordered image must hash-match the plain recompute
    // (the clustering property itself — per-file key rectangles —
    // is ZOrderSpec's job; a layout statement must never change
    // results, and this entry makes that a driver-gated invariant).
    "q69_engine_zorder" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q69_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q69")
        eng.sql("use q69")
        eng.sql(s"create external table ord_src USING PARQUET LOCATION '$dir/orders.parquet'")
        eng.sql(
          """create table ord (o_orderkey int, o_custkey int,
            |o_totalprice float, PRIMARY KEY(o_orderkey))""".stripMargin)
        eng.sql(
          "insert into ord select o_orderkey, o_custkey, o_totalprice from ord_src")
        eng.sql("optimize ord zorder by (o_custkey, o_orderkey)")
        eng.sql(
          """select count(*) as n, min(o_orderkey) as min_ok,
            |  max(o_orderkey) as max_ok,
            |  cast(sum(cast(round(o_totalprice * 100) as bigint)) as double) / 100.0
            |    as total
            |from ord where o_custkey between 100 and 400""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some("""SELECT count(*) AS n, min(o_orderkey) AS min_ok,
        |  max(o_orderkey) AS max_ok,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total
        |FROM orders WHERE o_custkey BETWEEN 100 AND 400""".stripMargin)),

    // ---- incremental view maintenance over the change data feed:
    // the q63 mutation chain again, but the final per-segment
    // aggregate is NOT recomputed from the current image — it is the
    // v1 aggregate folded forward by `Incremental.maintainGroupSum`
    // over `engine.changes(cust, 1, 3)` (signed counts/sums:
    // +insert/+postimage, −delete/−preimage). Cost is O(delta +
    // touched groups) vs O(corpus) recompute — the read pattern that
    // makes CDF useful at 100 TB. The oracle recomputes the final
    // image declaratively, so hash equality PROVES maintained ==
    // recomputed, through the driver's gate.
    "q70_engine_incremental" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q70_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.setVersionRetention(10)
        eng.sql("create schema q70")
        eng.sql("use q70")
        eng.sql(s"create external table cust_src USING PARQUET LOCATION '$dir/customer.parquet'")
        eng.sql(
          """create table cust (c_custkey int, c_name char,
            |c_nationkey int, c_acctbal float, c_mktsegment char,
            |PRIMARY KEY(c_custkey))""".stripMargin)
        eng.sql(
          """insert into cust select c_custkey, c_name, c_nationkey,
            |c_acctbal, c_mktsegment from cust_src""".stripMargin) // v1
        eng.sql(
          "update cust set c_acctbal = 0.0 where c_mktsegment = 'BUILDING'") // v2
        eng.sql("delete from cust where c_nationkey = 3")                    // v3
        val baseAgg = eng.tableAsOf("cust", 1)
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("cnt"),
            sum(cents(col("c_acctbal"))).as("total"))
        val maintained = graft.operators.Incremental.maintainGroupSum(
          baseAgg,
          eng.changes("cust", 1, 3)
            .withColumn("seg", col("c_mktsegment")),
          "seg", cents(col("c_acctbal")))
        maintained
          .select(col("seg"), col("cnt").as("n"), money(col("total")).as("bal"))
          .orderBy(col("seg"))
      },
      Some("""SELECT c_mktsegment AS seg, count(*) AS n,
        |  CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
        |      THEN CAST(0 AS BIGINT)
        |      ELSE CAST(round(c_acctbal * 100) AS BIGINT) END)
        |    AS DOUBLE) / 100.0 AS bal
        |FROM customer WHERE c_nationkey <> 3
        |GROUP BY c_mktsegment ORDER BY seg""".stripMargin))
  )
}
