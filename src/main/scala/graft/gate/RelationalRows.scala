package graft
package gate

import org.apache.spark.sql.functions._

/** Relational rows (SURVEY §2 B): the TPC-H shapes and the `q_*` SQL surface. */
object RelationalRows {
  val rows: Seq[GateQuery] = Seq(
    // ---- B1: wide aggregation over the fact table (TPC-H Q1 shape).
    // One shuffle on (returnflag, linestatus); partial aggregation map-side.
    GateQuery("q1_pricing_summary", { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          rsum(col("l_quantity")).as("sum_qty"),
          rsum(col("l_extendedprice")).as("sum_base_price"),
          rsum(revenue).as("sum_disc_price"),
          rsum(revenue * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          ravg(col("l_quantity")).as("avg_qty"),
          ravg(col("l_extendedprice")).as("avg_price"),
          ravg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Oracle(
      """SELECT l_returnflag, l_linestatus,
        | CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))),2) AS DOUBLE) AS sum_qty,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))),2) AS DOUBLE) AS sum_base_price,
        | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS sum_disc_price,
        | CAST(round(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(30,10))),2) AS DOUBLE) AS sum_charge,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)/count(l_quantity),4) AS avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)/count(l_extendedprice),4) AS avg_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE)/count(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- B2: dim-filter join + agg + top-k. customer is broadcast; the only
    // shuffle is orders⋈lineitem on the order key, reused by the aggregation.
    GateQuery("q3_shipping_priority", { (s, dir) =>
      val cust = T(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = T(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = T(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(rsum(revenue).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }, Oracle(
      """SELECT l_orderkey, CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS revenue,
        | o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin)),

    // ---- B3: 6-way join; every dim side broadcast, single fact shuffle.
    GateQuery("q5_local_volume", { (s, dir) =>
      val dims = broadcast(
        T(s, dir, "supplier")
          .join(
            T(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey")
          )
          .join(
            T(s, dir, "region").filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey")
          )
          .select("s_suppkey", "s_nationkey", "n_name")
      )
      val cust = broadcast(T(s, dir, "customer").select("c_custkey", "c_nationkey"))
      val ord = T(s, dir, "orders")
        .filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")
        )
        .select("o_orderkey", "o_custkey")
      T(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("l_suppkey") === col("s_suppkey"))
        .join(
          cust,
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey")
        )
        .groupBy(col("n_name"))
        .agg(rsum(revenue).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, Oracle(
      """SELECT n_name, CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- B4: selective scan + filter-only agg (pushdown showcase).
    GateQuery("q6_forecast_revenue", { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.02, 0.04) &&
            col("l_quantity") < 24
        )
        .agg(
          rsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n")
        )
    }, Oracle(
      """SELECT CAST(round(sum(CAST(l_extendedprice*l_discount AS DECIMAL(30,10))),2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_discount BETWEEN 0.02 AND 0.04
        | AND l_quantity < 24""".stripMargin)),

    // ---- B5: join + group + top-k by revenue (TPC-H Q10 shape).
    GateQuery("q10_returned_items", { (s, dir) =>
      val ord = T(s, dir, "orders")
        .filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-07-01").cast("timestamp")
        )
        .select("o_orderkey", "o_custkey")
      val li = T(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val custN = broadcast(
        T(s, dir, "customer")
          .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_name", "n_name")
      )
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(custN, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(rsum(revenue).as("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, Oracle(
      """SELECT c_custkey, c_name,
        | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS revenue, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        | AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)),

    // ---- B6: global top-k (TakeOrderedAndProject, no full sort at scale).
    GateQuery("q_topk_orders", { (s, dir) =>
      T(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    }, Oracle(
      """SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin)),

    // ---- B7: distinct aggregation.
    GateQuery("q_distinct_count", { (s, dir) =>
      T(s, dir, "orders").agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_orders")
      )
    }, Oracle(
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
        | count(*) AS n_orders
        |FROM orders""".stripMargin)),

    // ---- B8: window functions (partitioned rank).
    GateQuery("q_window_rank", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .select(
          col("o_orderpriority"),
          col("o_orderkey"),
          col("o_totalprice"),
          row_number().over(w).cast("long").as("rnk")
        )
        .filter(col("rnk") <= 3)
        .orderBy(col("o_orderpriority"), col("rnk"))
    }, Oracle(
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin)),

    // ---- B9: rollup (grouping sets).
    GateQuery("q_rollup", { (s, dir) =>
      T(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), rsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"),
          col("total")
        )
        .orderBy(col("status"), col("priority"))
    }, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)),

    // ---- B10: post-aggregation filter (HAVING).
    GateQuery("q_having", { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          rsum(col("o_totalprice")).as("spend")
        )
        .filter(col("n_orders") >= 14)
        .orderBy(col("o_custkey"))
    }, Oracle(
      """SELECT o_custkey, count(*) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 14
        |ORDER BY o_custkey""".stripMargin)),

    // ---- B11: EXISTS → left-semi join (broadcast of the filtered side).
    GateQuery("q_semi_join", { (s, dir) =>
      val urgent = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      T(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey"))
    }, Oracle(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    // ---- B12: NOT EXISTS → left-anti join.
    GateQuery("q_anti_join", { (s, dir) =>
      val big = T(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .select("o_custkey")
      T(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey"))
    }, Oracle(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- B13: union + dedup.
    GateQuery("q_union", { (s, dir) =>
      T(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"))
        .union(T(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),

    // ---- B14: conditional aggregation (CASE inside SUM).
    GateQuery("q_case_agg", { (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("big_qty"),
          rsum(when(col("l_discount") > 0.05, col("l_extendedprice")).otherwise(0.0)).as("discounted_rev")
        )
        .orderBy(col("l_returnflag"))
    }, Oracle(
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty,
        | CAST(round(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END AS DECIMAL(30,10))),2) AS DOUBLE) AS discounted_rev
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // ---- B15: string functions.
    GateQuery("q_string_funcs", { (s, dir) =>
      T(s, dir, "part")
        .filter(col("p_name").like("%a%"))
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 10).as("name10"),
          concat(col("p_type"), lit("-"), col("p_brand")).as("label"),
          length(col("p_name")).as("name_len")
        )
        .orderBy(col("p_partkey"))
        .limit(100)
    }, Oracle(
      """SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name,1,10) AS name10,
        | concat(p_type, '-', p_brand) AS label,
        | CAST(length(p_name) AS INTEGER) AS name_len
        |FROM part
        |WHERE p_name LIKE '%a%'
        |ORDER BY p_partkey
        |LIMIT 100""".stripMargin)),

    // ---- B16: timestamp truncation + agg over the events table.
    GateQuery("q_date_agg", { (s, dir) =>
      T(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), rsum(col("value")).as("total_value"))
        .orderBy(col("day"), col("event_type"))
    }, Oracle(
      """SELECT CAST(ts AS DATE) AS day, event_type,
        | count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(30,10))),2) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // ---- B18: EXISTS-per-order + priority histogram (TPC-H Q4 shape).
    GateQuery("q4_order_priority", { (s, dir) =>
      val late = T(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"))
      T(s, dir, "orders")
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }, Oracle(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // ---- B19: nation-pair volume by year (TPC-H Q7 shape).
    GateQuery("q7_nation_volume", { (s, dir) =>
      val suppNation = broadcast(
        T(s, dir, "supplier")
          .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .select(
            col("s_suppkey"),
            col("n_name").as("supp_nation"),
            col("n_regionkey").as("supp_region")
          )
      )
      val custNation = broadcast(
        T(s, dir, "customer")
          .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select(
            col("c_custkey"),
            col("n_name").as("cust_nation"),
            col("n_regionkey").as("cust_region")
          )
      )
      T(s, dir, "lineitem")
        .join(
          T(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey")
        )
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .join(custNation, col("o_custkey") === col("c_custkey"))
        .filter(
          // inter-region trade, both directions (ASIA=2, EUROPE=3)
          (col("supp_region") === 2 && col("cust_region") === 3) ||
            (col("supp_region") === 3 && col("cust_region") === 2)
        )
        .groupBy(
          col("supp_nation"),
          col("cust_nation"),
          year(col("l_shipdate")).as("l_year")
        )
        .agg(rsum(revenue).as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }, Oracle(
      """SELECT supp_nation, cust_nation, l_year, CAST(round(sum(CAST(volume AS DECIMAL(30,10))),2) AS DOUBLE) AS volume
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |    l_extendedprice*(1-l_discount) AS volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_regionkey = 2 AND n2.n_regionkey = 3)
        |     OR (n1.n_regionkey = 3 AND n2.n_regionkey = 2)
        |) t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // ---- B20: market-share ratio with conditional aggregation (Q8 shape).
    GateQuery("q8_market_share", { (s, dir) =>
      val asiaCust = broadcast(
        T(s, dir, "customer")
          .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
          .join(
            T(s, dir, "region").filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey")
          )
          .select(col("c_custkey"))
      )
      val suppNation = broadcast(
        T(s, dir, "supplier")
          .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      )
      // The ASIA semi-join runs BEFORE the fact join (round 11): filtering
      // orders first sends ~1/5 of the table through the orderkey join
      // instead of semi-filtering the joined fact stream after it, and the
      // early select drops o_custkey the moment the semi-join has used it.
      // The fact-fact join itself is left hint-free: small scales broadcast
      // (statically or via AQE's measured-size conversion), and when the
      // orders side outgrows the threshold the session's
      // preferSortMergeJoin=false (see Bench/Verify builders) picks a
      // shuffled HASH join — the sf10 probe showed the broadcast flipping
      // to a SortMergeJoin one decade up, and the 60M-row lineitem sort was
      // the whole 11.2x superlinear term. A pinned shuffle_hash hint was
      // measured worse: it blocks the AQE broadcast at small scale.
      val ordersAsia = T(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_orderdate")
      T(s, dir, "lineitem")
        .join(ordersAsia, col("l_orderkey") === col("o_orderkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          round(
            dsum(when(col("supp_nation") === "NATION_3", revenue).otherwise(0.0)) /
              dsum(revenue),
            6
          ).as("mkt_share")
        )
        .orderBy(col("o_year"))
    }, Oracle(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | round(CAST(sum(CAST(CASE WHEN n_name = 'NATION_3' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END AS DECIMAL(30,10))) AS DOUBLE)
        |       / CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))) AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA')
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)),

    // ---- B21: profit by nation and year (Q9 shape; part join + expression).
    GateQuery("q9_profit", { (s, dir) =>
      val parts = broadcast(
        T(s, dir, "part")
          .filter(col("p_name").like("%a%"))
          .select("p_partkey", "p_retailprice")
      )
      val suppNation = broadcast(
        T(s, dir, "supplier")
          .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"))
      )
      T(s, dir, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nation"), year(col("l_shipdate")).as("o_year"))
        .agg(
          rsum(revenue - col("l_quantity") * col("p_retailprice") * 0.1).as("profit")
        )
        .orderBy(col("nation"), col("o_year").desc)
    }, Oracle(
      """SELECT nation, o_year, CAST(round(sum(CAST(amount AS DECIMAL(30,10))),2) AS DOUBLE) AS profit
        |FROM (
        |  SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
        |    l_extendedprice*(1-l_discount) - l_quantity*p_retailprice*0.1 AS amount
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%a%'
        |) t
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin)),

    // ---- B22: two-bucket conditional counts (Q12 shape).
    GateQuery("q12_priority_class", { (s, dir) =>
      T(s, dir, "lineitem")
        .join(
          T(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey")
        )
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(
            when(
              col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L
            ).otherwise(0L)
          ).as("high_line_count"),
          sum(
            when(
              !col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L
            ).otherwise(0L)
          ).as("low_line_count")
        )
        .orderBy(col("l_linestatus"))
    }, Oracle(
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)),

    // ---- B23: promo revenue ratio (Q14 shape).
    GateQuery("q14_promo_revenue", { (s, dir) =>
      T(s, dir, "lineitem")
        .join(
          broadcast(T(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey")
        )
        .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .agg(
          round(
            dsum(when(col("p_type") === "ECONOMY", revenue).otherwise(0.0)) * 100.0 /
              dsum(revenue),
            6
          ).as("promo_revenue")
        )
    }, Oracle(
      """SELECT round(CAST(sum(CAST(CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END AS DECIMAL(30,10))) AS DOUBLE) * 100.0
        |       / CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))) AS DOUBLE), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)),

    // ---- B24: correlated aggregate subquery (Q17 shape): lineitems far
    // below their part's average quantity.
    GateQuery("q17_small_quantity", { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val partAvg = li
        .groupBy(col("l_partkey").as("pk"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      li.join(broadcast(partAvg), col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("avg_qty") * 0.5)
        .agg(
          round(dsum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n")
        )
    }, Oracle(
      """WITH pa AS (
        |  SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)/7.0, 2) AS avg_yearly, count(*) AS n
        |FROM lineitem JOIN pa ON l_partkey = pk
        |WHERE l_quantity < avg_qty * 0.5""".stripMargin)),

    // ---- B25: HAVING-sum join-back (Q18 shape): large-quantity orders.
    GateQuery("q18_large_orders", { (s, dir) =>
      val big = T(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 180.0)
      T(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(
          broadcast(T(s, dir, "customer").select("c_custkey", "c_name")),
          col("o_custkey") === col("c_custkey")
        )
        .select(
          col("c_custkey"),
          col("c_name"),
          col("o_orderkey"),
          col("o_orderdate"),
          col("o_totalprice"),
          round(col("total_qty"), 2).as("total_qty")
        )
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }, Oracle(
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180.0
        |)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  round(total_qty, 2) AS total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin)),

    // ---- B26: OR-of-ANDs multi-range predicate (Q19 shape).
    GateQuery("q19_discounted", { (s, dir) =>
      T(s, dir, "lineitem")
        .join(
          broadcast(T(s, dir, "part").select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey")
        )
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
              col("l_quantity").between(10, 40)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
              col("l_quantity").between(20, 50))
        )
        .agg(rsum(revenue).as("revenue"), count(lit(1)).as("n"))
    }, Oracle(
      """SELECT CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS revenue,
        | count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 40)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin)),

    // ---- B39: join back on an aggregate max (Q15 top-supplier shape).
    GateQuery("q15_top_supplier", { (s, dir) =>
      val rev = T(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp")
        )
        .groupBy(col("l_suppkey"))
        .agg(rsum(revenue).as("total_rev"))
        // consumed by both the supplier join and the max; pin at
        // aggregate scale (|suppkeys| rows) so the fact scan + suppkey
        // aggregation execute once, not once per consumer
        .localCheckpoint()
      val mx = rev.agg(max(col("total_rev")).as("mx"))
      T(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(mx), col("total_rev") === col("mx"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    }, Oracle(
      """WITH r AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey
        |), m AS (SELECT max(total_rev) AS mx FROM r)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier JOIN r ON s_suppkey = l_suppkey, m
        |WHERE total_rev = mx
        |ORDER BY s_suppkey""".stripMargin)),

    // ---- B40: anti-join + scalar subquery (Q22 shape): wealthy customers
    // with no orders, by nation.
    GateQuery("q22_sales_opportunity", { (s, dir) =>
      val cust = T(s, dir, "customer")
      val avgBal = cust
        .filter(col("c_acctbal") > 0.0)
        .agg(
          (dsum(col("c_acctbal")) /
            count(col("c_acctbal"))).as("ab")
        )
      cust
        .join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(
          T(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"),
          "left_anti"
        )
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), rsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }, Oracle(
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE)
        |         / count(c_acctbal) AS ab
        |  FROM customer WHERE c_acctbal > 0.0
        |)
        |SELECT c_nationkey, count(*) AS numcust,
        | CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))),2) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),

    // ---- B41: share-of-total HAVING (Q11 shape): parts above a revenue
    // fraction of the whole.
    GateQuery("q11_important_parts", { (s, dir) =>
      val li = T(s, dir, "lineitem")
      // `pr` feeds BOTH join sides (the rows and the broadcast average);
      // without pinning, the executed plan nests the whole fact-table
      // scan + partkey aggregation inside the broadcast subtree and runs
      // it twice. localCheckpoint bounds the pin at aggregate scale
      // (|partkeys| rows, not |lineitem|).
      val pr = li
        .groupBy(col("l_partkey"))
        .agg(rsum(revenue).as("value"))
        .localCheckpoint()
      val tot = pr.agg(
        (dsum(col("value")) /
          count(col("value"))).as("av")
      )
      pr.join(broadcast(tot))
        .filter(col("value") > col("av") * 1.5)
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }, Oracle(
      """WITH pr AS (
        |  SELECT l_partkey,
        |    CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS value
        |  FROM lineitem GROUP BY l_partkey
        |), tot AS (
        |  SELECT CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
        |         / count(value) AS av
        |  FROM pr
        |)
        |SELECT l_partkey, value
        |FROM pr, tot
        |WHERE value > av * 1.5
        |ORDER BY value DESC, l_partkey""".stripMargin)),

    // ---- B42: multi-stage event funnel (view -> click -> purchase ordering
    // per user, microsecond-exact).
    GateQuery("q_event_funnel", { (s, dir) =>
      val stages = T(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase")
        )
      stages.agg(
        count(col("t_view")).as("n_view"),
        sum(
          when(
            col("t_click") > col("t_view"), 1L
          ).otherwise(0L)
        ).as("n_view_click"),
        sum(
          when(
            col("t_click") > col("t_view") && col("t_purchase") > col("t_click"),
            1L
          ).otherwise(0L)
        ).as("n_full_funnel")
      )
    }, Oracle(
      """WITH s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id
        |)
        |SELECT count(t_view) AS n_view,
        | CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        | CAST(sum(CASE WHEN t_click > t_view AND t_purchase > t_click
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM s""".stripMargin)),

    // ---- B36: CUBE with grouping() indicators.
    GateQuery("q_cube", { (s, dir) =>
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio")
        )
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"),
          col("g_status"),
          col("g_prio")
        )
        .orderBy(col("status"), col("priority"), col("g_status"), col("g_prio"))
    }, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n,
        | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        | CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority, g_status, g_prio""".stripMargin)),

    // ---- B37: window navigation (lead / first_value per partition).
    GateQuery("q_window_nav", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          col("o_orderdate"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
          first_value(col("o_orderkey")).over(w).as("first_orderkey")
        )
        .filter(col("o_custkey") < 100)
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }, Oracle(
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | lead(o_orderkey, 1) OVER w AS next_orderkey,
        | first_value(o_orderkey) OVER w AS first_orderkey
        |FROM orders
        |WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // ---- B38: higher-order array functions over the embedding column.
    GateQuery("q_vector_norms", { (s, dir) =>
      T(s, dir, "embeddings")
        .select(
          col("label"),
          expr(
            "round(sqrt(aggregate(embedding, cast(0.0 AS double), " +
              "(acc, x) -> acc + cast(x AS double) * cast(x AS double))), 6)"
          ).as("norm"),
          size(col("embedding")).as("dims")
        )
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          rsum(col("norm"), 4).as("sum_norm"),
          max(col("dims")).as("dims")
        )
        .orderBy(col("label"))
    }, Oracle(
      """WITH v AS (
        |  SELECT label,
        |    round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |                                       x -> x * x))), 6) AS norm,
        |    CAST(len(embedding) AS INTEGER) AS dims
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n,
        | CAST(round(sum(CAST(norm AS DECIMAL(30,10))),4) AS DOUBLE) AS sum_norm,
        | max(dims) AS dims
        |FROM v
        |GROUP BY label
        |ORDER BY label""".stripMargin)),

    // ---- B35: left-outer join + count-of-counts histogram (Q13 shape).
    GateQuery("q13_customer_distribution", { (s, dir) =>
      val perCust = T(s, dir, "customer")
        .join(
          T(s, dir, "orders")
            .filter(col("o_orderpriority") =!= "5-LOW")
            .select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"),
          "left_outer"
        )
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, Oracle(
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey
        |) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ---- B34: the same engine surface through spark.sql text — the views
    // registered by GlueCatalogProvider serve SQL directly.
    GateQuery("q_sql_surface", { (s, dir) =>
      Tables.provider(s, dir) // ensure registration
      s.sql(
        """SELECT o_orderstatus,
          | count(*) AS n,
          | CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS total
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin
      )
    }, Oracle(
      """SELECT o_orderstatus,
        | count(*) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // ---- B57: explicit GROUPING SETS (neither rollup nor cube): chosen
    // grouping combinations in one pass over the fact table.
    GateQuery("q_grouping_sets", { (s, dir) =>
      Tables.provider(s, dir)
      graft.functions.GraftFunctions.register(s)
      // Pre-aggregate by the full key BEFORE the grouping sets: Spark plans
      // GROUPING SETS as Expand (one input copy per set), so expanding the
      // fact table triples the scanned rows — 18M Expand rows at sf1 for a
      // 6-combination key. Aggregating to the ~|rf|x|ls| pre-image first
      // makes Expand run on a handful of rows; count(*) folds into sum(n).
      // Identical semantics (grouping() flags derive from the set
      // expansion, not the base rows): the unchanged oracle hash-matches.
      // The 60M-row pre-agg sum rides graft_fixed_sum10 (round 11), same
      // exact-decimal contract as rsum.
      s.sql(
        """WITH pre AS (
          |  SELECT l_returnflag, l_linestatus, count(*) AS pn,
          |    graft_fixed_sum10(l_quantity) AS pqty
          |  FROM lineitem GROUP BY l_returnflag, l_linestatus
          |)
          |SELECT l_returnflag, l_linestatus,
          | CAST(grouping(l_returnflag) AS INT) AS g_rf,
          | CAST(grouping(l_linestatus) AS INT) AS g_ls,
          | sum(pn) AS n,
          | CAST(round(sum(pqty), 2) AS DOUBLE) AS qty
          |FROM pre
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin
      )
    }, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))),2) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)),

    // ---- B30: INTERSECT — nations having both customers and suppliers.
    GateQuery("q_intersect", { (s, dir) =>
      T(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"))
        .intersect(T(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    }, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),

    // ---- B31: EXCEPT — customer nations without a high-balance supplier.
    GateQuery("q_except", { (s, dir) =>
      T(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"))
        .except(
          T(s, dir, "supplier")
            .filter(col("s_acctbal") > 8000.0)
            .select(col("s_nationkey").as("nationkey"))
        )
        .orderBy("nationkey")
    }, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000.0
        |ORDER BY nationkey""".stripMargin)),

    // ---- B32: scalar subquery — orders above the global average price.
    GateQuery("q_scalar_subquery", { (s, dir) =>
      val ord = T(s, dir, "orders")
      val globalAvg = ord.agg(
        dsum(col("o_totalprice")) /
          count(col("o_totalprice"))
      ).head().getDouble(0)
      ord
        .filter(col("o_totalprice") > globalAvg * 1.5)
        .agg(
          count(lit(1)).as("n"),
          rsum(col("o_totalprice")).as("total")
        )
    }, Oracle(
      """SELECT count(*) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
        |         / count(o_totalprice) FROM orders) * 1.5""".stripMargin)),

    // ---- B33: exact interpolated percentiles per group — via the
    // histogram+selection two-pass operator, NOT percentile(): the built-in
    // buffers every value of a group in one agg buffer, which with 3 status
    // groups over a 100 TB orders table is an unsplittable executor OOM.
    GateQuery("q_percentiles", { (s, dir) =>
      operators.ExactQuantiles
        .groupQuantiles(
          T(s, dir, "orders"),
          "o_orderstatus",
          "o_totalprice",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
        )
        .groupBy(col("g"))
        // conditional agg, not pivot(): one row per label per group exists
        // by construction, and pivot costs an extra exchange + two
        // aggregate stages for the same 3-column widening
        .agg(
          round(min(when(col("lbl") === "p50", col("q"))), 2).as("p50"),
          round(min(when(col("lbl") === "p90", col("q"))), 2).as("p90"),
          round(min(when(col("lbl") === "p99", col("q"))), 2).as("p99")
        )
        .select(col("g").as("o_orderstatus"), col("p50"), col("p90"), col("p99"))
        .orderBy(col("o_orderstatus"))
    }, Oracle(
      """SELECT o_orderstatus,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        | round(quantile_cont(o_totalprice, 0.99), 2) AS p99
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // ---- B28: semi-structured JSON extraction from the events props column.
    GateQuery("q_json_extract", { (s, dir) =>
      T(s, dir, "events")
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k")
        )
        .groupBy(col("event_type"))
        .agg(
          count(col("k")).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k")
        )
        .orderBy(col("event_type"))
    }, Oracle(
      """SELECT event_type,
        | count(k) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | min(k) AS min_k,
        | max(k) AS max_k
        |FROM (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |) t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- B56: two-phase salted aggregation (operators.Salt) — the
    // heavy-hitter-key pattern, oracle-checked against the direct groupBy
    // (identical results for decomposable aggregates; decimal-exact sums so
    // both phases are order-independent).
    GateQuery("q_salted_agg", { (s, dir) =>
      val li = T(s, dir, "lineitem")
        .select(
          col("l_suppkey"),
          col("l_quantity").cast("decimal(30,10)").as("qty_dec")
        )
      operators.Salt
        .saltedSum(li, Seq("l_suppkey"), "qty_dec", salts = 8)
        .select(
          col("l_suppkey"),
          round(col("sum_qty_dec"), 2).cast("double").as("sum_qty")
        )
        .orderBy("l_suppkey")
    }, Oracle(
      // the direct (unsalted) aggregation — proves the two-phase salted plan
      // computes the same result
      """SELECT l_suppkey,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY l_suppkey
        |ORDER BY l_suppkey""".stripMargin)),

    // ---- B53: distribution window functions (ntile / cume_dist /
    // percent_rank) — exact rational outputs, engine-portable.
    GateQuery("q_window_distribution", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
      T(s, dir, "supplier")
        .select(
          col("s_suppkey"),
          col("s_nationkey"),
          ntile(4).over(w).as("quartile"),
          round(cume_dist().over(w), 6).as("cd"),
          round(percent_rank().over(w), 6).as("pr")
        )
        .orderBy("s_suppkey")
    }, Oracle(
      """SELECT s_suppkey, s_nationkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  round(percent_rank() OVER w, 6) AS pr
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_suppkey""".stripMargin)),

    // ---- B54: ordered string aggregation (listagg): deterministic because
    // the member list is sorted before joining.
    GateQuery("q_listagg", { (s, dir) =>
      T(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("c_nationkey"))
        .agg(
          array_join(sort_array(collect_list(col("c_name"))), ",").as("members"),
          count(lit(1)).as("n")
        )
        .orderBy("c_nationkey")
    }, Oracle(
      """SELECT c_nationkey,
        |  string_agg(c_name, ',' ORDER BY c_name) AS members,
        |  count(*) AS n
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),

    // ---- B55: per-group mode via explicit argmax (count desc, value desc) —
    // built-in mode() tie-breaking differs across engines, the window
    // formulation is deterministic on both.
    GateQuery("q_mode", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val counts = T(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      val w = Window
        .partitionBy("c_nationkey")
        .orderBy(col("n").desc, col("c_mktsegment").desc)
      counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_mktsegment").as("mode_seg"), col("n"))
        .orderBy("c_nationkey")
    }, Oracle(
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY c_nationkey ORDER BY n DESC, c_mktsegment DESC) AS rn
        |  FROM c
        |)
        |SELECT c_nationkey, c_mktsegment AS mode_seg, n
        |FROM r WHERE rn = 1
        |ORDER BY c_nationkey""".stripMargin)),

    // ---- B50: pivot — wide conditional aggregation with explicit pivot
    // values (explicit list keeps the plan a single pass, no values-discovery
    // job, and makes the output schema deterministic for the oracle).
    GateQuery("q_pivot", { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot(
          "o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        )
        .count()
        .orderBy("o_orderstatus")
    }, Oracle(
      """SELECT o_orderstatus,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
        |  count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        |  count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // ---- B51: RANGE-frame window — 7-day moving revenue over the daily
    // series. Range frames bound state by event-time distance, the window
    // shape rolling metrics need; day count per partition is bounded so the
    // single unpartitioned window is safe (pre-aggregated input).
    GateQuery("q_window_range", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(30,10)")).as("rev"))
      val w = Window.orderBy(unix_date(col("day"))).rangeBetween(-6, 0)
      daily
        .select(
          col("day"),
          round(sum(col("rev")).over(w), 2).cast("double").as("mov7")
        )
        .orderBy("day")
    }, Oracle(
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
        |  FROM orders GROUP BY 1
        |)
        |SELECT day,
        |  CAST(round(sum(rev) OVER (ORDER BY day
        |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 2)
        |    AS DOUBLE) AS mov7
        |FROM d
        |ORDER BY day""".stripMargin)),

    // ---- B52: sketch aggregates (rows-only: HLL/KLL internals are
    // engine-specific; the spec asserts error bounds against exact values).
    GateQuery("q_approx_stats", { (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95")
        )
        .orderBy("event_type")
    }, Contract("q_approx_stats_check",
      "HLL/KLL sketch values are engine-specific; the accuracy bounds are " +
        "gate-checked by the HASH-MATCHED q_approx_stats_check contract " +
        "row (exact NDV value plus rank-checked percentile booleans)")),

    // ---- B52 contract row: the sketches' accuracy bounds, certified.
    // Exact NDV is computed alongside the HLL estimate (hash-matched
    // value); the approx-percentile values are rank-checked against the
    // actual distribution in a second keyed pass (fraction <= approx-p50
    // must reach 0.5-tol, fraction < it must not exceed 0.5+tol — robust
    // to duplicate values). The oracle recomputes the exact NDV and pins
    // the booleans, so sketch-accuracy regressions flip a hash-compared
    // row instead of hiding behind "approximate".
    GateQuery("q_approx_stats_check", { (s, dir) =>
      val ev = T(s, dir, "events")
      val tol = 0.02
      // Two-consumer `agg` deliberately left UNPINNED (round 13, measured
      // out): the broadcast rank pass recomputes a column-pruned copy of
      // this aggregation (percentile sketches only — the optimizer drops
      // the countDistinct expand on that side), which looks like the
      // q11/q15 double-evaluation pathology, but both pin mechanisms lose
      // badly here because they materialize OUTSIDE the AQE-coalesced
      // path: localCheckpoint ran the sketch chain as one 12.5 s
      // single-task job, persist built the InMemoryRelation with 512
      // uncoalesced 256-partition tasks (6.9 s) — vs 2.4 s for the plain
      // double evaluation (JobProbe, sf0.1). The pruned second evaluation
      // costs less than any materialization of it.
      val agg = ev
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50a"),
          percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95a")
        )
      val ranks = ev
        .join(broadcast(agg.select("event_type", "p50a", "p95a")), "event_type")
        .groupBy("event_type")
        .agg(
          avg(when(col("value") <= col("p50a"), 1d).otherwise(0d)).as("le50"),
          avg(when(col("value") < col("p50a"), 1d).otherwise(0d)).as("lt50"),
          avg(when(col("value") <= col("p95a"), 1d).otherwise(0d)).as("le95"),
          avg(when(col("value") < col("p95a"), 1d).otherwise(0d)).as("lt95")
        )
      agg
        .join(ranks, "event_type")
        .select(
          col("event_type"),
          col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.05).as("ndv_ok"),
          (col("le50") >= 0.5 - tol && col("lt50") <= 0.5 + tol).as("p50_ok"),
          (col("le95") >= 0.95 - tol && col("lt95") <= 0.95 + tol).as("p95_ok")
        )
        .orderBy("event_type")
    }, Oracle(
      // Sketch-accuracy contract row: exact NDV is hash-matched outright;
      // the error-bound booleans are pinned true (see the queries-side
      // comment for why that is not a tautology).
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  true AS ndv_ok, true AS p50_ok, true AS p95_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- B48: as-of join (see operators.AsOfJoin): every purchase event
    // aligned to the user's most recent prior-or-equal view. One keyed
    // shuffle + sort, no range cross-join.
    GateQuery("q_asof_join", { (s, dir) =>
      val ev = T(s, dir, "events")
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val views = ev
        .filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      operators.AsOfJoin
        .asOf(
          purchases,
          views,
          keyCols = Seq("user_id"),
          tsCol = "ts",
          rightTieCol = "event_id",
          rightPayload = Seq("event_id", "value"),
          leftCols = Seq("user_id", "ts", "event_id")
        )
        .select(
          col("user_id"),
          col("event_id"),
          col("asof_event_id").as("view_id"),
          col("asof_value").as("view_value")
        )
        .orderBy("event_id")
    }, Oracle(
      // same union-merge formulation; per-column last_value is safe here
      // because the view payload has no nulls
      """WITH l AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS DOUBLE) AS r_value,
        |    1 AS is_left
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id,
        |    event_id AS r_id, value AS r_value, 0 AS is_left
        |  FROM events WHERE event_type = 'view'
        |), u AS (
        |  SELECT * FROM l UNION ALL SELECT * FROM r
        |), w AS (
        |  SELECT user_id, event_id, is_left,
        |    last_value(r_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, is_left, r_id
        |       ROWS UNBOUNDED PRECEDING) AS view_id,
        |    last_value(r_value IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, is_left, r_id
        |       ROWS UNBOUNDED PRECEDING) AS view_value
        |  FROM u
        |)
        |SELECT user_id, event_id, view_id, view_value
        |FROM w WHERE is_left = 1
        |ORDER BY event_id""".stripMargin)),

    // ---- B49: range join (see operators.AsOfJoin.rangeJoin): clicks within
    // 10 minutes after each view, per user — bucketed equi-join, candidate
    // space bounded by bucket co-residents instead of |L|x|R|.
    GateQuery("q_range_join", { (s, dir) =>
      val ev = T(s, dir, "events")
      val views = ev
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      operators.AsOfJoin
        .rangeJoin(views, clicks, Seq("user_id"), "ts", 600000000L)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_pairs"),
          countDistinct(col("view_id")).as("n_views_with_click")
        )
        .orderBy("user_id")
    }, Oracle(
      // direct range-predicate join — independently verifies the bucketed
      // equi-join decomposition on the Spark side
      """SELECT v.user_id, count(*) AS n_pairs,
        |  count(DISTINCT v.event_id) AS n_views_with_click
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type='view') v
        |JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type='click') c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 10 MINUTE
        |GROUP BY v.user_id
        |ORDER BY v.user_id""".stripMargin)),

    // ---- B63: scalable global sequence ids — the zipWithIndex two-pass
    // (range repartition -> per-partition counts -> offset broadcast ->
    // partitioned window) replacing the single-task global-ORDER
    // row_number; bit-identical to it for a total order, which the oracle
    // recomputes directly.
    GateQuery("q_global_ids", { (s, dir) =>
      operators.GlobalIds
        .sequentialIds(
          T(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("lang", "doc_id")
        )
        .orderBy("seq_id")
    }, Oracle(
      // B63: the oracle IS the naive global window the operator replaces.
      """SELECT doc_id, lang,
        |  CAST(row_number() OVER (ORDER BY lang, doc_id) AS BIGINT) AS seq_id
        |FROM documents
        |ORDER BY seq_id""".stripMargin)),

    // ---- B44: min-cost supplier min-price rows (Q2 shape). lineitem stands
    // in for partsupp as the part↔supplier price list: for each qualifying
    // part, the EUROPE suppliers offering its minimum price. Single-pass
    // window-min over p_partkey instead of the classic agg + join-back: the
    // join-back derivation consumed the fact-joined frame TWICE (two full
    // lineitem scans — offers is fact-scale, so pinning it is not the
    // scale-safe fix), while the window shuffles only the dim-filtered
    // offers once and reads the fact once. Measured same-window at all
    // three scales: 2.0x / 1.8x / 1.75x faster (sf0.1 0.56→0.28 s, sf1
    // 1.02→0.57 s, sf10 1.31→0.75 s); rows identical at sf0.1 and sf10.
    // At 100 TB the trade is the same: one extra shuffle of the ~1%
    // surviving offers beats a second full-fact scan, and the window key
    // (p_partkey) is the natural parallelism unit with per-part row counts
    // bounded by suppliers × orders per part.
    GateQuery("q2_min_cost", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val es = broadcast(
        T(s, dir, "supplier")
          .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .join(
            T(s, dir, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey")
          )
          .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      )
      val px = broadcast(
        T(s, dir, "part")
          .filter(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
          .select("p_partkey", "p_name")
      )
      val w = Window.partitionBy("p_partkey")
      T(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(es, col("l_suppkey") === col("s_suppkey"))
        .join(px, col("l_partkey") === col("p_partkey"))
        .withColumn("min_price", min(col("l_extendedprice")).over(w))
        .filter(col("l_extendedprice") === col("min_price"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "min_price")
        .distinct()
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }, Oracle(
      """WITH es AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |), px AS (
        |  SELECT p_partkey, p_name FROM part
        |  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
        |), offers AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
        |         l_extendedprice
        |  FROM lineitem
        |  JOIN es ON l_suppkey = s_suppkey
        |  JOIN px ON l_partkey = p_partkey
        |), mn AS (
        |  SELECT p_partkey AS mpk, min(l_extendedprice) AS min_price
        |  FROM offers GROUP BY 1
        |)
        |SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name, min_price
        |FROM offers JOIN mn ON p_partkey = mpk AND l_extendedprice = min_price
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)),

    // ---- B45: distinct-supplier counts with NOT IN exclusion (Q16 shape).
    // The exclusion list (suppliers in deficit) is tiny -> broadcast anti-join;
    // count(distinct) shuffles once on the grouping key.
    GateQuery("q16_supplier_counts", { (s, dir) =>
      val px = broadcast(
        T(s, dir, "part")
          .filter(
            col("p_brand") =!= "Brand#1" &&
              !col("p_type").like("MEDIUM%") &&
              col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36)
          )
          .select("p_partkey", "p_brand", "p_type", "p_size")
      )
      val bad = broadcast(
        T(s, dir, "supplier")
          .filter(col("s_acctbal") < 0.0)
          .select(col("s_suppkey").as("bad_suppkey"))
      )
      T(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(px, col("l_partkey") === col("p_partkey"))
        .join(bad, col("l_suppkey") === col("bad_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }, Oracle(
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // ---- B46: nested IN-subquery with HAVING threshold (Q20 shape):
    // suppliers who shipped a significant volume of 'small%' parts in 1996.
    // The qualifying-supplier set is an aggregate over the fact table; the
    // outer supplier side is dim-sized, so the semi-join broadcasts the
    // aggregate, not the fact.
    GateQuery("q20_promotion_candidates", { (s, dir) =>
      val px = broadcast(
        T(s, dir, "part").filter(col("p_name").like("small%")).select("p_partkey")
      )
      val qual = T(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(px, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 40.0)
        .select("l_suppkey")
      T(s, dir, "supplier")
        .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(
          T(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey")
        )
        .join(broadcast(qual), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }, Oracle(
      """SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_suppkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) > 40.0
        |)
        |ORDER BY s_suppkey""".stripMargin)),

    // ---- B47: sole-late-supplier detection (Q21 shape). The classic
    // EXISTS / NOT EXISTS pair over the same-order lineitems is rewritten as
    // ONE aggregation per order (distinct suppliers, distinct late suppliers,
    // late-item count): same semantics, one fact shuffle instead of two
    // correlated self-joins — the rewrite that matters when lineitem is the
    // 100 TB table. The DuckDB oracle runs the classic correlated form, so
    // the gate independently proves the rewrite equivalent.
    GateQuery("q21_waiting_supplier", { (s, dir) =>
      val supEuro = broadcast(
        T(s, dir, "supplier")
          .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .join(
            T(s, dir, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey")
          )
          .select("s_suppkey", "s_name")
      )
      val fOrders = T(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val flagged = T(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(fOrders, col("l_orderkey") === col("o_orderkey"))
        .withColumn(
          "late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
        )
      // two-phase aggregation instead of two countDistinct()s in one groupBy:
      // distinct aggregates plan an Expand (one input row per distinct agg, 3x
      // the fact rows through the hash aggregate). Pre-aggregating per
      // (order, supplier) needs no Expand, and the second aggregate runs on
      // the already-tiny per-order-supplier rows.
      //
      // Shared-exchange variant MEASURED OUT (round 13): an explicit
      // repartition(o_orderkey) satisfies both aggregates' clustering and
      // collapses the two exchanges to one, and the (order, supplier) grain
      // (~1.0 rows/group) makes the forgone map-side partials look free —
      // but the sf10 paired window regressed 7.1 → 9.6 s (mins): one
      // full-width aggregate over raw fact rows builds a far larger
      // per-task hash state than partial-then-final, and the second
      // exchange it saves is the already-tiny per-order frame. Keep the
      // two-phase shape.
      flagged
        .groupBy(col("o_orderkey"), col("l_suppkey"))
        .agg(
          max(col("late")).as("supp_late"),
          count(when(col("late"), lit(1))).as("supp_late_items")
        )
        .groupBy(col("o_orderkey"))
        .agg(
          count(lit(1)).as("ns"),
          sum(when(col("supp_late"), 1L).otherwise(0L)).as("nls"),
          max(when(col("supp_late"), col("l_suppkey"))).as("late_supp"),
          sum(col("supp_late_items")).as("n_late_items")
        )
        .filter(col("ns") > 1 && col("nls") === 1)
        .join(supEuro, col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("n_late_items")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }, Oracle(
      // classic correlated EXISTS / NOT EXISTS form — independently verifies
      // the Spark side's single-aggregation rewrite
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin)),

    // ---- B60: MERGE/upsert (CDC apply) — a change batch with inserts,
    // updates and deletes applied to the orders snapshot in ONE keyed
    // full-outer join (operators.Merge.applyCdc). The oracle re-derives the
    // merge with a plain FULL JOIN + coalesce.
    GateQuery("q_merge_upsert", { (s, dir) =>
      val base = T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val updates = base
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .select(
          col("o_orderkey"),
          col("o_orderstatus"),
          (col("o_totalprice") + lit(100.0)).as("o_totalprice"),
          lit("U").as("op")
        )
      val inserts = base
        .filter(col("o_orderkey") % 11 === 0)
        .select(
          (col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          lit("I").as("o_orderstatus"),
          col("o_totalprice"),
          lit("I").as("op")
        )
      val deletes = base
        .filter(col("o_orderkey") % 13 === 0)
        .select(
          col("o_orderkey"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"),
          lit("D").as("op")
        )
      operators.Merge
        .applyCdc(base, updates.unionByName(inserts).unionByName(deletes), Seq("o_orderkey"))
        .filter(col("o_orderkey") % 17 === 0)
        .orderBy("o_orderkey")
    }, Oracle(
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |), changes AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice, 'U' AS op
        |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'I', o_totalprice, 'I'
        |  FROM base WHERE o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 'D'
        |  FROM base WHERE o_orderkey % 13 = 0
        |), merged AS (
        |  SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |         coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |         coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice
        |  FROM base b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
        |  WHERE c.op IS NULL OR c.op <> 'D'
        |)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged
        |WHERE o_orderkey % 17 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- B61: SCD type-2 dimension build (operators.Merge.scd2) — version
    // rows with validity intervals from the purchase change log; lead()
    // window per key, tie-broken by event_id.
    GateQuery("q_scd2_dimension", { (s, dir) =>
      val log = T(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id") % 50 === 0)
        .select("user_id", "event_id", "ts", "value")
      operators.Merge
        .scd2(log, "user_id", "ts", "event_id")
        .select("user_id", "version", "valid_from", "valid_to", "is_current", "value")
        .orderBy("user_id", "version")
    }, Oracle(
      """WITH log AS (
        |  SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'purchase' AND user_id % 50 = 0
        |)
        |SELECT user_id,
        |  row_number() OVER w AS version,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current,
        |  value
        |FROM log
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin)),

    // ---- B62: equi-width histogram over a broadcast min/max scalar —
    // two scans total (one for the stats, one for the bucketing), no shuffle
    // beyond the 10-row aggregate.
    GateQuery("q_price_histogram", { (s, dir) =>
      val o = T(s, dir, "orders")
      val stats = o.agg(
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx")
      )
      o.crossJoin(broadcast(stats))
        .select(
          least(
            lit(9L),
            floor((col("o_totalprice") - col("mn")) * lit(10.0) / (col("mx") - col("mn")))
          ).as("bucket"),
          col("o_totalprice")
        )
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), rsum(col("o_totalprice")).as("total"))
        .orderBy("bucket")
    }, Oracle(
      """WITH s AS (
        |  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
        |)
        |SELECT
        |  CAST(least(9, floor((o_totalprice - mn) * 10.0 / (mx - mn))) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS total
        |FROM orders, s
        |GROUP BY 1
        |ORDER BY 1""".stripMargin))
  )
}
