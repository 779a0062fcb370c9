package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Relational (batch SQL) operator battery — covers SURVEY.md §2.2–2.7:
  * Calc (project+filter), hash/sort-merge/broadcast joins of all types,
  * hash aggregate, over-windows, rank/top-n, sort/limit, set ops,
  * grouping sets, distinct agg.
  *
  * Oracle-parity note: double sums are order-dependent in IEEE754, and
  * both Spark and DuckDB aggregate in nondeterministic partition order.
  * Every SUM over a double column is therefore computed over
  * CAST(x AS DECIMAL(18,4)) on BOTH sides — decimal addition is exact
  * and associative, so hashes match bit-for-bit. Averages divide the
  * exact decimal sum (cast to double) by the count, which is a single
  * deterministic double division on both engines.
  */
object Relational extends QueryModule {

  def declared: Seq[Query] = Seq(
    // ---- Calc + HashAggregate + Sort (TPC-H Q1 shape) ------------------
    // Reference: StreamExecCalc/BatchExecHashAggregate (SURVEY §2.2/§2.4)
    Query("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("sum_disc_price"),
          sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).cast("double").as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast("double") / count(col("l_quantity"))).as("avg_qty"),
          (sum(dec(col("l_extendedprice"))).cast("double") / count(col("l_extendedprice"))).as("avg_price"),
          (sum(dec(col("l_discount"))).cast("double") / count(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ---- Multi-way join + agg (TPC-H Q5 shape) -------------------------
    // lineitem⋈orders shuffles on the fact keys; nation/region/customer/
    // supplier are broadcast (small dims) — no shuffle for them at any SF.
    Query("q2_local_revenue",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val o  = Tables.load(s, dir, "orders")
      val c  = Tables.load(s, dir, "customer")
      val su = Tables.load(s, dir, "supplier")
      val n  = Tables.load(s, dir, "nation")
      val r  = Tables.load(s, dir, "region")
      // nation/region are fixed-size (25/5 rows at any SF) → always
      // broadcast; customer/supplier GROW with SF → no hint, AQE decides.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su,
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("revenue"),
             count(lit(1)).as("n_items"))
    },

    // ---- Broadcast join + filtered agg (TPC-H Q3 shape) ----------------
    Query("q3_shipping_priority",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val o  = Tables.load(s, dir, "orders")
      val c  = Tables.load(s, dir, "customer")
      li.filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .join(o.filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(c.filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("revenue"))
    },

    // ---- Semi join (EXISTS) — SURVEY §2.3 FlinkJoinType.SEMI -----------
    Query("q4_semi_join",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val o  = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      o.join(li.filter(col("l_quantity") > 45).select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // ---- Anti join (NOT EXISTS) — SURVEY §2.3 FlinkJoinType.ANTI -------
    Query("q5_anti_join",
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o.select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    },

    // ---- Left outer join + agg over nullable side ----------------------
    Query("q6_outer_join",
      """SELECT c_custkey, c_name,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             coalesce(sum(dec(col("o_totalprice"))), lit(0).cast(DecimalType(28, 4))).cast("double").as("total_spent"))
    },

    // ---- Full outer join — SURVEY §2.3 -------------------------------
    // Per-nation customer vs supplier account balances; either side may
    // be missing a nation entirely.
    Query("q7_full_outer_join",
      """SELECT COALESCE(ca.nationkey, sa.nationkey) AS nationkey, cust_bal, supp_bal
        |FROM (SELECT c_nationkey AS nationkey,
        |             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS cust_bal
        |      FROM customer GROUP BY c_nationkey) ca
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nationkey,
        |             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS supp_bal
        |      FROM supplier GROUP BY s_nationkey) sa
        |USING (nationkey)""".stripMargin) { (s, dir) =>
      val c  = Tables.load(s, dir, "customer")
      val su = Tables.load(s, dir, "supplier")
      val ca = c.groupBy(col("c_nationkey").as("nationkey"))
        .agg(sum(dec(col("c_acctbal"))).cast("double").as("cust_bal"))
      val sa = su.groupBy(col("s_nationkey").as("nationkey"))
        .agg(sum(dec(col("s_acctbal"))).cast("double").as("supp_bal"))
      ca.join(sa, Seq("nationkey"), "full_outer")
        .select(col("nationkey"), col("cust_bal"), col("supp_bal"))
    },

    // ---- Set ops: UNION / INTERSECT / EXCEPT — SURVEY §2.7 -------------
    Query("q8_set_ops",
      """SELECT nationkey, 'both' AS which FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS which FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'supp_only' AS which FROM
        |  (SELECT s_nationkey AS nationkey FROM supplier
        |   EXCEPT SELECT c_nationkey FROM customer)""".stripMargin) { (s, dir) =>
      val c  = Tables.load(s, dir, "customer")
      val su = Tables.load(s, dir, "supplier")
      val cn = c.select(col("c_nationkey").as("nationkey"))
      val sn = su.select(col("s_nationkey").as("nationkey"))
      val both    = cn.intersect(sn).withColumn("which", lit("both"))
      val custOnly = cn.except(sn).withColumn("which", lit("cust_only"))
      val supOnly  = sn.except(cn).withColumn("which", lit("supp_only"))
      both.unionAll(custOnly).unionAll(supOnly)
    },

    // ---- Grouping sets / ROLLUP + GROUPING() — SURVEY §2.4 Expand ------
    Query("q9_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      // Two-phase rollup (the d05/d06 discipline, r22): Spark's Expand
      // streams its input once per grouping set, so rolling up the raw
      // fact hashed every lineitem row 3x through the partial
      // aggregate. Aggregate at the finest grain first — the rollup's
      // Expand then multiplies the ≤|returnflag x linestatus| frame,
      // not the fact. Decimal partial sums and counts re-aggregate
      // exactly (sum of sums / sum of counts over a disjoint partition
      // of the same rows), and grouping_id() over the same rollup keys
      // is unchanged, so the output rows are identical.
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_quantity"))).as("g_qty"),
             count(lit(1)).as("g_n"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("g_qty")).cast("double").as("sum_qty"),
             sum(col("g_n")).as("n"),
             grouping_id().as("gid"))
    },

    // ---- Over-window aggregation (batch) — SURVEY §2.4 OverAggregate ---
    // ROWS frame running sum, LAG/LEAD, RANK over partition. The rank
    // partitions by (priority, order month), not bare priority: a
    // 5-value partition key is a 5-reducer bottleneck at 100×, while
    // priority×month cardinality GROWS with the data's timespan — the
    // scale-honest shape for a global-rank-like demo (a true global
    // top-N would go through WindowGroupLimit, as q11 does).
    Query("q10_over_windows",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  LAG(o_orderkey, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
        |  LEAD(o_orderkey, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order,
        |  ROW_NUMBER() OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq,
        |  RANK() OVER
        |    (PARTITION BY o_orderpriority, date_trunc('month', o_orderdate)
        |     ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        |FROM orders""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val byCust = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        sum(dec(col("o_totalprice")))
          .over(byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_spend"),
        lag(col("o_orderkey"), 1).over(byCust).as("prev_order"),
        lead(col("o_orderkey"), 1).over(byCust).as("next_order"),
        row_number().over(byCust).as("order_seq"),
        rank().over(
          Window.partitionBy(col("o_orderpriority"), date_trunc("month", col("o_orderdate")))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("price_rank"))
    },

    // ---- Rank → Top-N per group — SURVEY §2.5 (WindowGroupLimit) -------
    Query("q11_topn_per_group",
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
    },

    // ---- Global sort + limit — SURVEY §2.6 TakeOrderedAndProject -------
    Query("q12_sort_limit",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      o.orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },

    // ---- Distinct aggregates — SURVEY §2.4 SplitAggregate --------------
    Query("q13_distinct_agg",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             count(lit(1)).as("n_rows"))
    },

    // ---- Correlated scalar subquery shape (decorrelated to join) -------
    // Orders above their customer's average order value.
    Query("q14_above_avg_orders",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |JOIN (SELECT o_custkey AS ac_custkey,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |               / COUNT(o_totalprice) AS avg_price
        |      FROM orders GROUP BY o_custkey) a
        |  ON o_custkey = ac_custkey
        |WHERE o_totalprice > avg_price * 1.5""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val avgByCust = o.groupBy(col("o_custkey").as("ac_custkey"))
        .agg((sum(dec(col("o_totalprice"))).cast("double") / count(col("o_totalprice"))).as("avg_price"))
      o.join(avgByCust, col("o_custkey") === col("ac_custkey"))
        .filter(col("o_totalprice") > col("avg_price") * 1.5)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },

    // ---- Scalar function battery: string/math/conditional — SURVEY §2.8
    Query("q15_scalar_functions",
      """SELECT p_partkey,
        |  UPPER(p_name) AS up_name,
        |  LOWER(p_brand) AS lo_brand,
        |  LENGTH(p_name) AS name_len,
        |  SUBSTRING(p_type, 1, 5) AS type_pfx,
        |  CONCAT_WS('|', p_brand, p_type) AS brand_type,
        |  LTRIM(RTRIM(p_name)) AS trimmed,
        |  LPAD(p_brand, 12, '#') AS padded,
        |  REVERSE(p_brand) AS rev_brand,
        |  REPLACE(p_type, ' ', '_') AS type_us,
        |  COALESCE(NULLIF(p_brand, 'Brand#00'), 'none') AS brand_or,
        |  ABS(p_size - 25) AS size_dist,
        |  p_partkey % 7 AS key_mod,
        |  ROUND(p_retailprice * 1.1, 2) AS marked_up,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        |  CASE WHEN p_size < 10 THEN 'small'
        |       WHEN p_size < 30 THEN 'medium'
        |       ELSE 'large' END AS size_class,
        |  SQRT(CAST(p_size AS DOUBLE)) AS size_sqrt,
        |  GREATEST(p_size, 20) AS size_g,
        |  LEAST(p_size, 20) AS size_l
        |FROM part""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      p.select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_brand")).as("lo_brand"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type_pfx"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        ltrim(rtrim(col("p_name"))).as("trimmed"),
        lpad(col("p_brand"), 12, "#").as("padded"),
        reverse(col("p_brand")).as("rev_brand"),
        replace(col("p_type"), lit(" "), lit("_")).as("type_us"),
        coalesce(nullif(col("p_brand"), lit("Brand#00")), lit("none")).as("brand_or"),
        abs(col("p_size") - 25).as("size_dist"),
        pmod(col("p_partkey"), lit(7)).as("key_mod"),
        round(col("p_retailprice") * 1.1, 2).as("marked_up"),
        floor(col("p_retailprice")).as("price_floor"),
        ceil(col("p_retailprice")).as("price_ceil"),
        when(col("p_size") < 10, "small").when(col("p_size") < 30, "medium")
          .otherwise("large").as("size_class"),
        sqrt(col("p_size").cast("double")).as("size_sqrt"),
        greatest(col("p_size"), lit(20)).as("size_g"),
        least(col("p_size"), lit(20)).as("size_l"))
    },

    // ---- Temporal functions — SURVEY §2.8 temporal ---------------------
    Query("q16_temporal_functions",
      """SELECT o_orderkey,
        |  EXTRACT(YEAR FROM o_orderdate) AS yr,
        |  EXTRACT(MONTH FROM o_orderdate) AS mo,
        |  EXTRACT(DAY FROM o_orderdate) AS dom,
        |  EXTRACT(QUARTER FROM o_orderdate) AS qtr,
        |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS days_to_ref,
        |  CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      o.select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("1998-12-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_ref"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
    },

    // ---- Monthly revenue rollup: date_trunc + two-level agg ------------
    Query("q17_monthly_revenue",
      """SELECT CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS ship_month, l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY 1, l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      // r22: group on the month-truncated DATE (4-byte int key, pure
      // calendar arithmetic) and cast the ≤|months| aggregated keys
      // back to TIMESTAMP after the aggregate — the old shape carried a
      // cast-to-timestamp + timestamp date_trunc as the per-row group
      // key. Values identical: under the UTC session both forms are the
      // month's first midnight UTC.
      li.groupBy(trunc(col("l_shipdate").cast("date"), "month").as("ship_month_d"),
                 col("l_returnflag"))
        .agg(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("revenue"),
             sum(dec(col("l_quantity"))).cast("double").as("qty"))
        .select(col("ship_month_d").cast("timestamp").as("ship_month"),
          col("l_returnflag"), col("revenue"), col("qty"))
    }
  )
}
