package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** TPC-DS-shape battery, part 1 (d01–d13).
  *
  * The reference proves itself on 99/99 TPC-DS queries with golden
  * answers (flink-end-to-end-tests/flink-tpcds-test/.../
  * TpcdsTestProgram.java:76-86, answer sets tpcds-tool/answer_set/).
  * The fixtures are TPC-H-shaped, so this battery reproduces the
  * structurally distinctive TPC-DS query SHAPES — multi-channel fact
  * unions, ROLLUP + GROUPING() + rank-within-parent, wide CASE pivots,
  * scalar-subquery cross joins, correlated EXISTS/NOT EXISTS chains,
  * window-deviation analytics, year-over-year declines, cross-channel
  * INTERSECTs — on the tables we have:
  *
  *  - Sales "channels" (store_sales / catalog_sales / web_sales) are
  *    modeled as deterministic slices of lineitem by
  *    `l_linenumber % 3` (1 → store, 2 → catalog, 0 → web), so a
  *    multi-channel union is a union of three disjoint fact scans —
  *    the same plan shape TPC-DS produces, with none of the slices
  *    empty at any SF.
  *  - `date_dim` joins become year()/month()/quarter() on the fact's
  *    own timestamp (the reference's planner does the same pruning
  *    through date_dim's surrogate key).
  *  - Returns tables are the `l_returnflag = 'R'` slice.
  *
  * Scale notes (100 TB lens): every channel slice is a filter on the
  * same fact scan — no extra shuffle vs TPC-DS's per-channel tables;
  * rollup/window queries partition by low-card dims ONLY when the
  * frame is already one aggregated row per group (never a per-row
  * 5-reducer window); EXISTS chains are left-semi/anti joins that
  * shuffle on the join key; scalar thresholds (d11) broadcast as
  * 1-row frames. Oracle-parity follows Relational's decimal
  * discipline: every money sum goes through DECIMAL(18,4)/(22,6) on
  * both engines so hashes match bit-for-bit; counts stay BIGINT on
  * both sides (DuckDB sum(int) is HUGEINT → always CAST AS BIGINT).
  */
object TpcDs extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
  private def net: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Channel slice of lineitem: 1 → store, 2 → catalog, 0 → web. */
  private[queries] def channel: Column =
    when(col("l_linenumber") % 3 === 1, "store")
      .when(col("l_linenumber") % 3 === 2, "catalog")
      .otherwise("web")

  private[queries] val channelSql: String =
    "CASE WHEN l_linenumber % 3 = 1 THEN 'store' WHEN l_linenumber % 3 = 2 THEN 'catalog' ELSE 'web' END"

  /** lineitem ⋈ orders with channel + derived date columns — the
    * "fact ⋈ date_dim" backbone every TPC-DS query starts from. */
  private def sales(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("channel", channel)
      .withColumn("d_year", year(col("o_orderdate")))
      .withColumn("d_month", month(col("o_orderdate")))
      .withColumn("d_qtr", quarter(col("o_orderdate")))

  private val salesSql: String =
    s"""sales AS (
       |  SELECT l.*, o.o_custkey, o.o_orderdate, o.o_orderpriority, o.o_totalprice,
       |         $channelSql AS channel,
       |         year(o_orderdate) AS d_year, month(o_orderdate) AS d_month,
       |         quarter(o_orderdate) AS d_qtr
       |  FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey)""".stripMargin

  /** d02 in TPC-DS q5's literal shape: three per-channel scans union'd
    * (in real TPC-DS the channels are three DIFFERENT fact tables, so
    * the triple scan is inherent). Deriving the channel as a column and
    * reading the fact once gives the same rows; BASELINE.md records the
    * sf1 measurement of both shapes.
    */
  private def d02Shape(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    def chan(rem: Int, name: String) =
      t(s, dir, "lineitem").filter(col("l_linenumber") % 3 === rem)
        .join(p, col("l_partkey") === col("p_partkey"))
        .select(lit(name).as("channel"), col("p_brand"),
          dec6(net).as("sales_dec"),
          when(col("l_returnflag") === "R", dec6(net))
            .otherwise(lit(0).cast(DecimalType(22, 6))).as("returns_dec"))
    chan(1, "store").unionAll(chan(2, "catalog")).unionAll(chan(0, "web"))
      // two-phase rollup (see d05): grain-aggregate the fact once,
      // Expand multiplies only the |channel x brand| frame
      .groupBy(col("channel"), col("p_brand"))
      .agg(sum(col("sales_dec")).as("g_sales"), sum(col("returns_dec")).as("g_returns"))
      .rollup(col("channel"), col("p_brand"))
      .agg(sum(col("g_sales")).cast("double").as("sales"),
           sum(col("g_returns")).cast("double").as("returns"),
           (sum(col("g_sales")) - sum(col("g_returns"))).cast("double").as("profit"))
  }

  def declared: Seq[Query] = Seq(

    // ---- d01: star join + year/brand agg (TPC-DS q3 shape) -----------
    // fact ⋈ date_dim ⋈ item with an item attribute filter; the filter
    // reaches the part scan (pushed), the join shuffles on l_partkey
    // only after part is pre-filtered (AQE broadcasts it).
    Query("d01_brand_year_revenue", s"""
      WITH $salesSql
      SELECT d_year, p_brand,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_agg
      FROM sales JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'STANDARD'
      GROUP BY d_year, p_brand""") { (s, dir) =>
      // r22 (§3.2 reduce-before-the-exchange): p_type = 'STANDARD'
      // keeps 1/6 of parts, so the filtered part join runs FIRST and
      // prunes ~5/6 of lineitem before the orderkey exchange against
      // orders (Catalyst does not reorder joins without CBO stats) —
      // the h07/h09 dim-first discipline. Inner joins on distinct
      // keys commute → identical rows; no broadcast hint (part grows
      // with SF).
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("d_year"), col("p_brand"))
        .agg(sum(dec6(net)).cast("double").as("sum_agg"))
    },

    // ---- d02: multi-channel union + ROLLUP (TPC-DS q5 shape) ---------
    // Three disjoint channel scans union'd, then ROLLUP(channel, brand)
    // with sales / returns / profit — the q5 per-channel P&L roll-up.
    Query("d02_channel_rollup", s"""
      WITH chan AS (
        SELECT CASE WHEN l_linenumber % 3 = 1 THEN 'store'
                    WHEN l_linenumber % 3 = 2 THEN 'catalog' ELSE 'web' END AS channel,
               p_brand,
               CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6)) AS sales_dec,
               CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))
                    ELSE CAST(0 AS DECIMAL(22,6)) END AS returns_dec
        FROM lineitem JOIN part ON l_partkey = p_partkey)
      SELECT channel, p_brand,
        CAST(sum(sales_dec) AS DOUBLE) AS sales,
        CAST(sum(returns_dec) AS DOUBLE) AS returns,
        CAST(sum(sales_dec) - sum(returns_dec) AS DOUBLE) AS profit
      FROM chan GROUP BY ROLLUP (channel, p_brand)""") (d02Shape),

    // ---- d03: star with multi-dim filters + avgs (TPC-DS q7 shape) ---
    Query("d03_star_averages", s"""
      WITH $salesSql
      SELECT p_brand,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS agg1,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS agg2,
        CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS agg3,
        count(*) AS cnt
      FROM sales
        JOIN customer ON o_custkey = c_custkey
        JOIN part ON l_partkey = p_partkey
      WHERE c_mktsegment = 'AUTOMOBILE' AND o_orderpriority = '1-URGENT'
      GROUP BY p_brand""") { (s, dir) =>
      sales(s, dir)
        .join(t(s, dir, "customer").filter(col("c_mktsegment") === "AUTOMOBILE"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("p_brand"))
        .agg((sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("agg1"),
             (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("agg2"),
             (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("agg3"),
             count(lit(1)).as("cnt"))
    },

    // ---- d04: scalar-subquery cross join ×8 (TPC-DS q88 shape) -------
    // Eight independent bucket counts assembled as a single wide row.
    // Each is a 1-row aggregate → the 8-way join is 7 broadcast joins
    // of 1-row frames; at any SF this is 8 parallel scans + no shuffle.
    Query("d04_bucket_counts", """
      SELECT * FROM
        (SELECT count(*) AS h1 FROM lineitem WHERE l_quantity BETWEEN 1 AND 6 AND l_linestatus='O') a,
        (SELECT count(*) AS h2 FROM lineitem WHERE l_quantity BETWEEN 7 AND 12 AND l_linestatus='O') b,
        (SELECT count(*) AS h3 FROM lineitem WHERE l_quantity BETWEEN 13 AND 18 AND l_linestatus='O') c,
        (SELECT count(*) AS h4 FROM lineitem WHERE l_quantity BETWEEN 19 AND 24 AND l_linestatus='O') d,
        (SELECT count(*) AS h5 FROM lineitem WHERE l_quantity BETWEEN 1 AND 6 AND l_linestatus='F') e,
        (SELECT count(*) AS h6 FROM lineitem WHERE l_quantity BETWEEN 7 AND 12 AND l_linestatus='F') f,
        (SELECT count(*) AS h7 FROM lineitem WHERE l_quantity BETWEEN 13 AND 18 AND l_linestatus='F') g,
        (SELECT count(*) AS h8 FROM lineitem WHERE l_quantity BETWEEN 19 AND 24 AND l_linestatus='F') h""") { (s, dir) =>
      val li = t(s, dir, "lineitem")
      def bucket(lo: Int, hi: Int, status: String, as: String) =
        li.filter(col("l_quantity").between(lo, hi) && col("l_linestatus") === status)
          .agg(count(lit(1)).as(as))
      bucket(1, 6, "O", "h1").crossJoin(bucket(7, 12, "O", "h2"))
        .crossJoin(bucket(13, 18, "O", "h3")).crossJoin(bucket(19, 24, "O", "h4"))
        .crossJoin(bucket(1, 6, "F", "h5")).crossJoin(bucket(7, 12, "F", "h6"))
        .crossJoin(bucket(13, 18, "F", "h7")).crossJoin(bucket(19, 24, "F", "h8"))
    },

    // ---- d05: ROLLUP + GROUPING() + rank within parent (q36 shape) ---
    // Gross-discount-margin hierarchy over region → nation with
    // lochierarchy = grouping(r)+grouping(n) and RANK partitioned by
    // (level, parent) — the canonical q36 "rank within parent" idiom.
    // The window runs over ≤ 31 aggregated rows — driver-side-tiny at
    // any SF because rollup output is bounded by the dim cardinality.
    Query("d05_margin_rollup_rank", """
      WITH agg AS (
        SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(22,6))) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS gross_margin,
               r_name, n_name,
               CAST(GROUPING(r_name) + GROUPING(n_name) AS INT) AS lochierarchy
        FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name))
      SELECT gross_margin, r_name, n_name, lochierarchy,
        RANK() OVER (
          PARTITION BY lochierarchy, CASE WHEN lochierarchy = 0 THEN r_name END
          ORDER BY gross_margin ASC, coalesce(n_name,'') ASC, coalesce(r_name,'') ASC
        ) AS rank_within_parent
      FROM agg""") { (s, dir) =>
      // Two-phase rollup: Spark's Expand would stream the FACT table 3x
      // (one copy per grouping set) through the aggregate. Aggregate at
      // the finest grain first — decimal sums re-aggregate exactly — and
      // rollup only the ≤|region|x|nation| frame: the Expand blowup then
      // applies to ~26 rows instead of the 100 TB fact.
      //
      // r22 (guide step 2, per-task work): the grain is 1:1 with
      // s_nationkey (nation names are unique, region is functional on
      // nation), so group the fact by the INT nationkey and attach
      // names to the ≤25-row frame afterwards — the old shape hashed
      // two STRING keys per fact row and probed the nation and region
      // broadcasts per fact row. Inner-join drop-through is unchanged:
      // a nationkey absent from nation/region drops its group after
      // the aggregate exactly as its rows dropped before it.
      val grainByKey = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(sum(dec6(col("l_extendedprice") * col("l_discount"))).as("g_disc"),
             sum(dec(col("l_extendedprice"))).as("g_price"))
      val grain = grainByKey
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("g_disc"), col("g_price"))
      val agg = grain.rollup(col("r_name"), col("n_name"))
        .agg(sum(col("g_disc")).as("disc_dec"),
             sum(col("g_price")).as("price_dec"),
             (grouping(col("r_name")) + grouping(col("n_name"))).cast("int").as("lochierarchy"))
        .withColumn("gross_margin", col("disc_dec").cast("double") / col("price_dec").cast("double"))
      val w = Window
        .partitionBy(col("lochierarchy"),
          when(col("lochierarchy") === 0, col("r_name")))
        .orderBy(col("gross_margin").asc, coalesce(col("n_name"), lit("")).asc,
                 coalesce(col("r_name"), lit("")).asc)
      agg.select(col("gross_margin"), col("r_name"), col("n_name"),
                 col("lochierarchy"), rank().over(w).as("rank_within_parent"))
    },

    // ---- d06: ROLLUP + per-category top-N (TPC-DS q67 shape) ---------
    Query("d06_rollup_topn", """
      WITH agg AS (
        SELECT p_brand, p_type,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY ROLLUP (p_brand, p_type))
      SELECT * FROM (
        SELECT p_brand, p_type, sum_qty,
          RANK() OVER (PARTITION BY p_brand
                       ORDER BY sum_qty DESC, coalesce(p_type,'~') ASC) AS rk
        FROM agg) t
      WHERE rk <= 3""") { (s, dir) =>
      // Same two-phase rollup as d05: finest-grain aggregate first, so
      // Expand's 3x multiplication hits |brand x type| rows, not the fact.
      val agg = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(sum(dec(col("l_quantity"))).as("g_qty"))
        .rollup(col("p_brand"), col("p_type"))
        .agg(sum(col("g_qty")).cast("double").as("sum_qty"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("sum_qty").desc, coalesce(col("p_type"), lit("~")).asc)
      agg.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
    },

    // ---- d07: per-order line-count buckets + HAVING (q34 shape) ------
    Query("d07_order_line_buckets", """
      WITH oc AS (
        SELECT o_orderkey, o_custkey, count(*) AS cnt
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey, o_custkey
        HAVING count(*) BETWEEN 6 AND 7)
      SELECT c_name, o_orderkey, cnt
      FROM oc JOIN customer ON o_custkey = c_custkey""") { (s, dir) =>
      val oc = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt").between(6, 7))
      oc.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("cnt"))
    },

    // ---- d08: month-over-month self-join ratio (TPC-DS q59 shape) ----
    Query("d08_mom_revenue_ratio", s"""
      WITH $salesSql,
      rev AS (
        SELECT n_name, d_year, d_month,
          CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS rev
        FROM sales
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, d_year, d_month)
      SELECT y1.n_name, y1.d_month, y1.rev AS rev1996, y2.rev AS rev1997,
             y2.rev / y1.rev AS ratio
      FROM rev y1 JOIN rev y2 ON y1.n_name = y2.n_name AND y1.d_month = y2.d_month
      WHERE y1.d_year = 1996 AND y2.d_year = 1997""") { (s, dir) =>
      // r21: the two year slices were two references to `rev` — Spark
      // planned the sales⋈customer⋈nation subtree TWICE (the d12
      // disease). One conditional-sum pass per (nation, month) is the
      // same self-join: per-year sums run over the identical row sets
      // (identical decimals → identical doubles) and a NULL year cell
      // reproduces the inner join's row-dropping. The year filter now
      // also prunes 1995-only rows before the aggregate.
      // r22 (the d05 int-key discipline): group the fact by the INT
      // c_nationkey and attach n_name to the ≤25x12 aggregated frame —
      // the old shape hashed a string key and probed the nation
      // broadcast per fact row. n_name is unique per nationkey (nation
      // PK), and inner-join drop-through commutes with the aggregate:
      // a nationkey absent from nation drops its whole group either
      // way. Identical row multisets per group → identical decimals.
      sales(s, dir)
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("d_year").isin(1996, 1997))
        .groupBy(col("c_nationkey"), col("d_month"))
        .agg(sum(when(col("d_year") === 1996, dec6(net))).as("s96"),
             sum(when(col("d_year") === 1997, dec6(net))).as("s97"))
        .filter(col("s96").isNotNull && col("s97").isNotNull)
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("d_month"),
                col("s96").cast("double").as("rev1996"),
                col("s97").cast("double").as("rev1997"),
                (col("s97").cast("double") / col("s96").cast("double")).as("ratio"))
    },

    // ---- d09: correlated EXISTS chain (TPC-DS q54 shape) -------------
    // Customers who bought PROMO parts in 1996 AND placed an urgent
    // order — two stacked semi joins, counted by segment.
    Query("d09_exists_chain", s"""
      WITH $salesSql
      SELECT c_mktsegment, count(*) AS cnt
      FROM customer
      WHERE EXISTS (SELECT 1 FROM sales JOIN part ON l_partkey = p_partkey
                    WHERE o_custkey = c_custkey AND p_type = 'PROMO' AND d_year = 1996)
        AND EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment""") { (s, dir) =>
      val promoBuyers = sales(s, dir)
        .join(t(s, dir, "part").filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .filter(col("d_year") === 1996)
        .select(col("o_custkey"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("u_custkey"))
      t(s, dir, "customer")
        .join(promoBuyers, col("c_custkey") === col("o_custkey"), "left_semi")
        .join(urgent, col("c_custkey") === col("u_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- d10: EXISTS + NOT EXISTS channel mix (q10/q35 shape) --------
    // Customers active in the store channel but absent from the web
    // channel; conditional count on acctbal (the q10 demographic
    // breakdown) — semi + anti join, both shuffling on custkey.
    Query("d10_exists_not_exists", s"""
      WITH $salesSql
      SELECT c_mktsegment, count(*) AS cnt,
        CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich
      FROM customer
      WHERE EXISTS (SELECT 1 FROM sales WHERE o_custkey = c_custkey AND channel = 'store')
        AND NOT EXISTS (SELECT 1 FROM sales WHERE o_custkey = c_custkey AND channel = 'web')
      GROUP BY c_mktsegment""") { (s, dir) =>
      val storeCust = sales(s, dir).filter(col("channel") === "store").select(col("o_custkey"))
      val webCust = sales(s, dir).filter(col("channel") === "web")
        .select(col("o_custkey").as("w_custkey"))
      t(s, dir, "customer")
        .join(storeCust, col("c_custkey") === col("o_custkey"), "left_semi")
        .join(webCust, col("c_custkey") === col("w_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
             sum(when(col("c_acctbal") > 5000, 1L).otherwise(0L)).cast("long").as("n_rich"))
    },

    // ---- d11: frequent items ∩ best customers (TPC-DS q23 shape) -----
    // "Frequent" parts (>35 lineitems) and "best" customers (spend >
    // 1.3× the average per-customer spend, a broadcast 1-row scalar);
    // total cross-channel sales restricted to both sets.
    Query("d11_frequent_best", s"""
      WITH $salesSql,
      freq AS (SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING count(*) > 35),
      spend AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_dec
                FROM orders GROUP BY o_custkey),
      best AS (SELECT o_custkey FROM spend
               WHERE CAST(spend_dec AS DOUBLE) >
                 1.3 * (SELECT CAST(sum(spend_dec) AS DOUBLE)/count(*) FROM spend))
      SELECT channel,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_sales,
        count(*) AS n_lines
      FROM sales
      WHERE l_partkey IN (SELECT l_partkey FROM freq)
        AND o_custkey IN (SELECT o_custkey FROM best)
      GROUP BY channel""") { (s, dir) =>
      val freqParts = t(s, dir, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("pc"))
        .filter(col("pc") > 35).select(col("l_partkey").as("f_partkey"))
      // r21: `spend` feeds both the average subquery and the best-
      // customer filter — checkpoint the customer-grain aggregate once
      // instead of planning the orders scan+agg twice (t54/t52
      // discipline).
      val spend = Staging.checkpointSuperseding(s"$dir#d11_spend",
        t(s, dir, "orders")
          .groupBy(col("o_custkey")).agg(sum(dec(col("o_totalprice"))).as("spend_dec")))
      val avgSpend = spend.agg(
        (sum(col("spend_dec")).cast("double") / count(lit(1))).as("avg_spend"))
      val best = spend.crossJoin(broadcast(avgSpend))
        .filter(col("spend_dec").cast("double") > lit(1.3) * col("avg_spend"))
        .select(col("o_custkey").as("b_custkey"))
      sales(s, dir)
        .join(freqParts, col("l_partkey") === col("f_partkey"), "left_semi")
        .join(best, col("o_custkey") === col("b_custkey"), "left_semi")
        .groupBy(col("channel"))
        .agg(sum(dec6(net)).cast("double").as("total_sales"),
             count(lit(1)).as("n_lines"))
    },

    // ---- d12: quarter-over-quarter two-channel growth (q31 shape) ----
    // Nations where the web channel grew faster than the store channel
    // from 1996Q1 to 1996Q2 — four aggregated frames joined on nation.
    Query("d12_qoq_channel_growth", s"""
      WITH $salesSql,
      rev AS (
        SELECT n_name, channel, d_qtr,
          CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS rev
        FROM sales
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        WHERE d_year = 1996 AND d_qtr IN (1, 2)
        GROUP BY n_name, channel, d_qtr)
      SELECT ss1.n_name AS n_name, ss1.rev AS ss1, ss2.rev AS ss2,
             ws1.rev AS ws1, ws2.rev AS ws2,
             ss2.rev / ss1.rev AS store_ratio, ws2.rev / ws1.rev AS web_ratio
      FROM rev ss1, rev ss2, rev ws1, rev ws2
      WHERE ss1.channel = 'store' AND ss1.d_qtr = 1
        AND ss2.channel = 'store' AND ss2.d_qtr = 2 AND ss2.n_name = ss1.n_name
        AND ws1.channel = 'web' AND ws1.d_qtr = 1 AND ws1.n_name = ss1.n_name
        AND ws2.channel = 'web' AND ws2.d_qtr = 2 AND ws2.n_name = ss1.n_name
        AND ws2.rev / ws1.rev > ss2.rev / ss1.rev""") { (s, dir) =>
      // r22 (the d05/d08 int-key discipline): aggregate by the INT
      // c_nationkey and join nation onto the ≤|nation|·3·2-row frame —
      // same equivalence as d08 (n_name unique per nationkey,
      // inner-join drop-through commutes with the aggregate).
      val base = sales(s, dir)
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("d_year") === 1996 && col("d_qtr").isin(1, 2))
      val rev = base.groupBy(col("c_nationkey"), col("channel"), col("d_qtr"))
        .agg(sum(dec6(net)).cast("double").as("rev"))
      // r21: the four (channel, qtr) slices used to be four DataFrame
      // references to `rev` — Spark plans each independently, so the
      // full lineitem⋈orders⋈customer subtree ran FOUR times (the
      // before-plan shows the quadrupled scan). One pass + a pivot on
      // the ≤|nation|·3·2-row frame is the same 4-way inner join:
      // rev is unique per (nation, channel, qtr), so max() picks the
      // slice value and a NULL cell means the slice is absent (the
      // inner join's row-dropping), filtered identically.
      def cell(ch: String, q: Int) =
        max(when(col("channel") === ch && col("d_qtr") === q, col("rev")))
      rev.groupBy(col("c_nationkey"))
        .agg(cell("store", 1).as("ss1"), cell("store", 2).as("ss2"),
             cell("web", 1).as("ws1"), cell("web", 2).as("ws2"))
        .filter(col("ss1").isNotNull && col("ss2").isNotNull &&
                col("ws1").isNotNull && col("ws2").isNotNull)
        .filter(col("ws2") / col("ws1") > col("ss2") / col("ss1"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("ss1"), col("ss2"), col("ws1"), col("ws2"),
                (col("ss2") / col("ss1")).as("store_ratio"),
                (col("ws2") / col("ws1")).as("web_ratio"))
    },

    // ---- d13: three-channel union → re-aggregate (q33/q56 shape) -----
    Query("d13_union_brand_total", s"""
      WITH $salesSql,
      per_chan AS (
        SELECT channel, p_brand,
          sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS amt_dec
        FROM sales JOIN part ON l_partkey = p_partkey
        WHERE p_size IN (5, 10, 15, 20, 25)
        GROUP BY channel, p_brand)
      SELECT p_brand, CAST(sum(amt_dec) AS DOUBLE) AS total_sales
      FROM per_chan GROUP BY p_brand""") { (s, dir) =>
      val p = t(s, dir, "part").filter(col("p_size").isin(5, 10, 15, 20, 25))
      def chan(ch: String) = sales(s, dir).filter(col("channel") === ch)
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(dec6(net)).as("amt_dec"))
      chan("store").unionAll(chan("catalog")).unionAll(chan("web"))
        .groupBy(col("p_brand"))
        .agg(sum(col("amt_dec")).cast("double").as("total_sales"))
    }
  )
}
