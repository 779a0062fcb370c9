package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** TPC-DS-shape battery, part 2 (d14–d25) — see TpcDs for the channel
  * model and oracle-parity rules. Shapes here: OR-of-AND predicate
  * bundles (q13/q48), self-subquery DISTINCT (q41), per-channel return
  * ratio ranking (q49), cumulative-window cross-channel comparison
  * (q51), seasonal-deviation windows with LAG/LEAD (q47/q57) and with
  * CASE guards (q89), wide month pivots (q66), year-over-year decline
  * (q75), channel-absence ratios (q78), returns-adjusted revenue
  * (q93), multi-supplier order counting (q95), and all-channel
  * INTERSECT (q14).
  */
object TpcDs2 extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
  private def net: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  private def sales(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("channel", TpcDs.channel)
      .withColumn("d_year", year(col("o_orderdate")))
      .withColumn("d_month", month(col("o_orderdate")))

  private val salesSql: String =
    s"""sales AS (
       |  SELECT l.*, o.o_custkey, o.o_orderdate, o.o_orderpriority, o.o_totalprice,
       |         ${TpcDs.channelSql} AS channel,
       |         year(o_orderdate) AS d_year, month(o_orderdate) AS d_month
       |  FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey)""".stripMargin

  def declared: Seq[Query] = Seq(

    // ---- d14: DISTINCT + self-subquery OR bundles (TPC-DS q41) -------
    Query("d14_or_bundle_distinct", """
      SELECT DISTINCT p_name FROM part
      WHERE p_size BETWEEN 10 AND 40
        AND p_brand IN (SELECT p_brand FROM part
                        WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15)
                           OR (p_type = 'ECONOMY' AND p_size BETWEEN 30 AND 50))""") { (s, dir) =>
      val p = t(s, dir, "part")
      val bundleBrands = p.filter(
          (col("p_type") === "PROMO" && col("p_size").between(1, 15)) ||
          (col("p_type") === "ECONOMY" && col("p_size").between(30, 50)))
        .select(col("p_brand").as("bb"))
      p.filter(col("p_size").between(10, 40))
        .join(bundleBrands, col("p_brand") === col("bb"), "left_semi")
        .select(col("p_name")).distinct()
    },

    // ---- d15: OR-of-AND predicate bundles (TPC-DS q13/q48 shape) -----
    // Three (segment, acctbal-range, quantity-range) bundles OR'd over
    // a 3-way join; single wide aggregate row. The OR does not block
    // pushdown of the join keys; each bundle prunes at the scan.
    Query("d15_or_bundle_agg", """
      SELECT
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_net,
        count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS avg_qty
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE (c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 0 AND 4000 AND l_quantity BETWEEN 1 AND 20)
         OR (c_mktsegment = 'MACHINERY' AND c_acctbal BETWEEN 2000 AND 8000 AND l_quantity BETWEEN 10 AND 35)
         OR (c_mktsegment = 'FURNITURE' AND c_acctbal BETWEEN 5000 AND 10000 AND l_quantity BETWEEN 25 AND 50)""") { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(
          (col("c_mktsegment") === "BUILDING" && col("c_acctbal").between(0, 4000) && col("l_quantity").between(1, 20)) ||
          (col("c_mktsegment") === "MACHINERY" && col("c_acctbal").between(2000, 8000) && col("l_quantity").between(10, 35)) ||
          (col("c_mktsegment") === "FURNITURE" && col("c_acctbal").between(5000, 10000) && col("l_quantity").between(25, 50)))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("total_qty"),
             sum(dec6(net)).cast("double").as("total_net"),
             count(lit(1)).as("n"),
             (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
    },

    // ---- d16: per-channel return-ratio top-N (TPC-DS q49 shape) ------
    // ratio = returned qty / sold qty per (channel, part); rank within
    // channel. The window partitions by channel over part-level
    // aggregates (rows ≈ |part|×3) — fine at scale because the frame
    // is already one row per (channel, part), not per lineitem.
    // Scale note: partitionBy(channel) is cardinality-3, but rank()<=10
    // triggers Spark's WindowGroupLimit — each map task keeps its local
    // top-10 per channel BEFORE the exchange, so the 3 final window
    // tasks see ~10 x nPartitions rows, not |part| x 3. Verified in the
    // physical plan (WindowGroupLimit spans) and by the sf1 probe
    // (2.8x runtime at 10x data, BASELINE.md).
    Query("d16_return_ratio_rank", s"""
      WITH agg AS (
        SELECT ${TpcDs.channelSql} AS channel, l_partkey,
          sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,4))
                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS ret_dec,
          sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty_dec
        FROM lineitem GROUP BY 1, 2)
      SELECT channel, l_partkey, ratio, rk FROM (
        SELECT channel, l_partkey,
          CAST(ret_dec AS DOUBLE) / CAST(qty_dec AS DOUBLE) AS ratio,
          RANK() OVER (PARTITION BY channel
                       ORDER BY CAST(ret_dec AS DOUBLE) / CAST(qty_dec AS DOUBLE) DESC,
                                l_partkey ASC) AS rk
        FROM agg) t
      WHERE rk <= 10""") { (s, dir) =>
      val agg = t(s, dir, "lineitem")
        .withColumn("channel", TpcDs.channel)
        .groupBy(col("channel"), col("l_partkey"))
        .agg(sum(when(col("l_returnflag") === "R", dec(col("l_quantity")))
               .otherwise(lit(0).cast(DecimalType(18, 4)))).as("ret_dec"),
             sum(dec(col("l_quantity"))).as("qty_dec"))
        .withColumn("ratio", col("ret_dec").cast("double") / col("qty_dec").cast("double"))
      val w = Window.partitionBy(col("channel"))
        .orderBy(col("ratio").desc, col("l_partkey").asc)
      agg.withColumn("rk", rank().over(w)).filter(col("rk") <= 10)
        .select(col("channel"), col("l_partkey"), col("ratio"), col("rk"))
    },

    // ---- d17: cumulative windows + full outer join (TPC-DS q51) ------
    // Per-brand monthly cumulative revenue in store vs web channels;
    // FULL OUTER on (brand, month), keep rows where the store is
    // cumulatively ahead. Cumulative sums run over DECIMAL so both
    // engines accumulate exactly (order-independent).
    Query("d17_cumulative_channels", s"""
      WITH $salesSql,
      st AS (
        SELECT p_brand AS s_brand, d_month AS s_month,
          CAST(sum(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))))
                 OVER (PARTITION BY p_brand ORDER BY d_month
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS store_cum
        FROM sales JOIN part ON l_partkey = p_partkey
        WHERE channel = 'store' AND d_year = 1996
        GROUP BY p_brand, d_month),
      wb AS (
        SELECT p_brand AS w_brand, d_month AS w_month,
          CAST(sum(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))))
                 OVER (PARTITION BY p_brand ORDER BY d_month
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS web_cum
        FROM sales JOIN part ON l_partkey = p_partkey
        WHERE channel = 'web' AND d_year = 1996
        GROUP BY p_brand, d_month)
      SELECT coalesce(s_brand, w_brand) AS p_brand,
             coalesce(s_month, w_month) AS d_month,
             store_cum, web_cum
      FROM st FULL OUTER JOIN wb ON s_brand = w_brand AND s_month = w_month
      WHERE coalesce(store_cum, 0) > coalesce(web_cum, 0)""") { (s, dir) =>
      // r21: the two channel branches were two references to `base` —
      // Spark planned the sales⋈part fact subtree TWICE and full-outer
      // joined the cumulated results (the d08/d12/d22 disease; in real
      // TPC-DS q51 the channels are different fact tables, here they
      // live in ONE). One conditional-sum pass per (brand, month) is
      // the same join: the merged frame's row set (months where store
      // OR web sold) is exactly the full outer's, the running sums skip
      // NULL months so each channel's cumulative equals its own-branch
      // window (decimal sums over identical row sets), and
      // `when(m_dec IS NOT NULL, cum)` reproduces the outer join's
      // null-extension — a month without store sales had NULL
      // store_cum, not the carried value.
      // PRECONDITION (r22, advice): sum(when(channel=..., dec6(net)))
      // is NULL iff the group has no rows of that channel ONLY because
      // the measure (net over non-null price/discount) is never NULL on
      // an existing row — a NULL measure would read as channel absence
      // where the old two-branch join kept the group. The fixtures
      // guarantee non-null measures; revisit if the schema ever admits
      // NULLs there. Same argument in d21 (and d12/d08/d22's cells).
      val monthly = sales(s, dir)
        .filter(col("d_year") === 1996 && col("channel").isin("store", "web"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("d_month"))
        .agg(sum(when(col("channel") === "store", dec6(net))).as("s_dec"),
             sum(when(col("channel") === "web", dec6(net))).as("w_dec"))
      val w = Window.partitionBy(col("p_brand")).orderBy(col("d_month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      monthly
        .select(col("p_brand"), col("d_month"),
          when(col("s_dec").isNotNull, sum(col("s_dec")).over(w).cast("double")).as("store_cum"),
          when(col("w_dec").isNotNull, sum(col("w_dec")).over(w).cast("double")).as("web_cum"))
        .filter(coalesce(col("store_cum"), lit(0.0)) > coalesce(col("web_cum"), lit(0.0)))
    },

    // ---- d18: seasonal deviation + LAG/LEAD (TPC-DS q47/q57) ---------
    // v_monthly_sales: monthly brand revenue vs the brand-year average
    // (computed as exact-decimal window sum / window count so both
    // engines agree bit-for-bit), with prev/next month values.
    Query("d18_seasonal_deviation", s"""
      WITH $salesSql,
      monthly AS (
        SELECT p_brand, d_year, d_month,
          sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS m_dec
        FROM sales JOIN part ON l_partkey = p_partkey
        WHERE d_year IN (1996, 1997)
        GROUP BY p_brand, d_year, d_month)
      SELECT p_brand, d_year, d_month, monthly_sales, avg_monthly, prev_sales, next_sales
      FROM (
        SELECT p_brand, d_year, d_month,
          CAST(m_dec AS DOUBLE) AS monthly_sales,
          CAST(sum(m_dec) OVER (PARTITION BY p_brand, d_year) AS DOUBLE)
            / count(*) OVER (PARTITION BY p_brand, d_year) AS avg_monthly,
          lag(CAST(m_dec AS DOUBLE), 1) OVER (PARTITION BY p_brand ORDER BY d_year, d_month) AS prev_sales,
          lead(CAST(m_dec AS DOUBLE), 1) OVER (PARTITION BY p_brand ORDER BY d_year, d_month) AS next_sales
        FROM monthly) t
      WHERE abs(monthly_sales - avg_monthly) / avg_monthly > 0.1""") { (s, dir) =>
      val monthly = sales(s, dir)
        .filter(col("d_year").isin(1996, 1997))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("d_year"), col("d_month"))
        .agg(sum(dec6(net)).as("m_dec"))
      val wYear = Window.partitionBy(col("p_brand"), col("d_year"))
      val wSeq = Window.partitionBy(col("p_brand")).orderBy(col("d_year"), col("d_month"))
      monthly
        .withColumn("monthly_sales", col("m_dec").cast("double"))
        .withColumn("avg_monthly",
          sum(col("m_dec")).over(wYear).cast("double") / count(lit(1)).over(wYear))
        .withColumn("prev_sales", lag(col("m_dec").cast("double"), 1).over(wSeq))
        .withColumn("next_sales", lead(col("m_dec").cast("double"), 1).over(wSeq))
        .filter(abs(col("monthly_sales") - col("avg_monthly")) / col("avg_monthly") > 0.1)
        .select(col("p_brand"), col("d_year"), col("d_month"),
                col("monthly_sales"), col("avg_monthly"), col("prev_sales"), col("next_sales"))
    },

    // ---- d19: monthly vs group average + CASE guard (TPC-DS q89) -----
    Query("d19_monthly_vs_avg", s"""
      WITH $salesSql,
      monthly AS (
        SELECT p_type, p_brand, d_month,
          sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS m_dec
        FROM sales JOIN part ON l_partkey = p_partkey
        WHERE d_year = 1996
        GROUP BY p_type, p_brand, d_month)
      SELECT p_type, p_brand, d_month, monthly_sales, avg_monthly, pct_dev
      FROM (
        SELECT p_type, p_brand, d_month,
          CAST(m_dec AS DOUBLE) AS monthly_sales,
          CAST(sum(m_dec) OVER (PARTITION BY p_type, p_brand) AS DOUBLE)
            / count(*) OVER (PARTITION BY p_type, p_brand) AS avg_monthly,
          CASE WHEN CAST(sum(m_dec) OVER (PARTITION BY p_type, p_brand) AS DOUBLE)
                      / count(*) OVER (PARTITION BY p_type, p_brand) <> 0
               THEN (CAST(m_dec AS DOUBLE)
                     - CAST(sum(m_dec) OVER (PARTITION BY p_type, p_brand) AS DOUBLE)
                       / count(*) OVER (PARTITION BY p_type, p_brand))
                    / (CAST(sum(m_dec) OVER (PARTITION BY p_type, p_brand) AS DOUBLE)
                       / count(*) OVER (PARTITION BY p_type, p_brand))
          END AS pct_dev
        FROM monthly) t
      WHERE abs(monthly_sales - avg_monthly) > 0.15 * avg_monthly""") { (s, dir) =>
      val monthly = sales(s, dir)
        .filter(col("d_year") === 1996)
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("p_brand"), col("d_month"))
        .agg(sum(dec6(net)).as("m_dec"))
      val w = Window.partitionBy(col("p_type"), col("p_brand"))
      monthly
        .withColumn("monthly_sales", col("m_dec").cast("double"))
        .withColumn("avg_monthly",
          sum(col("m_dec")).over(w).cast("double") / count(lit(1)).over(w))
        .withColumn("pct_dev",
          when(col("avg_monthly") =!= 0.0,
            (col("monthly_sales") - col("avg_monthly")) / col("avg_monthly")))
        .filter(abs(col("monthly_sales") - col("avg_monthly")) > lit(0.15) * col("avg_monthly"))
        .select(col("p_type"), col("p_brand"), col("d_month"),
                col("monthly_sales"), col("avg_monthly"), col("pct_dev"))
    },

    // ---- d20: wide CASE pivot, 12 months × nation (TPC-DS q66) -------
    Query("d20_month_pivot", {
      val cols = (1 to 12).map(m =>
        s"CAST(sum(CASE WHEN d_month = $m THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6)) ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE) AS m${"%02d".format(m)}_net")
        .mkString(",\n        ")
      s"""
      WITH $salesSql
      SELECT n_name,
        $cols,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_net
      FROM sales
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      WHERE d_year = 1996
      GROUP BY n_name"""
    }) { (s, dir) =>
      // r22 (the d05/d08 int-key discipline): pivot by the INT
      // c_nationkey and attach n_name to the ≤25-row frame — the old
      // shape hashed a string key and probed the nation broadcast per
      // fact row. n_name unique per nationkey; inner-join drop-through
      // commutes with the aggregate.
      val base = sales(s, dir).filter(col("d_year") === 1996)
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      val zero = lit(0).cast(DecimalType(22, 6))
      val pivots = (1 to 12).map(m =>
        sum(when(col("d_month") === m, dec6(net)).otherwise(zero))
          .cast("double").as(f"m$m%02d_net"))
      base.groupBy(col("c_nationkey"))
        .agg(pivots.head, pivots.tail :+ sum(dec6(net)).cast("double").as("total_net"): _*)
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name") +: (1 to 12).map(m => col(f"m$m%02d_net")) :+
                col("total_net"): _*)
    },

    // ---- d21: year-over-year decline across channels (TPC-DS q75) ----
    Query("d21_yoy_decline", s"""
      WITH $salesSql,
      yearly AS (
        SELECT p_brand, d_year,
          sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty,
          sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS amt
        FROM sales JOIN part ON l_partkey = p_partkey
        WHERE channel IN ('store', 'web') AND d_year IN (1996, 1997)
        GROUP BY p_brand, d_year)
      SELECT cur.p_brand,
             CAST(prev.qty AS DOUBLE) AS prev_qty,
             CAST(cur.qty AS DOUBLE) AS cur_qty,
             CAST(cur.qty - prev.qty AS DOUBLE) AS qty_diff,
             CAST(cur.amt - prev.amt AS DOUBLE) AS amt_diff
      FROM yearly cur JOIN yearly prev
        ON cur.p_brand = prev.p_brand AND cur.d_year = 1997 AND prev.d_year = 1996
      WHERE cur.qty < prev.qty""") { (s, dir) =>
      // r21: the 1996/1997 slices were two references to `yearly` —
      // Spark planned the sales⋈part subtree twice and self-joined the
      // aggregates (the d08 disease). One conditional-sum pass per
      // brand is the same self-join: a per-(brand, year) sum is NULL
      // iff the brand has no rows that year, which is exactly the inner
      // join's row-dropping, and each year's decimal sum runs over the
      // identical row set → identical values.
      // PRECONDITION (r22, advice): "NULL sum ⟺ no rows that year"
      // additionally assumes the measures (dec(l_quantity), dec6(net))
      // are never NULL on an existing row — guaranteed by the fixtures'
      // non-null columns; a schema admitting NULL measures would break
      // the equivalence (see d17's matching note).
      sales(s, dir)
        .filter(col("channel").isin("store", "web") && col("d_year").isin(1996, 1997))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(when(col("d_year") === 1996, dec(col("l_quantity")))).as("prev_qty_dec"),
             sum(when(col("d_year") === 1996, dec6(net))).as("prev_amt_dec"),
             sum(when(col("d_year") === 1997, dec(col("l_quantity")))).as("qty"),
             sum(when(col("d_year") === 1997, dec6(net))).as("amt"))
        .filter(col("qty").isNotNull && col("prev_qty_dec").isNotNull &&
                col("qty") < col("prev_qty_dec"))
        .select(col("p_brand"),
                col("prev_qty_dec").cast("double").as("prev_qty"),
                col("qty").cast("double").as("cur_qty"),
                (col("qty") - col("prev_qty_dec")).cast("double").as("qty_diff"),
                (col("amt") - col("prev_amt_dec")).cast("double").as("amt_diff"))
    },

    // ---- d22: channel-absence ratio (TPC-DS q78 shape) ---------------
    // Parts with store-channel sales but NO web-channel sales that
    // year — LEFT JOIN + IS NULL filter on the aggregated web side.
    Query("d22_store_only_parts", s"""
      WITH $salesSql,
      st AS (
        SELECT l_partkey, d_year,
          sum(CAST(l_quantity AS DECIMAL(18,4))) AS s_qty_dec,
          sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS s_amt_dec
        FROM sales WHERE channel = 'store' GROUP BY l_partkey, d_year),
      wb AS (
        SELECT l_partkey AS w_partkey, d_year AS w_year,
          sum(CAST(l_quantity AS DECIMAL(18,4))) AS w_qty_dec
        FROM sales WHERE channel = 'web' GROUP BY l_partkey, d_year)
      SELECT l_partkey, d_year,
        CAST(s_qty_dec AS DOUBLE) AS s_qty,
        CAST(s_amt_dec AS DOUBLE) AS s_amt,
        CAST(s_amt_dec AS DOUBLE) / CAST(s_qty_dec AS DOUBLE) AS ratio
      FROM st LEFT JOIN wb ON l_partkey = w_partkey AND d_year = w_year
      WHERE w_qty_dec IS NULL""") { (s, dir) =>
      // r21: one conditional-aggregate pass replaces two full `sales`
      // subtrees + an outer join — the channels live in ONE fact table
      // here, so per-channel sums are CASE sums over a single
      // (partkey, year) shuffle. sum(CASE ... ELSE NULL) is NULL iff
      // the group has no rows of that channel, which is exactly the
      // old outer join's null-extension: store-side presence =
      // s_qty_dec IS NOT NULL, web-side absence = w_qty_dec IS NULL.
      // Decimal sums run over the identical row sets → identical
      // values. The lineitem⋈orders join and shuffle now run once.
      sales(s, dir).filter(col("channel").isin("store", "web"))
        .groupBy(col("l_partkey"), col("d_year"))
        .agg(sum(when(col("channel") === "store", dec(col("l_quantity")))).as("s_qty_dec"),
             sum(when(col("channel") === "store", dec6(net))).as("s_amt_dec"),
             sum(when(col("channel") === "web", dec(col("l_quantity")))).as("w_qty_dec"))
        .filter(col("s_qty_dec").isNotNull && col("w_qty_dec").isNull)
        .select(col("l_partkey"), col("d_year"),
                col("s_qty_dec").cast("double").as("s_qty"),
                col("s_amt_dec").cast("double").as("s_amt"),
                (col("s_amt_dec").cast("double") / col("s_qty_dec").cast("double")).as("ratio"))
    },

    // ---- d23: returns-adjusted revenue + top-100 (TPC-DS q93) --------
    // Each line joins its own return row (flag R, keyed by
    // orderkey+linenumber); revenue counts quantity net of returns.
    // ORDER BY total DESC with custkey tie-break + LIMIT 100 —
    // deterministic on both engines.
    Query("d23_returns_adjusted", """
      WITH ret AS (
        SELECT l_orderkey AS r_ok, l_linenumber AS r_ln, l_quantity AS r_qty
        FROM lineitem WHERE l_returnflag = 'R')
      SELECT o_custkey,
        CAST(sum(CAST((l_quantity - coalesce(r_qty, 0.0)) * l_extendedprice * (1-l_discount)
                      AS DECIMAL(22,6))) AS DOUBLE) AS total
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN ret ON l_orderkey = r_ok AND l_linenumber = r_ln
      GROUP BY o_custkey
      ORDER BY total DESC, o_custkey ASC
      LIMIT 100""") { (s, dir) =>
      val ret = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("r_ok"), col("l_linenumber").as("r_ln"),
                col("l_quantity").as("r_qty"))
      // r21: aggregate the per-line adjusted terms to ORDER grain
      // before orders joins in (guide §2.3 aggregate-before-you-
      // shuffle). The old plan shuffled lineitem⋈orders at LINE grain
      // (carrying o_custkey) into the (orderkey, linenumber) return
      // join; per-order decimal partials shrink that orderkey exchange
      // to one row per order, and decimal sums reassociate exactly —
      // each joined row's dec6 term is unchanged, only the summation
      // tree differs. Orders without lines / lines without orders drop
      // identically under the inner join on either side of the agg.
      val adj = t(s, dir, "lineitem")
        .join(ret, col("l_orderkey") === col("r_ok") && col("l_linenumber") === col("r_ln"), "left_outer")
        .select(col("l_orderkey"),
          dec6((col("l_quantity") - coalesce(col("r_qty"), lit(0.0))) *
               col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("adj_dec"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("adj_dec")).as("o_adj"))
      adj.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_adj")).cast("double").as("total"))
        .orderBy(col("total").desc, col("o_custkey").asc)
        .limit(100)
    },

    // ---- d24: multi-supplier orders without returns (TPC-DS q95) -----
    // Scale discipline (reference q95): semi-join lineitem to the
    // year-filtered orders FIRST, so the countDistinct shuffle sees only
    // ~1/7 of the fact table. Pruning non-1996 orderkeys cannot change
    // per-orderkey distinct counts, so results are identical.
    Query("d24_two_supplier_orders", """
      SELECT count(*) AS order_count,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
      FROM orders
      WHERE year(o_orderdate) = 1996
        AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1)
        AND NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')""") { (s, dir) =>
      val ords96 = t(s, dir, "orders").filter(year(col("o_orderdate")) === 1996)
      val li96 = t(s, dir, "lineitem")
        .join(ords96.select(col("o_orderkey").as("ok96")),
              col("l_orderkey") === col("ok96"), "left_semi")
      val multi = li96
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("ns"))
        .filter(col("ns") > 1).select(col("l_orderkey").as("m_ok"))
      val returned = li96.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("r_ok"))
      ords96
        .join(multi, col("o_orderkey") === col("m_ok"), "left_semi")
        .join(returned, col("o_orderkey") === col("r_ok"), "left_anti")
        .agg(count(lit(1)).as("order_count"),
             sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
    },

    // ---- d25: parts sold in ALL channels via INTERSECT (TPC-DS q14) --
    // channel derives from l_linenumber and every output column comes
    // from lineitem, so the lineitem⋈orders backbone contributes nothing
    // here — at 100 TB it was FOUR redundant fact⋈fact shuffles (r9
    // verdict #4). Keep the INTERSECT shape, drop the join.
    Query("d25_cross_channel_intersect", s"""
      WITH sl AS (SELECT l_partkey, l_quantity, l_extendedprice, l_discount,
                         ${TpcDs.channelSql} AS channel
                  FROM lineitem),
      common AS (
        SELECT l_partkey FROM sl WHERE channel = 'store'
        INTERSECT
        SELECT l_partkey FROM sl WHERE channel = 'catalog'
        INTERSECT
        SELECT l_partkey FROM sl WHERE channel = 'web')
      SELECT channel, count(*) AS n_lines,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_net
      FROM sl
      WHERE l_partkey IN (SELECT l_partkey FROM common)
      GROUP BY channel""") { (s, dir) =>
      val sl = t(s, dir, "lineitem").withColumn("channel", TpcDs.channel)
      def pk(ch: String) = sl.filter(col("channel") === ch).select(col("l_partkey")).distinct()
      val common = pk("store").intersect(pk("catalog")).intersect(pk("web"))
        .select(col("l_partkey").as("c_pk"))
      sl.join(common, col("l_partkey") === col("c_pk"), "left_semi")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_lines"),
             sum(dec(col("l_quantity"))).cast("double").as("total_qty"),
             sum(dec6(net)).cast("double").as("total_net"))
    }
  )
}
