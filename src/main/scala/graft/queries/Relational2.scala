package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Third relational battery: CUBE grouping sets, INTERSECT/EXCEPT ALL,
  * value window functions (first/last/nth), rank-family window
  * functions (ntile/cume_dist/percent_rank), date arithmetic, and
  * approximate distinct (rows-only; sketch isn't oracle-comparable).
  */
object Relational2 extends QueryModule {

  def declared: Seq[Query] = Seq(
    // ---- CUBE — SURVEY §2.4 grouping sets / Expand --------------------
    Query("q34_cube",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      // Two-phase cube (the d05/d06/q9 discipline, r22): cube's Expand
      // streamed every orders row 4x (one copy per grouping set)
      // through the partial aggregate. Aggregate at the finest
      // (status, priority) grain first; the Expand 4x then applies to
      // the ≤|status|x|priority| frame. Counts and decimal sums
      // re-aggregate exactly over the same disjoint row partition, and
      // grouping_id() over the same cube keys is unchanged.
      o.groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("g_n"),
             sum(dec(col("o_totalprice"))).as("g_total"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("g_n")).as("n"),
             sum(col("g_total")).cast("double").as("total"),
             grouping_id().as("gid"))
    },

    // ---- INTERSECT ALL / EXCEPT ALL — SURVEY §2.7 ---------------------
    Query("q35_set_ops_all",
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 25),
        |     b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.05),
        |     i AS (SELECT k, COUNT(*) AS n_inter FROM
        |             (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY k),
        |     e AS (SELECT k, COUNT(*) AS n_except FROM
        |             (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY k)
        |SELECT COALESCE(i.k, e.k) AS k, n_inter, n_except
        |FROM i FULL OUTER JOIN e USING (k)""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val a = li.filter(col("l_quantity") > 25).select(col("l_suppkey").as("k"))
      val b = li.filter(col("l_discount") > 0.05).select(col("l_suppkey").as("k"))
      a.intersectAll(b).groupBy(col("k")).agg(count(lit(1)).as("n_inter"))
        .join(a.exceptAll(b).groupBy(col("k")).agg(count(lit(1)).as("n_except")),
          Seq("k"), "full_outer")
    },

    // ---- first/last/nth value window functions ------------------------
    Query("q37_window_values",
      """SELECT o_orderkey, o_custkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  LAST_VALUE(o_orderkey) OVER w AS last_order,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      o.select(col("o_orderkey"), col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
    },

    // ---- rank-family window functions ---------------------------------
    Query("q38_window_ranks",
      """SELECT o_orderkey, o_orderpriority,
        |  NTILE(4) OVER w AS quartile,
        |  round(CUME_DIST() OVER w, 9) AS cd,
        |  round(PERCENT_RANK() OVER w, 9) AS pr,
        |  DENSE_RANK() OVER w AS dr
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      o.select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 9).as("cd"),
        round(percent_rank().over(w), 9).as("pr"),
        dense_rank().over(w).as("dr"))
    },

    // ---- PIVOT (wide aggregation) -------------------------------------
    Query("q52_pivot",
      """SELECT l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (l_returnflag = 'A') AS DOUBLE) AS qty_a,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (l_returnflag = 'N') AS DOUBLE) AS qty_n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (l_returnflag = 'R') AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(dec(col("l_quantity"))).cast("double"))
        .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
    },

    // ---- date arithmetic ---------------------------------------------
    Query("q39_date_arith",
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
        |  weekofyear(CAST(o_orderdate AS DATE)) AS woy,
        |  dayofyear(CAST(o_orderdate AS DATE)) AS doy
        |FROM orders""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val d = col("o_orderdate").cast("date")
      o.select(col("o_orderkey"),
        date_add(d, 30).as("plus30"),
        add_months(d, 2).as("plus2mo"),
        last_day(d).as("month_end"),
        dayofweek(d).as("dow"),
        weekofyear(d).as("woy"),
        dayofyear(d).as("doy"))
    }
  )
}
