package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Conversion + JSON battery — SURVEY.md §2.8 "Conversion" (CAST,
  * TRY_CAST) and the rest of the JSON row (EXISTS-style checks, array
  * lengths, nested construction).
  */
object Conversions extends QueryModule {

  def declared: Seq[Query] = Seq(
    Query("q48_casts",
      """SELECT p_partkey,
        |  CAST(p_partkey AS VARCHAR) AS key_str,
        |  CAST(p_size AS DOUBLE) AS size_dbl,
        |  CAST(trunc(p_retailprice) AS INT) AS price_int,
        |  CAST(p_retailprice AS VARCHAR) AS price_str,
        |  CAST(p_size > 25 AS INT) AS big_flag,
        |  TRY_CAST(regexp_extract(p_brand, '(\d+)', 1) AS INT) AS brand_num,
        |  TRY_CAST(p_type AS INT) AS bad_int,
        |  TRY_CAST(p_size AS BOOLEAN) AS size_bool,
        |  'k' || CAST(p_partkey AS VARCHAR) AS tagged
        |FROM part""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      p.select(
        col("p_partkey"),
        col("p_partkey").cast("string").as("key_str"),
        col("p_size").cast("double").as("size_dbl"),
        col("p_retailprice").cast("int").as("price_int"),
        col("p_retailprice").cast("string").as("price_str"),
        (col("p_size") > 25).cast("int").as("big_flag"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).cast("int").as("brand_num"),
        expr("try_cast(p_type AS INT)").as("bad_int"),       // always null
        expr("try_cast(p_size AS BOOLEAN)").as("size_bool"),
        concat(lit("k"), col("p_partkey").cast("string")).as("tagged"))
    },

    // ---- HAVING + IN-subquery + null-handling functions ---------------
    Query("q53_having_in",
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))
        |GROUP BY o_custkey
        |HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_custkey, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer
          |                    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))
          |GROUP BY o_custkey
          |HAVING count(*) >= 2""".stripMargin)
    },

    Query("q54_null_logic",
      """WITH m AS (
        |  SELECT c_custkey, max(o_totalprice) AS max_price
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_custkey,
        |  COALESCE(max_price, -1.0) AS price_or_neg,
        |  max_price IS NULL AS no_orders,
        |  NULLIF(COALESCE(max_price, 0.0), 0.0) AS null_if_zero,
        |  CASE WHEN max_price IS NOT NULL THEN 'buyer' ELSE 'dormant' END AS status,
        |  CAST(max_price AS DOUBLE) AS nan_guard
        |FROM m""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(max(col("o_totalprice")).as("max_price"))
        .select(
          col("c_custkey"),
          coalesce(col("max_price"), lit(-1.0)).as("price_or_neg"),
          col("max_price").isNull.as("no_orders"),
          nullif(coalesce(col("max_price"), lit(0.0)), lit(0.0)).as("null_if_zero"),
          nvl2(col("max_price"), lit("buyer"), lit("dormant")).as("status"),
          nanvl(col("max_price").cast("double"), lit(0.0)).as("nan_guard"))
    },

    // ---- SQL-text path: executeSql end-to-end through the gate --------
    // Correlated EXISTS + scalar subquery in Spark SQL dialect (the
    // reference's primary entry point, SURVEY §3.1), not DataFrame API.
    Query("q51_sql_subqueries",
      """SELECT c_custkey, c_name,
        |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |  AND c_acctbal > 0""".stripMargin) { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      graft.sql.SqlEnv(s).executeSql(
        """SELECT c_custkey, c_name,
          |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
          |FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
          |  AND c_acctbal > 0""".stripMargin)
    },

    // ---- Interval arithmetic + sub-day truncation — SURVEY §2.8 -------
    Query("q50_timestamp_arith",
      """SELECT event_id,
        |  CAST(ts + INTERVAL 2 HOUR AS TIMESTAMP) AS plus_2h,
        |  CAST(ts - INTERVAL 90 MINUTE AS TIMESTAMP) AS minus_90m,
        |  CAST(ts + INTERVAL 1 DAY AS TIMESTAMP) AS plus_1d,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute_start,
        |  EXTRACT(HOUR FROM ts) AS h,
        |  EXTRACT(MINUTE FROM ts) AS m,
        |  CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS BIGINT) AS sec
        |FROM events""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      e.select(
        col("event_id"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("plus_2h"),
        (col("ts") - expr("INTERVAL 90 MINUTES")).as("minus_90m"),
        (col("ts") + expr("INTERVAL 1 DAY")).as("plus_1d"),
        date_trunc("hour", col("ts")).as("hour_start"),
        date_trunc("minute", col("ts")).as("minute_start"),
        hour(col("ts")).as("h"),
        minute(col("ts")).as("m"),
        second(col("ts")).as("sec"))
    },

    // ---- TIME type (Flink TIME(p) WITHOUT TIME ZONE) -------------------
    // The reference's TIME columns (LogicalTypeRoot.TIME_WITHOUT_TIME_ZONE,
    // flink-table-common LocalTimeType family) on Spark 4.1's native
    // TimeType (spark.sql.timeType.enabled — all graft sessions set it):
    // construct time-of-day from a timestamp, compare against TIME
    // literals, aggregate min/max, and shift by a day-time interval.
    // This replaces the int-millis-of-day narrowing documented through
    // r13 (README). TIMESTAMP→TIME casts are not yet wired in Spark,
    // so the tod derives via make_time(hour, minute, second) — the
    // seconds-truncated value DuckDB's date_trunc('second', ts)::TIME
    // also produces.
    Query("q89_time_type",
      """WITH t AS (
        |  SELECT event_type, CAST(date_trunc('second', ts) AS TIME) AS tod
        |  FROM events
        |  WHERE CAST(date_trunc('second', ts) AS TIME) >= TIME '06:00:00'
        |    AND CAST(date_trunc('second', ts) AS TIME) < TIME '18:00:00')
        |SELECT event_type, count(1) AS n,
        |  min(tod) AS first_tod, max(tod) AS last_tod,
        |  min(tod) + INTERVAL 1 HOUR AS first_shift
        |FROM t GROUP BY event_type""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      e.withColumn("tod",
          expr("make_time(hour(ts), minute(ts), second(ts))"))
        .filter(col("tod") >= expr("TIME'06:00:00'") &&
          col("tod") < expr("TIME'18:00:00'"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          min(col("tod")).as("first_tod"),
          max(col("tod")).as("last_tod"),
          min(expr("tod + INTERVAL 1 HOUR")).as("first_shift"))
    },

    // ---- TIMESTAMP→TIME cast through the SQL-text dialect --------------
    // (r14 tail: closes the README "casts are not wired yet" delta.)
    // Flink's LogicalTypeCasts allows TIMESTAMP→TIME; Spark's native Cast
    // rejects it, so SqlEnv rewrites every TIME-targeted CAST/TRY_CAST
    // onto the CastTime RuntimeReplaceable (functions/times.scala) which
    // dispatches on the resolved operand type. The bare-TIME leg pins
    // Flink's TIME(0) seconds truncation; time_add_wrap pins the
    // wrap-modulo-24h arithmetic (DuckDB + INTERVAL wraps natively, so
    // it oracles directly).
    Query("q90_time_cast",
      """SELECT event_id,
        |  CAST(ts AS TIME) AS tod,
        |  CAST(ts AS TIME) AS tod_try,
        |  CAST(date_trunc('second', ts) AS TIME) AS tod_sec,
        |  CAST(ts AS TIME) + INTERVAL 20 HOUR AS wrapped
        |FROM events""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("events_q90")
      env.executeSql("""
        SELECT event_id,
          CAST(ts AS TIME(6)) AS tod,
          TRY_CAST(ts AS TIME(6)) AS tod_try,
          CAST(CAST(ts AS TIME) AS TIME(6)) AS tod_sec,
          time_add_wrap(CAST(ts AS TIME(6)), INTERVAL '20' HOUR) AS wrapped
        FROM events_q90
      """)
    },

    // ---- native TIME ± interval through the dialect: midnight wrap -----
    // (late r14.) wrapTimeArithmetic swaps Spark's overflow-raising
    // TimeAddInterval for TimeAddWrap on the analyzed plan, so the plain
    // `+`/`-` operators wrap modulo 24 h exactly like DuckDB's native
    // TIME arithmetic — which oracles them directly, crossing midnight
    // in both directions on every row.
    Query("q91_time_wrap_sql",
      """SELECT event_id,
        |  CAST(ts AS TIME) + INTERVAL 20 HOUR AS wrap_fwd,
        |  CAST(ts AS TIME) - INTERVAL 7 HOUR AS wrap_back
        |FROM events""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("events_q91")
      env.executeSql("""
        SELECT event_id,
          CAST(ts AS TIME(6)) + INTERVAL '20' HOUR AS wrap_fwd,
          CAST(ts AS TIME(6)) - INTERVAL '7' HOUR AS wrap_back
        FROM events_q91
      """)
    },

    Query("q49_json2",
      """SELECT event_id,
        |  json_extract_string(props, '$.k') IS NOT NULL AS has_k,
        |  json_extract_string(props, '$.missing') IS NULL AS no_missing,
        |  to_json(struct_pack(id := event_id,
        |    "inner" := struct_pack(t := event_type, v := value),
        |    ids := [user_id, user_id + 1])) AS built_json,
        |  json_extract_string(to_json(struct_pack(id := event_id,
        |    "inner" := struct_pack(t := event_type, v := value),
        |    ids := [user_id, user_id + 1])), '$.inner.t') AS rt_type,
        |  CAST(json_extract_string(to_json(struct_pack(id := event_id,
        |    "inner" := struct_pack(t := event_type, v := value),
        |    ids := [user_id, user_id + 1])), '$.ids[1]') AS BIGINT) AS rt_id2
        |FROM events""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val built = to_json(struct(
        col("event_id").as("id"),
        struct(col("event_type").as("t"), col("value").as("v")).as("inner"),
        array(col("user_id"), col("user_id") + 1).as("ids")))
      // Build the JSON ONCE and reference the alias: CollapseProject
      // refuses to inline a non-cheap expression used three times, so
      // the physical plan evaluates to_json once per row (was 3×).
      // r22: the two props probes parse the SAME document twice per row
      // (get_json_object is one streaming parse per call); json_tuple
      // extracts both top-level fields in ONE parse — null-ness
      // semantics are identical (missing key, JSON null, and malformed
      // doc all yield NULL in both). The built_json probes stay
      // get_json_object — path extraction over the roundtripped text IS
      // the operator under demonstration there ($.inner.t is nested,
      // $.ids[1] an array index; json_tuple only does top-level).
      e.withColumn("built_json", built)
        .select(col("event_id"), col("props"), col("built_json"),
          json_tuple(col("props"), "k", "missing").as(Seq("jk", "jm")))
        .select(
          col("event_id"),
          col("jk").isNotNull.as("has_k"),
          col("jm").isNull.as("no_missing"),
          col("built_json"),
          get_json_object(col("built_json"), "$.inner.t").as("rt_type"),
          get_json_object(col("built_json"), "$.ids[1]").cast("bigint").as("rt_id2"))
    }
  )
}
