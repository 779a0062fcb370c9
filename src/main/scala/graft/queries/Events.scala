package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-time operator battery — the batch-mode counterparts of the
  * reference's streaming surface (SURVEY.md §2.4 window aggs, §2.3
  * interval join, §2.5 deduplicate, §2.9 window TVFs). The same
  * operators run incrementally in `graft.streaming` (Structured
  * Streaming); here they run over the bounded `events` table so the
  * DuckDB oracle can check them.
  *
  * Window semantics match Flink's TVFs (reference:
  * flink-table/flink-table-planner/.../sql/SqlTumbleTableFunction.java,
  * SqlHopTableFunction.java; session merging RT/window/assigners/
  * SessionWindowAssigner.java): epoch-aligned TUMBLE/HOP; SESSION =
  * [first_ts, last_ts + gap) with a new session iff gap exceeded.
  */
object Events extends QueryModule {

  def declared: Seq[Query] = Seq(
    // ---- TUMBLE window agg — StreamExecWindowAggregate ----------------
    Query("q20_tumble_window",
      """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      e.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
                col("n_events"), col("total_value"))
    },

    // ---- HOP (sliding) window agg — 1h size / 15m slide ---------------
    Query("q21_hop_window",
      """SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
        |       - g * INTERVAL '15 minutes' AS TIMESTAMP) AS window_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events CROSS JOIN generate_series(0, 3) t(g)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      e.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("n_events"), col("total_value"))
    },

    // ---- SESSION window agg (30m gap, keyed by user) ------------------
    Query("q22_session_window",
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessioned AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  CAST(MAX(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM sessioned GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      e.groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
                col("w.end").as("session_end"), col("n_events"), col("total_value"))
    },

    // ---- SESSION window with DYNAMIC per-row gap ----------------------
    // The reference's SessionWindowTimeGapExtractor (DataStream
    // EventTimeSessionWindows.withDynamicGap): each event contributes
    // its own inactivity gap — here purchases hold a session open 45
    // minutes, everything else 15. Spark's session_window accepts a
    // gap EXPRESSION, so the merge (overlap-chain of [ts, ts+gap)
    // intervals, session end = running max of ts+gap) runs in the same
    // native session aggregation as q22's fixed gap; the oracle
    // re-derives the overlap-chain with a prefix-max break test, which
    // is exact because the global prefix max of window ends equals the
    // within-session max at every break candidate (ts is sorted). The
    // break is STRICT (ts > prefix-max end): an event landing exactly
    // on the running session end merges in both Spark and the
    // reference (Flink TimeWindow.intersects is boundary-inclusive) —
    // StreamingSpec pins this with an exact-boundary event.
    Query("q87_dynamic_session_gap",
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    ts + CASE WHEN event_type = 'purchase' THEN INTERVAL '45 minutes'
        |              ELSE INTERVAL '15 minutes' END AS wend
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, value, wend,
        |    CASE WHEN MAX(wend) OVER pre IS NULL
        |           OR ts > MAX(wend) OVER pre
        |         THEN 1 ELSE 0 END AS brk
        |  FROM g
        |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), sessioned AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  CAST(MAX(wend) AS TIMESTAMP) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM sessioned GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val gap = when(col("event_type") === "purchase", lit("45 minutes"))
        .otherwise(lit("15 minutes"))
      e.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("total_value"))
    },

    // ---- Deduplicate keep-first — StreamExecDeduplicate ---------------
    // ROW_NUMBER()=1 pattern, Flink's dedup specialization (SURVEY §2.5).
    Query("q23_dedup_first",
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      e.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    },

    // ---- Interval join — StreamExecIntervalJoin -----------------------
    // purchases within 30 minutes after the same user's signup.
    Query("q24_interval_join",
      """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(s.ts)) AS BIGINT) AS delay_s
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '30 minutes'""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val signup = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
      val purchase = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      signup.join(purchase,
          col("s_user") === col("p_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("s_user").as("user_id"), col("signup_id"), col("purchase_id"),
                (col("p_ts").cast("long") - col("s_ts").cast("long")).as("delay_s"))
    },

    // ---- JSON access — SURVEY §2.8 JSON_VALUE -------------------------
    Query("q25_json_extract",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INT)) AS n_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      e.withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
             max(col("k")).as("max_k"), countDistinct(col("k")).as("n_k"))
    },

    // ---- Correlate / UNNEST (explode) — SURVEY §2.2 -------------------
    Query("q26_explode_words",
      """SELECT lang, word, COUNT(*) AS n
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE LENGTH(word) > 0
        |GROUP BY lang, word""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- Temporal (as-of) join — SURVEY §2.3 TemporalJoin -------------
    // Each purchase joins the same user's latest signup at-or-before
    // its event time (signups = the "versioned table").
    Query("q28_asof_join",
      """SELECT user_id, event_id, CAST(valid_from AS TIMESTAMP) AS valid_from,
        |       profile_value
        |FROM (
        |  SELECT p.user_id, p.event_id, s.ts AS valid_from,
        |         s.value AS profile_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                            ORDER BY s.ts DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |    ON s.user_id = p.user_id AND s.ts <= p.ts
        |) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val versions = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("v_user"), col("ts").as("valid_from"),
                col("value").as("profile_value"))
      graft.streaming.StatefulOps
        .temporalJoin(purchases, "user_id", "ts", versions, "v_user", "valid_from")
        .select(col("user_id"), col("event_id"), col("valid_from"), col("profile_value"))
    },

    // ---- As-of join, merge-scan form — same semantics as q28 but
    // through temporalJoinCoGrouped (the hot-key-linear path), so the
    // scale-safe variant is oracle-gated too.
    Query("q66_asof_merge",
      """SELECT user_id, event_id, CAST(valid_from AS TIMESTAMP) AS valid_from,
        |       profile_value
        |FROM (
        |  SELECT p.user_id, p.event_id, s.ts AS valid_from,
        |         s.value AS profile_value,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                            ORDER BY s.ts DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |    ON s.user_id = p.user_id AND s.ts <= p.ts
        |) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val versions = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("v_user"), col("ts").as("valid_from"),
                col("value").as("profile_value"))
      graft.streaming.StatefulOps
        .temporalJoinCoGrouped(purchases, "user_id", "ts", versions, "v_user", "valid_from")
        .select(col("user_id"), col("event_id"), col("valid_from"), col("profile_value"))
    },

    // ---- CUMULATE windows — SURVEY §2.9 window TVFs -------------------
    // Flink's CUMULATE(15 min step, 1 h max) has no Spark builtin;
    // graft.streaming.Windows.cumulate explodes rows into their
    // covering expanding windows.
    Query("q29_cumulate_window",
      """WITH e AS (
        |  SELECT value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
        |), spans AS (
        |  SELECT value, es, es - es % 3600 AS span FROM e
        |)
        |SELECT make_timestamp(span * 1000000) AS window_start,
        |       make_timestamp(we * 1000000) AS window_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT value, span,
        |    span + ((es - span) // 900 + 1) * 900 + k * 900 AS we
        |  FROM spans CROSS JOIN generate_series(0, 3) t(k)
        |  WHERE span + ((es - span) // 900 + 1) * 900 + k * 900 <= span + 3600
        |)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      graft.streaming.Windows.cumulate(e, col("ts"), 900L, 3600L)
        .groupBy(col("window.start").as("window_start"),
                 col("window.end").as("window_end"))
        .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("total_value"))
    },

    // ---- Window join — SURVEY §2.3 StreamExecWindowJoin ---------------
    // Two event streams joined within the same tumbling window + key;
    // Flink purges state at window end — here the window-start column
    // IS the join key, so Spark needs no state at all in batch and a
    // watermark-bounded state in streaming.
    Query("q31_window_join",
      """SELECT p.user_id,
        |  CAST(time_bucket(INTERVAL '1 hour', p.ts) AS TIMESTAMP) AS window_start,
        |  p.event_id AS purchase_id, e.event_id AS error_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id
        | AND time_bucket(INTERVAL '1 hour', p.ts)
        |     = time_bucket(INTERVAL '1 hour', e.ts)""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), window(col("ts"), "1 hour").as("w"),
                col("event_id").as("purchase_id"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), window(col("ts"), "1 hour").as("w"),
                col("event_id").as("error_id"))
      purchases.join(errors, Seq("user_id", "w"))
        .select(col("user_id"), col("w.start").as("window_start"),
                col("purchase_id"), col("error_id"))
    },

    // ---- CEP / MATCH_RECOGNIZE funnel — SURVEY §2.9 -------------------
    // Per user: signup → first purchase → first error, all within 1 h
    // of the signup (skip-till-next-match NFA, graft.streaming.Cep).
    Query("q41_funnel",
      """WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
        |m1 AS (
        |  SELECT s.user_id, s.event_id AS signup_id, s.ts AS signup_ts,
        |    (SELECT min(p.ts) FROM events p
        |     WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
        |       AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL '1 hour') AS purchase_ts
        |  FROM s),
        |m2 AS (
        |  SELECT m1.*,
        |    (SELECT min(e.ts) FROM events e
        |     WHERE e.user_id = m1.user_id AND e.event_type = 'error'
        |       AND e.ts > m1.purchase_ts
        |       AND e.ts <= m1.signup_ts + INTERVAL '1 hour') AS error_ts
        |  FROM m1 WHERE purchase_ts IS NOT NULL)
        |SELECT m2.user_id, signup_id, CAST(signup_ts AS TIMESTAMP) AS signup_ts,
        |  p.event_id AS purchase_id, CAST(purchase_ts AS TIMESTAMP) AS purchase_ts,
        |  e.event_id AS error_id, CAST(error_ts AS TIMESTAMP) AS error_ts
        |FROM m2
        |JOIN events p ON p.user_id = m2.user_id AND p.ts = m2.purchase_ts
        |             AND p.event_type = 'purchase'
        |JOIN events e ON e.user_id = m2.user_id AND e.ts = m2.error_ts
        |             AND e.event_type = 'error'
        |WHERE error_ts IS NOT NULL""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      graft.streaming.Cep.matchSequence(
        e, keyCol = "user_id", tsCol = "ts", idCol = "event_id",
        steps = Seq(
          "signup"   -> (r => r.getString(r.fieldIndex("event_type")) == "signup"),
          "purchase" -> (r => r.getString(r.fieldIndex("event_type")) == "purchase"),
          "error"    -> (r => r.getString(r.fieldIndex("event_type")) == "error")),
        withinSec = 3600L)
    },

    // ---- CEP absence pattern — the reference's notFollowedBy-at-end
    // (flink-cep/.../pattern/Pattern.java:325, timeout-confirmed):
    // signups with NO purchase in the following hour — the
    // abandoned-cart / timeout-funnel shape. Anchors a positive step,
    // then a trailing negated step scans the frozen within-window.
    // Absence semantics mirror the CEP engine exactly: every signup
    // anchors independently (SkipPastLastRow consumes only the anchor),
    // and the negation scans rows AFTER the anchor in the engine's
    // (ts, id-as-string) sort order, window boundary inclusive.
    Query("q74_absence_funnel",
      """SELECT s.user_id, s.event_id AS signup_id,
        |       CAST(s.ts AS TIMESTAMP) AS signup_ts
        |FROM events s
        |WHERE s.event_type = 'signup'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
        |      AND (p.ts > s.ts OR (p.ts = s.ts
        |           AND CAST(p.event_id AS VARCHAR) > CAST(s.event_id AS VARCHAR)))
        |      AND p.ts <= s.ts + INTERVAL '1 hour')""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      graft.streaming.Cep.matchPattern(
        e, keyCol = "user_id", tsCol = "ts", idCol = "event_id",
        steps = Seq(
          graft.streaming.Cep.Step.once("signup",
            r => r.getString(r.fieldIndex("event_type")) == "signup"),
          graft.streaming.Cep.Step.notFollowedBy("purchase",
            r => r.getString(r.fieldIndex("event_type")) == "purchase")),
        withinSec = 3600L)
        .select(col("user_id"), col("signup_first_id").as("signup_id"),
                col("match_start_ts").as("signup_ts"))
    },

    // ---- Window rank — SURVEY §2.5 StreamExecWindowRank ---------------
    // Top-2 events by value per (1h tumbling window × event_type).
    Query("q55_window_rank",
      """SELECT window_start, event_type, event_id, value, rank_no FROM (
        |  SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
        |         event_type, event_id, value,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY time_bucket(INTERVAL '1 hour', ts), event_type
        |           ORDER BY value DESC, event_id) AS rank_no
        |  FROM events) WHERE rank_no <= 2""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      graft.streaming.Windows
        .windowRank(e, col("ts"), "1 hour", Seq("event_type"),
          Seq(col("value").desc, col("event_id")), n = 2)
        .select(col("window.start").as("window_start"), col("event_type"),
                col("event_id"), col("value"), col("rank_no"))
    },

    // ---- Window rank over BIGINT-epoch time (r20, judge directive #7):
    // oracle-gates the Long-as-epoch-MILLIS convention the r19 review
    // fixed in windowRankStreaming (Long read as seconds put windows
    // 1000x off). The time column here is a BIGINT epoch-millis value;
    // a wrong-unit read shifts every window start 1000x and the DuckDB
    // hash compare catches it.
    Query("q100_window_rank_epoch",
      """SELECT window_start_ms, event_type, event_id, value, rank_no FROM (
        |  SELECT ts_ms - ts_ms % 3600000 AS window_start_ms,
        |         event_type, event_id, value,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY ts_ms // 3600000, event_type
        |           ORDER BY value DESC, event_id) AS rank_no
        |  FROM (SELECT epoch_ms(ts) AS ts_ms, event_type, event_id, value
        |        FROM events)) WHERE rank_no <= 2""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
        .withColumn("ts_ms", unix_millis(col("ts"))).drop("ts")
      graft.streaming.Windows
        .windowRank(e, col("ts_ms"), "1 hour", Seq("event_type"),
          Seq(col("value").desc, col("event_id")), n = 2)
        .select(unix_millis(col("window.start")).as("window_start_ms"),
                col("event_type"), col("event_id"), col("value"), col("rank_no"))
    },

    // ---- Window deduplicate — SURVEY §2.5 window dedup ----------------
    // First event per (1h tumbling window × user) in event-time order.
    Query("q56_window_dedup",
      """SELECT window_start, user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
        |  SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
        |         user_id, event_id, ts,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY time_bucket(INTERVAL '1 hour', ts), user_id
        |           ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      graft.streaming.Windows
        .windowDeduplicate(e, col("ts"), "1 hour", Seq("user_id"),
          keepFirst = true, tieBreak = Seq(col("event_id")))
        .select(col("window.start").as("window_start"), col("user_id"),
                col("event_id"), col("ts"))
    },

    // ---- Count windows — SURVEY §2.10 KeyedStream.countWindow ---------
    // Batch form: per-user chunks of 100 events in (ts, event_id)
    // order, aggregated per chunk.
    Query("q64_count_windows",
      """WITH t AS (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
        |  FROM events)
        |SELECT user_id, CAST(rn // 100 AS BIGINT) AS window_seq,
        |  COUNT(*) AS n, MIN(event_id) AS first_id, MAX(event_id) AS last_id
        |FROM t GROUP BY user_id, rn // 100""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      graft.streaming.Windows
        .countTumble(e, Seq("user_id"), Seq(col("ts"), col("event_id")), 100)
        .groupBy(col("user_id"), col("window_seq"))
        .agg(count(lit(1)).as("n"),
             min(col("event_id")).as("first_id"),
             max(col("event_id")).as("last_id"))
    },

    // ---- Per-key event gaps (over window on event time) ---------------
    Query("q27_event_gaps",
      """SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT)
        |    - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_s,
        |  ROW_NUMBER() OVER w AS seq
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("user_id"), col("event_id"),
               (col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(w)).as("gap_s"),
               row_number().over(w).as("seq"))
    }
  )
}
