package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import graft.streaming.{Changelog, StatefulOps, Windows}

case class Ev(ts: Timestamp, user: String, tpe: String, value: Double)
case class EvMs(ts: Timestamp, tsms: Long, user: String, tpe: String, value: Double)
case class Up(kind: String, key: String, seq: Long, v: Double)
case class TwoKey(k1: String, k2: String, ts: Timestamp, v: Double)
case class TieEv(ts: Timestamp, n: Int)

/** Structured-Streaming counterparts of the reference's stateful
  * operators, driven through MemoryStream exactly like Flink's
  * operator ITCases drive scripted sources (SURVEY.md §5 layer 2).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed agg with watermark drops too-late rows") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"), $"tpe")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"tpe", $"n")
    val q = agg.writeStream.format("memory").queryName("wagg")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:01:00"), "u1", "a", 1.0),
        Ev(ts("2024-01-01 00:05:00"), "u1", "a", 1.0),
        Ev(ts("2024-01-01 00:02:00"), "u2", "b", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      in.addData(Ev(ts("2024-01-01 01:00:00"), "u1", "a", 1.0))
      q.processAllAvailable()
      // this row is behind the watermark → dropped
      in.addData(Ev(ts("2024-01-01 00:03:00"), "u1", "a", 99.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT tpe, n FROM wagg ORDER BY tpe").collect()
        .map(r => (r.getString(0), r.getLong(1))).toList
      assert(rows == List(("a", 2L), ("b", 1L)))
    } finally q.stop()
  }

  test("runningAggEventTimeStreaming aggregates in rowtime order across triggers") {
    // The reference's RowTimeRangeBoundedPrecedingFunction contract: a
    // row that arrives AFTER a later-rowtime row (but within the
    // watermark) must still be aggregated at its rowtime position.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.runningAggEventTimeStreaming(
      in.toDF().withWatermark("ts", "10 minutes"),
      Seq("user"), "ts", "value")
    val q = out.writeStream.format("memory").queryName("rowtimeagg")
      .outputMode(OutputMode.Append).start()
    try {
      // trigger 1: rowtimes 00:20 and 00:40 → watermark becomes 00:30
      in.addData(Ev(ts("2024-01-01 00:20:00"), "u", "a", 1.0),
                 Ev(ts("2024-01-01 00:40:00"), "u", "a", 2.0))
      q.processAllAvailable()
      // trigger 2: 00:35 arrives AFTER the 00:40 row, within watermark;
      // watermark 00:30 releases only the 00:20 row
      in.addData(Ev(ts("2024-01-01 00:35:00"), "u", "a", 4.0))
      q.processAllAvailable()
      // trigger 3: advance watermark to 00:50 (nothing ≤ 00:30 pending)
      in.addData(Ev(ts("2024-01-01 01:00:00"), "u", "a", 8.0))
      q.processAllAvailable()
      // trigger 4: watermark 00:50 releases 00:35 then 00:40 — rowtime
      // order, though 00:40 arrived two triggers earlier
      in.addData(Ev(ts("2024-01-01 01:10:00"), "u", "a", 16.0))
      q.processAllAvailable()
      // trigger 5: watermark 01:00 releases the 01:00 row
      in.addData(Ev(ts("2024-01-01 02:00:00"), "u", "a", 32.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT ts, value, running_sum, running_count FROM rowtimeagg ORDER BY running_count")
        .collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toList
      assert(rows == List(
        (ts("2024-01-01 00:20:00"), 1.0, 1.0, 1L),
        (ts("2024-01-01 00:35:00"), 4.0, 5.0, 2L),   // late arrival, correct position
        (ts("2024-01-01 00:40:00"), 2.0, 7.0, 3L),
        (ts("2024-01-01 01:00:00"), 8.0, 15.0, 4L),
        // r20 timer fix: trigger 5 pushes the watermark to 01:50, and
        // the event-time timer releases the 01:10 row THEN — the old
        // data-driven release would have held it for a sixth trigger
        (ts("2024-01-01 01:10:00"), 16.0, 31.0, 5L)))
    } finally q.stop()
  }

  test("event-time OVER aggs: a QUIET key releases on watermark alone (r20 timer fix)") {
    // u1 buffers rows then goes silent; only u2 traffic advances the
    // watermark. Pre-r20, u1's releasable rows sat pending until new
    // u1 data or TTL — the reference's row-time OVER functions register
    // per-timestamp event-time timers and release then.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.runningAggEventTimeStreaming(
      in.toDF().withWatermark("ts", "1 minute"),
      Seq("user"), "ts", "value")
    val q = out.writeStream.format("memory").queryName("quietover")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:00"), "u1", "a", 1.0),
                 Ev(ts("2024-01-01 00:00:30"), "u1", "a", 2.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM quietover").count() == 0,
        "watermark has not passed u1's rows yet")
      // u1 never sends again; u2 drives the watermark past u1's rows
      in.addData(Ev(ts("2024-01-01 00:10:00"), "u2", "x", 0.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:11:00"), "u2", "x", 0.0))
      q.processAllAvailable()
      val u1 = spark.sql(
        "SELECT running_sum FROM quietover WHERE user = 'u1' ORDER BY running_count")
        .collect().map(_.getDouble(0)).toList
      assert(u1 == List(1.0, 3.0),
        s"u1 must release on watermark alone (event-time timer): $u1")
    } finally q.stop()

    // same contract for the RANGE-bounded variant
    val in2 = MemoryStream[Ev]
    val out2 = StatefulOps.boundedRangeAggEventTimeStreaming(
      in2.toDF().withWatermark("ts", "1 minute"),
      Seq("user"), "ts", "value", rangeSec = 60L)
    val q2 = out2.writeStream.format("memory").queryName("quietrange")
      .outputMode(OutputMode.Append).start()
    try {
      in2.addData(Ev(ts("2024-01-01 00:00:00"), "u1", "a", 1.0),
                  Ev(ts("2024-01-01 00:00:30"), "u1", "a", 2.0))
      q2.processAllAvailable()
      in2.addData(Ev(ts("2024-01-01 00:10:00"), "u2", "x", 0.0))
      q2.processAllAvailable()
      in2.addData(Ev(ts("2024-01-01 00:11:00"), "u2", "x", 0.0))
      q2.processAllAvailable()
      val u1 = spark.sql(
        "SELECT range_sum FROM quietrange WHERE user = 'u1' ORDER BY ts")
        .collect().map(_.getDouble(0)).toList
      assert(u1 == List(1.0, 3.0),
        s"range variant must release on watermark alone: $u1")
    } finally q2.stop()
  }

  test("boundedRangeAggEventTimeStreaming sums the trailing range window") {
    // RowTimeRangeBoundedPrecedingFunction semantics: sum over
    // [rowtime − range, rowtime] in rowtime order, across triggers,
    // with the released tail retained exactly as long as it can serve
    // a future row.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.boundedRangeAggEventTimeStreaming(
      in.toDF().withWatermark("ts", "10 minutes"),
      Seq("user"), "ts", "value", rangeSec = 600L)
    val q = out.writeStream.format("memory").queryName("rangeagg")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:00"), "u", "a", 1.0),
                 Ev(ts("2024-01-01 00:12:00"), "u", "a", 4.0))
      q.processAllAvailable() // wm → 00:02
      in.addData(Ev(ts("2024-01-01 00:07:00"), "u", "a", 16.0)) // late, in wm
      q.processAllAvailable() // releases 00:00
      in.addData(Ev(ts("2024-01-01 00:40:00"), "u", "a", 0.0))
      q.processAllAvailable() // wm → 00:30
      in.addData(Ev(ts("2024-01-01 00:50:00"), "u", "a", 0.0))
      q.processAllAvailable() // releases 00:07 (incl. 00:00) and 00:12 (00:00 aged out)
      in.addData(Ev(ts("2024-01-01 01:10:00"), "u", "a", 0.0))
      q.processAllAvailable() // wm 00:40 releases the 00:40 row alone
      val rows = spark.sql(
        "SELECT ts, range_sum, range_count FROM rangeagg ORDER BY ts")
        .collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2))).toList
      assert(rows == List(
        (ts("2024-01-01 00:00:00"), 1.0, 1L),
        (ts("2024-01-01 00:07:00"), 17.0, 2L),  // 00:00 still in range
        (ts("2024-01-01 00:12:00"), 20.0, 2L),  // 00:00 aged out, 00:07 in
        (ts("2024-01-01 00:40:00"), 0.0, 1L),   // alone in its range
        // r20 timer fix: the final trigger's watermark (01:00) releases
        // the 00:50 row via the event-time timer — the old data-driven
        // release would have held it for another trigger
        (ts("2024-01-01 00:50:00"), 0.0, 2L)))  // 00:40 still in range
    } finally q.stop()
  }

  test("keepFirstStreaming emits only first row per key across batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepFirstStreaming(in.toDF(), Seq("user"))
    val q = out.writeStream.format("memory").queryName("dedup1")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:01"), "u1", "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:00:02"), "u1", "b", 2.0),
                 Ev(ts("2024-01-01 00:00:03"), "u2", "c", 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, tpe FROM dedup1 ORDER BY user").collect()
        .map(r => (r.getString(0), r.getString(1))).toList
      assert(rows == List(("u1", "a"), ("u2", "c")))
    } finally q.stop()
  }

  test("keepLastStreaming upserts the latest row per key") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepLastStreaming(in.toDF(), Seq("user"), "ts")
    val q = out.writeStream.format("memory").queryName("dedupLast")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:01"), "u1", "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:00:05"), "u1", "b", 2.0),
                 Ev(ts("2024-01-01 00:00:03"), "u1", "c", 3.0))
      q.processAllAvailable()
      // memory sink in update mode appends each emission; latest is 'b'
      val rows = spark.sql("SELECT tpe FROM dedupLast").collect().map(_.getString(0)).toList
      assert(rows.contains("a") && rows.contains("b"))
      assert(!rows.contains("c")) // superseded within the same batch
      // r19 review: an update TYING the stored row's timestamp must win
      // (RowTimeDeduplicateFunction keeps the current row on >=) — the
      // old maxBy kept the first maximum and silently dropped it
      in.addData(Ev(ts("2024-01-01 00:00:05"), "u1", "tie-update", 9.0))
      q.processAllAvailable()
      val after = spark.sql("SELECT tpe FROM dedupLast").collect().map(_.getString(0)).toList
      assert(after.contains("tie-update"),
        s"a same-timestamp update must supersede the stored row: $after")
    } finally q.stop()
  }

  test("topNStreaming maintains per-key top-2 across batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.topNStreaming(in.toDF(), Seq("tpe"), "value",
      descending = true, n = 2)
    val q = out.writeStream.format("memory").queryName("topn")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:00:01"), "u1", "a", 10.0),
        Ev(ts("2024-01-01 00:00:02"), "u2", "a", 20.0),
        Ev(ts("2024-01-01 00:00:03"), "u3", "a", 5.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:00:04"), "u4", "a", 15.0))
      q.processAllAvailable()
      // last emission for key 'a' should be {20, 15}
      val vals = spark.sql("SELECT value FROM topn").collect().map(_.getDouble(0))
      assert(vals.count(_ == 20.0) == 2)   // emitted in both batches
      assert(vals.contains(15.0))
      assert(vals.contains(10.0))          // was top-2 in batch 1
      assert(!vals.contains(5.0))          // never in top-2
    } finally q.stop()
  }

  test("changelogNormalize turns upserts into full changelog") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Up]
    val out = Changelog.changelogNormalize(
      in.toDF().withColumnRenamed("kind", "row_kind"), Seq("key"))
    val q = out.writeStream.format("memory").queryName("chlog")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Up("+U", "k1", 1, 10.0))
      q.processAllAvailable()
      in.addData(Up("+U", "k1", 2, 11.0), Up("-D", "k1", 3, 0.0), Up("+U", "k2", 4, 7.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT row_kind, key, seq FROM chlog ORDER BY seq, row_kind")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
      assert(rows == List(
        ("+I", "k1", 1),          // first upsert → INSERT
        ("-U", "k1", 1),          // retract old version
        ("+U", "k1", 2),          // new version
        ("-D", "k1", 2),          // delete emits last content
        ("+I", "k2", 4)))
    } finally q.stop()
  }

  test("streaming window join purges state when the watermark passes the window") {
    // The reference's StreamExecWindowJoin frees both sides' state at
    // window end + allowed lateness; Spark's window-equality
    // stream-stream join does the same via the watermark. Prove it by
    // watching numRowsRemoved/numRowsTotal in the state operator.
    implicit val sc = spark.sqlContext
    val left = MemoryStream[Ev]
    val right = MemoryStream[Ev]
    val l = left.toDF().withWatermark("ts", "1 minute")
      .select(window($"ts", "10 minutes").as("w"), $"user".as("l_user"), $"tpe".as("l_tpe"))
    val r = right.toDF().withWatermark("ts", "1 minute")
      .select(window($"ts", "10 minutes").as("w"), $"user".as("r_user"), $"tpe".as("r_tpe"))
    val joined = l.join(r, Seq("w")).filter($"l_user" === $"r_user")
    val q = joined.writeStream.format("memory").queryName("wjpurge")
      .outputMode(OutputMode.Append).start()
    try {
      left.addData(Ev(ts("2024-01-01 00:01:00"), "u1", "a", 1.0))
      right.addData(Ev(ts("2024-01-01 00:02:00"), "u1", "b", 1.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM wjpurge").count() == 1)
      // advance the watermark far past window [00:00,00:10) on both sides
      left.addData(Ev(ts("2024-01-01 01:00:00"), "u1", "a", 1.0))
      right.addData(Ev(ts("2024-01-01 01:00:30"), "u1", "b", 1.0))
      q.processAllAvailable()
      left.addData(Ev(ts("2024-01-01 02:00:00"), "u1", "a", 1.0))
      right.addData(Ev(ts("2024-01-01 02:00:30"), "u1", "b", 1.0))
      q.processAllAvailable()
      val progress = q.recentProgress.flatMap(_.stateOperators)
      assert(progress.map(_.numRowsRemoved).sum > 0,
        "watermark advance must remove window-join state rows")
      // state holds only the undecided tail, not every row ever seen
      val lastTotal = progress.last.numRowsTotal
      assert(lastTotal < 6, s"state must stay bounded, saw $lastTotal")
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks (built-in path)") {
    implicit val sc = spark.sqlContext
    val left = MemoryStream[Ev]
    val right = MemoryStream[Ev]
    val l = left.toDF().withWatermark("ts", "10 minutes")
      .select($"ts".as("l_ts"), $"user".as("l_user"), $"tpe".as("l_tpe"))
    val r = right.toDF().withWatermark("ts", "10 minutes")
      .select($"ts".as("r_ts"), $"user".as("r_user"), $"tpe".as("r_tpe"))
    val joined = l.join(r,
      $"l_user" === $"r_user" &&
      $"r_ts" >= $"l_ts" && $"r_ts" <= $"l_ts" + expr("INTERVAL 5 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append).start()
    try {
      left.addData(Ev(ts("2024-01-01 00:00:00"), "u1", "start", 0))
      right.addData(
        Ev(ts("2024-01-01 00:03:00"), "u1", "hit", 1),    // inside bound
        Ev(ts("2024-01-01 00:09:00"), "u1", "miss", 2),   // outside bound
        Ev(ts("2024-01-01 00:03:30"), "u2", "other", 3))  // wrong key
      q.processAllAvailable()
      val rows = spark.sql("SELECT l_user, r_tpe FROM ssjoin").collect()
        .map(r => (r.getString(0), r.getString(1))).toList
      assert(rows == List(("u1", "hit")))
    } finally q.stop()
  }

  test("streaming HOP window agg assigns rows to all covering slides") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"n")
    val q = agg.writeStream.format("memory").queryName("hopagg")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:07:00"), "u1", "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 01:00:00"), "u1", "a", 1.0)) // close windows
      q.processAllAvailable()
      val starts = spark.sql("SELECT ws FROM hopagg ORDER BY ws").collect()
        .map(_.getTimestamp(0).toString).toList
      // row at 00:07 belongs to slides starting 00:00 and 00:05
      assert(starts == List("2024-01-01 00:00:00.0", "2024-01-01 00:05:00.0"))
    } finally q.stop()
  }

  test("streaming SESSION window merges within gap, splits across it") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window($"ts", "10 minutes"), $"user")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("ss"), $"user", $"n")
    val q = agg.writeStream.format("memory").queryName("sessagg")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:00:00"), "u1", "a", 1.0),
        Ev(ts("2024-01-01 00:05:00"), "u1", "a", 1.0),  // same session
        Ev(ts("2024-01-01 00:30:00"), "u1", "a", 1.0))  // gap > 10m → new
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 02:00:00"), "u1", "a", 1.0)) // close all
      q.processAllAvailable()
      val sessions = spark.sql("SELECT ss, n FROM sessagg ORDER BY ss").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toList
      assert(sessions == List(
        ("2024-01-01 00:00:00.0", 2L), ("2024-01-01 00:30:00.0", 1L)))
    } finally q.stop()
  }

  test("streaming SESSION window with DYNAMIC per-row gap (withDynamicGap analog)") {
    // the q87 semantics on the streaming path: each event's type sets
    // its own inactivity gap — 'purchase' holds the session open 30
    // minutes, anything else 5 — through the same native session
    // aggregation (Spark accepts a gap EXPRESSION)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val gap = when($"tpe" === "purchase", lit("30 minutes")).otherwise(lit("5 minutes"))
    val agg = in.toDF()
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window($"ts", gap), $"user")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("ss"), $"session_window.end".as("se"), $"user", $"n")
    val q = agg.writeStream.format("memory").queryName("dynsess")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:00:00"), "u1", "purchase", 1.0),
        // 20 min later: within the purchase's 30-min window → merged,
        // even though this browse event's own gap is only 5 min
        Ev(ts("2024-01-01 00:20:00"), "u1", "browse", 1.0),
        // EXACTLY at the running session end (00:30): both Spark and
        // the reference merge on the closed boundary (Flink
        // TimeWindow.intersects is inclusive), so this still joins and
        // extends the end to 00:35 — the oracle's break test is
        // therefore strict `>`
        Ev(ts("2024-01-01 00:30:00"), "u1", "browse", 1.0),
        // 6 min past the (extended) end → genuinely new session
        Ev(ts("2024-01-01 00:41:00"), "u1", "browse", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 02:00:00"), "u1", "browse", 1.0)) // close all
      q.processAllAvailable()
      val sessions = spark.sql("SELECT ss, se, n FROM dynsess ORDER BY ss").collect()
        .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString, r.getLong(2))).toList
      assert(sessions == List(
        ("2024-01-01 00:00:00.0", "2024-01-01 00:35:00.0", 3L),
        ("2024-01-01 00:41:00.0", "2024-01-01 00:46:00.0", 1L)))
    } finally q.stop()
  }

  test("streaming CUMULATE agg via expanding-window assignment (update mode)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val assigned = Windows.cumulate(in.toDF(), $"ts", 900L, 3600L)
    val agg = assigned.groupBy($"window").agg(count(lit(1)).as("n"))
      .select($"window.end".as("we"), $"n")
    val q = agg.writeStream.format("memory").queryName("cumagg")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:05:00"), "u1", "a", 1.0))
      in.addData(Ev(ts("2024-01-01 00:20:00"), "u2", "a", 1.0))
      q.processAllAvailable()
      val latest = spark.sql(
        "SELECT we, max(n) FROM cumagg GROUP BY we ORDER BY we").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toList
      // 00:05 → ends 00:15..01:00 ; 00:20 → ends 00:30..01:00
      assert(latest == List(
        ("2024-01-01 00:15:00.0", 1L), ("2024-01-01 00:30:00.0", 2L),
        ("2024-01-01 00:45:00.0", 2L), ("2024-01-01 01:00:00.0", 2L)))
    } finally q.stop()
  }

  test("stateful op runs on the RocksDB state store provider") {
    // SURVEY §4.2: the reference's RocksDB state backend maps to
    // Spark's RocksDB state store provider — config, not code.
    implicit val sc = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val out = graft.streaming.StatefulOps.keepLastStreaming(in.toDF(), Seq("user"), "ts")
      val q = out.writeStream.format("memory").queryName("rocks")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(Ev(ts("2024-01-01 00:00:01"), "u1", "a", 1.0))
        q.processAllAvailable()
        in.addData(Ev(ts("2024-01-01 00:00:05"), "u1", "b", 2.0))
        q.processAllAvailable()
        val rows = spark.sql("SELECT tpe FROM rocks").collect().map(_.getString(0))
        assert(rows.contains("a") && rows.contains("b"))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("cumulate assigns expanding windows (batch semantics)") {
    val df = Seq(
      (ts("2024-01-01 00:05:00"), 1.0),   // t=300s in span [0, 3600)
      (ts("2024-01-01 00:50:00"), 2.0)    // t=3000s
    ).toDF("ts", "v")
    val w = Windows.cumulate(df, $"ts", 900L, 3600L)
      .select($"v", unix_timestamp($"window.start").as("s"),
        unix_timestamp($"window.end").as("e"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSet
    val base = ts("2024-01-01 00:00:00").getTime / 1000
    // row 1 (t=300): windows end at 900, 1800, 2700, 3600
    // row 2 (t=3000): windows end at 3600 only
    val expected = Set(
      (1.0, base, base + 900), (1.0, base, base + 1800),
      (1.0, base, base + 2700), (1.0, base, base + 3600),
      (2.0, base, base + 3600))
    assert(w == expected)
  }

  test("runningAggStreaming carries per-key running sums across batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.runningAggStreaming(in.toDF(), Seq("user"), "ts", "value")
    val q = out.writeStream.format("memory").queryName("runagg")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:02"), "u1", "a", 10.0),
                 Ev(ts("2024-01-01 00:00:01"), "u1", "b", 5.0)) // out of order
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:00:03"), "u1", "c", 1.0),
                 Ev(ts("2024-01-01 00:00:01"), "u2", "d", 7.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user AS u, tpe, running_sum, running_count FROM runagg")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).map { case (_, t, s2, c) => (t, s2, c) }.toList
      // within batch 1, u1 rows sort by ts: b(5) then a(15); batch 2 continues
      assert(rows == List(("b", 5.0, 1L), ("a", 15.0, 2L), ("c", 16.0, 3L),
                          ("d", 7.0, 1L)))
    } finally q.stop()
  }

  test("runningAggStreaming rejects a non-numeric value column when the op is built") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val e = intercept[IllegalArgumentException](
      StatefulOps.runningAggStreaming(in.toDF(), Seq("user"), "ts", "tpe"))
    assert(e.getMessage.contains("value column 'tpe' is STRING"))
  }

  test("lookupJoinStreaming probes the current dim version per batch") {
    implicit val sc = spark.sqlContext
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dim").toString
    Seq(("u1", "bronze")).toDF("k", "tier").write.mode("overwrite").parquet(dimDir)
    val in = MemoryStream[Ev]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q = StatefulOps.lookupJoinStreaming(
      in.toDF(), "user", () => spark.read.parquet(dimDir), "k") { joined =>
      joined.select($"user", $"tier").collect()
        .foreach(r => results.add((r.getString(0), Option(r.getString(1)).getOrElse("none"))))
    }
    try {
      in.addData(Ev(ts("2024-01-01 00:00:01"), "u1", "a", 1.0))
      q.processAllAvailable()
      // dim is updated between batches → next batch sees the new version
      Seq(("u1", "gold")).toDF("k", "tier").write.mode("overwrite").parquet(dimDir)
      in.addData(Ev(ts("2024-01-01 00:00:02"), "u1", "b", 2.0))
      q.processAllAvailable()
      val got = results.toArray(Array.empty[(String, String)]).toList
      assert(got == List(("u1", "bronze"), ("u1", "gold")))
    } finally q.stop()
  }

  test("multi-key state ops keep colliding composite keys distinct") {
    // ("ab","c") and ("a","bc") concat to the same flat string; the
    // length-prefixed key codec must keep them in separate state groups.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[TwoKey]
    val out = StatefulOps.keepLastStreaming(in.toDF(), Seq("k1", "k2"), "ts")
    val q = out.writeStream.format("memory").queryName("collide")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(TwoKey("ab", "c", ts("2024-01-01 00:00:01"), 1.0))
      q.processAllAvailable()
      // Same flat concat, EARLIER ts: if the keys collided this row
      // would be swallowed as stale; as a distinct key it must emit.
      in.addData(TwoKey("a", "bc", ts("2024-01-01 00:00:00"), 2.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k1, k2, v FROM collide").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(rows == Set(("ab", "c", 1.0), ("a", "bc", 2.0)))
    } finally q.stop()
  }

  test("keepFirstStreaming(orderCol) lets an earlier late-arriving row win") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepFirstStreaming(in.toDF(), Seq("user"), "ts")
    val q = out.writeStream.format("memory").queryName("firstByTime")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:05"), "u1", "late-start", 1.0))
      q.processAllAvailable()
      // arrives later but is EARLIER in event time → replaces the winner
      in.addData(Ev(ts("2024-01-01 00:00:01"), "u1", "true-first", 2.0))
      q.processAllAvailable()
      // arrival-order duplicate, later event time → suppressed
      in.addData(Ev(ts("2024-01-01 00:00:09"), "u1", "dup", 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT tpe FROM firstByTime").collect()
        .map(_.getString(0)).toList
      assert(rows == List("late-start", "true-first"))
    } finally q.stop()
  }

  test("update-mode window agg = early fire per trigger + late fire within watermark") {
    // The reference's early/late-fire triggers (table.exec.emit.early-fire.*)
    // map onto Spark's UPDATE output mode: every micro-batch emits the
    // window's current partial result (early fire), and a late-but-within-
    // watermark row updates the window again (late fire). Beyond the
    // watermark the row is dropped — the reference's default too.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"n")
    val q = agg.writeStream.format("memory").queryName("earlyfire")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:01:00"), "u1", "a", 1.0))
      q.processAllAvailable()   // early fire: n=1
      in.addData(Ev(ts("2024-01-01 00:02:00"), "u1", "a", 1.0))
      q.processAllAvailable()   // early fire again: n=2
      in.addData(Ev(ts("2024-01-01 00:20:00"), "u1", "a", 1.0)) // wm → ~23:50 prev day... advances
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:03:00"), "u1", "late", 1.0)) // late, within wm
      q.processAllAvailable()   // late fire: n=3
      val fires = spark.sql(
        "SELECT n FROM earlyfire WHERE ws = timestamp'2024-01-01 00:00:00' ORDER BY n")
        .collect().map(_.getLong(0)).toList
      assert(fires == List(1L, 2L, 3L)) // one row per fire, cumulative
    } finally q.stop()
  }

  test("windowRankStreaming emits final top-2 once at window close, purges state") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.windowRankStreaming(
      in.toDF().withWatermark("ts", "1 minute"),
      "ts", windowSec = 600L, keys = Seq("tpe"),
      scoreCol = "value", descending = true, n = 2)
    val q = out.writeStream.format("memory").queryName("winrank")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:01:00"), "u1", "a", 10.0),
        Ev(ts("2024-01-01 00:02:00"), "u2", "a", 30.0),
        Ev(ts("2024-01-01 00:03:00"), "u3", "a", 20.0))
      q.processAllAvailable()
      // window [00:00,00:10) still open → nothing emitted
      assert(spark.sql("SELECT * FROM winrank").count() == 0)
      // advance watermark past window end (00:10 + 1m delay)
      in.addData(Ev(ts("2024-01-01 00:20:00"), "u9", "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:21:00"), "u9", "a", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, rank_no, window_start FROM winrank ORDER BY rank_no")
        .collect().map(r => (r.getString(0), r.getInt(1))).toList
      assert(rows == List(("u2", 1), ("u3", 2))) // top-2 by value, final
      // no duplicate emission on further watermark advances
      in.addData(Ev(ts("2024-01-01 01:00:00"), "u9", "a", 1.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM winrank WHERE rank_no IS NOT NULL")
        .collect()(0).getLong(0) >= 2) // first window rows stay exactly ranked
      assert(spark.sql(
        "SELECT count(*) FROM winrank WHERE window_start = timestamp'2024-01-01 00:00:00'")
        .collect()(0).getLong(0) == 2)
    } finally q.stop()
  }

  test("windowRankStreaming reads a Long time column as epoch MILLIS (r19 review)") {
    implicit val sc = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[EvMs]
    val in = MemoryStream[EvMs]
    // watermark rides the Timestamp column; windows assign from the
    // Long column — which the package convention reads as epoch millis
    // (the old *1000 seconds read armed timers in year ~56000: nothing
    // would ever fire)
    val out = StatefulOps.windowRankStreaming(
      in.toDF().withWatermark("ts", "1 minute"),
      "tsms", windowSec = 600L, keys = Seq("tpe"),
      scoreCol = "value", descending = true, n = 1)
    val q = out.writeStream.format("memory").queryName("winrank_ms")
      .outputMode(OutputMode.Append).start()
    try {
      def ev(s: String, user: String, v: Double) =
        EvMs(ts(s), ts(s).getTime, user, "a", v)
      in.addData(ev("2024-01-01 00:01:00", "u1", 10.0),
                 ev("2024-01-01 00:02:00", "u2", 30.0))
      q.processAllAvailable()
      in.addData(ev("2024-01-01 00:20:00", "u9", 1.0))
      q.processAllAvailable()
      in.addData(ev("2024-01-01 00:21:00", "u9", 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user, window_start FROM winrank_ms WHERE rank_no = 1")
        .collect().map(r => (r.getString(0), r.getTimestamp(1))).toList
      assert(rows.contains(("u2", ts("2024-01-01 00:00:00"))),
        s"Long-millis windows must close on the real watermark: $rows")
    } finally q.stop()
  }

  test("windowDeduplicateStreaming keeps first/last per window at close") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.windowDeduplicateStreaming(
      in.toDF().withWatermark("ts", "1 minute"),
      "ts", windowSec = 600L, keys = Seq("user"), keepFirst = false)
    val q = out.writeStream.format("memory").queryName("windedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:01:00"), "u1", "first", 1.0),
        Ev(ts("2024-01-01 00:05:00"), "u1", "last", 2.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:30:00"), "u9", "x", 0.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:31:00"), "u9", "x", 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT tpe FROM windedup WHERE user = 'u1'").collect().map(_.getString(0)).toList
      assert(rows == List("last")) // keepFirst=false → latest row survives
    } finally q.stop()
  }

  test("countWindowStreaming emits full windows as they fill, buffers the rest") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.countWindowStreaming(in.toDF(), Seq("user"), size = 2)
    val q = out.writeStream.format("memory").queryName("cntwin")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:01"), "u1", "a", 1.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM cntwin").count() == 0) // window open
      in.addData(Ev(ts("2024-01-01 00:00:02"), "u1", "b", 2.0),
                 Ev(ts("2024-01-01 00:00:03"), "u1", "c", 3.0))
      q.processAllAvailable()
      // window 0 = (a,b) complete; c buffers in window 1
      val rows = spark.sql(
        "SELECT tpe, window_seq, pos_in_window FROM cntwin ORDER BY window_seq, pos_in_window")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toList
      assert(rows == List(("a", 0L, 0), ("b", 0L, 1)))
      in.addData(Ev(ts("2024-01-01 00:00:04"), "u1", "d", 4.0))
      q.processAllAvailable()
      val n2 = spark.sql("SELECT count(*) FROM cntwin WHERE window_seq = 1").collect()(0).getLong(0)
      assert(n2 == 2) // (c,d) completed window 1
    } finally q.stop()
  }

  test("temporalSortStreaming re-emits rows in event-time order under the watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.temporalSortStreaming(
      in.toDF().withWatermark("ts", "1 minute"), "ts", tieBreak = Seq("tpe"))
    val q = out.writeStream.format("memory").queryName("tsort")
      .outputMode(OutputMode.Append).start()
    try {
      // out-of-order arrivals within the first batch
      in.addData(Ev(ts("2024-01-01 00:05:00"), "u1", "late", 1.0),
                 Ev(ts("2024-01-01 00:01:00"), "u1", "early", 1.0))
      q.processAllAvailable()
      // watermark still at min - delay → nothing emitted yet
      in.addData(Ev(ts("2024-01-01 00:10:00"), "u1", "advance", 1.0))
      q.processAllAvailable()   // wm ≈ 00:04 → only 'early' is frozen
      in.addData(Ev(ts("2024-01-01 00:30:00"), "u1", "flush", 1.0))
      q.processAllAvailable()   // wm ≈ 00:09 → 'late' frozen too
      val got = spark.sql("SELECT tpe FROM tsort").collect().map(_.getString(0)).toList
      assert(got.startsWith(List("early", "late")))
    } finally q.stop()
  }

  test("temporalSortStreaming breaks a timestamp tie by the typed tie column (INT 9 before 10)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[TieEv]
    val out = StatefulOps.temporalSortStreaming(
      in.toDF().withWatermark("ts", "0 seconds"), "ts", tieBreak = Seq("n"))
    val q = out.writeStream.format("memory").queryName("tsort_tie")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(TieEv(ts("2024-01-01 00:01:00"), 10), TieEv(ts("2024-01-01 00:01:00"), 9))
      q.processAllAvailable()
      in.addData(TieEv(ts("2024-01-01 00:05:00"), 1))
      q.processAllAvailable()
      val got = spark.sql("SELECT n FROM tsort_tie").collect().map(_.getInt(0)).toList
      assert(got.take(2) == List(9, 10), s"as strings \"10\" < \"9\"; got $got")
    } finally q.stop()
  }

  test("temporalJoinCoGrouped matches the declarative join, incl. no-version keys") {
    val events = Seq(("k1", ts("2024-01-01 00:10:00"), "e1"),
                     ("k1", ts("2024-01-01 00:30:00"), "e2"),
                     ("k2", ts("2024-01-01 00:10:00"), "e3"))
      .toDF("k", "ts", "eid")
    val versions = Seq(("k1", ts("2024-01-01 00:00:00"), "v1"),
                       ("k1", ts("2024-01-01 00:20:00"), "v2"))
      .toDF("vk", "vts", "vid")
    val out = StatefulOps.temporalJoinCoGrouped(events, "k", "ts", versions, "vk", "vts")
      .select($"eid", $"vid").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(out == Set(("e1", Some("v1")), ("e2", Some("v2")), ("e3", None)))
  }

  test("temporalJoinCoGrouped stays linear on a hot key (10k versions)") {
    // one key with 10,000 versions × 100 events: the declarative form
    // materializes 1M joined rows before pruning; the merge-scan is a
    // single pass. Equality on the result, sanity on the wall time.
    val versions = (1 to 10000).map(i =>
      ("hot", ts("2024-01-01 00:00:00").getTime / 1000 + i, s"v$i"))
      .toDF("vk", "vsec", "vid")
      .select($"vk", timestamp_seconds($"vsec").as("vts"), $"vid")
    val events = (1 to 100).map(i =>
      ("hot", ts("2024-01-01 00:00:00").getTime / 1000 + i * 100, s"e$i"))
      .toDF("k", "esec", "eid")
      .select($"k", timestamp_seconds($"esec").as("ts"), $"eid")
    val out = StatefulOps.temporalJoinCoGrouped(events, "k", "ts", versions, "vk", "vts")
      .select($"eid", $"vid").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // event i at t0+100i pairs with version v(100i) exactly
    assert(out.size == 100)
    assert(out("e1") == "v100" && out("e50") == "v5000" && out("e100") == "v10000")
  }

  test("temporalJoin picks latest version at-or-before event time") {
    val events = Seq(("k1", ts("2024-01-01 00:10:00"), "e1"),
                     ("k1", ts("2024-01-01 00:30:00"), "e2"),
                     ("k2", ts("2024-01-01 00:10:00"), "e3"))
      .toDF("k", "ts", "eid")
    val versions = Seq(("k1", ts("2024-01-01 00:00:00"), "v1"),
                       ("k1", ts("2024-01-01 00:20:00"), "v2"))
      .toDF("vk", "vts", "vid")
    val out = StatefulOps.temporalJoin(events, "k", "ts", versions, "vk", "vts")
      .select($"eid", $"vid").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(out == Set(("e1", Some("v1")), ("e2", Some("v2")), ("e3", None)))
  }

  test("late-data side output: late rows are tagged and routed, not dropped") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val tagged = StatefulOps.tagLateStreaming(
      in.toDF().withWatermark("ts", "10 minutes"), Seq("user"), "ts")
    val main = scala.collection.mutable.ArrayBuffer[String]()
    val late = scala.collection.mutable.ArrayBuffer[String]()
    val q = StatefulOps.splitLateSink(tagged)(
      b => main ++= b.select($"tpe").collect().map(_.getString(0)),
      b => late ++= b.select($"tpe").collect().map(_.getString(0)))
    try {
      in.addData(Ev(ts("2024-01-01 00:01:00"), "u1", "on_time_1", 1.0))
      q.processAllAvailable()
      // advance the watermark to 00:50
      in.addData(Ev(ts("2024-01-01 01:00:00"), "u1", "on_time_2", 1.0))
      q.processAllAvailable()
      // behind the 00:50 watermark → tagged late, still delivered
      in.addData(Ev(ts("2024-01-01 00:03:00"), "u1", "late_1", 9.0),
                 Ev(ts("2024-01-01 00:55:00"), "u2", "on_time_3", 1.0))
      q.processAllAvailable()
      assert(main.toSet == Set("on_time_1", "on_time_2", "on_time_3"))
      assert(late.toSet == Set("late_1"))
    } finally q.stop()
  }

  test("withWatermarkColumn exposes the current watermark per trigger") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.withWatermarkColumn(
      in.toDF().withWatermark("ts", "10 minutes"), Seq("user"))
    val q = out.writeStream.format("memory").queryName("wmcol")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 01:00:00"), "u1", "t1", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 02:00:00"), "u1", "t2", 1.0))
      q.processAllAvailable()
      val got = spark.table("wmcol")
        .select($"tpe", $"current_watermark").collect()
        .map(r => (r.getString(0), Option(r.getTimestamp(1)))).toMap
      // first trigger: no watermark yet → null; second trigger:
      // wm = 01:00 − 10 min = 00:50
      assert(got("t1").isEmpty)
      assert(got("t2").contains(ts("2024-01-01 00:50:00")))
    } finally q.stop()
  }

  test("earlyFireWindowAgg: delay throttles early fires; watermark emits one final") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    // 1-hour delay: rapid triggers must NOT re-fire early results
    val out = StatefulOps.earlyFireWindowAgg(
      in.toDF().withWatermark("ts", "1 minute"),
      Seq("user"), "ts", "value", windowSec = 600, earlyDelayMs = 3600 * 1000L)
    val q = out.writeStream.format("memory").queryName("earlyfire")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:01:00"), "u1", "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:02:00"), "u1", "a", 2.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:03:00"), "u1", "a", 4.0))
      q.processAllAvailable()
      val early = spark.table("earlyfire").filter(!$"is_final").collect()
      // first result fires undelayed; the two follow-ups are throttled
      assert(early.length == 1)
      assert(early(0).getLong(2) == 1L && early(0).getDouble(3) == 1.0)
      assert(spark.table("earlyfire").filter($"is_final").count() == 0)
      // watermark past window end (00:00–00:10) → exactly one FINAL
      // with the full accumulation, fired WITHOUT new data for u1
      in.addData(Ev(ts("2024-01-01 00:30:00"), "u2", "x", 9.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:40:00"), "u2", "x", 9.0))
      q.processAllAvailable()
      val fin = spark.table("earlyfire").filter($"is_final" && $"user" === "u1")
        .collect()
      assert(fin.length == 1)
      val expectedStart =
        ts("2024-01-01 00:01:00").getTime / 600000L * 600000L
      assert(fin(0).getLong(1) == expectedStart)
      assert(fin(0).getLong(2) == 3L && fin(0).getDouble(3) == 7.0)
    } finally q.stop()
  }

  test("earlyFireWindowAgg: zero delay fires on every trigger (update-mode analog)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.earlyFireWindowAgg(
      in.toDF().withWatermark("ts", "1 minute"),
      Seq("user"), "ts", "value", windowSec = 600, earlyDelayMs = 0L)
    val q = out.writeStream.format("memory").queryName("earlyfire0")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:01:00"), "u1", "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:02:00"), "u1", "a", 2.0))
      q.processAllAvailable()
      val early = spark.table("earlyfire0").filter(!$"is_final").collect()
      assert(early.length == 2)
      // cumulative, not per-batch: 1 then 1+2
      assert(early.map(r => (r.getLong(2), r.getDouble(3))).toSet ==
        Set((1L, 1.0), (2L, 3.0)))
    } finally q.stop()
  }
}
