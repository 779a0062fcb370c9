package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.Encoders
import java.sql.Timestamp
import graft.streaming.StatefulOps

case class LfEv(k: String, ts: Timestamp, v: Double)
case class LfEvN(k: String, ts: Timestamp, v: java.lang.Double)
case class LfEvS(k: String, ts: Timestamp, v: String)

/** allowedLateness + late-fire corrections (WindowedStream.allowedLateness,
  * EventTimeTrigger late firings): the window fires a final once the
  * watermark passes its end, rows within the lateness re-fire it as a
  * correction with the updated aggregate, rows beyond end+lateness are
  * dropped-and-accounted, and state purges at end+lateness.
  */
class LateFireSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("late-fire lifecycle: final -> late correction -> dropped beyond lateness, state purged") {
    implicit val sc = spark.sqlContext
    implicit val enc = Encoders.product[LfEv]
    val in = MemoryStream[LfEv]
    // 60 s windows, 180 s allowedLateness, zero out-of-orderness
    val out = StatefulOps.lateFireWindowAgg(
      in.toDF().withWatermark("ts", "0 seconds"),
      keys = Seq("k"), tsCol = "ts", valueCol = "v",
      windowSec = 60L, latenessMs = 180000L)
    val q = out.writeStream.format("memory").queryName("latefire")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("latefire").toString)
      .start()
    def rows() = spark.sql(
      "SELECT window_start, cnt, sum_val, emit_kind FROM latefire").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val w1000 = ts("2024-01-01 10:00:00").getTime
    try {
      in.addData(LfEv("a", ts("2024-01-01 10:00:10"), 1.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "window still open — nothing fires before the watermark passes its end")

      in.addData(LfEv("a", ts("2024-01-01 10:02:30"), 10.0))
      q.processAllAvailable() // wm = 10:00:10, win 10:00 still open
      assert(rows().isEmpty)

      in.addData(LfEv("a", ts("2024-01-01 10:02:40"), 10.0))
      q.processAllAvailable() // wm = 10:02:30 ≥ 10:01 → final for win 10:00
      assert(rows().toSet == Set((w1000, 1L, 1.0, "final")),
        s"expected exactly the 10:00 final, got ${rows().mkString(", ")}")

      // 2 min late but within the 3 min allowedLateness → correction
      in.addData(LfEv("a", ts("2024-01-01 10:00:40"), 5.0))
      q.processAllAvailable()
      assert(rows().contains((w1000, 2L, 6.0, "late_update")),
        s"late row within lateness must re-fire with the corrected aggregate: ${rows().mkString(", ")}")

      // advance the watermark far past 10:00's end+lateness (10:04)
      in.addData(LfEv("a", ts("2024-01-01 10:06:00"), 1.0))
      q.processAllAvailable()
      in.addData(LfEv("a", ts("2024-01-01 10:07:00"), 1.0))
      q.processAllAvailable() // wm = 10:06 → win 10:00 purged; win 10:02 finals
      val kinds = rows().groupBy(_._4)
      assert(kinds("final").map(_._1).toSet.contains(ts("2024-01-01 10:02:00").getTime),
        "the 10:02 window must have fired its final as the watermark advanced")

      // beyond end+lateness now → dropped-and-accounted, never resurrected
      in.addData(LfEv("a", ts("2024-01-01 10:00:50"), 99.0))
      q.processAllAvailable()
      assert(rows().contains((w1000, 1L, 99.0, "dropped_late")),
        s"row beyond allowedLateness must be accounted as dropped: ${rows().mkString(", ")}")
      assert(!rows().contains((w1000, 3L, 105.0, "late_update")),
        "a dropped row must never correct a purged window")
    } finally q.stop()
  }

  /** Pins the r12-advice boundary fix: Flink's isWindowLate compares
    * window.maxTimestamp() = end - 1 (the last INCLUSIVE millisecond),
    * so at wm == end + lateness - 1 a row for that window is already
    * dropped — one millisecond before the naive end + lateness check
    * would admit it.
    */
  test("maxTimestamp boundary: a row at wm == end + lateness - 1 is dropped, not admitted") {
    implicit val sc = spark.sqlContext
    implicit val enc = Encoders.product[LfEv]
    val in = MemoryStream[LfEv]
    // 1 s windows, 500 ms allowedLateness
    val out = StatefulOps.lateFireWindowAgg(
      in.toDF().withWatermark("ts", "0 seconds"),
      keys = Seq("k"), tsCol = "ts", valueCol = "v",
      windowSec = 1L, latenessMs = 500L)
    val q = out.writeStream.format("memory").queryName("latefire_boundary")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("latefire_b").toString)
      .start()
    def rows() = spark.sql(
      "SELECT window_start, cnt, sum_val, emit_kind FROM latefire_boundary").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val base = ts("2024-01-01 10:00:00").getTime // window [base, base+1000)
    try {
      in.addData(LfEv("a", new Timestamp(base + 10), 1.0))
      q.processAllAvailable()
      // Drive wm to EXACTLY end + lateness - 1 = base + 1499 (watermark
      // delay 0 → wm = max event time seen in the previous batch).
      in.addData(LfEv("a", new Timestamp(base + 1499), 0.0))
      q.processAllAvailable() // wm = base+10: nothing closed yet
      in.addData(LfEv("a", new Timestamp(base + 1499), 0.0))
      q.processAllAvailable() // wm = base+1499 → final fires for [base, base+1000)
      assert(rows().count(_._4 == "final") >= 1, s"final must have fired: ${rows().mkString(", ")}")
      // At wm = end + lateness - 1 the reference already counts the window
      // late (maxTimestamp 999 + lateness 500 = 1499 <= wm) → dropped.
      in.addData(LfEv("a", new Timestamp(base + 500), 42.0))
      q.processAllAvailable()
      assert(rows().contains((base, 1L, 42.0, "dropped_late")),
        s"row at wm == end+lateness-1 must be dropped (maxTimestamp semantics): ${rows().mkString(", ")}")
      assert(!rows().exists(r => r._1 == base && r._4 == "late_update"),
        "the boundary row must not be admitted as a correction")
    } finally q.stop()
  }

  /** Closes the documented idle-key narrowing (r12 directive #3, carried
    * to r14): under [[StatefulOps.lateFireWindowAggTimers]] an idle
    * key's final fires when the WATERMARK passes window end — advanced
    * by ANOTHER key's data, with zero new rows for the idle key — and
    * its state later purges the same way. The NoTimeout op
    * ([[StatefulOps.lateFireWindowAgg]]) could only fire on the key's
    * own next arrival; the TWS op uses real event-time timers
    * ([[TwsProbeSpec]] pins the mechanism).
    */
  test("timer op: NULL value counts 0.0 and NULL timestamp drops, never an NPE (r19 review)") {
    implicit val sc = spark.sqlContext
    implicit val enc = Encoders.product[LfEvN]
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[LfEvN]
    val out = StatefulOps.lateFireWindowAggTimers(
      in.toDF(), keys = Seq("k"), tsCol = "ts", valueCol = "v",
      windowSec = 60L, latenessMs = 0L)
    val q = out.writeStream.format("memory").queryName("latefire_nulls")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("latefire_n").toString)
      .start()
    try {
      in.addData(
        LfEvN("a", ts("2024-01-01 10:00:10"), null),            // null value → 0.0
        LfEvN("a", ts("2024-01-01 10:00:20"), 2.0),
        LfEvN("a", null, 5.0))                                  // null ts → unwindowable
      q.processAllAvailable()
      in.addData(LfEvN("b", ts("2024-01-01 10:02:00"), 0.0))
      q.processAllAvailable()
      in.addData(LfEvN("b", ts("2024-01-01 10:03:00"), 0.0))
      q.processAllAvailable()
      val a = spark.sql(
        "SELECT cnt, sum_val FROM latefire_nulls WHERE k = 'a' AND emit_kind = 'final'")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      assert(a == List((2L, 2.0)),
        s"null value folds as 0.0 and the null-ts row is dropped: $a")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer op: idle key's final fires and purges on another key's watermark advance") {
    implicit val sc = spark.sqlContext
    implicit val enc = Encoders.product[LfEv]
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[LfEv]
    // 60 s windows, 180 s allowedLateness, zero out-of-orderness — the
    // raw stream goes in un-watermarked (the op installs its own).
    val out = StatefulOps.lateFireWindowAggTimers(
      in.toDF(), keys = Seq("k"), tsCol = "ts", valueCol = "v",
      windowSec = 60L, latenessMs = 180000L)
    val q = out.writeStream.format("memory").queryName("latefire_timers")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("latefire_t").toString)
      .start()
    def rows() = spark.sql(
      "SELECT k, window_start, cnt, sum_val, emit_kind FROM latefire_timers")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
    def aRows() = rows().filter(_._1 == "a").map(r => (r._2, r._3, r._4, r._5))
    val w1000 = ts("2024-01-01 10:00:00").getTime
    try {
      in.addData(LfEv("a", ts("2024-01-01 10:00:10"), 1.0))
      q.processAllAvailable()
      assert(aRows().isEmpty, "nothing fires before the watermark passes window end")

      // key 'a' goes idle FOREVER; only 'b' advances the watermark
      in.addData(LfEv("b", ts("2024-01-01 10:02:00"), 0.0))
      q.processAllAvailable() // wm = 10:00:10 — a's window still open
      in.addData(LfEv("b", ts("2024-01-01 10:03:00"), 0.0))
      q.processAllAvailable() // wm = 10:02:00 ≥ 10:01 → a's TIMER fires its final
      assert(aRows().toSet == Set((w1000, 1L, 1.0, "final")),
        s"idle key 'a' must final-fire on b's watermark advance: ${rows().mkString(", ")}")

      // a late row for 'a' within lateness still corrects after the
      // timer final (cleanup 10:03:59.999 + lateness vs wm 10:02)
      in.addData(LfEv("a", ts("2024-01-01 10:00:40"), 5.0))
      q.processAllAvailable()
      assert(aRows().contains((w1000, 2L, 6.0, "late_update")),
        s"late row within lateness must correct the timer-fired final: ${rows().mkString(", ")}")

      // 'a' idle again; b drives the watermark past end+lateness (10:04)
      in.addData(LfEv("b", ts("2024-01-01 10:06:00"), 0.0))
      q.processAllAvailable()
      in.addData(LfEv("b", ts("2024-01-01 10:07:00"), 0.0))
      q.processAllAvailable() // wm = 10:06 → a's window purged by TIMER
      // beyond end+lateness now → dropped-and-accounted, never resurrected
      in.addData(LfEv("a", ts("2024-01-01 10:00:50"), 99.0))
      q.processAllAvailable()
      assert(aRows().contains((w1000, 1L, 99.0, "dropped_late")),
        s"row beyond allowedLateness must be accounted as dropped: ${rows().mkString(", ")}")
      assert(!aRows().contains((w1000, 3L, 105.0, "late_update")),
        "a dropped row must never correct a purged window")
      // The sentinel branch must never surface as output: a null-key row
      // means the processor's sentinel check and the groupByKey sentinel
      // key diverged (the r14 rename bug) and watermark carriers were
      // aggregated as data.
      assert(rows().forall(_._1 != null),
        s"sentinel watermark rows leaked into the output: ${rows().mkString(", ")}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  /** r15 advice: the "filtered sentinel branch" probe in
    * [[graft.TwsProbeSpec]] reconstructs the branchW/filter/branchD
    * union INLINE, so its pins would not trip if the production op's
    * construction drifted from the probe's copy. This test asserts the
    * structural property against [[StatefulOps.lateFireWindowAggTimers]]
    * itself: in the EXECUTED micro-batch plan the sentinel drop-filter
    * sits ABOVE the (single) EventTimeWatermarkExec node — stats first,
    * drop second. If Catalyst ever pushed it below, sentinel rows would
    * die before the stats node and the watermark would freeze; if a
    * refactor dropped the filter, every sentinel row would traverse the
    * shuffle (the r14 one-core funnel).
    */
  test("timer op (production plan): sentinel drop-filter stays above the watermark node") {
    implicit val sc = spark.sqlContext
    implicit val enc = Encoders.product[LfEv]
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[LfEv]
    val out = StatefulOps.lateFireWindowAggTimers(
      in.toDF(), keys = Seq("k"), tsCol = "ts", valueCol = "v",
      windowSec = 60L, latenessMs = 0L)
    val q = out.writeStream.format("memory").queryName("latefire_plan_pin")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("latefire_pp").toString)
      .start()
    try {
      in.addData(LfEv("a", ts("2024-01-01 10:00:10"), 1.0))
      q.processAllAvailable()
      val exec = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      import org.apache.spark.sql.execution.FilterExec
      import org.apache.spark.sql.execution.streaming.operators.stateful.EventTimeWatermarkExec
      val wmNodes = exec.collect { case w: EventTimeWatermarkExec => w }
      assert(wmNodes.size == 1,
        s"expected exactly one watermark node in the production plan, got ${wmNodes.size}:\n$exec")
      def isSentinelDrop(f: FilterExec): Boolean = {
        val c = f.condition.toString
        c.contains("__ett") && c.contains("9999-12-31")
      }
      val pushedBelow = wmNodes.head.collect {
        case f: FilterExec if isSentinelDrop(f) => f
      }
      assert(pushedBelow.isEmpty,
        s"sentinel drop-filter was pushed BELOW EventTimeWatermarkExec — " +
          s"watermark stats would never see the event times:\n$exec")
      val present = exec.collect { case f: FilterExec if isSentinelDrop(f) => f }
      assert(present.nonEmpty,
        s"sentinel drop-filter missing from the production plan — every " +
          s"sentinel row would traverse the shuffle:\n$exec")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer op: a non-numeric value column is rejected when the op is built") {
    implicit val sc = spark.sqlContext
    implicit val enc = Encoders.product[LfEvS]
    val in = MemoryStream[LfEvS]
    val e = intercept[IllegalArgumentException] {
      StatefulOps.lateFireWindowAggTimers(
        in.toDF(), keys = Seq("k"), tsCol = "ts", valueCol = "v",
        windowSec = 60L, latenessMs = 0L)
    }
    assert(e.getMessage.contains("value column 'v' is STRING"))
  }
}
