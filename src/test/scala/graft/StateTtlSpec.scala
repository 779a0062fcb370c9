package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import graft.streaming.{Changelog, StatefulOps}

/** State-TTL behavior of the stateful family — the analog of the
  * reference's `table.exec.state.ttl` (flink-table-api-java/.../config/
  * ExecutionConfigOptions.java:51) and StateTtlConfig cleanup: a key
  * whose state is untouched while the event-time watermark advances
  * past the TTL is purged (watermark-driven EventTimeTimeout, like the
  * cleanup timers StateTtlConfig registers).
  *
  * Contract proven here, per the shared `StatefulOps.withTtl` wrapper:
  *  1. idle keys' state rows are REMOVED (bounded state on an infinite
  *     keyspace — the 100 TB failure mode TTL exists to prevent);
  *  2. expiry runs the op once with an empty input first, so
  *     watermark-buffered ops FLUSH what the watermark already permits
  *     instead of dropping it (Flink fires pending timers before
  *     cleanup the same way);
  *  3. after expiry a returning key starts from scratch (history
  *     forgotten — the documented TTL trade-off);
  *  4. without a watermark upstream the op falls back to
  *     retain-forever and keeps working (Flink's TTL likewise needs a
  *     time characteristic) — covered implicitly by every pre-existing
  *     watermark-less streaming spec, which all run with the TTL
  *     default ON.
  *
  * Timers arm at max(committed watermark, the key's latest event time
  * in the invocation) + ttl, so a key stays live for the TTL after its
  * last event even when one batch spans more event time than the TTL.
  * Each scenario first establishes a watermark.
  */
class StateTtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("keepLastStreaming purges idle keys after the event-time TTL") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepLastStreaming(
      in.toDF().withWatermark("ts", "0 seconds"),
      Seq("user"), "ts", ttlSec = 60)
    val q = out.writeStream.format("memory").queryName("ttl_dedup")
      .outputMode(OutputMode.Update).start()
    try {
      // establish the watermark before the key under test appears
      in.addData(Ev(ts("2024-01-01 00:00:00"), "u2", "a", 0.0))
      q.processAllAvailable()
      // u1 arrives once (timer = 00:00 + 60s), then goes idle forever
      in.addData(Ev(ts("2024-01-01 00:30:00"), "u1", "a", 1.0))
      q.processAllAvailable()
      // u2 traffic advances the watermark hours past u1's TTL horizon
      in.addData(Ev(ts("2024-01-01 02:00:00"), "u2", "a", 2.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 02:01:00"), "u2", "a", 3.0))
      q.processAllAvailable()
      val progress = q.recentProgress.flatMap(_.stateOperators)
      assert(progress.map(_.numRowsRemoved).sum > 0,
        "watermark advance past the TTL must remove idle-key state")
      // only the live key's entry survives
      assert(progress.last.numRowsTotal == 1,
        s"state must hold just u2 after u1 expires, saw ${progress.last.numRowsTotal}")
      // expiry must not re-emit or corrupt output: u1 emitted exactly once
      val u1 = spark.sql("SELECT value FROM ttl_dedup WHERE user = 'u1'").collect()
      assert(u1.map(_.getDouble(0)).toList == List(1.0))
    } finally q.stop()
  }

  test("TTL expiry flushes watermark-released rows before purging (event-time OVER agg)") {
    // A key's pending rows are normally released only when NEW data for
    // that key arrives (flatMapGroupsWithState invokes only keys with
    // data). The TTL timer gives idle keys a final empty invocation —
    // so a buffered row whose rowtime the watermark has long passed is
    // emitted with its correct running aggregate, then the key is
    // purged. This mirrors Flink firing event-time timers before
    // StateTtlConfig cleanup.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.runningAggEventTimeStreaming(
      in.toDF().withWatermark("ts", "10 minutes"),
      Seq("user"), "ts", "value", ttlSec = 3600)
    val q = out.writeStream.format("memory").queryName("ttl_flush")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:00"), "u2", "a", 1.0))
      q.processAllAvailable()
      // u1's only row: buffered behind the watermark; timer = wm + 1h
      in.addData(Ev(ts("2024-01-01 00:30:00"), "u1", "a", 5.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM ttl_flush WHERE user = 'u1'").count() == 0,
        "row must still be watermark-buffered before any advance")
      // u2 traffic pushes the watermark hours past u1's timer
      in.addData(Ev(ts("2024-01-01 03:00:00"), "u2", "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 03:01:00"), "u2", "a", 1.0))
      q.processAllAvailable()
      val u1 = spark.sql("SELECT running_sum, running_count FROM ttl_flush WHERE user = 'u1'")
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toList
      assert(u1 == List((5.0, 1L)),
        s"idle key's buffered row must flush on TTL expiry, got $u1")
      val progress = q.recentProgress.flatMap(_.stateOperators)
      assert(progress.map(_.numRowsRemoved).sum > 0,
        "u1's state entry must be purged after the flush")
    } finally q.stop()
  }

  test("changelogNormalize forgets idle keys after TTL (bounded state on infinite keyspace)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Up]
    // seq doubles as event-time seconds so a watermark can drive TTL
    val src = in.toDF()
      .withColumn("ts", timestamp_seconds(col("seq")))
      .withWatermark("ts", "0 seconds")
      .withColumnRenamed("kind", Changelog.KindCol)
    val out = Changelog.changelogNormalize(src, Seq("key"), ttlSec = 60)
    val q = out.writeStream.format("memory").queryName("ttl_chlog")
      .outputMode(OutputMode.Append).start()
    try {
      // k2 establishes the watermark at 3600s
      in.addData(Up("+U", "k2", 3600, 0.0))
      q.processAllAvailable()
      // k1 appears once; timer = 3600s + 60s
      in.addData(Up("+U", "k1", 7200, 10.0))
      q.processAllAvailable()
      // k2 advances the watermark far past k1's horizon → k1 purged
      in.addData(Up("+U", "k2", 36000, 1.0))
      q.processAllAvailable()
      val progress = q.recentProgress.flatMap(_.stateOperators)
      assert(progress.map(_.numRowsRemoved).sum > 0,
        "k1 must expire after the watermark passes its TTL")
      // k1 expired in the data batch; the trailing timer-only batch may
      // also expire now-idle k2 — either way, state must not accumulate
      assert(progress.last.numRowsTotal <= 1,
        s"idle keys must not accumulate, saw ${progress.last.numRowsTotal}")
      // after expiry, a k1 upsert re-INSERTs (history forgotten — the
      // documented TTL trade-off, same as Flink's)
      in.addData(Up("+U", "k1", 39600, 11.0))
      q.processAllAvailable()
      val kinds = spark.sql("SELECT row_kind FROM ttl_chlog WHERE key = 'k1' ORDER BY seq")
        .collect().map(_.getString(0)).toList
      assert(kinds == List("+I", "+I"), s"second +U after expiry must re-insert, got $kinds")
    } finally q.stop()
  }

  test("a backlog spanning more event time than the TTL does not expire a live key") {
    // The timer arms at max(watermark, the key's latest event time in
    // the invocation) + ttl. Armed from the batch-start watermark
    // alone, u1's timer (00:00 + 100 s) would fall behind the
    // watermark the backlog itself pushes to 00:10, u1 would expire at
    // the next batch although it received an event at 00:10, and its
    // row at 00:10:30 would come out as a second "first" row.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepFirstStreaming(
      in.toDF().withWatermark("ts", "0 seconds"), Seq("user"), "ts", ttlSec = 100)
    val q = out.writeStream.format("memory").queryName("ttl_backlog")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:00"), "u2", "a", 0.0))
      q.processAllAvailable()
      // one backlog: u1 from 00:00:10 to 00:10:00, ten minutes > TTL
      in.addData(Ev(ts("2024-01-01 00:00:10"), "u1", "first", 1.0),
        Ev(ts("2024-01-01 00:10:00"), "u1", "later", 2.0))
      q.processAllAvailable()
      // an idle-for-u1 batch: its timer is checked against wm 00:10
      in.addData(Ev(ts("2024-01-01 00:10:20"), "u3", "a", 3.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:10:30"), "u1", "again", 4.0))
      q.processAllAvailable()
      val u1 = spark.sql("SELECT tpe FROM ttl_backlog WHERE user = 'u1'")
        .collect().map(_.getString(0)).toList
      assert(u1 == List("first"), s"u1 must be emitted once, got $u1")
    } finally q.stop()
  }

  test("a backlog spanning more event time than the TTL does not restart an event-time running aggregate") {
    // The aggregate keeps its TTL horizon in state beside its release
    // timers. Armed from the batch-start watermark (00:00) the horizon
    // would be 00:01:40; the release timer that fires at wm 00:10 would
    // then also purge u1, and its next row would start a fresh count.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.runningAggEventTimeStreaming(
      in.toDF().withWatermark("ts", "0 seconds"), Seq("user"), "ts", "value", ttlSec = 100)
    val q = out.writeStream.format("memory").queryName("ttl_backlog_agg")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(ts("2024-01-01 00:00:00"), "u2", "a", 0.0))
      q.processAllAvailable()
      // one backlog: u1 from 00:00:10 to 00:10:00, ten minutes > TTL
      in.addData(Ev(ts("2024-01-01 00:00:10"), "u1", "a", 1.0),
        Ev(ts("2024-01-01 00:10:00"), "u1", "b", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:10:30"), "u1", "c", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 00:11:00"), "u3", "a", 0.0))
      q.processAllAvailable()
      val u1 = spark.sql("SELECT tpe, running_count FROM ttl_backlog_agg WHERE user = 'u1'")
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toList
      assert(u1 == List(("a", 1L), ("b", 2L), ("c", 3L)), s"u1's count restarted: $u1")
    } finally q.stop()
  }

  test("graft.exec.state.ttl session config drives the default TTL") {
    val before = StatefulOps.DefaultTtlSec
    assert(before == 86400L)
    spark.conf.set("graft.exec.state.ttl", "3600")
    try assert(StatefulOps.DefaultTtlSec == 3600L)
    finally spark.conf.unset("graft.exec.state.ttl")
    assert(StatefulOps.DefaultTtlSec == 86400L)
  }
}
