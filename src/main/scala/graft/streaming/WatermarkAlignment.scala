package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** Per-partition watermark combination with idleness and alignment —
  * the reference's `WatermarkStrategy.withIdleness` /
  * `withWatermarkAlignment`
  * (flink-core/.../api/common/eventtime/WatermarkStrategy.java:182-210,
  * WatermarksWithIdleness.java; alignment is FLIP-182's source
  * coordinator protocol).
  *
  * Why this exists at all on Spark: Structured Streaming's built-in
  * watermark is GLOBAL `max(event time) - delay` — one fast source
  * partition drags the watermark forward and the data of a slow
  * partition is declared late. The reference instead combines
  * per-partition watermarks with MIN, which is what makes idleness
  * necessary (an empty partition would freeze the min forever) and
  * alignment possible (a partition whose local watermark runs ahead of
  * the combined min by more than `maxDrift` pauses). This file
  * re-expresses that per-partition min-combine as a library operator
  * pair over an explicit partition column (Kafka partition, source id,
  * shard — whatever the stream carries).
  *
  * Architecture mirrors the reference honestly:
  * - [[partitionHeartbeats]] folds the data-scale stream into ONE row
  *   per (partition, trigger) — the per-split watermark computation
  *   Flink does inside each source task. Keyed shuffle on the source's
  *   own partition key; parallelism = source parallelism.
  * - [[combinedWatermark]] consumes that partition-cardinality stream
  *   in a single keyed group holding a map of per-partition progress —
  *   the reference's SourceCoordinator, which is likewise a single
  *   actor over per-split METADATA (never data-scale rows).
  *
  * Documented narrowing: Spark exposes no hook to pause an individual
  * source partition, so `should_pause` is ADVICE — a user feeds the
  * status stream to the consumer that owns the partition (e.g. a
  * foreachBatch driving KafkaConsumer.pause), where Flink wires the
  * pause internally. Idleness is processing-time based, exactly like
  * `WatermarksWithIdleness`, and is (re)evaluated when any heartbeat
  * arrives: with a fully silent input no trigger runs and the
  * combined watermark holds — the same stall an all-idle Flink job
  * exhibits.
  */
object WatermarkAlignment {

  private val heartbeatSchema = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("batch_max_ts_ms", LongType, nullable = false),
    StructField("batch_rows", LongType, nullable = false)))

  val statusSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("local_wm_ms", LongType, nullable = false),
    StructField("is_idle", BooleanType, nullable = false),
    StructField("combined_wm_ms", LongType, nullable = false),
    StructField("drift_ms", LongType, nullable = false),
    StructField("should_pause", BooleanType, nullable = false)))

  /** Fold the data stream to one row per (partition, trigger):
    * (partition, batch_max_ts_ms, batch_rows). Stateless (the running
    * max lives in the combiner), so the state store stays empty; the
    * shuffle key is the source's own partition id, so this adds no
    * skew the source didn't already have.
    */
  def partitionHeartbeats(df: DataFrame, partitionCol: String,
                          tsCol: String): DataFrame = {
    val schema = df.schema
    val tsIdx = StatefulOps.eventTimeIndex(schema, tsCol)
    def millis(r: Row): Long = StatefulOps.timeMillis(r.get(tsIdx))
    implicit val outEnc: ExpressionEncoder[Row] = StatefulOps.rowEnc(heartbeatSchema)
    StatefulOps.keyed(df, Seq(partitionCol))
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (part: Row, rows: Iterator[Row], _: GroupState[Long]) =>
          // the heartbeat schema pins partition non-null (and a NULL id
          // would merge with a partition literally named "null" there)
          require(!part.isNullAt(0),
            s"partition column '$partitionCol' must be non-null — a null " +
              "partition id cannot drive watermark alignment")
          var mx = Long.MinValue; var n = 0L
          rows.foreach { r => val m = millis(r); if (m > mx) mx = m; n += 1 }
          if (n == 0L) Iterator.empty
          else Iterator.single(Row(String.valueOf(part.get(0)), mx, n))
      }(Encoders.scalaLong, outEnc)
  }

  /** Progress of one partition as the combiner last saw it. */
  case class PartProgress(partition: String, maxTsMs: Long, lastSeenProcMs: Long)
  case class CombinerState(parts: Seq[PartProgress], combinedWmMs: Long)

  /** Combine per-partition heartbeats into the reference's aligned
    * watermark view. Emits, on every trigger that carries heartbeats,
    * one status row per KNOWN partition:
    *
    *   (partition, local_wm_ms, is_idle, combined_wm_ms, drift_ms,
    *    should_pause)
    *
    * - local watermark  = running max event time - `outOfOrderMs`
    *   (forBoundedOutOfOrderness).
    * - idle             = no heartbeat for `idleTimeoutMs` of
    *   processing time (withIdleness); idle partitions are EXCLUDED
    *   from the min-combine and rejoin on their next heartbeat.
    * - eviction         = a partition idle for more than
    *   `EvictMultiple x idleTimeoutMs` is REMOVED from coordinator
    *   state and stops being emitted — the reference likewise removes
    *   finished splits from the combined watermark
    *   (IndexedCombinedWatermarkStatus.remove). Without this, state
    *   and output cardinality grow without bound when partition ids
    *   are ephemeral (e.g. file-per-partition sources). A re-appearing
    *   partition re-registers exactly like a new one.
    * - combined         = min over active partitions' local
    *   watermarks, monotone (never regresses — the reference's
    *   IndexedCombinedWatermarkStatus keeps the same invariant).
    * - should_pause     = local - combined > `maxDriftMs`
    *   (withWatermarkAlignment's maxAllowedWatermarkDrift).
    *
    * The single group holds partition-cardinality METADATA, not data:
    * this is the SourceCoordinator role, and its input is already
    * folded to one row per partition per trigger by
    * [[partitionHeartbeats]].
    */
  /** A partition idle this many idle-timeouts is treated as departed
    * and evicted from coordinator state (see combinedWatermark doc). */
  val EvictMultiple = 4L

  def combinedWatermark(heartbeats: DataFrame, outOfOrderMs: Long,
                        idleTimeoutMs: Long, maxDriftMs: Long): DataFrame = {
    require(outOfOrderMs >= 0 && idleTimeoutMs > 0 && maxDriftMs > 0)
    val schema = heartbeats.schema
    val pIdx = schema.fieldIndex("partition")
    val tsIdx = schema.fieldIndex("batch_max_ts_ms")
    implicit val outEnc: ExpressionEncoder[Row] = StatefulOps.rowEnc(statusSchema)
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.product[CombinerState]
    heartbeats.groupByKey(_ => "watermark-coordinator")
      .flatMapGroupsWithState[CombinerState, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[CombinerState]) =>
          val now = state.getCurrentProcessingTimeMs()
          val prev = state.getOption.getOrElse(CombinerState(Nil, Long.MinValue))
          // fold this trigger's heartbeats into the per-partition map
          var parts = prev.parts.map(p => p.partition -> p).toMap
          rows.foreach { r =>
            val p = r.getString(pIdx); val mx = r.getLong(tsIdx)
            val old = parts.get(p)
            parts = parts.updated(p, PartProgress(p,
              math.max(mx, old.map(_.maxTsMs).getOrElse(Long.MinValue)), now))
          }
          // departed-split eviction: bound state and output cardinality
          parts = parts.filter { case (_, p) =>
            now - p.lastSeenProcMs <= EvictMultiple * idleTimeoutMs
          }
          val statuses = parts.values.toSeq.sortBy(_.partition).map { p =>
            val localWm = p.maxTsMs - outOfOrderMs
            val idle = now - p.lastSeenProcMs > idleTimeoutMs
            (p, localWm, idle)
          }
          val active = statuses.filterNot(_._3)
          // all idle → hold: the min over an empty active set is the
          // previous combined watermark, like the reference
          val combinedRaw =
            if (active.isEmpty) prev.combinedWmMs
            else active.map(_._2).min
          val combined = math.max(combinedRaw, prev.combinedWmMs) // monotone
          state.update(CombinerState(parts.values.toSeq, combined))
          statuses.map { case (p, localWm, idle) =>
            val drift = localWm - combined
            Row(p.partition, localWm, idle, combined, drift,
              !idle && drift > maxDriftMs)
          }.iterator
      }(stateEnc, outEnc)
  }

  /** One-call form: data stream in, per-partition watermark status
    * stream out. The two stateful stages chain in one append-mode
    * query (data-scale shuffle on the partition key, then a
    * metadata-scale coordinator group).
    */
  def idleAwareWatermark(df: DataFrame, partitionCol: String, tsCol: String,
                         outOfOrderMs: Long, idleTimeoutMs: Long,
                         maxDriftMs: Long): DataFrame =
    combinedWatermark(partitionHeartbeats(df, partitionCol, tsCol),
      outOfOrderMs, idleTimeoutMs, maxDriftMs)
}
