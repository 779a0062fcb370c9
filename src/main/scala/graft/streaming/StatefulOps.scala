package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DateType,
  DoubleType, FloatType, IntegerType, LongType, NumericType, StringType, StructField, StructType,
  TimestampNTZType, TimestampType}

/** Stateful operators re-expressing the reference's keyed-state runtime
  * (SURVEY.md §2.5 deduplicate, §2.5 rank/TopN, §2.3 temporal join) on
  * Spark primitives.
  *
  * Batch inputs use the declarative window-function form (Catalyst
  * optimizes ROW_NUMBER()=1 into WindowGroupLimit — one shuffle, no
  * state). Streaming inputs use `flatMapGroupsWithState`, which maps
  * onto the state-store-partitioned shuffle exactly like Flink's keyed
  * state maps onto key groups (reference:
  * flink-runtime/.../state/KeyGroupRangeAssignment.java:25): state
  * lives with the key's shuffle partition, so the op scales to any
  * number of executors.
  */
// Serializable: closures that call helpers like tsMicros from inside a
// local def capture the module instance (the lambda body compiles as an
// instance method), so tasks serialize it; the object is stateless and
// Scala modules deserialize back to MODULE$.
object StatefulOps extends Serializable {

  private[streaming] def rowEnc(schema: StructType): ExpressionEncoder[Row] =
    ExpressionEncoder(RowEncoder.encoderFor(schema))

  /** Group `df` for a keyed state op by the key columns themselves,
    * as the reference keys state by the serialized key row
    * (BinaryRowData): equal key content is one key whatever the type
    * (BINARY, struct, array, NULL anywhere), and distinct keys never
    * collide. Handlers get the key as a Row of `keyCols`, in order; a
    * computed key (a window start, a cast) is just another column.
    */
  private[streaming] def keyedOn(df: Dataset[Row], keyCols: Seq[Column])
      : KeyValueGroupedDataset[Row, Row] = {
    val cols = keyCols.zip(df.select(keyCols: _*).schema.fields).map {
      case (c, f) if floating(f.dataType) => normalizedKey(c, f.dataType).as(f.name)
      case (c, _) => c
    }
    df.groupBy(cols: _*).as[Row, Row](rowEnc(df.select(cols: _*).schema), rowEnc(df.schema))
  }

  private def floating(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case a: ArrayType => floating(a.elementType)
    case _ => false
  }

  /** `c` with -0.0 folded into 0.0 and every NaN into one NaN, inside
    * structs and arrays too, as Spark does to batch grouping keys
    * (NormalizeFloatingNumbers): the state store compares key bytes,
    * and those of -0.0 and 0.0 differ.
    */
  private def normalizedKey(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val zero = lit(0).cast(t)
      when(isnan(c), lit(Double.NaN).cast(t)).when(c === zero, zero).otherwise(c)
    case s: StructType if floating(s) =>
      when(c.isNull, lit(null).cast(s)).otherwise(struct(s.fields.toSeq.map(f =>
        normalizedKey(c.getField(f.name), f.dataType).as(f.name)): _*))
    case a: ArrayType if floating(a) => transform(c, normalizedKey(_, a.elementType))
    case _ => c
  }

  /** The type each pair of key columns of two inputs is grouped in:
    * the pair's common wider type, so an INT 5 and a BIGINT 5 are one
    * key. A pair with none — or only by turning a non-string into a
    * STRING — is rejected when the op is built.
    */
  private[streaming] def commonKeyTypes(left: Seq[StructField],
                                        right: Seq[StructField]): Seq[DataType] = {
    require(left.length == right.length,
      s"key column counts differ: ${left.map(_.name)} vs ${right.map(_.name)}")
    left.zip(right).map { case (l, r) =>
      val t = org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findWiderTypeForTwo(l.dataType, r.dataType)
        .filter(t => t != StringType || (l.dataType == StringType && r.dataType == StringType))
      require(t.isDefined, s"key columns '${l.name}' (${l.dataType.sql}) and " +
        s"'${r.name}' (${r.dataType.sql}) have no common type")
      t.get
    }
  }

  /** [[keyedOn]] the named top-level columns. */
  private[streaming] def keyed(df: Dataset[Row], keys: Seq[String])
      : KeyValueGroupedDataset[Row, Row] =
    keyedOn(df, keys.map(topCol(df, _)))

  /** The top-level column `name` of `df`, dots and all. */
  private[streaming] def topCol(df: Dataset[_], name: String): Column =
    df.col(s"`${name.replace("`", "``")}`")

  // ---- State TTL ------------------------------------------------------

  /** Default idle-state retention, in seconds of EVENT time — the
    * analog of the reference's `table.exec.state.ttl`
    * (flink-table-api-java/.../config/ExecutionConfigOptions.java:51
    * and StateTtlConfig): a key whose state goes untouched while the
    * watermark advances this far is purged. 24h, like typical
    * production Flink settings for unbounded-keyspace dedup/TopN.
    * Pass `ttlSec = 0` to retain state forever (Flink's default).
    *
    * Like the reference's config option, the default is settable per
    * session: `spark.conf.set("graft.exec.state.ttl", "<seconds>")`.
    * Default-parameter expressions evaluate at each call, so every
    * stateful op whose caller leaves `ttlSec` unset picks up the
    * session value in force when the op is built.
    */
  def DefaultTtlSec: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("graft.exec.state.ttl"))
      .map(_.toLong).getOrElse(86400L)

  /** TTL is watermark-driven, so it can only engage when the input has
    * an event-time watermark (`withWatermark` upstream) — the same
    * prerequisite Flink's cleanup timers have on a time
    * characteristic. Without one, the op silently falls back to
    * retain-forever, keeping watermark-less (e.g. pure arrival-order)
    * pipelines valid.
    */
  private[streaming] def hasWatermark(df: Dataset[_]): Boolean =
    watermarkColumns(df).nonEmpty

  /** A keyed op's TTL settings, fixed when the op is built: the timeout
    * mode, the TTL, and how to read event time (millis) off the rows
    * being grouped — the columns the upstream `EventTimeWatermark`
    * nodes name, found at the top level or one struct level down
    * (ChangelogJoin groups side-tagged rows that carry each input as a
    * struct; the other side's struct is null). `eventMs` is None when
    * the grouped rows carry no such column; timers then arm from the
    * watermark alone.
    */
  private[streaming] final case class StateTtl(
      timeout: GroupStateTimeout, ttlSec: Long, eventMs: Option[Row => Long]) {

    /** The purge deadline a data invocation arms: max(watermark, the
      * key's latest event time in the invocation) + ttl; 0 when TTL is
      * off or neither is known yet (the first micro-batch: arming then
      * would purge at the first real watermark). Choose ttlSec well
      * above the watermark delay: a key's still-buffered rows older than
      * the horizon are dropped with it, like Flink state TTL expiring an
      * unfired window.
      */
    def deadline(wmMs: Long, latestMs: Long): Long = {
      val base = math.max(wmMs, latestMs)
      if (ttlSec > 0 && base > 0L) base + ttlSec * 1000L else 0L
    }

    /** For ops that keep the deadline in state beside release timers:
      * [[deadline]] after a data invocation of `rows`, else `prev`. */
    def refreshed(prev: Long, wmMs: Long, rows: Iterable[Row]): Long = {
      val latest = eventMs.fold(Long.MinValue)(ms =>
        rows.foldLeft(Long.MinValue)((m, r) => math.max(m, ms(r))))
      deadline(wmMs, latest) match {
        case 0L => prev
        case d => d
      }
    }
  }

  /** Names of the event-time columns the watermarks upstream of `df` are defined on. */
  private[streaming] def watermarkColumns(df: Dataset[_]): Set[String] =
    df.queryExecution.logical.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w.eventTime.name
    }.toSet

  private[streaming] def stateTtl(df: Dataset[_], ttlSec: Long): StateTtl = {
    val names = watermarkColumns(df)
    if (ttlSec <= 0 || names.isEmpty)
      return StateTtl(GroupStateTimeout.NoTimeout, ttlSec, None)
    def isTime(f: StructField): Boolean = names(f.name) &&
      (f.dataType == TimestampType || f.dataType == TimestampNTZType)
    val schema = df.schema
    val getters: Seq[Row => Any] = schema.fields.toSeq.zipWithIndex.flatMap {
      case (f, i) if isTime(f) => Seq((r: Row) => r.get(i))
      case (StructField(_, s: StructType, _, _), i) =>
        s.fields.toSeq.zipWithIndex.collect { case (f, j) if isTime(f) =>
          (r: Row) => { val v = r.getStruct(i); if (v == null) null else v.get(j) } }
      case _ => Nil
    }
    val eventMs = if (getters.isEmpty) None else Some { (r: Row) =>
      var latest = Long.MinValue
      getters.foreach { g =>
        val v = g(r)
        if (v != null) latest = math.max(latest, timeMillis(v))
      }
      latest
    }
    StateTtl(GroupStateTimeout.EventTimeTimeout, ttlSec, eventMs)
  }

  /** Wrap a flatMapGroupsWithState body with TTL bookkeeping. On every
    * data invocation the key's purge timer is re-armed to
    * [[StateTtl.deadline]] (Flink's OnReadAndWrite update type, in
    * event time). Arming from the watermark alone would expire a key
    * that is still receiving events whenever one micro-batch spans more
    * event time than the TTL (a backlog after a restart or an outage),
    * and keep-first dedup would then emit a second "first" row for it.
    * When the timer fires, the body runs once more with an EMPTY input —
    * so watermark-buffered ops (temporal sort, event-time OVER aggs, CEP)
    * release everything the watermark already permits, exactly like
    * Flink draining timers before state cleanup — and the entry is
    * then removed. All graft op bodies return materialized iterators
    * and finish their state writes before returning, which is what
    * makes the remove-after-body ordering here final.
    */
  private[streaming] def withTtl[K, S, O](ttl: StateTtl)(
      f: (K, Iterator[Row], GroupState[S]) => Iterator[O])
      : (K, Iterator[Row], GroupState[S]) => Iterator[O] =
    if (ttl.timeout == GroupStateTimeout.NoTimeout) f
    else (k: K, rows: Iterator[Row], state: GroupState[S]) =>
      if (state.hasTimedOut) {
        val out = f(k, Iterator.empty, state)
        state.remove()
        out
      } else {
        var latest = Long.MinValue
        val seen = ttl.eventMs match {
          case Some(ms) => rows.map { r => latest = math.max(latest, ms(r)); r }
          case None => rows
        }
        val out = f(k, seen, state)
        val deadline = ttl.deadline(state.getCurrentWatermarkMs(), latest)
        if (state.exists && deadline > 0L) state.setTimeoutTimestamp(deadline)
        out
      }

  /** One trigger's frame computation for the proctime OVER core
    * ([[StatefulOps.procTimeBoundedRangeAgg]]/[[procTimeBoundedRowsAgg]]),
    * factored pure so [[graft.ProcTimeOverSpec]] can pin the
    * out-of-order merge directly (r15 advice): stamps are assigned
    * MAP-SIDE while the watermark advances on the separate heartbeat
    * branch, so a shuffle-delayed or clock-skewed row can become ready
    * with a stamp BEHIND rows already in the tail — a blind append
    * would corrupt the deque's stamp order, letting a RANGE frame
    * include later-stamped rows (violating [t − range, t]) and
    * stranding the old row past the head-eviction loop. Tail + ready
    * therefore merge in stamp order (stable sort: tail first, then
    * ready arrival order, for equal stamps) and the window re-derives
    * from scratch — which also re-derives the float accumulator each
    * trigger, bounding drift. Frames are emitted only for ready rows;
    * tail rows were released in a prior trigger.
    *
    * @param frame Left(rangeMs): RANGE frames, same-millisecond peers
    *              share one frame, tail rows expire once
    *              `wm >= stamp + range`; Right(n): ROWS frames over the
    *              n most recent rows in stamp order, tail capped at n.
    * @return (output rows — input columns + sum + count appended,
    *         tail to carry into the next trigger, stamp-ordered)
    */
  private[graft] def procTimeFrameStep(
      tail: Seq[Row], ready: Seq[Row], wm: Long,
      frame: Either[Long, Int],
      ms: Row => Long, num: Row => Double): (Seq[Row], Seq[Row]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    val merged: Seq[(Row, Boolean)] =
      (tail.map((_, false)) ++ ready.map((_, true))).sortBy(p => ms(p._1))
    val keepTail: Seq[Row] = frame match {
      case Left(rangeMs) =>
        val window = scala.collection.mutable.ArrayDeque.empty[(Row, Boolean)]
        var wSum = 0.0
        var wCnt = 0L
        // release per proctime millisecond: RANGE peers share one
        // frame that already contains all of them
        merged.groupBy(p => ms(p._1)).toSeq.sortBy(_._1).foreach {
          case (t, peers) =>
            while (window.nonEmpty && ms(window.head._1) < t - rangeMs) {
              wSum -= num(window.removeHead()._1); wCnt -= 1
            }
            peers.foreach { p => window.append(p); wSum += num(p._1); wCnt += 1 }
            peers.foreach { case (r, isReady) =>
              if (isReady) out += Row.fromSeq(r.toSeq ++ Seq[Any](wSum, wCnt))
            }
        }
        // a tail row at stamp s serves no frame once wm ≥ s + range
        window.dropWhile(w => ms(w._1) <= wm - rangeMs).map(_._1).toSeq
      case Right(n) =>
        val window = scala.collection.mutable.ArrayDeque.empty[Row]
        var wSum = 0.0
        merged.foreach { case (r, isReady) =>
          window.append(r); wSum += num(r)
          while (window.size > n) wSum -= num(window.removeHead())
          if (isReady)
            out += Row.fromSeq(r.toSeq ++ Seq[Any](wSum, window.size.toLong))
        }
        window.toSeq
    }
    (out.toSeq, keepTail)
  }

  /** Event-time types every op here can order: TIMESTAMP, TIMESTAMP_NTZ
    * (read as UTC wall clock, Spark's own encoding of it), DATE (its UTC
    * midnight), and BIGINT/INT taken as already in the op's unit.
    */
  private val EventTimeTypes: Set[DataType] =
    Set(TimestampType, TimestampNTZType, DateType, LongType, IntegerType)

  /** Index of the event-time or order column `name`, rejecting at plan
    * time a type the decoders below cannot order — such a value would
    * otherwise fail, or be ordered by something meaningless, per row.
    */
  private[streaming] def eventTimeIndex(schema: StructType, name: String): Int = {
    val i = schema.fieldIndex(name)
    require(EventTimeTypes(schema(i).dataType),
      s"event-time column '$name' is ${schema(i).dataType.sql}; expected one of " +
        EventTimeTypes.map(_.sql).toSeq.sorted.mkString(", "))
    i
  }

  /** Event-time value in MICROS — the ONE package-wide decode (r19
    * review: seven hand-rolled copies had silently divergent type
    * handling, one of which read Long as SECONDS). Long/Int are already
    * micros. Ops whose domain is MILLIS (dedup order, window assignment,
    * watermark alignment) use [[timeMillis]]. Columns pass
    * [[eventTimeIndex]] when the op is built.
    */
  private[streaming] def tsMicros(r: Row, idx: Int): Long = r.get(idx) match {
    case t: java.sql.Timestamp => t.getTime * 1000 + (t.getNanos / 1000) % 1000
    case t: java.time.Instant => instantMicros(t)
    case t: java.time.LocalDateTime => instantMicros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => d.toEpochDay * 86400000000L
    case l: Long => l
    case i: Int => i.toLong
    case o => throw new IllegalArgumentException(s"not an event time: $o")
  }

  /** [[timeMillis]] of the event-time column `name` as a column, for
    * keys computed from event time (NTZ via [[timeMillis]] itself:
    * Spark's NTZ arithmetic runs in the session time zone). */
  private[streaming] def millisColumn(df: Dataset[_], name: String): Column = {
    val c = topCol(df, name)
    df.schema(eventTimeIndex(df.schema, name)).dataType match {
      case TimestampType => unix_millis(c)
      case TimestampNTZType =>
        udf((t: java.time.LocalDateTime) => timeMillis(t)).apply(c)
      case DateType => unix_date(c).cast(LongType) * 86400000L
      case _ => c.cast(LongType)
    }
  }

  /** Reader of the value column `name` as a Double (NULL as 0.0),
    * rejecting at plan time a column that is not NUMERIC — such a
    * column would otherwise be read as 0.0 on every row. */
  private[streaming] def numberAt(schema: StructType, name: String): Row => Double = {
    val i = schema.fieldIndex(name)
    require(schema(i).dataType.isInstanceOf[NumericType],
      s"value column '$name' is ${schema(i).dataType.sql}; expected a numeric type")
    r => r.get(i) match {
      case null => 0.0
      case n: java.lang.Number => n.doubleValue
    }
  }

  /** Ascending order over the typed tie-break columns `cols`, NULLs
    * first — what `ORDER BY cols` does in batch (Windows' dedup, the
    * batch ops here), so an INT 9 sorts before 10. Rejects at plan time
    * a column without a total value order (struct, array, map).
    */
  private[streaming] def tieOrdering(schema: StructType, cols: Seq[String]): Ordering[Row] = {
    val idx = cols.map { c =>
      val t = schema(c).dataType
      require(t.isInstanceOf[NumericType] || Seq(StringType, BooleanType, BinaryType, DateType,
        TimestampType, TimestampNTZType).contains(t), s"tie-break column '$c' is ${t.sql}")
      schema.fieldIndex(c)
    }
    (a: Row, b: Row) =>
      idx.iterator.map(i => compareValues(a.get(i), b.get(i))).find(_ != 0).getOrElse(0)
  }

  /** Compare two values of one tie-orderable column, NULLs first;
    * BINARY compares as unsigned bytes, like Spark's own ordering. */
  private[streaming] def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  private def instantMicros(t: java.time.Instant): Long =
    t.getEpochSecond * 1000000L + t.getNano / 1000

  /** Event-time value in MILLIS; Long/Int are already millis. */
  private[streaming] def timeMillis(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case t: java.time.Instant => t.toEpochMilli
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000L
    case d: java.time.LocalDate => d.toEpochDay * 86400000L
    case l: Long => l
    case i: Int => i.toLong
    case o => throw new IllegalArgumentException(s"not an event time: $o")
  }

  // ---- Deduplicate ----------------------------------------------------

  /** Keep the first row per key ordered by `orderCol` (ties by input
    * order). Batch: WindowGroupLimit. Works on streams via
    * `keepFirstStreaming`. Mirrors RT/deduplicate/
    * RowTimeDeduplicateFunction.java keep-first semantics.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Keep the last row per key ordered by `orderCol`. */
  def keepLast(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming keep-first dedup, ARRIVAL order: emits a key's row the
    * first time the key is seen, suppresses the rest. State = one row
    * per key, dropped when the event-time watermark passes (attach a
    * watermark upstream — the analog of Flink's `table.exec.state.ttl`).
    * For event-time order (min `orderCol` wins even if it arrives
    * late), use the 3-arg overload below.
    */
  def keepFirstStreaming(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Streaming keep-first dedup, EVENT-TIME order (reference:
    * RT/deduplicate/RowTimeDeduplicateFunction.java keep-first): the
    * row with the smallest `orderCol` per key wins; if an
    * earlier-timestamped row arrives late it replaces the previous
    * winner (update semantics, like Flink's changelog output in
    * non-insert-only mode). Output mode: update.
    */
  def keepFirstStreaming(df: DataFrame, keys: Seq[String], orderCol: String,
                         ttlSec: Long = DefaultTtlSec): DataFrame = {
    val schema = df.schema
    implicit val enc: ExpressionEncoder[Row] = rowEnc(schema)
    val stateEnc: ExpressionEncoder[Row] = rowEnc(schema)
    val ordIdx = eventTimeIndex(schema, orderCol)
    def ord(r: Row): Long = timeMillis(r.get(ordIdx))
    val ttl = stateTtl(df, ttlSec)
    keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update, ttl.timeout)(withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val incoming = rows.toSeq
          val best0 = if (state.exists) Some(state.get) else None
          if (best0.isEmpty && incoming.isEmpty) Iterator.empty
          else {
            val best = (best0 ++ incoming).minBy(ord)
            state.update(best)
            val changed = best0.forall(b => ord(best) < ord(b))
            if (best0.isEmpty || changed) Iterator.single(best) else Iterator.empty
          }
      })(stateEnc, enc)
  }

  /** Streaming keep-last dedup: every trigger emits the new latest row
    * for keys that changed (Flink's upsert/update_after behavior of
    * StreamExecDeduplicate keep-last). Output mode: update.
    */
  def keepLastStreaming(df: DataFrame, keys: Seq[String], orderCol: String,
                        ttlSec: Long = DefaultTtlSec): DataFrame = {
    val schema = df.schema
    implicit val enc: ExpressionEncoder[Row] = rowEnc(schema)
    // Schema-derived state encoder: state written by one build stays
    // readable by the next (Flink's serializer-compatibility contract);
    // javaSerialization is slow and version-brittle.
    val stateEnc: ExpressionEncoder[Row] = rowEnc(schema)
    val ordIdx = eventTimeIndex(schema, orderCol)
    def ord(r: Row): Long = timeMillis(r.get(ordIdx))
    val ttl = stateTtl(df, ttlSec)
    keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update, ttl.timeout)(withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val incoming = rows.toSeq
          val best0 = if (state.exists) Some(state.get) else None
          if (best0.isEmpty && incoming.isEmpty) Iterator.empty
          else {
            // keep-LAST: on an orderCol tie the LATER arrival wins
            // (RowTimeDeduplicateFunction keeps the current row when
            // its rowtime >= the stored row's) — maxBy would keep the
            // FIRST maximum, silently discarding a same-timestamp update
            var best = best0.orNull
            incoming.foreach(r => if (best == null || ord(r) >= ord(best)) best = r)
            val changed = best0.forall(b => !(b equals best))
            state.update(best)
            if (changed) Iterator.single(best) else Iterator.empty
          }
      })(stateEnc, enc)
  }

  // ---- TopN -----------------------------------------------------------

  /** Batch Top-N per key: declarative rank-filter; Catalyst plans a
    * WindowGroupLimit (per-partition heap) before the final window
    * sort, so no partition ever holds more than N·keys rows.
    */
  def topN(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)], n: Int): DataFrame = {
    val sorts = order.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(sorts: _*)
    df.withColumn("rank_no", row_number().over(w)).filter(col("rank_no") <= n)
  }

  /** Streaming Top-N over an append stream (reference:
    * RT/rank/AppendOnlyTopNFunction.java): per-key state holds the
    * current top-N; each trigger emits the keys whose top-N changed
    * (update semantics, like Flink's retract-free UpdatableTopN with
    * upsert sink).
    */
  def topNStreaming(df: DataFrame, keys: Seq[String], scoreCol: String,
                    descending: Boolean, n: Int,
                    ttlSec: Long = DefaultTtlSec): DataFrame = {
    val schema = df.schema
    implicit val enc: ExpressionEncoder[Row] = rowEnc(schema)
    // State = the current top-N rows, stored as one array-of-struct row
    // so the encoder is schema-derived (no java serialization).
    val stateSchema = StructType(Seq(StructField("rows",
      org.apache.spark.sql.types.ArrayType(schema))))
    val stateEnc: ExpressionEncoder[Row] = rowEnc(stateSchema)
    val score = numberAt(schema, scoreCol)
    val sign = if (descending) -1.0 else 1.0
    val ttl = stateTtl(df, ttlSec)
    keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update, ttl.timeout)(withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val cur: Array[Row] =
            if (state.exists) state.get.getSeq[Row](0).toArray else Array.empty[Row]
          val merged = (cur ++ rows).sortBy(r => sign * score(r)).take(n)
          val changed = !merged.sameElements(cur)
          state.update(Row(merged.toSeq))
          if (changed) merged.iterator else Iterator.empty
      })(stateEnc, enc)
  }

  // ---- Window rank (streaming) -----------------------------------------

  /** Streaming window rank — StreamExecWindowRank's runtime behavior
    * (RT/rank/window/WindowRankOperatorBuilder.java:56): per (tumbling
    * window × keys), maintain the running top-N in state and emit the
    * FINAL ranking exactly once when the event-time watermark passes
    * the window end (GroupStateTimeout.EventTimeTimeout = Flink's
    * window-cleanup timer), then drop the state. Input needs
    * `withWatermark` on `tsCol`. State per group is ≤ n rows.
    *
    * Output: input columns + window_start (timestamp) + rank_no.
    * `windowDeduplicateStreaming` is this with n=1.
    */
  def windowRankStreaming(df: DataFrame, tsCol: String, windowSec: Long,
                          keys: Seq[String], scoreCol: String,
                          descending: Boolean, n: Int): DataFrame = {
    require(windowSec > 0 && n > 0)
    val schema = df.schema
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("window_start", org.apache.spark.sql.types.TimestampType),
      StructField("rank_no", org.apache.spark.sql.types.IntegerType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val stateEnc: ExpressionEncoder[Row] = rowEnc(StructType(Seq(
      StructField("rows", org.apache.spark.sql.types.ArrayType(schema)))))
    val tsIdx = eventTimeIndex(schema, tsCol)
    // Long = epoch MILLIS, the package-wide convention (keepLast,
    // watermark alignment, the over-agg ops) — this op briefly read
    // Long as seconds (*1000), putting windows and timers 1000x off
    def millis(r: Row): Long = timeMillis(r.get(tsIdx))
    val wMs = windowSec * 1000L
    val ms = millisColumn(df, tsCol)
    val windowStart = (ms - pmod(ms, lit(wMs))).as("__wstart")
    // window dedup ranks by the event time itself
    val score: Row => Double =
      if (scoreCol == tsCol) r => millis(r).toDouble else numberAt(schema, scoreCol)
    val sign = if (descending) -1.0 else 1.0

    keyedOn(df, windowStart +: keys.map(topCol(df, _)))
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val winStart = key.getLong(0)
          if (state.hasTimedOut) {
            // window closed: final ranking, exactly once, state purged
            val top = state.get.getSeq[Row](0)
            state.remove()
            top.sortBy(r => (sign * score(r), millis(r))).zipWithIndex
              .map { case (r, i) => Row.fromSeq(r.toSeq ++
                Seq[Any](new java.sql.Timestamp(winStart), i + 1)) }
              .iterator
          } else {
            val cur = if (state.exists) state.get.getSeq[Row](0) else Seq.empty[Row]
            val merged = (cur ++ rows)
              .sortBy(r => (sign * score(r), millis(r))).take(n)
            state.update(Row(merged))
            // fire when the watermark passes the window end
            state.setTimeoutTimestamp(winStart + wMs)
            Iterator.empty
          }
      }(stateEnc, outEnc)
  }

  /** Streaming window deduplicate (RowTimeWindowDeduplicateOperator
    * Builder.java:51): the earliest (or latest) row per key within
    * each tumbling window, emitted once at window close.
    */
  def windowDeduplicateStreaming(df: DataFrame, tsCol: String, windowSec: Long,
                                 keys: Seq[String],
                                 keepFirst: Boolean = true): DataFrame =
    windowRankStreaming(df, tsCol, windowSec, keys, scoreCol = tsCol,
      descending = !keepFirst, n = 1).drop("rank_no")

  // ---- Count windows (streaming) ---------------------------------------

  /** Streaming count windows — KeyedStream.countWindow(size)
    * (reference: flink-streaming-java/.../datastream/KeyedStream
    * .java:696): rows of a key are chunked into consecutive groups of
    * `size` in ARRIVAL order (count windows are inherently
    * processing-time); a window emits its rows (annotated with
    * window_seq / pos_in_window) the moment it fills. State = the
    * current partial window, discarded on completion — bounded by
    * `size` rows per key.
    */
  def countWindowStreaming(df: DataFrame, keys: Seq[String], size: Int,
                           ttlSec: Long = DefaultTtlSec): DataFrame = {
    require(size > 0)
    val schema = df.schema
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("window_seq", org.apache.spark.sql.types.LongType),
      StructField("pos_in_window", org.apache.spark.sql.types.IntegerType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val stateSchema = StructType(Seq(
      StructField("buf", org.apache.spark.sql.types.ArrayType(schema)),
      StructField("done", org.apache.spark.sql.types.LongType)))
    val stateEnc: ExpressionEncoder[Row] = rowEnc(stateSchema)
    val ttl = stateTtl(df, ttlSec)
    keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, ttl.timeout)(withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          var (buf, done) =
            if (state.exists) (state.get.getSeq[Row](0).toVector, state.get.getLong(1))
            else (Vector.empty[Row], 0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.foreach { r =>
            buf :+= r
            if (buf.length == size) {
              buf.iterator.zipWithIndex.foreach { case (b, i) =>
                out += Row.fromSeq(b.toSeq ++ Seq[Any](done, i))
              }
              buf = Vector.empty
              done += 1
            }
          }
          state.update(Row(buf, done))
          out.iterator
      })(stateEnc, outEnc)
  }

  // ---- Temporal sort (streaming) ---------------------------------------

  /** Streaming temporal sort — StreamExecTemporalSort: re-emit the
    * stream in EVENT-TIME order once the watermark guarantees no
    * earlier row can arrive. Requires `withWatermark` upstream. Like
    * the reference, this is a parallelism-1 operator by definition (a
    * total order has a single output sequence): all rows funnel to one
    * state group, so use it on already-reduced streams, not raw
    * firehoses.
    */
  def temporalSortStreaming(df: DataFrame, tsCol: String,
                            tieBreak: Seq[String] = Nil,
                            ttlSec: Long = DefaultTtlSec): DataFrame = {
    val schema = df.schema
    implicit val enc: ExpressionEncoder[Row] = rowEnc(schema)
    val stateEnc: ExpressionEncoder[Row] = rowEnc(StructType(Seq(
      StructField("buf", org.apache.spark.sql.types.ArrayType(schema)))))
    implicit val keyEnc = Encoders.STRING
    val tsIdx = eventTimeIndex(schema, tsCol)
    def micros(r: Row): Long = tsMicros(r, tsIdx)
    val order = Ordering.by(micros).orElse(tieOrdering(schema, tieBreak))
    val ttl = stateTtl(df, ttlSec)
    df.groupByKey(_ => "")(keyEnc)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, ttl.timeout)(withTtl(ttl) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val buf = (if (state.exists) state.get.getSeq[Row](0) else Seq.empty[Row]) ++ rows
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val (ready, pending) = buf.partition(micros(_) <= wmMicros)
          state.update(Row(pending))
          ready.sorted(order).iterator
      })(stateEnc, enc)
  }

  // ---- Streaming OVER aggregation ------------------------------------

  /** Streaming unbounded-preceding OVER aggregate — the reference's
    * StreamExecOverAggregate with ROWS UNBOUNDED PRECEDING (RT/over/
    * RowTimeRangeBoundedPrecedingFunction.java family): each row is
    * emitted with the running sum/count of `valueCol` over all rows of
    * its key so far, ordered by `orderCol` within each batch (batch
    * boundaries define the cross-batch order, as micro-batching does
    * for proc-time Flink jobs).
    */
  def runningAggStreaming(df: DataFrame, keys: Seq[String],
                          orderCol: String, valueCol: String,
                          ttlSec: Long = DefaultTtlSec): DataFrame = {
    val schema = df.schema
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("running_sum", org.apache.spark.sql.types.DoubleType),
      StructField("running_count", org.apache.spark.sql.types.LongType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    implicit val stateEnc = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    val ordIdx = eventTimeIndex(schema, orderCol)
    def ord(r: Row): Long = timeMillis(r.get(ordIdx))
    val num = numberAt(schema, valueCol)
    val ttl = stateTtl(df, ttlSec)
    keyed(df, keys)
      .flatMapGroupsWithState[(Double, Long), Row](
        OutputMode.Append, ttl.timeout)(withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[(Double, Long)]) =>
          var (sum, count) = if (state.exists) state.get else (0.0, 0L)
          val out = rows.toSeq.sortBy(ord).map { r =>
            sum += num(r); count += 1
            Row.fromSeq(r.toSeq ++ Seq[Any](sum, count))
          }
          state.update((sum, count))
          out.iterator
      })(stateEnc, outEnc)
  }

  /** Streaming unbounded-preceding OVER aggregate in EVENT-TIME order
    * ACROSS triggers — the exact semantics of the reference's
    * RT/over/RowTimeRangeBoundedPrecedingFunction.java:55: rows are
    * buffered per key until the watermark passes their rowtime, then
    * released in rowtime order with the running sum/count accumulated
    * in that order. A row that arrives out of order but within the
    * watermark therefore aggregates at its correct rowtime position,
    * even when rows with later rowtimes arrived in earlier triggers —
    * the cross-batch gap `runningAggStreaming` (arrival-order variant)
    * documents. Rows already behind the watermark on arrival are
    * aggregated immediately (the reference drops or side-outputs them;
    * Spark has no side outputs — documented narrowing).
    *
    * Requires `withWatermark(tsCol, ...)` upstream. State per key =
    * pending rows (bounded by watermark lag) + the running aggregate;
    * state shards with the key shuffle like every op in this file.
    */
  def runningAggEventTimeStreaming(df: DataFrame, keys: Seq[String],
                                   tsCol: String, valueCol: String,
                                   tieBreak: Seq[String] = Nil,
                                   ttlSec: Long = DefaultTtlSec): DataFrame = {
    val schema = df.schema
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("running_sum", org.apache.spark.sql.types.DoubleType),
      StructField("running_count", org.apache.spark.sql.types.LongType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val stateEnc: ExpressionEncoder[Row] = rowEnc(StructType(Seq(
      StructField("buf", org.apache.spark.sql.types.ArrayType(schema)),
      StructField("sum", org.apache.spark.sql.types.DoubleType),
      StructField("count", org.apache.spark.sql.types.LongType),
      StructField("ttl_deadline", org.apache.spark.sql.types.LongType))))
    val tsIdx = eventTimeIndex(schema, tsCol)
    def micros(r: Row): Long = tsMicros(r, tsIdx)
    val order = Ordering.by(micros).orElse(tieOrdering(schema, tieBreak))
    val num = numberAt(schema, valueCol)
    // r20: timely release — an event-time timer at the earliest pending
    // row's timestamp fires when the WATERMARK passes it, so a key that
    // goes quiet while other keys advance the watermark releases then,
    // not at TTL (the reference's row-time OVER functions register
    // exactly this per-timestamp timer). TTL purge keeps its semantics:
    // the horizon ([[StateTtl.deadline]], refreshed on data only) rides
    // in state.
    val timeout =
      if (hasWatermark(df)) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val ttl = stateTtl(df, ttlSec)
    keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, timeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val hadTimeout = state.hasTimedOut
          var (buf, sum, count, prevTtl) =
            if (state.exists)
              (state.get.getSeq[Row](0), state.get.getDouble(1),
                state.get.getLong(2), state.get.getLong(3))
            else (Seq.empty[Row], 0.0, 0L, 0L)
          val incoming = if (hadTimeout) Seq.empty[Row] else rows.toSeq
          buf = buf ++ incoming
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          val (ready, pending) = buf.partition(micros(_) <= wmMicros)
          val out = ready.sorted(order).map { r =>
            sum += num(r); count += 1
            Row.fromSeq(r.toSeq ++ Seq[Any](sum, count))
          }
          if (hadTimeout && prevTtl > 0L && wmMs >= prevTtl) {
            state.remove() // idle past TTL: releasable rows just emitted
          } else {
            val ttlDeadline =
              if (hadTimeout) prevTtl else ttl.refreshed(prevTtl, wmMs, incoming)
            state.update(Row(pending, sum, count, ttlDeadline))
            if (timeout == GroupStateTimeout.EventTimeTimeout) {
              val nextRelease =
                if (pending.nonEmpty) Some(pending.iterator.map(micros).min / 1000L)
                else None
              val arm = (nextRelease, Some(ttlDeadline).filter(_ > 0L)) match {
                case (Some(e), Some(t)) => Some(math.min(e, t))
                case (a, b) => a.orElse(b)
              }
              arm.foreach(ms => state.setTimeoutTimestamp(math.max(ms, wmMs + 1L)))
            }
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** Streaming RANGE-BOUNDED preceding OVER aggregate in event time —
    * the literal semantics of the reference's
    * RT/over/RowTimeRangeBoundedPrecedingFunction.java: each released
    * row carries sum/count of `valueCol` over the key's rows in
    * `[rowtime − rangeSec, rowtime]`. Same watermark-buffered release
    * discipline as [[runningAggEventTimeStreaming]]; additionally the
    * already-released tail inside the range window is retained in
    * state (and evicted once it can no longer fall inside any future
    * row's range — the reference's cleanup timer).
    */
  def boundedRangeAggEventTimeStreaming(df: DataFrame, keys: Seq[String],
                                        tsCol: String, valueCol: String,
                                        rangeSec: Long,
                                        tieBreak: Seq[String] = Nil,
                                        ttlSec: Long = DefaultTtlSec): DataFrame = {
    val schema = df.schema
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("range_sum", org.apache.spark.sql.types.DoubleType),
      StructField("range_count", org.apache.spark.sql.types.LongType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    // state: pending (not yet released) + released tail (inside range)
    // + the TTL purge horizon (see runningAggEventTimeStreaming)
    val stateEnc: ExpressionEncoder[Row] = rowEnc(StructType(Seq(
      StructField("pending", org.apache.spark.sql.types.ArrayType(schema)),
      StructField("tail", org.apache.spark.sql.types.ArrayType(schema)),
      StructField("ttl_deadline", org.apache.spark.sql.types.LongType))))
    val tsIdx = eventTimeIndex(schema, tsCol)
    val rangeMicros = rangeSec * 1000000L
    def micros(r: Row): Long = tsMicros(r, tsIdx)
    val order = Ordering.by(micros).orElse(tieOrdering(schema, tieBreak))
    val num = numberAt(schema, valueCol)
    // r20: timely release via an event-time timer at the earliest
    // pending row's timestamp (see runningAggEventTimeStreaming)
    val timeout =
      if (hasWatermark(df)) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val ttl = stateTtl(df, ttlSec)
    keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, timeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val hadTimeout = state.hasTimedOut
          var (pending, tail, prevTtl) =
            if (state.exists)
              (state.get.getSeq[Row](0), state.get.getSeq[Row](1), state.get.getLong(2))
            else (Seq.empty[Row], Seq.empty[Row], 0L)
          val incoming = if (hadTimeout) Seq.empty[Row] else rows.toSeq
          pending = pending ++ incoming
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          val (ready, stillPending) = pending.partition(micros(_) <= wmMicros)
          // Incremental accumulate/retract like the reference's function
          // (it adds the new row and retracts expired ones from a kept
          // accumulator) — O(1) amortized per row instead of re-summing
          // the O(w) window per row. The accumulator is re-derived from
          // the retained tail at trigger start, so floating-point drift
          // is bounded within one trigger and never compounds in state.
          val window = scala.collection.mutable.ArrayDeque.from(tail)
          var wSum = window.iterator.map(num).sum
          var wCount = window.size.toLong
          val out = ready.sorted(order).map { r =>
            val ts = micros(r)
            window.append(r); wSum += num(r); wCount += 1
            while (window.nonEmpty && micros(window.head) < ts - rangeMicros) {
              wSum -= num(window.removeHead()); wCount -= 1
            }
            Row.fromSeq(r.toSeq ++ Seq[Any](wSum, wCount))
          }
          if (hadTimeout && prevTtl > 0L && wmMs >= prevTtl) {
            state.remove() // idle past TTL: releasable rows just emitted
          } else {
            // rows older than watermark − range can't serve any future row
            val keepTail = window.dropWhile(w => micros(w) < wmMicros - rangeMicros).toSeq
            val ttlDeadline =
              if (hadTimeout) prevTtl else ttl.refreshed(prevTtl, wmMs, incoming)
            state.update(Row(stillPending, keepTail, ttlDeadline))
            if (timeout == GroupStateTimeout.EventTimeTimeout) {
              val nextRelease =
                if (stillPending.nonEmpty)
                  Some(stillPending.iterator.map(micros).min / 1000L)
                else None
              val arm = (nextRelease, Some(ttlDeadline).filter(_ > 0L)) match {
                case (Some(e), Some(t)) => Some(math.min(e, t))
                case (a, b) => a.orElse(b)
              }
              arm.foreach(ms => state.setTimeoutTimestamp(math.max(ms, wmMs + 1L)))
            }
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** PROCESSING-TIME RANGE-bounded preceding OVER aggregate — the
    * reference's
    * RT/over/ProcTimeRangeBoundedPrecedingFunction.java:55: each row is
    * stamped with its wall-clock arrival time, a timer at stamp + 1 ms
    * releases it with sum/count of the key's rows whose stamps lie in
    * `[stamp − range, stamp]`, and rows of the SAME millisecond are
    * RANGE peers — they share one frame containing all of them (the
    * reference processes a whole proctime millisecond under one timer).
    * State cleans itself on wall-clock: a tail row that can no longer
    * serve any future frame is evicted when the watermark passes
    * `stamp + range`, and the key's state is REMOVED once nothing
    * remains — with zero new data (the reference's cleanup timer at
    * 1.5 × boundary; ProcTimeOverSpec polls state row counts to zero
    * on an idle stream).
    *
    * Mechanism: the [[Windows.procTimeChannel]] heartbeat construction
    * (per-record proctime stamp + 0-delay watermark + rate-source
    * heartbeat feeding the watermark stats map-side) drives the same
    * watermark-buffered release machinery as
    * [[boundedRangeAggEventTimeStreaming]] — pending rows release when
    * the watermark (≈ wall-clock) passes their stamp, i.e. within ~one
    * trigger + one heartbeat tick of arrival, the Spark-native analog
    * of the reference's +1 ms timer. An EventTimeTimeout armed at the
    * earliest pending stamp (or the tail-expiry boundary) keeps idle
    * keys draining on wall-clock alone. Output = input columns +
    * `proctime` (the stamp) + `range_sum`/`range_count`.
    *
    * Same replay caveat as the reference: proctime re-stamps on
    * recovery; results are wall-clock-dependent by design.
    */
  def procTimeBoundedRangeAgg(df: DataFrame, keys: Seq[String],
                              valueCol: String, rangeSec: Long,
                              heartbeatRowsPerSecond: Int = 4): DataFrame =
    procTimeOverCore(df, keys, valueCol, Left(rangeSec * 1000L),
      DefaultTtlSec, heartbeatRowsPerSecond, "range_sum", "range_count")

  /** PROCESSING-TIME ROWS-bounded preceding OVER aggregate — the
    * reference's RT/over/ProcTimeRowsBoundedPrecedingFunction.java:
    * each row releases with sum/count over itself and the key's
    * `nRows − 1` preceding rows in proctime order (same-millisecond
    * ties keep arrival order — ROWS frames never share). The frame
    * itself never expires by time, but an idle key's state clears on
    * wall-clock after `ttlSec` (the reference's idle-state retention,
    * KeyedProcessFunctionWithCleanupState) — the next row then starts
    * a FRESH frame, exactly Flink's cleared-state behavior.
    * Release/timer mechanism identical to [[procTimeBoundedRangeAgg]].
    * Output = input columns + `proctime` + `rows_sum`/`rows_count`.
    */
  def procTimeBoundedRowsAgg(df: DataFrame, keys: Seq[String],
                             valueCol: String, nRows: Int,
                             ttlSec: Long = DefaultTtlSec,
                             heartbeatRowsPerSecond: Int = 4): DataFrame = {
    require(nRows >= 1)
    procTimeOverCore(df, keys, valueCol, Right(nRows),
      ttlSec, heartbeatRowsPerSecond, "rows_sum", "rows_count")
  }

  /** Shared body of the two proctime OVER aggregates. `frame` is
    * Left(rangeMs) for RANGE (time-evicted tail, per-millisecond peer
    * groups) or Right(n) for ROWS (count-evicted tail, per-row frames,
    * TTL-cleared on idle). One EventTimeTimeout per key is kept armed
    * at the earliest actionable boundary: the earliest pending stamp
    * (prompt release — the reference's `registerProcessingTimeTimer
    * (currentTime + 1)`), else the tail-expiry / idle-retention
    * boundary (the reference's cleanup timer).
    */
  private def procTimeOverCore(df: DataFrame, keys: Seq[String],
      valueCol: String, frame: Either[Long, Int], ttlSec: Long,
      heartbeatRowsPerSecond: Int, sumName: String, cntName: String): DataFrame = {
    val channel = Windows.procTimeChannel(df, heartbeatRowsPerSecond)
    val schema = channel.schema
    val tsIdx = schema.fieldIndex("__proctime")
    val num = numberAt(schema, valueCol)
    val outSchema = StructType(
      df.schema.fields ++ Seq(
        StructField("proctime", org.apache.spark.sql.types.TimestampType),
        StructField(sumName, org.apache.spark.sql.types.DoubleType),
        StructField(cntName, org.apache.spark.sql.types.LongType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val stateEnc: ExpressionEncoder[Row] = rowEnc(StructType(Seq(
      StructField("pending", org.apache.spark.sql.types.ArrayType(schema)),
      StructField("tail", org.apache.spark.sql.types.ArrayType(schema)))))
    def ms(r: Row): Long = r.getTimestamp(tsIdx).getTime
    keyed(channel, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          var (pending, tail) =
            if (state.exists) (state.get.getSeq[Row](0), state.get.getSeq[Row](1))
            else (Seq.empty[Row], Seq.empty[Row])
          pending = pending ++ rows
          val wm = state.getCurrentWatermarkMs()
          val (ready, still) = pending.partition(ms(_) <= wm)
          val (outSeq, keepTail) =
            StatefulOps.procTimeFrameStep(tail, ready, wm, frame, ms, num)
          val out = scala.collection.mutable.ArrayBuffer.from(outSeq)
          val rangeDone = frame.isLeft && still.isEmpty && keepTail.isEmpty
          // a ROWS tail never time-expires: the idle-retention timer
          // (armed below when nothing is pending) fires with no ready
          // rows, and the state clears — fresh frames afterward
          val rowsIdleExpired =
            frame.isRight && state.hasTimedOut && ready.isEmpty && still.isEmpty
          if (rangeDone || rowsIdleExpired) {
            if (state.exists) state.remove()
          } else {
            state.update(Row(still, keepTail))
            val arm: Long =
              if (still.nonEmpty) still.iterator.map(ms).min
              else frame match {
                case Left(rangeMs) => keepTail.iterator.map(ms).max + rangeMs + 1
                case Right(_) => math.max(wm, 0L) + ttlSec * 1000L
              }
            state.setTimeoutTimestamp(arm)
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  // ---- Late-data side output ------------------------------------------

  /** Side-output analog for beyond-watermark late rows (reference:
    * WindowOperator's `sideOutput(lateDataOutputTag)` in
    * flink-streaming-java/.../windowing/WindowOperator.java). Spark has
    * no side outputs; stateful aggs silently DROP late rows. This
    * operator instead TAGS each row with `is_late` = (rowtime behind
    * the current watermark), so a downstream [[splitLateSink]] can
    * route the main flow to the real pipeline and the late flow to a
    * dead-letter sink. Keyed so the check shards with the same shuffle
    * the downstream stateful op uses; no state is stored.
    *
    * Compose as: source → withWatermark → tagLateStreaming →
    * splitLateSink(main = windowed agg …, late = dead-letter).
    */
  def tagLateStreaming(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val schema = df.schema
    val outSchema = StructType(schema.fields :+
      StructField("is_late", org.apache.spark.sql.types.BooleanType, nullable = false))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val tsIdx = eventTimeIndex(schema, tsCol)
    def micros(r: Row): Long = tsMicros(r, tsIdx)
    keyed(df, keys)
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // Long state type only to satisfy the API — never updated, so
        // the state store stays empty
        (_: Row, rows: Iterator[Row], state: GroupState[Long]) =>
          // watermark is 0 before the first trigger completes — nothing
          // can be late until a watermark exists
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          rows.map(r => Row.fromSeq(
            r.toSeq :+ (wmMicros > 0L && micros(r) < wmMicros))).toSeq.iterator
      }(Encoders.scalaLong, outEnc)
  }

  /** CURRENT_WATERMARK() analog: append the query's current event-time
    * watermark as a timestamp column (null until the first watermark is
    * established — the reference's CURRENT_WATERMARK is likewise null
    * before any watermark). Spark exposes no expression-level accessor,
    * so this rides the same keyed shuffle as [[tagLateStreaming]]; use
    * it when downstream logic needs watermark-relative decisions (e.g.
    * lateness margins, SLA columns) rather than for filtering — the
    * stateful ops already apply the watermark themselves.
    */
  def withWatermarkColumn(df: DataFrame, keys: Seq[String]): DataFrame = {
    val schema = df.schema
    val outSchema = StructType(schema.fields :+
      StructField("current_watermark", org.apache.spark.sql.types.TimestampType))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    keyed(df, keys)
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Long]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wm: Any = if (wmMs > 0L) new java.sql.Timestamp(wmMs) else null
          rows.map(r => Row.fromSeq(r.toSeq :+ wm)).toSeq.iterator
      }(Encoders.scalaLong, outEnc)
  }

  /** Early-fire tumbling-window aggregate — the reference's
    * WindowEmitStrategy (flink-table-planner/.../plan/utils/
    * WindowEmitStrategy.scala:33, config keys
    * `table.exec.emit.early-fire.enabled` / `.early-fire.delay`):
    * per (key, window), a PARTIAL count/sum row (`is_final = false`)
    * is emitted at most once per `earlyDelayMs` of processing time
    * while the window is open, and the FINAL row (`is_final = true`)
    * is emitted exactly once when the watermark passes window end
    * (EventTimeTimeout fires without data, like Flink's event-time
    * trigger). `earlyDelayMs = 0` degrades to fire-on-every-trigger
    * (plain update mode); a huge delay degrades to final-only (append
    * mode) — this operator subsumes both of the prior documented
    * mappings and adds the throttle Spark's update mode lacks.
    * Documented narrowing: an early fire needs data arrival for its
    * key (a single GroupState timeout can be event- OR processing-
    * time, and finality needs the event-time one); the first result
    * fires undelayed, then throttles. Requires withWatermark upstream.
    */
  def earlyFireWindowAgg(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, windowSec: Long, earlyDelayMs: Long): DataFrame = {
    require(hasWatermark(df), "earlyFireWindowAgg requires withWatermark upstream")
    val wMs = windowSec * 1000L
    val pre = df.withColumn("__wstart",
      (floor(unix_millis(col(tsCol)) / wMs) * wMs).cast("long"))
    val schema = pre.schema
    val num = numberAt(schema, valueCol)
    val outSchema = StructType(keys.map(k => schema(k)) ++ Seq(
      StructField("window_start", org.apache.spark.sql.types.LongType),
      StructField("cnt", org.apache.spark.sql.types.LongType),
      StructField("sum_val", org.apache.spark.sql.types.DoubleType),
      StructField("is_final", org.apache.spark.sql.types.BooleanType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val stateSchema = StructType(Seq(
      StructField("cnt", org.apache.spark.sql.types.LongType),
      StructField("sum", org.apache.spark.sql.types.DoubleType),
      StructField("last_emit", org.apache.spark.sql.types.LongType)))
    val stateEnc: ExpressionEncoder[Row] = rowEnc(stateSchema)
    // the key is (keys..., window start): a result row is the key's
    // values followed by the aggregate
    keyed(pre, keys :+ "__wstart")
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          def result(cnt: Long, sum: Double, isFinal: Boolean): Row =
            Row.fromSeq(key.toSeq ++ Seq[Any](cnt, sum, isFinal))
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(result(s.getLong(0), s.getDouble(1), isFinal = true))
          } else {
            val wend = key.getLong(keys.length) + wMs
            var (cnt, sum, lastEmit) =
              if (state.exists)
                (state.get.getLong(0), state.get.getDouble(1), state.get.getLong(2))
              else (0L, 0.0, 0L)
            rows.foreach { r => cnt += 1; sum += num(r) }
            val wm = state.getCurrentWatermarkMs()
            if (wend <= wm) {
              // window already closed by the time the batch reached us:
              // late-but-admitted rows fold straight into the final
              state.remove()
              Iterator(result(cnt, sum, isFinal = true))
            } else {
              val now = state.getCurrentProcessingTimeMs()
              val fire = lastEmit == 0L || now - lastEmit >= earlyDelayMs
              if (fire) lastEmit = now
              state.update(Row(cnt, sum, lastEmit))
              state.setTimeoutTimestamp(wend)
              if (fire) Iterator(result(cnt, sum, isFinal = false))
              else Iterator.empty
            }
          }
      }(stateEnc, outEnc)
  }

  /** Late-fire tumbling-window aggregate with allowedLateness — the
    * other half of the reference's emit model that r6 recorded as
    * structurally unavailable. Flink semantics re-expressed
    * (flink-streaming-java/.../datastream/WindowedStream.java:108
    * `allowedLateness`, EventTimeTrigger's late firings):
    *
    *  - the window FIRES (emit_kind = 'final') on the first arrival
    *    for its key after the watermark passes window end;
    *  - a row up to `latenessMs` later than window end (vs the
    *    watermark) still updates the window and RE-FIRES it as a
    *    correction (emit_kind = 'late_update') — Flink's late firing;
    *  - a row later than end+lateness is dropped and surfaced as an
    *    accounting row (emit_kind = 'dropped_late' with the dropped
    *    count/sum — the sideOutputLateData role);
    *  - window state purges once the watermark passes end+lateness,
    *    so state is bounded by lateness exactly like the reference.
    *
    * Mechanics: NoTimeout — EventTimeTimeout would filter the late
    * rows away BEFORE the function runs ([[graft.LateFilterProbeSpec]]
    * pins this empirically, and it is why r6 could not build this op
    * on the early-fire skeleton), and ProcessingTimeTimeout makes the
    * micro-batch engine spin no-data batches under the default
    * trigger. State is keyed by KEY and holds the key's open windows.
    *
    * Documented narrowing: without an event-time timer, a final can
    * only fire when data for its KEY arrives (the same data-arrival
    * narrowing earlyFireWindowAgg documents for its early fires); in
    * the streaming steady state — keys with ongoing traffic — firing
    * matches the reference trigger exactly, and an idle key's last
    * windows finalize on its next activity.
    */
  def lateFireWindowAgg(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, windowSec: Long, latenessMs: Long): DataFrame = {
    require(hasWatermark(df), "lateFireWindowAgg requires withWatermark upstream")
    require(latenessMs >= 0)
    val wMs = windowSec * 1000L
    val pre = df.withColumn("__wstart",
      (floor(unix_millis(col(tsCol)) / wMs) * wMs).cast("long"))
    val schema = pre.schema
    val wIdx = schema.fieldIndex("__wstart")
    val num = numberAt(schema, valueCol)
    val outSchema = StructType(keys.map(k => schema(k)) ++ Seq(
      StructField("window_start", org.apache.spark.sql.types.LongType),
      StructField("cnt", org.apache.spark.sql.types.LongType),
      StructField("sum_val", org.apache.spark.sql.types.DoubleType),
      StructField("emit_kind", org.apache.spark.sql.types.StringType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    // state: the key's open windows — (wstart, cnt, sum, final_emitted)
    val winStruct = StructType(Seq(
      StructField("ws", org.apache.spark.sql.types.LongType),
      StructField("cnt", org.apache.spark.sql.types.LongType),
      StructField("sum", org.apache.spark.sql.types.DoubleType),
      StructField("fin", org.apache.spark.sql.types.BooleanType)))
    val stateSchema = StructType(Seq(StructField("wins",
      org.apache.spark.sql.types.ArrayType(winStruct))))
    val stateEnc: ExpressionEncoder[Row] = rowEnc(stateSchema)
    keyed(pre, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val keyVals = key.toSeq
          val wm = state.getCurrentWatermarkMs()
          var wins: Map[Long, (Long, Double, Boolean)] =
            state.getOption.map(_.getSeq[Row](0)
              .map(w => w.getLong(0) -> ((w.getLong(1), w.getDouble(2), w.getBoolean(3))))
              .toMap).getOrElse(Map.empty)
          val touched = scala.collection.mutable.Set.empty[Long]
          var dropped = Map.empty[Long, (Long, Double)]
          // Boundary semantics (r12 advice): Flink's isWindowLate/cleanup
          // compares window.maxTimestamp() = end - 1 (inclusive last ms of
          // the window), not end — so a row at wm == end + lateness - 1 is
          // already LATE in the reference. Same -1 on fire: EventTimeTrigger
          // fires when maxTimestamp <= watermark.
          rows.foreach { r =>
            val ws = r.getLong(wIdx)
            if (ws + wMs - 1 + latenessMs <= wm) {
              // beyond allowedLateness: never admitted, only accounted
              val (dc, dsum) = dropped.getOrElse(ws, (0L, 0.0))
              dropped = dropped.updated(ws, (dc + 1, dsum + num(r)))
            } else {
              val (c, s, fin) = wins.getOrElse(ws, (0L, 0.0, false))
              wins = wins.updated(ws, (c + 1, s + num(r), fin))
              touched += ws
            }
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          // fire pass: finals for closed windows, corrections for
          // late-touched already-final windows
          wins = wins.map { case (ws, (c, s, fin)) =>
            val closed = ws + wMs - 1 <= wm
            if (closed && !fin) {
              out += Row.fromSeq(keyVals ++ Seq[Any](ws, c, s, "final"))
              ws -> ((c, s, true))
            } else {
              if (closed && touched(ws))
                out += Row.fromSeq(keyVals ++ Seq[Any](ws, c, s, "late_update"))
              ws -> ((c, s, fin))
            }
          }
          dropped.foreach { case (ws, (dc, dsum)) =>
            out += Row.fromSeq(keyVals ++ Seq[Any](ws, dc, dsum, "dropped_late"))
          }
          // purge pass: state bounded by lateness (maxTimestamp + lateness,
          // the reference's cleanup time)
          wins = wins.filter { case (ws, _) => ws + wMs - 1 + latenessMs > wm }
          if (wins.isEmpty) state.remove()
          else state.update(Row(wins.toSeq.sortBy(_._1)
            .map { case (ws, (c, s, fin)) => Row(ws, c, s, fin) }))
          out.iterator
      }(stateEnc, outEnc)
  }

  /** Timer-driven late-fire tumbling-window aggregate — the
    * `transformWithState` upgrade of [[lateFireWindowAgg]] that CLOSES
    * its documented idle-key narrowing: an idle key's final now fires
    * when the WATERMARK passes window end, regardless of whose data
    * advanced it — the reference's EventTimeTrigger firing exactly
    * (flink-streaming-java/.../windowing/triggers/EventTimeTrigger.java:58
    * registers the window's maxTimestamp as an event-time timer; idle
    * keys fire because Flink's watermark is broadcast to all keys).
    *
    * Construction ([[graft.TwsProbeSpec]] pins each leg empirically):
    * plain event-time TWS filters rows behind the watermark before the
    * processor — the same wall EventTimeTimeout hit in r6 — so the op
    * builds a two-branch union:
    *
    *  - branch W (sentinel): each input row projected to a slim
    *    (null keys + REAL event time) shape; the only `withWatermark`
    *    node in the query, so the global watermark is the true one.
    *    Immediately ABOVE the watermark node every sentinel row is
    *    dropped by a filter that references the watermark column —
    *    structurally unpushable (PushPredicateThroughNonJoin keeps
    *    watermark-attribute predicates above EventTimeWatermark, the
    *    same hazard-proven trick as
    *    [[Windows.procTimeWindowAgg]]'s heartbeat filter) — so the
    *    max-event-time stats are collected map-side and ZERO sentinel
    *    rows traverse the shuffle or reach the processor (timers
    *    consume the global watermark, not rows; [[graft.TwsProbeSpec]]
    *    "filtered sentinel branch" pins this, and its idle-timer
    *    assertion doubles as the pushdown canary);
    *  - branch D (data): the full rows with the watermark column pinned
    *    to a far-future constant, so the operator's late filter never
    *    matches them and arbitrarily-late rows reach the processor —
    *    where Flink's WINDOW-level admission rule
    *    (maxTimestamp + lateness vs watermark) is applied exactly,
    *    rather than Spark's row-level one.
    *
    * Event-time timers arm at (next boundary − 1) ms — the −1 makes
    * firing exact under a strict `expiry < watermark` eviction rule and
    * at-most-one-batch early under `<=`, and the handler re-arms if it
    * ran early, so semantics never depend on the engine's boundary
    * convention. Emission/accounting contract is identical to
    * [[lateFireWindowAgg]] (final / late_update / dropped_late), with
    * idle-key finals and purges now timer-driven.
    *
    * Cost vs the NoTimeout op: one extra map-side projection of the
    * source (the sentinel branch scans, feeds watermark stats, and
    * dies before the exchange) — the shuffle carries exactly the data
    * rows, same as [[lateFireWindowAgg]]. Needs the RocksDB state
    * store provider (Spark's transformWithState requirement).
    *
    * `df` must NOT already carry a watermark — the op installs the only
    * one (`disorderDelay`, the analog of the bounded-out-of-orderness
    * bound) on its sentinel branch.
    */
  def lateFireWindowAggTimers(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, windowSec: Long, latenessMs: Long,
      disorderDelay: String = "0 seconds"): DataFrame = {
    require(!hasWatermark(df),
      "lateFireWindowAggTimers installs its own watermark — pass the raw stream")
    require(latenessMs >= 0)
    numberAt(df.schema, valueCol) // plan-time numeric check, as in lateFireWindowAgg
    val wMs = windowSec * 1000L
    val keyFields = keys.map(k => df.schema(k))
    val farFuture = java.sql.Timestamp.valueOf("2999-01-01 00:00:00")
    val branchW = df.select(
      (keyFields.map(f => lit(null).cast(f.dataType).as(f.name)) ++ Seq(
        col(tsCol).as("__ett"),
        lit(0L).as("__tsms"),
        lit(0.0).as("__val"))): _*)
      .withWatermark("__ett", disorderDelay)
      // Drop every sentinel row ABOVE the watermark node: the predicate
      // references the watermark attribute, so it cannot be pushed below
      // EventTimeWatermark — stats first, drop second. The shuffle never
      // sees these rows (TwsProbeSpec "filtered sentinel branch").
      .filter(col("__ett") > lit("9999-12-31 00:00:00").cast("timestamp"))
    val branchD = df.select(
      (keys.map(col) ++ Seq(
        lit(farFuture).as("__ett"),
        unix_millis(col(tsCol)).as("__tsms"),
        col(valueCol).cast("double").as("__val"))): _*)
    val unioned = branchW.unionByName(branchD)
    val inSchema = unioned.schema
    val outSchema = StructType(keyFields ++ Seq(
      StructField("window_start", org.apache.spark.sql.types.LongType),
      StructField("cnt", org.apache.spark.sql.types.LongType),
      StructField("sum_val", org.apache.spark.sql.types.DoubleType),
      StructField("emit_kind", org.apache.spark.sql.types.StringType)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val stateSchema = StructType(Seq(
      StructField("wins", org.apache.spark.sql.types.ArrayType(StructType(Seq(
        StructField("ws", org.apache.spark.sql.types.LongType),
        StructField("cnt", org.apache.spark.sql.types.LongType),
        StructField("sum", org.apache.spark.sql.types.DoubleType),
        StructField("fin", org.apache.spark.sql.types.BooleanType)))))))
    val proc = new LateFireTimersProcessor(
      inSchema.fieldIndex("__tsms"), inSchema.fieldIndex("__val"),
      wMs, latenessMs, stateSchema)
    keyed(unioned, keys)
      .transformWithState(proc,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())(outEnc)
  }

  /** Route a [[tagLateStreaming]]-tagged stream to two sinks per
    * micro-batch — the two-collector shape of Flink's
    * `DataStream.getSideOutput`. Returns the started query handle.
    */
  def splitLateSink(tagged: DataFrame)(
      mainSink: DataFrame => Unit, lateSink: DataFrame => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    tagged.writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        mainSink(b.filter(!col("is_late")).drop("is_late"))
        lateSink(b.filter(col("is_late")).drop("is_late"))
      }
      .start()

  // ---- Lookup join (streaming) ---------------------------------------

  /** Streaming lookup join — the reference's LookupJoin
    * (EXEC/common/CommonExecLookupJoin.java:154): each micro-batch
    * probes the CURRENT version of an external dimension. `loadDim`
    * re-reads the dim per batch (cheap for a keyed parquet/JDBC dim);
    * the join broadcasts it, so the stream side never shuffles.
    * Returns the started query handle.
    */
  def lookupJoinStreaming(stream: DataFrame, streamKey: String,
                          loadDim: () => DataFrame, dimKey: String,
                          joinType: String = "left_outer")(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val dim = loadDim()
        sink(batch.join(broadcast(dim),
          batch(streamKey) === dim(dimKey), joinType))
      }
      .start()

  // ---- Temporal (as-of) join -----------------------------------------

  /** Batch event-time temporal join (reference:
    * RT/join/temporal/TemporalRowTimeJoinOperator.java): each event row
    * joins the version row with the greatest `versionTime` ≤ event
    * time for its key. Left-outer: events with no valid version keep
    * nulls.
    *
    * Plan shape: one shuffle of each side on the key, a range-filtered
    * join, then a per-event-row max-version selection — no state, no
    * driver involvement; versions tables are usually small enough that
    * AQE broadcasts them.
    */
  /** Hot-key-safe temporal join — the merge-scan shape of the
    * reference's TemporalRowTimeJoinOperator.java:78: cogroup both
    * sides on the key, sort each group by time once, and advance a
    * version cursor through the events in one pass. Never materializes
    * events × versions (the declarative [[temporalJoin]] does, pruned
    * after the fact), so a key with 10⁴ versions costs
    * O(events + versions) instead of O(events × versions). Memory is
    * O(rows per key) — the reference's per-key state bound.
    */
  def temporalJoinCoGrouped(events: DataFrame, eventKey: String, eventTime: String,
                            versions: DataFrame, versionKey: String,
                            versionTime: String): DataFrame = {
    val eSchema = events.schema
    val vSchema = versions.schema
    val vKeep = vSchema.fields.indices.filterNot(
      _ == vSchema.fieldIndex(versionKey))
    val outSchema = StructType(eSchema.fields ++
      vKeep.map(i => vSchema.fields(i).copy(nullable = true)))
    implicit val outEnc: ExpressionEncoder[Row] = rowEnc(outSchema)
    val Seq(keyType) = commonKeyTypes(Seq(eSchema(eventKey)), Seq(vSchema(versionKey)))
    val eTimeIdx = eventTimeIndex(eSchema, eventTime)
    val vTimeIdx = eventTimeIndex(vSchema, versionTime)
    val nulls: Seq[Any] = vKeep.map(_ => null)
    // cogroup needs equal key schemas on both sides: one name, one
    // type, and nullable (a `when` without `otherwise` always is)
    def key(df: DataFrame, name: String): Column = {
      val c = topCol(df, name)
      when(c.isNotNull, c.cast(keyType)).as("__key")
    }
    keyedOn(events, Seq(key(events, eventKey)))
      .cogroup(keyedOn(versions, Seq(key(versions, versionKey)))) {
        (_: Row, es: Iterator[Row], vs: Iterator[Row]) =>
          val evs = es.toArray.sortBy(tsMicros(_, eTimeIdx))
          val ver = vs.toArray.sortBy(tsMicros(_, vTimeIdx))
          var j = 0
          var cur: Row = null
          evs.iterator.map { e =>
            val et = tsMicros(e, eTimeIdx)
            while (j < ver.length && tsMicros(ver(j), vTimeIdx) <= et) {
              cur = ver(j); j += 1
            }
            val tail = if (cur == null) nulls else vKeep.map(cur.get)
            Row.fromSeq(e.toSeq ++ tail)
          }
      }
  }

  def temporalJoin(events: DataFrame, eventKey: String, eventTime: String,
                   versions: DataFrame, versionKey: String, versionTime: String): DataFrame = {
    val evCols = events.columns
    val e = events.withColumn("__eid", monotonically_increasing_id())
    val joined = e.join(versions,
      e(eventKey) === versions(versionKey) && versions(versionTime) <= e(eventTime),
      "left_outer")
    val w = Window.partitionBy(col("__eid")).orderBy(col(versionTime).desc_nulls_last)
    joined.withColumn("__vrn", row_number().over(w))
      .filter(col("__vrn") === 1)
      .drop("__vrn", "__eid", versionKey)
  }
}

/** Keyed processor behind [[StatefulOps.lateFireWindowAggTimers]]: the
  * reference's WindowOperator + EventTimeTrigger + allowedLateness loop
  * (flink-streaming-java/.../windowing/WindowOperator.java:390
  * processElement / onEventTime) on transformWithState state + timers.
  *
  * State per key: the key's open windows (ws, cnt, sum,
  * final_emitted); result rows lead with the key Row's values, which
  * timer-only invocations receive too. One event-time timer is kept
  * armed at (next boundary − 1) where the next boundary is the earliest pending
  * final (window maxTimestamp) or purge (maxTimestamp + lateness); the
  * handler is authoritative — it acts only on what the CURRENT watermark
  * justifies and re-arms otherwise, so firing is exact under either
  * timer-eviction boundary convention.
  */
private[streaming] class LateFireTimersProcessor(
    tsmsIdx: Int, valIdx: Int, wMs: Long, latenessMs: Long, stateSchema: StructType)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Row, Row, Row] {
  import org.apache.spark.sql.streaming._

  @transient private var st: ValueState[Row] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[Row]("wins",
      StatefulOps.rowEnc(stateSchema), TTLConfig.NONE)
  }

  private def loadWins(s: Row): Map[Long, (Long, Double, Boolean)] =
    s.getSeq[Row](0)
      .map(w => w.getLong(0) -> ((w.getLong(1), w.getDouble(2), w.getBoolean(3))))
      .toMap

  private def saveOrClear(wins: Map[Long, (Long, Double, Boolean)]): Unit = {
    if (wins.isEmpty) st.clear()
    else st.update(Row(wins.toSeq.sortBy(_._1)
      .map { case (ws, (c, s, fin)) => Row(ws, c, s, fin) }))
    // one timer: the earliest pending boundary, armed 1 ms early (see
    // class doc); clear the rest so timers never accumulate
    val existing = getHandle.listTimers().toSeq
    val next = wins.map { case (ws, (_, _, fin)) =>
      if (!fin) ws + wMs - 1 else ws + wMs - 1 + latenessMs
    }.reduceOption(_ min _)
    next match {
      case Some(b) =>
        val want = b - 1
        existing.foreach { t =>
          if (t.asInstanceOf[Long] != want) getHandle.deleteTimer(t.asInstanceOf[Long])
        }
        if (!existing.contains(want)) getHandle.registerTimer(want)
      case None =>
        existing.foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
    }
  }

  /** Fire finals / purge per the CURRENT watermark; shared by the input
    * and timer paths (Flink's onEventTime body). */
  private def fireAndPurge(keyVals: Seq[Any],
      wins: Map[Long, (Long, Double, Boolean)], wm: Long,
      touched: Set[Long], out: scala.collection.mutable.ArrayBuffer[Row])
      : Map[Long, (Long, Double, Boolean)] = {
    val fired = wins.map { case (ws, (c, s, fin)) =>
      val closed = ws + wMs - 1 <= wm
      if (closed && !fin) {
        out += Row.fromSeq(keyVals ++ Seq[Any](ws, c, s, "final"))
        ws -> ((c, s, true))
      } else {
        if (closed && touched(ws))
          out += Row.fromSeq(keyVals ++ Seq[Any](ws, c, s, "late_update"))
        ws -> ((c, s, fin))
      }
    }
    fired.filter { case (ws, _) => ws + wMs - 1 + latenessMs > wm }
  }

  override def handleInputRows(key: Row, rows: Iterator[Row],
      tv: TimerValues): Iterator[Row] = {
    val keyVals = key.toSeq
    val wm = tv.getCurrentWatermarkInMs()
    var wins = if (st.exists()) loadWins(st.get()) else Map.empty[Long, (Long, Double, Boolean)]
    val touched = scala.collection.mutable.Set.empty[Long]
    var dropped = Map.empty[Long, (Long, Double)]
    rows.foreach { r =>
      // null-safe like every sibling op's num(): a NULL value counts
      // as 0.0, and a NULL timestamp row is unwindowable — the window()
      // builtin the non-timer path aggregates through drops it too
      if (!r.isNullAt(tsmsIdx)) {
        val v = if (r.isNullAt(valIdx)) 0.0 else r.getDouble(valIdx)
        val ws = math.floorDiv(r.getLong(tsmsIdx), wMs) * wMs
        if (ws + wMs - 1 + latenessMs <= wm) {
          val (dc, dsum) = dropped.getOrElse(ws, (0L, 0.0))
          dropped = dropped.updated(ws, (dc + 1, dsum + v))
        } else {
          val (c, s, fin) = wins.getOrElse(ws, (0L, 0.0, false))
          wins = wins.updated(ws, (c + 1, s + v, fin))
          touched += ws
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    wins = fireAndPurge(keyVals, wins, wm, touched.toSet, out)
    dropped.foreach { case (ws, (dc, dsum)) =>
      out += Row.fromSeq(keyVals ++ Seq[Any](ws, dc, dsum, "dropped_late"))
    }
    saveOrClear(wins)
    out.iterator
  }

  override def handleExpiredTimer(key: Row, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[Row] =
    if (!st.exists()) Iterator.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      val wins = fireAndPurge(key.toSeq, loadWins(st.get()), tv.getCurrentWatermarkInMs(),
        Set.empty, out)
      saveOrClear(wins)
      out.iterator
    }
}
