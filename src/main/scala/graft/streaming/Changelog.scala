package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Explicit changelog-stream model — the reference's central data-model
  * concept (SURVEY.md §1.1; RowKind at
  * flink-core/src/main/java/org/apache/flink/types/RowKind.java:31-52).
  *
  * Spark has no first-class row kinds, so changelog datasets carry a
  * `row_kind` string column with the four Flink values. Operators that
  * only exist because of retraction semantics live here:
  *
  *  - `dropUpdateBefore` ≡ StreamExecDropUpdateBefore
  *    (RT/misc/DropUpdateBeforeFunction.java:30)
  *  - `changelogNormalize` ≡ StreamExecChangelogNormalize
  *    (StreamExecChangelogNormalize.java:74): turns an upsert stream
  *    (+U/-D by key, no -U) into a full changelog with correct
  *    UPDATE_BEFORE rows, keyed state = last row per key.
  *  - `toUpsert` collapses a changelog to the latest visible row per
  *    key (what a compacted-topic / JDBC upsert sink would persist).
  */
object Changelog {
  val Insert = "+I"
  val UpdateBefore = "-U"
  val UpdateAfter = "+U"
  val Delete = "-D"

  val KindCol = "row_kind"

  /** Strip UPDATE_BEFORE rows — for sinks that overwrite by key. */
  def dropUpdateBefore(df: DataFrame): DataFrame =
    df.filter(col(KindCol) =!= UpdateBefore)

  /** Collapse a changelog (batch) to the latest visible row per key:
    * applies +I/+U as upserts and -D as deletes, in `seqCol` order.
    */
  def toUpsert(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    // -U rows never represent visible state (and tie on seqCol with
    // their +U partner) — drop them before ranking.
    dropUpdateBefore(df)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(KindCol) =!= Delete)
      .drop("__rn")
  }

  /** Normalize an upsert stream into a full changelog (streaming).
    * Input rows are upserts (+U or +I treated alike) or deletes (-D)
    * keyed by `keys`; output interleaves -U rows so downstream
    * retract-aware consumers see Flink-equivalent kinds.
    */
  def changelogNormalize(df: DataFrame, keys: Seq[String],
                         ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame = {
    val schema = df.schema
    require(schema.fieldNames.contains(KindCol), s"need $KindCol column")
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(schema))
    // Schema-derived state encoder (state = last visible row per key):
    // stays readable across builds, unlike java serialization.
    val stateEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(schema))
    val kindIdx = schema.fieldIndex(KindCol)
    def withKind(r: Row, kind: String): Row = {
      val vals = r.toSeq.toArray
      vals(kindIdx) = kind
      Row.fromSeq(vals.toIndexedSeq)
    }
    val ttl = StatefulOps.stateTtl(df, ttlSec)
    StatefulOps.keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, ttl.timeout)(StatefulOps.withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var last: Option[Row] = if (state.exists) Some(state.get) else None
          rows.foreach { r =>
            val kind = r.getString(kindIdx)
            if (kind == Delete) {
              last.foreach(l => out += withKind(l, Delete))
              last = None
            } else {
              last match {
                case Some(l) =>
                  out += withKind(l, UpdateBefore)
                  out += withKind(r, UpdateAfter)
                case None =>
                  out += withKind(r, Insert)
              }
              last = Some(r)
            }
          }
          last match {
            case Some(l) => state.update(l)
            case None => if (state.exists) state.remove()
          }
          out.iterator
      })(stateEnc, enc)
  }

  /** Retract-aware streaming group aggregate — the GroupAggFunction
    * accumulate/retract protocol (flink-table-runtime/.../aggregate/
    * GroupAggFunction.java:140): consumes a changelog keyed by `keys`;
    * +I/+U accumulate `valueCol` into (cnt, sum), -U/-D retract it;
    * the updated aggregate is emitted per key per trigger (Spark's
    * update output mode stands in for the reference's retract-stream
    * emission — the sink sees latest-value upserts, the narrowing
    * documented for the whole stateful family). State per key is the
    * two-number accumulator; a key whose count returns to zero drops
    * its state entirely (GroupAggFunction's cleanupState path), so a
    * churning keyspace doesn't accrete dead accumulators even before
    * the TTL fires.
    */
  def retractGroupAgg(df: DataFrame, keys: Seq[String], valueCol: String,
                      ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame = {
    val schema = df.schema
    require(schema.fieldNames.contains(KindCol), s"need $KindCol column")
    val kindIdx = schema.fieldIndex(KindCol)
    val num = StatefulOps.numberAt(schema, valueCol)
    implicit val stateEnc = Encoders.product[(Long, Double)]
    val outSchema = StructType(keys.map(k => schema(k)) ++ Seq(
      StructField("cnt", LongType, nullable = false),
      StructField("sum_val", DoubleType, nullable = false)))
    implicit val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val ttl = StatefulOps.stateTtl(df, ttlSec)
    StatefulOps.keyed(df, keys)
      .flatMapGroupsWithState[(Long, Double), Row](
        OutputMode.Update, ttl.timeout)(StatefulOps.withTtl(ttl) {
        (key: Row, rows: Iterator[Row], state: GroupState[(Long, Double)]) =>
          if (!rows.hasNext) Iterator.empty // TTL timeout: state drops, no emission
          else {
            val hadState = state.exists
            var (cnt, sum) = if (hadState) state.get else (0L, 0.0)
            var sawAccumulate = false
            // Fold ORDER-INSENSITIVELY (transient negatives allowed):
            // the group iterator does not guarantee within-trigger
            // arrival order, so a -U folded before its own +U must
            // still net correctly — addition commutes, per-element
            // ignore-on-empty would not.
            rows.foreach { r =>
              val acc = r.getString(kindIdx) match {
                case Insert | UpdateAfter => 1
                case _ => -1
              }
              if (acc > 0) sawAccumulate = true
              cnt += acc
              sum += acc * num(r)
            }
            // A NEGATIVE net is excess retractions (TTL-purged state or
            // a replayed -D): the reference's GroupAggFunction ignores
            // a retraction with no accumulator, so clamp at zero and —
            // when the batch held nothing BUT ignored retractions —
            // emit nothing at all, never a cnt = -1 row
            if (cnt < 0) { cnt = 0; sum = 0.0 }
            if (cnt == 0) { if (hadState) state.remove() }
            else state.update((cnt, sum))
            // a fully-retracted key reports an exact zero sum (no float
            // residue from the +x/-x cancellation); a batch of ONLY
            // ignored retractions on an unknown key emits nothing
            if (cnt == 0 && !sawAccumulate && !hadState) Iterator.empty
            else Iterator(Row.fromSeq(key.toSeq ++ Seq(cnt, if (cnt == 0) 0.0 else sum)))
          }
      })
  }
}
