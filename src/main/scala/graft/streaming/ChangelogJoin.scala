package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Unbounded retracting stream-stream join over explicit changelogs —
  * the reference's StreamingJoinOperator (flink-table/flink-table-
  * runtime/.../join/stream/StreamingJoinOperator.java:36) with its
  * per-side record state views (state/JoinRecordStateView.java:32).
  *
  * Inputs are changelog DataFrames (see [[Changelog]]): a `row_kind`
  * column with +I/-U/+U/-D and a `seqCol` giving the arrival order.
  * Kinds are interpreted as the reference does when no unique key is
  * available: {+I, +U} accumulate, {-U, -D} retract. Output is a
  * RETRACT-ENCODED changelog (only +I / -D kinds — the canonical form
  * Flink's toRetractStream produces): every visible-state transition
  * appears as a retraction of the old joined row and/or insertion of
  * the new one, including outer-join null-padding flips. Join types:
  * inner, left, right, full — right/full are the symmetric closure of
  * the left-outer transition (pad the other side too).
  *
  * Scale shape: both sides shuffle once on the join key; each state
  * group holds only the rows OF THAT KEY (a multiset per side, exactly
  * Flink's InputSideHasNoUniqueKey state view). Because grouping is by
  * the equi-join key, every left row in a group matches every right
  * row, so the outer-join "number of associations" counter collapses
  * to the group's right-side multiset size — O(1) bookkeeping per
  * element where the reference keeps a counter per record.
  */
object ChangelogJoin {

  import Changelog.{Delete, Insert, KindCol, UpdateAfter, UpdateBefore}

  /** Batch form: joins two bounded changelogs, emitting the retract
    * stream in `seqCol` order per key. Semantics identical to
    * [[streaming]]; use this for testing and bounded backfills.
    */
  def apply(left: DataFrame, leftKeys: Seq[String],
            right: DataFrame, rightKeys: Seq[String],
            seqCol: String, joinType: String = "inner"): DataFrame = {
    val p = new Plan(left, leftKeys, right, rightKeys, seqCol, joinType)
    import p._
    grouped(tagged)
      .flatMapGroups { (_: Row, it: Iterator[Row]) =>
        val st = new JoinState()
        it.toArray.sortBy(_.getLong(1)).iterator.flatMap(t => process(t, st))
      }(outEnc)
  }

  /** Streaming form: same semantics, state persisted per key across
    * micro-batches. State grows with live keys × rows per key; `ttlSec`
    * purges keys idle for that much event time — the analog of the
    * `table.exec.state.ttl` the reference REQUIRES for unbounded joins
    * (it engages only when a watermark is attached upstream; without
    * one, state is retained forever, like Flink's default).
    */
  def streaming(left: DataFrame, leftKeys: Seq[String],
                right: DataFrame, rightKeys: Seq[String],
                seqCol: String, joinType: String = "inner",
                ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame = {
    val p = new Plan(left, leftKeys, right, rightKeys, seqCol, joinType)
    import p._
    val taggedDs = tagged
    val ttl = StatefulOps.stateTtl(taggedDs, ttlSec)
    grouped(taggedDs)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, ttl.timeout)(StatefulOps.withTtl(ttl) {
        (_: Row, it: Iterator[Row], state: GroupState[Row]) =>
          val st =
            if (state.exists) JoinState.fromRow(state.get) else new JoinState()
          val out = it.toArray.sortBy(_.getLong(1)).flatMap(t => process(t, st))
          state.update(JoinState.toRow(st))
          out.iterator
      })(stateEnc, outEnc)
  }

  /** Per-side multiset state + the join step, shared batch/streaming.
    * Multisets key on the row's DATA columns only (kind/seq excluded),
    * so a -D retracts the +I that carried the same payload — the
    * record-equality contract of JoinRecordStateView.
    *
    * Keys are CANONICALIZED ([[canon]]): BinaryType values arrive as
    * `Array[Byte]`, whose Scala `Seq`/map equality is reference-based —
    * without wrapping, a retraction's fresh array instance would never
    * match the accumulated row and the join would serve stale output
    * forever. `ByteBuffer` carries content equality and can never be a
    * genuine Spark row value, so the wrap is unambiguous and reversible.
    */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case r: Row => Row.fromSeq(r.toSeq.map(canon))
    case s: Seq[_] => s.map(canon)
    case m: Map[_, _] => m.map { case (k, x) => canon(k) -> canon(x) }
    case o => o
  }
  private def decanon(v: Any): Any = v match {
    case b: java.nio.ByteBuffer => b.array()
    case r: Row => Row.fromSeq(r.toSeq.map(decanon))
    case s: Seq[_] => s.map(decanon)
    case m: Map[_, _] => m.map { case (k, x) => decanon(k) -> decanon(x) }
    case o => o
  }

  private final class JoinState {
    // multiset per side: CANONICAL data-column values → multiplicity,
    // plus a running element total so the first/last-row transitions in
    // process() are O(1) instead of a full map sum per element
    val lm = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Int]
    val rm = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Int]
    private var lTotal = 0
    private var rTotal = 0
    def total(m: scala.collection.mutable.LinkedHashMap[Seq[Any], Int]): Int =
      if (m eq lm) lTotal else rTotal
    private def bump(m: scala.collection.mutable.LinkedHashMap[Seq[Any], Int],
                     by: Int): Unit =
      if (m eq lm) lTotal += by else rTotal += by
    def add(m: scala.collection.mutable.LinkedHashMap[Seq[Any], Int],
            k: Seq[Any], count: Int = 1): Unit = {
      m.update(k, m.getOrElse(k, 0) + count); bump(m, count)
    }
    def remove(m: scala.collection.mutable.LinkedHashMap[Seq[Any], Int],
               k: Seq[Any]): Boolean =
      m.get(k) match {
        case Some(1) => m.remove(k); bump(m, -1); true
        case Some(c) => m.update(k, c - 1); bump(m, -1); true
        case None => false // retraction of a record we never saw: ignore
      }
  }

  private object JoinState {
    def fromRow(s: Row): JoinState = {
      val st = new JoinState()
      s.getSeq[Row](0).foreach(e =>
        st.add(st.lm, e.getStruct(0).toSeq.map(canon), e.getInt(1)))
      s.getSeq[Row](1).foreach(e =>
        st.add(st.rm, e.getStruct(0).toSeq.map(canon), e.getInt(1)))
      st
    }
    def toRow(st: JoinState): Row = Row(
      st.lm.iterator.map { case (v, c) => Row(Row.fromSeq(v.map(decanon)), c) }.toSeq,
      st.rm.iterator.map { case (v, c) => Row(Row.fromSeq(v.map(decanon)), c) }.toSeq)
  }

  /** Everything derived from the two input schemas: the tagged union,
    * encoders, and the per-element state transition.
    */
  private final class Plan(@transient left: DataFrame, leftKeys: Seq[String],
                           @transient right: DataFrame, rightKeys: Seq[String],
                           seqCol: String, joinType: String) extends Serializable {
    require(Set("inner", "left", "right", "full").contains(joinType),
      s"joinType must be inner|left|right|full, got $joinType")
    // pad*: which side's rows survive with a null-padded other side
    private val padLeft = joinType == "left" || joinType == "full"
    private val padRight = joinType == "right" || joinType == "full"
    private val lSchema = left.schema
    private val rSchema = right.schema
    private val lKindIdx = lSchema.fieldIndex(KindCol)
    private val rKindIdx = rSchema.fieldIndex(KindCol)
    private val lSeqIdx = StatefulOps.eventTimeIndex(lSchema, seqCol)
    private val rSeqIdx = StatefulOps.eventTimeIndex(rSchema, seqCol)
    private val lDataIdx = lSchema.fields.indices
      .filterNot(i => i == lKindIdx || i == lSeqIdx)
    private val rDataIdx = rSchema.fields.indices
      .filterNot(i => i == rKindIdx || i == rSeqIdx)

    val outSchema: StructType = StructType(
      StructField(KindCol, StringType) +:
        (lDataIdx.map(lSchema.fields) ++
         rDataIdx.map(i => rSchema.fields(i).copy(nullable = true))))
    val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    private val keyTypes = StatefulOps.commonKeyTypes(
      leftKeys.map(lSchema(_)), rightKeys.map(rSchema(_)))

    private val taggedSchema = StructType(Seq(
      StructField("side", IntegerType), StructField("seq", LongType),
      StructField("l", lSchema, nullable = true),
      StructField("r", rSchema, nullable = true)))
    private val tagEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(taggedSchema))
    private val lDataSchema = StructType(lDataIdx.map(lSchema.fields).toSeq)
    private val rDataSchema = StructType(rDataIdx.map(rSchema.fields).toSeq)
    val stateEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(StructType(Seq(
        StructField("lm", ArrayType(StructType(Seq(
          StructField("row", lDataSchema), StructField("cnt", IntegerType))))),
        StructField("rm", ArrayType(StructType(Seq(
          StructField("row", rDataSchema), StructField("cnt", IntegerType)))))))))

    /** Side-tagged union of both inputs — the standard Spark encoding
      * of a two-input operator (connect/keyBy in the reference).
      */
    def tagged: org.apache.spark.sql.Dataset[Row] = {
      val li = lSeqIdx
      val ri = rSeqIdx
      left.map(r => Row(0, StatefulOps.timeMillis(r.get(li)), r, null))(tagEnc)
        .union(right.map(r => Row(1, StatefulOps.timeMillis(r.get(ri)), null, r))(tagEnc))
    }

    /** `t` (the [[tagged]] union) grouped by the tagged side's key
      * columns, each cast to its pair's common type. */
    def grouped(t: Dataset[Row]): KeyValueGroupedDataset[Row, Row] =
      StatefulOps.keyedOn(t, keyTypes.indices.map { i =>
        when(t("side") === 0, t("l").getField(leftKeys(i)).cast(keyTypes(i)))
          .otherwise(t("r").getField(rightKeys(i)).cast(keyTypes(i)))
      })

    private def isAccumulate(kind: String): Boolean =
      kind == Insert || kind == UpdateAfter

    private val rNulls: Seq[Any] = rDataIdx.map(_ => null: Any)
    private val lNulls: Seq[Any] = lDataIdx.map(_ => null: Any)

    private def joined(kind: String, lVals: Seq[Any], rVals: Seq[Any]): Row =
      Row.fromSeq(kind +: ((if (lVals == null) lNulls else lVals) ++
        (if (rVals == null) rNulls else rVals)))

    /** One element through the join — the processElement of
      * StreamingJoinOperator, specialized to per-key grouping. Both
      * sides run the same transition; only which side is padded
      * differs (padLeft/padRight), so full outer is the symmetric
      * closure of left+right.
      */
    def process(t: Row, st: JoinState): Seq[Row] = {
      val fromLeft = t.getInt(0) == 0
      val row = if (fromLeft) t.getStruct(2) else t.getStruct(3)
      val vals: Seq[Any] =
        if (fromLeft) lDataIdx.map(row.get) else rDataIdx.map(row.get)
      val key = vals.map(canon) // content-equality key (binary-safe)
      val acc = isAccumulate(row.getString(if (fromLeft) lKindIdx else rKindIdx))
      val mine = if (fromLeft) st.lm else st.rm
      val other = if (fromLeft) st.rm else st.lm
      val padMine = if (fromLeft) padLeft else padRight   // my rows null-padded
      val padOther = if (fromLeft) padRight else padLeft  // other side's padding
      def pair(kind: String, mineVals: Seq[Any], otherVals: Seq[Any]): Row =
        if (fromLeft) joined(kind, mineVals, otherVals)
        else joined(kind, otherVals, mineVals)

      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      val mineBefore = st.total(mine)
      if (acc) st.add(mine, key)
      else if (!st.remove(mine, key)) return Nil
      val mineAfter = st.total(mine)
      val kind = if (acc) Insert else Delete
      if (other.isEmpty) {
        if (padMine) out += pair(kind, vals, null)
      } else other.foreach { case (oKey, c) =>
        val oVals = oKey.map(decanon)
        var i = 0
        while (i < c) {
          if (acc) {
            // this key's FIRST row on my side: the other side's rows
            // were null-padded — retract those pads
            if (padOther && mineBefore == 0) out += pair(Delete, null, oVals)
            out += pair(Insert, vals, oVals)
          } else {
            out += pair(Delete, vals, oVals)
            // my side just emptied: other side's rows re-pad with nulls
            if (padOther && mineAfter == 0) out += pair(Insert, null, oVals)
          }
          i += 1
        }
      }
      out.toSeq
    }
  }
}
