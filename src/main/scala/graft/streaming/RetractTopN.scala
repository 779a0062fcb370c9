package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

/** Retractable Top-N over an UPDATING input — the reference's
  * RetractableTopNFunction (flink-table/flink-table-runtime/.../rank/
  * RetractableTopNFunction.java:56): input is a changelog (`row_kind`
  * ∈ +I/-U/+U/-D) of scored rows identified by `idCol`; output is a
  * changelog of top-N membership with a `rank_no` column, emitting
  * retractions for every row that leaves or moves within the top N.
  *
  * State per group = the full id→row map (like Flink's state view) —
  * required because a retraction of a top row promotes an arbitrary
  * lower row. Grouped by the rank partition key, so state shards with
  * the shuffle exactly like Flink key groups.
  */
object RetractTopN {

  import Changelog.{Delete, Insert, KindCol, UpdateAfter, UpdateBefore}

  /** The id as a map key: BINARY by content, every other type as is. */
  private def idKey(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case o => o
  }

  def apply(df: DataFrame, keys: Seq[String], idCol: String, scoreCol: String,
            n: Int, descending: Boolean = true,
            ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame = {
    val schema = df.schema
    require(schema.fieldNames.contains(KindCol), s"need $KindCol column")
    val outSchema = StructType(schema.fields :+ StructField("rank_no", IntegerType))
    implicit val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    // State = the id→row map, stored as an array of (id, row) structs so
    // the encoder is schema-derived (Flink's state-serializer
    // compatibility contract; java serialization is version-brittle).
    val stateSchema = StructType(Seq(StructField("entries", ArrayType(
      StructType(Seq(StructField("id", schema(idCol).dataType), StructField("row", schema)))))))
    val stateEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(stateSchema))
    val kindIdx = schema.fieldIndex(KindCol)
    val idIdx = schema.fieldIndex(idCol)
    val score = StatefulOps.numberAt(schema, scoreCol)
    val sign = if (descending) -1.0 else 1.0
    // score first, then the typed id (INT 9 before 10, BINARY unsigned)
    val order = Ordering.by[Row, Double](r => sign * score(r))(Ordering.Double.TotalOrdering)
      .orElse(StatefulOps.tieOrdering(schema, Seq(idCol)))
    def topOf(m: Map[Any, Row]): Seq[(Any, Row)] = m.toSeq.sortBy(_._2)(order).take(n)
    def out(r: Row, kind: String, rank: Int): Row = {
      val vals = r.toSeq.toArray
      vals(kindIdx) = kind
      Row.fromSeq(vals.toIndexedSeq :+ rank)
    }

    val ttl = StatefulOps.stateTtl(df, ttlSec)
    StatefulOps.keyed(df, keys)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, ttl.timeout)(StatefulOps.withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          var m: Map[Any, Row] =
            if (state.exists)
              state.get.getSeq[Row](0).map(e => idKey(e.get(0)) -> e.getStruct(1)).toMap
            else Map.empty[Any, Row]
          val before = topOf(m)
          rows.foreach { r =>
            val id = idKey(r.get(idIdx))
            r.getString(kindIdx) match {
              // UPDATE_BEFORE is a retract message exactly like DELETE
              // (RetractableTopNFunction.java:148 gates on isAccumulateMsg,
              // which is only +I/+U). Treating -U as a no-op would strand
              // the old image when the rank PARTITION KEY changes: the -U
              // arrives at the old group (where the +U never follows) and
              // the stale row would hold a top-N slot forever.
              case Delete | UpdateBefore => m -= id
              case Insert | UpdateAfter | _ => m += id -> r
            }
          }
          state.update(Row(m.toSeq.map { case (_, r) => Row(r.get(idIdx), r) }))
          val after = topOf(m)
          val beforeRanked = before.zipWithIndex.map { case ((id, r), i) => (id, r, i + 1) }
          val afterRanked = after.zipWithIndex.map { case ((id, r), i) => (id, r, i + 1) }
          val afterMap = afterRanked.map(t => t._1 -> t).toMap
          val beforeMap = beforeRanked.map(t => t._1 -> t).toMap
          val retracts = beforeRanked.collect {
            case (id, r, rank) if !afterMap.get(id).exists(t => t._3 == rank && t._2 == r) =>
              out(r, Delete, rank)
          }
          val inserts = afterRanked.collect {
            case (id, r, rank) if !beforeMap.get(id).exists(t => t._3 == rank && t._2 == r) =>
              out(r, Insert, rank)
          }
          (retracts ++ inserts).iterator
      })(stateEnc, outEnc)
  }
}
