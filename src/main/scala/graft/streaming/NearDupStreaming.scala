package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming near-duplicate detection — the in-stream form of the
  * batch MinHash-LSH family (graft.queries.NearDup): as documents
  * arrive, each is minhash-banded map-side and checked against the
  * LSH buckets seen so far; a doc sharing ANY band bucket with an
  * earlier doc is flagged a near-duplicate of that doc. This is the
  * keyed-state shape of the reference's deduplicate operators
  * (RT/deduplicate) applied to LSH keys: state lives with the
  * (band, bucket) shuffle partition — one small entry per bucket, so
  * a 100 TB corpus's state is bounded by distinct-bucket count, and
  * the filter decision streams out with at-arrival latency instead of
  * a nightly batch job.
  */
object NearDupStreaming {

  /** Tag each arriving document: `is_near_dup` + the doc_id of the
    * earliest bucket-mate (`dup_of`, null for novel docs). Composes
    * as: bands via [[bandedStream]] → per-bucket keep-first state →
    * per-doc aggregation inside `foreachBatch` (all bands of a doc
    * arrive in its own micro-batch, so the per-doc reduce is
    * batch-local — no second stateful stage).
    */
  def nearDupTagStreaming(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 128, bands: Int = 16,
                          ttlSec: Long = StatefulOps.DefaultTtlSec,
                          checkpoint: Option[String] = None)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val owned = bucketOwners(bandedStream(docs, idCol, textCol, k, bands), ttlSec)
    val w = owned.writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val perDoc = b.groupBy(col("doc_id"))
          .agg(
            max(when(col("owner") =!= col("doc_id"), true).otherwise(false))
              .as("is_near_dup"),
            min(when(col("owner") =!= col("doc_id"), col("owner")))
              .as("dup_of"))
        sink(perDoc)
      }
    // An explicit checkpoint makes the bucket-owner state resumable
    // across restarts (StateRecoverySpec); without one Spark uses a
    // fresh temp dir per start, i.e. state dies with the query.
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** (doc_id, band, bucket) rows — minhash + banding, map-side —
    * followed by the event-time columns of the watermarks upstream, so
    * [[bucketOwners]]' TTL arms from each bucket's latest event time.
    */
  def bandedStream(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val eventTime = StatefulOps.watermarkColumns(docs).toSeq.sorted
      .filter(docs.columns.contains).map(col)
    docs.select(col(idCol).as("doc_id") +:
      graft.functions.functions.minhash(
        array_distinct(split(col(textCol), " ")), k).as("sig") +: eventTime: _*)
      .select(col("doc_id") +:
        explode(expr(s"transform(sequence(0, ${bands - 1}), " +
          s"b -> struct(b AS band, hash(slice(sig, b * $rows + 1, $rows)) AS bucket))")).as("bb")
        +: eventTime: _*)
      .select(Seq(col("doc_id"), col("bb.band"), col("bb.bucket")) ++ eventTime: _*)
  }

  /** Per-(band, bucket) keep-first: every band row comes back with the
    * bucket's first-ever owner (arrival order; the owner of a fresh
    * bucket is the row's own doc). State = one doc_id per bucket;
    * `ttlSec` of event-time idleness forgets a bucket's owner (the
    * `table.exec.state.ttl` analog — requires a watermark upstream to
    * engage), so dedup scope becomes "within the TTL horizon" instead
    * of all-history — the standard production trade-off.
    */
  def bucketOwners(banded: DataFrame,
                   ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame = {
    val schema = banded.schema
    val idIdx = schema.fieldIndex("doc_id")
    // the owner column mirrors the caller's id type — ids are opaque
    // here (long keys, uuids, urls all work); state holds one owner
    // value per bucket in a single-field row of that same type
    val idField = schema(idIdx)
    val outSchema = StructType(schema.fields :+ idField.copy(name = "owner"))
    implicit val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val stateEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(
        StructType(Seq(idField.copy(name = "owner", nullable = true)))))
    val ttl = StatefulOps.stateTtl(banded, ttlSec)
    StatefulOps.keyed(banded, Seq("band", "bucket"))
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, ttl.timeout)(StatefulOps.withTtl(ttl) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          var hasOwner = state.exists
          var owner: Any = if (hasOwner) state.get.get(0) else null
          val out = rows.map { r =>
            if (!hasOwner) {
              owner = r.get(idIdx)
              hasOwner = true
              state.update(Row(owner))
            }
            Row.fromSeq(r.toSeq :+ owner)
          }.toSeq
          out.iterator
      })(stateEnc, outEnc)
  }
}
