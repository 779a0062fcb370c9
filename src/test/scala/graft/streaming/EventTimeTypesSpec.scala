package graft.streaming

import java.time.{LocalDate, LocalDateTime}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

case class NtzEv(user: String, ts: LocalDateTime, day: LocalDate, tag: String)

/** Event-time and order columns of TIMESTAMP_NTZ and DATE type decode
  * to real times (they used to fall back to the value's hash, so rows
  * were ordered arbitrarily), and a type no op can order is rejected
  * when the op is built, not per row.
  */
class EventTimeTypesSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def firstRows(orderCol: String, batches: Seq[NtzEv]*): List[String] = {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[NtzEv]
    val name = s"first_by_$orderCol"
    val q = StatefulOps.keepFirstStreaming(in.toDF(), Seq("user"), orderCol)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.sql(s"SELECT tag FROM $name").collect().map(_.getString(0)).toList
    } finally q.stop()
  }

  private def ev(minute: Int, day: Int, tag: String): NtzEv =
    NtzEv("u1", LocalDateTime.of(2024, 1, 1, 0, minute), LocalDate.of(2024, 3, day), tag)

  test("keepFirstStreaming orders a TIMESTAMP_NTZ column by time") {
    // each later arrival that is earlier in event time wins; later ones are suppressed
    val got = firstRows("ts",
      Seq(ev(50, 1, "m50")), Seq(ev(7, 1, "m07")), Seq(ev(30, 1, "m30")),
      Seq(ev(3, 1, "m03")), Seq(ev(59, 1, "m59")), Seq(ev(1, 1, "m01")))
    assert(got == List("m50", "m07", "m03", "m01"))
  }

  test("keepFirstStreaming orders a DATE column by day") {
    // March 2024 dates: the 28th's hash wraps below the 1st's, so a
    // hash order would keep "d28" forever
    val got = firstRows("day",
      Seq(ev(0, 28, "d28")), Seq(ev(0, 20, "d20")), Seq(ev(0, 25, "d25")),
      Seq(ev(0, 9, "d09")), Seq(ev(0, 30, "d30")), Seq(ev(0, 1, "d01")))
    assert(got == List("d28", "d20", "d09", "d01"))
  }

  test("banded near-dup rows keep the watermark's event time, so the bucket TTL reads it") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val docs = MemoryStream[(String, String, java.sql.Timestamp)].toDF()
      .toDF("id", "text", "ts").withWatermark("ts", "0 seconds")
    val banded = NearDupStreaming.bandedStream(docs, "id", "text", k = 8, bands = 2)
    assert(banded.columns.toSeq == Seq("doc_id", "band", "bucket", "ts"))
    assert(StatefulOps.stateTtl(banded, ttlSec = 60).eventMs.isDefined)
  }

  test("NTZ and DATE decode in each op's unit") {
    val t = LocalDateTime.of(1970, 1, 1, 0, 0, 1, 2000)
    assert(StatefulOps.timeMillis(t) == 1000L)
    assert(StatefulOps.tsMicros(org.apache.spark.sql.Row(t), 0) == 1000002L)
    val d = LocalDate.of(1970, 1, 2)
    assert(StatefulOps.timeMillis(d) == 86400000L)
    assert(StatefulOps.timeMillis(java.sql.Date.valueOf(d)) == 86400000L)
    assert(StatefulOps.tsMicros(org.apache.spark.sql.Row(d), 0) == 86400000000L)
  }

  test("an order column no op can order is rejected when the op is built") {
    import spark.implicits._
    val df = Seq(("u1", "2024-01-01", "a")).toDF("user", "ts", "tag")
    val e = intercept[IllegalArgumentException](
      StatefulOps.keepFirstStreaming(df, Seq("user"), "ts"))
    assert(e.getMessage.contains("'ts' is STRING"))
    intercept[IllegalArgumentException](
      StatefulOps.temporalSortStreaming(df, "tag"))
    val ok = StructType(Seq(StructField("ts", TimestampType)))
    assert(StatefulOps.eventTimeIndex(ok, "ts") == 0)
  }
}
