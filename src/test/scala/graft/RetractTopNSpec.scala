package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.RetractTopN

case class Score(row_kind: String, grp: String, id: String, score: Double)
case class BinScore(row_kind: String, grp: String, id: Array[Byte], score: Double)
case class IntScore(row_kind: String, grp: String, id: Int, score: Double)

class RetractTopNSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("retractable top-2 over updating input emits correct changelog") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Score]
    val out = RetractTopN(in.toDF(), keys = Seq("grp"), idCol = "id",
      scoreCol = "score", n = 2)
    val q = out.writeStream.format("memory").queryName("rtopn")
      .outputMode(OutputMode.Append).start()
    def emitted() = spark.sql("SELECT row_kind, id, score, rank_no FROM rtopn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toList
    try {
      // batch 1: a=10, b=20 → top2 = [b(1), a(2)]
      in.addData(Score("+I", "g", "a", 10), Score("+I", "g", "b", 20))
      q.processAllAvailable()
      assert(emitted().toSet == Set(("+I", "b", 20.0, 1), ("+I", "a", 10.0, 2)))

      // batch 2: c=30 enters → retract a@2, b moves 1→2: retract b@1,
      // insert c@1, insert b@2
      in.addData(Score("+I", "g", "c", 30))
      q.processAllAvailable()
      val second = emitted().diff(
        List(("+I", "b", 20.0, 1), ("+I", "a", 10.0, 2)))
      assert(second.toSet == Set(
        ("-D", "b", 20.0, 1), ("-D", "a", 10.0, 2),
        ("+I", "c", 30.0, 1), ("+I", "b", 20.0, 2)))

      // batch 3: delete c → b back to 1, a back to 2
      in.addData(Score("-D", "g", "c", 30))
      q.processAllAvailable()
      val third = emitted().diff(
        List(("+I", "b", 20.0, 1), ("+I", "a", 10.0, 2),
             ("-D", "b", 20.0, 1), ("-D", "a", 10.0, 2),
             ("+I", "c", 30.0, 1), ("+I", "b", 20.0, 2)))
      assert(third.toSet == Set(
        ("-D", "c", 30.0, 1), ("-D", "b", 20.0, 2),
        ("+I", "b", 20.0, 1), ("+I", "a", 10.0, 2)))

      // replaying the changelog yields the final top-2
      val live = emitted().foldLeft(Map.empty[(String, Int), (String, Double)]) {
        case (acc, (kind, id, score, rank)) =>
          if (kind == "+I") acc + ((id, rank) -> (id, score))
          else acc - ((id, rank))
      }
      assert(live.keySet.map(_._1) == Set("a", "b"))
    } finally q.stop()
  }

  test("UPDATE_BEFORE retracts: rank-key migration does not strand the old image") {
    // RetractableTopNFunction.java:148 treats every non-accumulate kind
    // (-U and -D alike) as a retraction. A -U whose +U lands in a
    // DIFFERENT rank partition (the row's key column changed) must
    // remove the old image from the old group's state — a no-op -U
    // would hold its top-N slot forever.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Score]
    val out = RetractTopN(in.toDF(), keys = Seq("grp"), idCol = "id",
      scoreCol = "score", n = 2)
    val q = out.writeStream.format("memory").queryName("rtopn_mig")
      .outputMode(OutputMode.Append).start()
    def emitted() = spark.sql("SELECT row_kind, grp, id, score, rank_no FROM rtopn_mig")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getInt(4))).toList
    try {
      in.addData(Score("+I", "g1", "x", 5), Score("+I", "g1", "y", 3))
      q.processAllAvailable()
      val first = emitted()
      assert(first.toSet == Set(
        ("+I", "g1", "x", 5.0, 1), ("+I", "g1", "y", 3.0, 2)))

      // x migrates g1 → g2: the -U carries the OLD image (old group),
      // the +U the new one. g1 must retract x@1 and promote y to 1;
      // g2 inserts x@1.
      in.addData(Score("-U", "g1", "x", 5), Score("+U", "g2", "x", 5))
      q.processAllAvailable()
      val second = emitted().diff(first)
      assert(second.toSet == Set(
        ("-D", "g1", "x", 5.0, 1), ("-D", "g1", "y", 3.0, 2),
        ("+I", "g1", "y", 3.0, 1), ("+I", "g2", "x", 5.0, 1)))

      // same-group score update still works as a -U/+U pair
      in.addData(Score("-U", "g1", "y", 3), Score("+U", "g1", "y", 9))
      q.processAllAvailable()
      val third = emitted().diff(first ++ second)
      assert(third.toSet == Set(
        ("-D", "g1", "y", 3.0, 1), ("+I", "g1", "y", 9.0, 1)))
    } finally q.stop()
  }

  test("a -D retracts the +I of an equal-content BINARY id") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[BinScore]
    val out = RetractTopN(in.toDF(), keys = Seq("grp"), idCol = "id",
      scoreCol = "score", n = 2)
    val q = out.writeStream.format("memory").queryName("rtopn_bin")
      .outputMode(OutputMode.Append).start()
    def emitted() = spark.sql("SELECT row_kind, hex(id), rank_no FROM rtopn_bin")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toList
    try {
      in.addData(BinScore("+I", "g", Array[Byte](1, 2), 5), BinScore("+I", "g", Array[Byte](3), 1))
      q.processAllAvailable()
      // a new array with the same bytes, in a later micro-batch
      in.addData(BinScore("-D", "g", Array[Byte](1, 2), 5))
      q.processAllAvailable()
      assert(emitted() == List(("+I", "0102", 1), ("+I", "03", 2),
        ("-D", "0102", 1), ("-D", "03", 2), ("+I", "03", 1)))
    } finally q.stop()
  }

  test("score ties rank by the typed id: INT 9 before 10") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[IntScore]
    val out = RetractTopN(in.toDF(), keys = Seq("grp"), idCol = "id",
      scoreCol = "score", n = 1)
    val q = out.writeStream.format("memory").queryName("rtopn_int")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(IntScore("+I", "g", 10, 7), IntScore("+I", "g", 9, 7))
      q.processAllAvailable()
      val got = spark.sql("SELECT row_kind, id, rank_no FROM rtopn_int")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toList
      assert(got == List(("+I", 9, 1)))
    } finally q.stop()
  }
}
