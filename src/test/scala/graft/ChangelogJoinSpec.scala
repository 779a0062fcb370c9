package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.ChangelogJoin

case class LRow(row_kind: String, seq: Long, k: String, lv: String)
case class RRow(row_kind: String, seq: Long, rk: String, rv: String)
case class BinRow(row_kind: String, seq: Long, k: String, payload: Array[Byte])

/** Retracting stream-stream join ITCase — the scenario shapes of the
  * reference's StreamingJoinOperator tests: inserts and retractions on
  * both sides, null-padding flips for left outer, multiset (duplicate
  * row) handling. Output is retract-encoded (+I/-D only).
  */
class ChangelogJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def L(kind: String, seq: Long, k: String, v: String) = LRow(kind, seq, k, v)
  private def R(kind: String, seq: Long, k: String, v: String) = RRow(kind, seq, k, v)

  private def runBatch(ls: Seq[LRow], rs: Seq[RRow], joinType: String) =
    ChangelogJoin(ls.toDF(), Seq("k"), rs.toDF(), Seq("rk"), "seq", joinType)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
                 Option(r.getString(4)).orNull))
      .toList // (kind, k, lv, rv)

  test("inner join: accumulate and retract on both sides") {
    val out = runBatch(
      Seq(L("+I", 1, "a", "l1"),          // no right yet → nothing
          L("+I", 4, "a", "l2"),          // right r1 present → +I(l2,r1)
          L("-D", 6, "a", "l1")),         // retract l1 → -D(l1,r1)
      Seq(R("+I", 2, "b", "rX"),          // other key → nothing
          R("+I", 3, "a", "r1"),          // joins l1 → +I(l1,r1)
          R("-D", 5, "b", "rX")),         // no left for b → nothing
      "inner")
    assert(out.sortBy(_._1) == List(
      ("+I", "a", "l1", "r1"),
      ("+I", "a", "l2", "r1"),
      ("-D", "a", "l1", "r1")).sortBy(_._1))
  }

  test("left outer join: null padding flips on first/last right row") {
    val out = runBatch(
      Seq(L("+I", 1, "a", "l1")),
      Seq(R("+I", 2, "a", "r1"),          // pad retracted, real pair in
          R("-D", 3, "a", "r1")),         // pair retracted, pad back
      "left")
    assert(out == List(
      ("+I", "a", "l1", null),
      ("-D", "a", "l1", null),
      ("+I", "a", "l1", "r1"),
      ("-D", "a", "l1", "r1"),
      ("+I", "a", "l1", null)))
  }

  test("full outer join: pads both sides, retracts pads when partner arrives") {
    val out = runBatch(
      Seq(L("+I", 2, "a", "l1")),         // right r1 already padded → flip
      Seq(R("+I", 1, "a", "r1"),
          R("+I", 3, "b", "rOnly")),      // never matched → stays padded
      "full")
    assert(out == List(
      ("+I", null, null, "r1"),           // right side padded first (k is left's key col: null)
      ("-D", null, null, "r1"),           // left arrives → retract right pad
      ("+I", "a", "l1", "r1"),
      ("+I", null, null, "rOnly")))
  }

  test("right outer join mirrors left outer") {
    val out = runBatch(
      Seq(L("+I", 2, "a", "l1"),
          L("-D", 3, "a", "l1")),
      Seq(R("+I", 1, "a", "r1")),
      "right")
    assert(out == List(
      ("+I", null, null, "r1"),           // no left yet → padded
      ("-D", null, null, "r1"),           // left arrives
      ("+I", "a", "l1", "r1"),
      ("-D", "a", "l1", "r1"),            // left retracted
      ("+I", null, null, "r1")))          // pad restored
  }

  test("update kinds: -U retracts, +U accumulates") {
    val out = runBatch(
      Seq(L("+I", 1, "a", "l1")),
      Seq(R("+I", 2, "a", "r1"),
          R("-U", 3, "a", "r1"),          // retract old version
          R("+U", 4, "a", "r2")),         // accumulate new version
      "inner")
    assert(out == List(
      ("+I", "a", "l1", "r1"),
      ("-D", "a", "l1", "r1"),
      ("+I", "a", "l1", "r2")))
  }

  test("duplicate rows are multiset-counted, orphan retraction ignored") {
    val out = runBatch(
      Seq(L("+I", 1, "a", "l1"),
          L("+I", 2, "a", "l1"),          // same values twice
          L("-D", 5, "a", "zz")),         // never inserted → ignored
      Seq(R("+I", 3, "a", "r1")),         // joins BOTH l1 copies
      "inner")
    assert(out == List(
      ("+I", "a", "l1", "r1"),
      ("+I", "a", "l1", "r1")))
  }

  test("keys of different widths join in their common type; no common type is rejected") {
    val left = Seq(("+I", 1L, 5, "l1")).toDF("row_kind", "seq", "k", "lv")
    val right = Seq(("+I", 2L, 5L, "r1")).toDF("row_kind", "seq", "rk", "rv")
    val out = ChangelogJoin(left, Seq("k"), right, Seq("rk"), "seq")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(4))).toList
    assert(out == List(("+I", "l1", "r1")), "INT 5 and BIGINT 5 are one key")
    val text = Seq(("+I", 2L, "5", "r1")).toDF("row_kind", "seq", "rk", "rv")
    val e = intercept[IllegalArgumentException](
      ChangelogJoin(left, Seq("k"), text, Seq("rk"), "seq"))
    assert(e.getMessage.contains("have no common type"))
  }

  test("streaming: state carries across micro-batches") {
    implicit val sc = spark.sqlContext
    val lin = MemoryStream[LRow]
    val rin = MemoryStream[RRow]
    val out = ChangelogJoin.streaming(
      lin.toDF(), Seq("k"), rin.toDF(), Seq("rk"), "seq", "left")
    val q = out.writeStream.format("memory").queryName("cljoin")
      .outputMode(OutputMode.Append).start()
    try {
      lin.addData(L("+I", 1, "a", "l1"))
      q.processAllAvailable()                       // +I(l1, null)
      rin.addData(R("+I", 2, "a", "r1"))
      q.processAllAvailable()                       // -D(l1,null) +I(l1,r1)
      rin.addData(R("-D", 3, "a", "r1"))
      q.processAllAvailable()                       // -D(l1,r1) +I(l1,null)
      val rows = spark.sql("SELECT row_kind, lv, rv FROM cljoin").collect()
        .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)).orNull))
        .toList
      assert(rows == List(
        ("+I", "l1", null),
        ("-D", "l1", null), ("+I", "l1", "r1"),
        ("-D", "l1", "r1"), ("+I", "l1", null)))
    } finally q.stop()
  }

  test("binary payloads: a retraction's fresh array instance matches state (r19 review)") {
    // Array[Byte] carries reference equality under Seq/map keys — the
    // canonical ByteBuffer wrap must make the -D (a NEW array instance
    // after deserialization) retract the +I that carried equal bytes
    val ls = Seq(
      BinRow("+I", 1, "a", Array[Byte](1, 2, 3)),
      BinRow("-D", 3, "a", Array[Byte](1, 2, 3)))
    val rs = Seq(R("+I", 2, "a", "r1"))
    val out = ChangelogJoin(ls.toDF(), Seq("k"), rs.toDF(), Seq("rk"), "seq", "inner")
      .collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]]("payload").toSeq, r.getString(4)))
      .toList
    assert(out == List(
      ("+I", Seq[Byte](1, 2, 3), "r1"),
      ("-D", Seq[Byte](1, 2, 3), "r1")),
      s"retraction must find the accumulated binary row: $out")
    // duplicate binary payloads are multiset-counted, not fragmented
    val dup = ChangelogJoin(
      Seq(BinRow("+I", 1, "a", Array[Byte](9)),
          BinRow("+I", 2, "a", Array[Byte](9)),
          BinRow("-D", 4, "a", Array[Byte](9))).toDF(), Seq("k"),
      Seq(R("+I", 3, "a", "r1")).toDF(), Seq("rk"), "seq", "inner")
      .collect().map(_.getString(0)).toList
    // +I(dup1,r1) +I(dup2,r1) on the right arrival... the right arrives
    // after both: 2 inserts, then one delete
    assert(dup.count(_ == "+I") == 2 && dup.count(_ == "-D") == 1, dup.toString)
  }
}
