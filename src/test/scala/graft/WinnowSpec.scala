package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Winnowing fingerprint guarantees (Schleimer et al.): every window
  * of W consecutive k-gram positions contains a selected fingerprint,
  * and each fingerprint is the rightmost minimum of some window.
  */
class WinnowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("t37: coverage + rightmost-min properties on real docs") {
    val fps = queries.TextOps.queries("t37_winnow_fingerprints")(spark, TestSpark.sfDir)
      .cache()
    val kg = spark.read.parquet(s"${queries.Staging.sideDir(TestSpark.sfDir)}/kgram_hashes")
    assert(fps.count() > 0)

    // fingerprint hash must be the kg hash at its position
    val mismatched = fps.join(kg,
        fps("doc_id") === kg("doc_id") && fps("fp_pos") === kg("pos"))
      .filter(fps("fp_hash") =!= kg("h")).count()
    assert(mismatched == 0)

    // coverage: every window start p in [0, cnt-W] has a fingerprint
    // within [p, p+W-1]
    val w = queries.TextOps.WinnowW
    val starts = kg.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), explode(sequence(lit(0), greatest(col("cnt") - w, lit(0)))).as("p"))
    val covered = starts.join(fps, Seq("doc_id"), "left")
      .filter(col("fp_pos").between(col("p"), col("p") + w - 1))
      .groupBy(col("doc_id"), col("p")).count()
    assert(starts.count() == covered.count(), "some window has no fingerprint")
    fps.unpersist()
  }

  test("winnowing picks the rightmost minimum on a hand-built doc") {
    // hashes engineered: positions 0..5, min value 1 appears at pos 1 and 3
    val kg = Seq((1L, 0, 10L), (1L, 1, 1L), (1L, 2, 5L), (1L, 3, 1L),
      (1L, 4, 7L), (1L, 5, 3L)).toDF("doc_id", "pos", "h")
    val w = 4
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val win = kg
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .withColumn("wmin", min(col("h")).over(frame))
      .filter(col("pos") <= greatest(col("cnt") - w, lit(0)))
      .select(col("doc_id"), col("pos").as("p"), col("wmin"))
    val sel = win.join(kg.select(col("doc_id"), col("pos").as("mpos"), col("h").as("wmin")),
        Seq("doc_id", "wmin"))
      .filter(col("mpos").between(col("p"), col("p") + w - 1))
      .groupBy(col("doc_id"), col("p"), col("wmin"))
      .agg(max(col("mpos")).as("fp_pos"))
      .select(col("doc_id"), col("fp_pos"), col("wmin").as("fp_hash"))
      .distinct().collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSet
    // windows: [0..3] min 1 rightmost at 3; [1..4] min 1 rightmost at 3;
    // [2..5] min 1 at 3 → single fingerprint (3, 1)
    assert(sel == Set((3, 1L)))
  }
}
