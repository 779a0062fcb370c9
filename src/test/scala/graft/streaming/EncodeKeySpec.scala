package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** State keys are the key columns themselves, so two keys are one key
  * exactly when their content is equal — for ANY column type, NULLs
  * included (the reference keys state by binary rows, BinaryRowData,
  * which behave the same way). Each case drives real keyed ops
  * through a memory stream, one row per micro-batch so every key
  * comparison after the first goes through the state store, on both
  * state-store providers: `keepFirstStreaming` (event-time order)
  * emits a key's row once, and `retractGroupAgg` emits cnt = 1 the
  * first time it sees a key.
  */
class EncodeKeySpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val Providers = Seq(
    "default" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private var queries = 0

  /** The key rows, each followed by ts (row i at second i), v = 1.0
    * and an insert row kind. */
  private def input(keyFields: Seq[StructField], keys: Seq[Row]): (StructType, Seq[Row]) = {
    val schema = StructType(keyFields ++ Seq(
      StructField("ts", TimestampType), StructField("v", DoubleType),
      StructField(Changelog.KindCol, StringType)))
    val rows = keys.zipWithIndex.map { case (k, i) =>
      Row.fromSeq(k.toSeq ++ Seq(new Timestamp(i * 1000L), 1.0, Changelog.Insert))
    }
    (schema, rows)
  }

  /** Every emitted row of `op` over `rows`, one row per micro-batch. */
  private def stream(schema: StructType, rows: Seq[Row], provider: String)(
      op: DataFrame => DataFrame): Seq[Row] = {
    implicit val sc = spark.sqlContext
    spark.conf.set(ProviderConf, provider)
    try {
      val in = MemoryStream[Row](StatefulOps.rowEnc(schema), sc)
      queries += 1
      val name = s"keys_$queries"
      val q = op(in.toDF()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        rows.foreach { r => in.addData(r); q.processAllAvailable() }
        spark.table(name).collect().toSeq
      } finally q.stop()
    } finally spark.conf.unset(ProviderConf)
  }

  /** Both ops, on both providers, must see `expected` distinct keys. */
  private def assertKeys(keyFields: Seq[StructField], keys: Seq[Row], expected: Long): Unit = {
    val (schema, rows) = input(keyFields, keys)
    val names = keyFields.map(_.name)
    Providers.foreach { case (label, provider) =>
      val first = stream(schema, rows, provider)(StatefulOps.keepFirstStreaming(_, names, "ts"))
      assert(first.size == expected, s"keepFirstStreaming on $label emitted $first")
      val agg = stream(schema, rows, provider)(Changelog.retractGroupAgg(_, names, "v"))
      assert(agg.count(_.getAs[Long]("cnt") == 1L) == expected,
        s"retractGroupAgg on $label emitted $agg")
    }
  }

  private val twoStrings = Seq(StructField("a", StringType), StructField("b", StringType))

  test("null key value does not collide with the string \"null\"") {
    assertKeys(twoStrings, Seq(Row(null, "x"), Row("null", "x"), Row(null, "x")), 2)
  }

  test("(\"ab\",\"c\") and (\"a\",\"bc\") are two keys, separators inside values too") {
    assertKeys(twoStrings,
      Seq(Row("ab", "c"), Row("a", "bc"), Row("a|b", "c"), Row("a", "b|c")), 4)
  }

  test("null in different positions stays distinct") {
    assertKeys(twoStrings, Seq(Row(null, "x"), Row("x", null), Row(null, null)), 3)
  }

  test("two equal-content BINARY keys are one key") {
    // separate array instances: identity-based equality would split them
    assertKeys(Seq(StructField("b", BinaryType)),
      Seq(Row(Array[Byte](1, 2)), Row(Array[Byte](1, 2)), Row(Array[Byte](1, 3))), 2)
  }

  test("struct keys (\"a,b\",\"c\") and (\"a\",\"b,c\") are two keys") {
    val st = StructType(Seq(StructField("x", StringType), StructField("y", StringType)))
    assertKeys(Seq(StructField("s", st)),
      Seq(Row(Row("a,b", "c")), Row(Row("a", "b,c")), Row(Row("a,b", "c"))), 2)
  }

  test("ARRAY keys group by content") {
    // Seq("a", "b") and Seq("a, b") print alike; as values they differ
    assertKeys(Seq(StructField("arr", ArrayType(StringType))),
      Seq(Row(Seq("a", "b")), Row(Seq("a", "b")), Row(Seq("a, b"))), 2)
  }

  test("0.0 and -0.0 group exactly as the batch keepFirst groups them") {
    def asBatch(fields: Seq[StructField], keys: Seq[Row]): Unit = {
      val (schema, rows) = input(fields, keys)
      val batch = StatefulOps.keepFirst(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        fields.map(_.name), "ts").count()
      assert(batch == 2L) // Spark folds -0.0 into 0.0 for batch keys
      assertKeys(fields, keys, batch)
    }
    asBatch(Seq(StructField("d", DoubleType)), Seq(Row(0.0), Row(-0.0), Row(1.0)))
    // nested inside a struct key too
    asBatch(Seq(StructField("s", StructType(Seq(StructField("d", DoubleType))))),
      Seq(Row(Row(0.0)), Row(Row(-0.0)), Row(Row(1.0))))
  }
}
