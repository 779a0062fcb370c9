package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Mirrors the reference's catalog surface (Flink `TableEnvironment`
  * registered tables, /root/reference/flink-table/flink-table-api-java/
  * src/main/java/org/apache/flink/table/api/internal/TableEnvironmentImpl.java)
  * as plain parquet reads — Catalyst handles filter/projection pushdown
  * into the scan, so every query should read only the columns/rows it
  * needs (verify via `.explain`: PushedFilters / ReadSchema).
  *
  * Like Flink's catalog, which resolves a table's schema once at
  * registration and plans every query against the stored schema, each
  * table path's schema is inferred from the parquet footer once per
  * file version per JVM and every load reads through
  * `spark.read.schema(s)`: a load without a schema runs a Spark job
  * over the footer, one with a schema runs none. The catalog holds
  * metadata only: files are still listed and read on every query.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings that change what parquet inference returns for
    * the same files; they are part of a cached schema's fingerprint.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** path → (fingerprint of its files and the inference settings,
    * schema inferred from them). A changed fingerprint replaces the
    * entry; concurrent misses may both infer, and either result stands.
    */
  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]()

  /** Name, length and modification time of every file under `path`,
    * plus the inference settings in force.
    */
  private def fingerprint(spark: SparkSession, path: String): Seq[Any] = {
    val p = new Path(path)
    val files = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
    val b = Seq.newBuilder[Any]
    while (files.hasNext) {
      val f = files.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b ++= inferenceConfs.map(spark.conf.getOption)
    b.result()
  }

  private def read(spark: SparkSession, path: String): DataFrame = {
    val fp = fingerprint(spark, path)
    val schema = catalog.get(path) match {
      case (`fp`, s) => s
      case _ =>
        val s = spark.read.parquet(path).schema
        catalog.put(path, (fp, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // The driver has shipped events.ts under three parquet physical
      // types across fixture generations: TIMESTAMP(NANOS) (readable only
      // as int64 behind nanosAsLong), TIMESTAMP(MICROS, adjustedToUTC=0)
      // (reads as TIMESTAMP_NTZ), and plain TIMESTAMP. Dispatch on the
      // loaded schema so a fixture regeneration can't break every events
      // query at analysis time again.
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType => // int64 nanos; µs-granular data, truncation lossless
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => // session TZ is UTC, so values match the oracle
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => raw
        case other =>
          throw new IllegalStateException(
            s"events.ts has unexpected type $other — adapt Tables.load")
      }
    } else read(spark, s"$dir/$name.parquet")

  /** Register all tables as temp views so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
