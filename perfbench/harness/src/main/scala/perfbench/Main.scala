package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point (run through ../run.py).
  *
  * Args: --workload batch_light|stream_keyed --seed N
  *       --seconds S --trace 0|1 --data DIR --work DIR --expected FILE
  *
  * Prints progress to stderr and, as the last line of stdout, one JSON
  * object {"correct", "attempted", "failed", "metrics"}. With --trace 0
  * the metrics are the end-to-end set; with --trace 1 the per-layer set.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, expected: String)

  /** A metric value with its unit. */
  final case class M(value: Double, unit: String)

  /** Outcome of one workload run. */
  final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, M)]) {
    def correct: Boolean = failed == 0
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("expected"))
  }

  /** Spark threads: up to 4, leaving one core to the driver thread, GC
    * and (on the stream) the event generator. */
  def cores(): Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) - 1)

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = a.workload match {
      case "batch_light" => BatchWorkload.run(a)
      case "stream_keyed" => StreamWorkload.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val metrics = out.metrics.map { case (k, m) =>
      s""""$k":{"value":${num(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$metrics}""")
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is printed.
    sys.exit(0)
  }

  /** All digits of a double, as JSON (non-finite values become -1). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The fixed host-speed job graft.Bench uses, scaled down: xxhash64 over
    * a spark.range, median of three. */
  def calibrate(spark: SparkSession): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  })
}
