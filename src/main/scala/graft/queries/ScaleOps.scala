package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-infrastructure operators — the plan shapes that matter at
  * 100 TB, demonstrated as oracle-gated queries:
  *
  *  - q69: bucketed co-located join. Both sides written with
  *    `bucketBy(N, key).sortBy(key)`; a join on the bucket key then
  *    needs NO Exchange and NO Sort on either side (the file layout IS
  *    the partitioning), and a follow-up groupBy on the same key reuses
  *    it too. This is how a nightly 100 TB fact⋈fact join avoids
  *    re-shuffling both inputs every run — shuffle once at write time,
  *    join shuffle-free forever after. `BucketedJoinSpec` asserts the
  *    zero-Exchange plan; the oracle checks the join result.
  *
  *  - q70: salted skew join ([[graft.ops.Skew.saltedJoin]]) — the
  *    manual fallback when one key holds >10% of the fact table and
  *    AQE's skew split isn't enough. The result is salt-invariant, so
  *    the oracle is the plain join.
  *
  *  - q71: approximate percentiles (Greenwald-Khanna via Spark's
  *    `percentile_approx`) — the only way to get quantiles of a 100 TB
  *    column in one pass without a global sort. Gate follows the q63
  *    APPROX_COUNT_DISTINCT pattern: the output carries data-computed
  *    contract booleans (observed rank of the approx value within
  *    ±2% of the target rank), which the oracle pins to true.
  *
  * Reference analogs: bucketed/pre-partitioned exchange elimination ≈
  * Flink's batch `GlobalPartitioner`/reuse of partitioning properties
  * (flink-table/flink-table-planner FlinkRelDistribution), skew
  * handling ≈ adaptive batch scheduler docs, percentiles ≈
  * PERCENT_RANK/approx aggs in the BuiltInFunctionDefinitions.
  */
object ScaleOps extends QueryModule {

  /** DECIMAL(12,2) sum emitted as DOUBLE — the oracle-parity shape for
    * sums of 2-dp money/quantity columns (see Relational.scala). */
  private def moneySum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast("decimal(12,2)")).cast("double")

  /** Write the bucketed orders/lineitem tables once per (JVM, SF dir);
    * returns the table-name suffix. Registers the external tables in
    * the session catalog on every call (cheap) so a fresh session in
    * the same JVM still resolves them.
    */
  private val bucketedStaged = scala.collection.concurrent.TrieMap[String, Boolean]()
  private def bucketedTables(s: SparkSession, dir: String): String = {
    val sf = new java.io.File(Staging.sideDir(dir)).getName.replace('.', '_')
    val base = s"${Staging.sideDir(dir)}/bucketed"
    // A cache hit is only a hit if the catalog entries AND the external
    // parquet files are both still present (Staging discipline): a /tmp
    // cleaner between runs would otherwise fail every later bucketed read.
    val key = dir + "@" + s.sparkContext.applicationId
    bucketedStaged.synchronized {
      val healthy = bucketedStaged.contains(key) &&
        s.catalog.tableExists(s"bkt_orders_$sf") &&
        s.catalog.tableExists(s"bkt_lineitem_$sf") &&
        Staging.hasParquet(s"$base/orders") &&
        Staging.hasParquet(s"$base/lineitem")
      if (!healthy) {
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$base/orders").saveAsTable(s"bkt_orders_$sf")
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$base/lineitem").saveAsTable(s"bkt_lineitem_$sf")
        bucketedStaged.put(key, true)
      }
    }
    sf
  }

  def declared: Seq[Query] = Seq(
    // ---- Bucketed co-located join -------------------------------------
    // The bucketed layout is written ONCE per (JVM, SF dir) — bucketing
    // is a write-time investment amortized over every later join; the
    // query itself is the production read path: join + same-key groupBy
    // with zero non-broadcast Exchange.
    Query("q69_bucketed_join",
      """SELECT o_orderkey, o_orderdate, count(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(max(o_totalprice) AS DOUBLE) AS total_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderdate""".stripMargin) { (s, dir) =>
      val sf = bucketedTables(s, dir)
      s.table(s"bkt_orders_$sf")
        .join(s.table(s"bkt_lineitem_$sf"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(count(lit(1)).as("n_items"),
          moneySum("l_quantity").as("sum_qty"),
          max(col("o_totalprice").cast("double")).as("total_price"))
    },

    // ---- Salted skew join ---------------------------------------------
    Query("q70_salted_join",
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin) { (s, dir) =>
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.Skew.saltedJoin(l, sup, "l_suppkey", buckets = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          moneySum("l_quantity").as("sum_qty"))
    },

    // ---- Small-file compaction ----------------------------------------
    // Fragment lineitem into 64 tiny files, compact to ~4 MB targets
    // clustered by shipdate, and read back. The oracle checks content
    // preservation (per-flag aggregate over the compacted copy equals
    // the same aggregate over the original table); CompactionSpec
    // asserts the file-count mechanics.
    Query("q72_compaction",
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val in = s"${Staging.sideDir(dir)}/compact_in"
      val out = s"${Staging.sideDir(dir)}/compact_out"
      // r21: fragment by HASH on the uniform orderkey instead of
      // keyless round-robin — a keyless repartition(n) pays a local
      // sort of its whole input so retried tasks reproduce the same
      // row→partition assignment (spark.sql.execution.
      // sortBeforeRepartition, SPARK-23207); hash partitioning is
      // deterministic per row, so the fragment write keeps
      // retry-safety WITHOUT the sort. Same 64 ~equal fragments
      // (l_orderkey is uniform), same compacted content — the oracle's
      // aggregate-equality gate is layout-independent.
      Tables.load(s, dir, "lineitem").repartition(64, col("l_orderkey"))
        .write.mode("overwrite").parquet(in)
      graft.ops.Compact.compact(s, in, out, targetBytes = 4L << 20,
        clusterBy = Seq("l_shipdate"))
      s.read.parquet(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          moneySum("l_extendedprice").as("sum_price"),
          moneySum("l_quantity").as("sum_qty"))
    },

    // ---- Approximate percentiles (one-pass, no global sort) -----------
    Query("q71_approx_quantiles",
      """SELECT l_returnflag, count(*) AS n,
        |  true AS ok_p50, true AS ok_p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val l = Tables.load(s, dir, "lineitem")
      val x = col("l_extendedprice").cast("double")
      val ap = l.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          percentile_approx(x, lit(0.5), lit(1000)).as("ap50"),
          percentile_approx(x, lit(0.95), lit(1000)).as("ap95"))
      l.select(col("l_returnflag"), x.as("x")).join(ap, "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          avg(when(col("x") <= col("ap50"), 1.0).otherwise(0.0)).as("f50"),
          avg(when(col("x") <= col("ap95"), 1.0).otherwise(0.0)).as("f95"))
        .select(col("l_returnflag"), col("n"),
          (col("f50") >= 0.48 && col("f50") <= 0.52).as("ok_p50"),
          (col("f95") >= 0.93 && col("f95") <= 0.97).as("ok_p95"))
    }
  )
}
