package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** `Tables` resolves each table path's parquet schema once per file
  * version per JVM. Every case reads from its own fresh copy of the
  * sf0.001 fixtures, so no other suite can have warmed the catalog for
  * these paths first.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCopy(): String = {
    val dir = Files.createTempDirectory("graft_tables")
    Tables.names.foreach { n =>
      val f = s"$n.parquet"
      Files.copy(Path.of(TestSpark.sfDir, f), dir.resolve(f))
    }
    dir.toString
  }

  /** Jobs that `body` starts on this thread. Listener delivery is
    * asynchronous, so a tagged marker job closes the window: events of
    * one queue arrive in order, and the marker's end comes last.
    */
  private def jobsDuring(body: => Unit): Int = {
    val tag = "graft.test.tables"
    val started = new ConcurrentLinkedQueue[String]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val markerIds = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach {
          case "marker" => markerIds.add(e.jobId)
          case t => started.add(t)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.contains(e.jobId)) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerDone.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      started.size
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("cached loads match a plain parquet read for every table; events.ts stays TimestampType") {
    val dir = freshCopy()
    for (n <- Tables.names) {
      val plain = spark.read.parquet(s"$dir/$n.parquet")
      val loaded = Tables.load(spark, dir, n)
      if (n == "events") {
        // ts goes through the physical-type dispatch; the rest is as read
        assert(loaded.schema("ts").dataType == TimestampType)
        assert(loaded.schema.fieldNames.toSeq == plain.schema.fieldNames.toSeq)
        assert(loaded.schema.filterNot(_.name == "ts") == plain.schema.filterNot(_.name == "ts"))
      } else assert(loaded.schema == plain.schema, s"$n schema differs from a plain read")
      assert(loaded.count() == plain.count(), s"$n row count differs from a plain read")
    }
  }

  test("only the first load of a path infers: the next load runs no Spark job") {
    val dir = freshCopy()
    val first = jobsDuring(Tables.load(spark, dir, "orders"))
    assert(first >= 1, "the first load must infer the schema from the footer")
    val second = jobsDuring(Tables.load(spark, dir, "orders"))
    assert(second == 0, s"a cached load ran $second Spark job(s)")
    val all = jobsDuring(Tables.registerAll(spark, dir))
    assert(all >= Tables.names.size - 1, "each table not yet loaded infers once")
    assert(jobsDuring(Tables.registerAll(spark, dir)) == 0)
  }

  test("a file rewritten at the same path with other columns is re-inferred") {
    val dir = freshCopy()
    assert(Tables.load(spark, dir, "region").columns.contains("r_name"))
    val tmp = Files.createTempDirectory("graft_tables_rewrite").resolve("out").toString
    spark.range(5).selectExpr("id AS x", "cast(id AS string) AS y")
      .coalesce(1).write.parquet(tmp)
    val part = Files.list(Path.of(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Path.of(dir, "region.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val reloaded = Tables.load(spark, dir, "region")
    assert(reloaded.columns.toSeq == Seq("x", "y"), s"stale schema: ${reloaded.columns.toSeq}")
    assert(reloaded.count() == 5)
  }

  test("concurrent loads from several threads all get the right schema") {
    val reference = freshCopy()
    val expected: Map[String, StructType] =
      Tables.names.map(n => n -> Tables.load(spark, reference, n).schema).toMap
    val dir = freshCopy()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val loads = for (_ <- 1 to 4; n <- Tables.names) yield
        Future(n -> Tables.load(spark, dir, n).schema)
      Await.result(Future.sequence(loads), 5.minutes).foreach { case (n, s) =>
        assert(s == expected(n), s"$n loaded with a wrong schema under concurrency")
      }
    } finally pool.shutdown()
  }
}
