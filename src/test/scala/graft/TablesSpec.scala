package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.Executors
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
  import TestSpark.jobsDuring
  lazy val spark = TestSpark.spark

  private def freshCopy(): String = {
    val dir = Files.createTempDirectory("graft_tables")
    Tables.names.foreach { n =>
      val f = s"$n.parquet"
      Files.copy(Path.of(TestSpark.sfDir, f), dir.resolve(f))
    }
    dir.toString
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

  test("loading events keeps the schemas of the tables loaded before it cached") {
    val dir = freshCopy()
    val s = spark.newSession()
    Tables.load(s, dir, "region")
    Tables.load(s, dir, "events")
    val again = jobsDuring(Tables.load(s, dir, "region"))
    assert(again == 0, s"region was inferred again ($again Spark job(s)) after events")
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

  /** Replaces `dir`'s region table with five rows of columns (x, y). */
  private def rewriteRegion(dir: String): Unit = {
    val tmp = Files.createTempDirectory("graft_tables_rewrite").resolve("out").toString
    spark.range(5).selectExpr("id AS x", "cast(id AS string) AS y")
      .coalesce(1).write.parquet(tmp)
    val part = Files.list(Path.of(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Path.of(dir, "region.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def views(s: org.apache.spark.sql.SparkSession) =
    Tables.names.map(n => s.sessionState.catalog.getRawTempView(n).get)

  test("a second registerAll on unchanged files keeps the same view objects") {
    val dir = freshCopy()
    val s = spark.newSession()
    Tables.registerAll(s, dir)
    val first = views(s)
    Tables.registerAll(s, dir)
    Tables.names.zip(first).zip(views(s)).foreach { case ((n, a), b) =>
      assert(a eq b, s"$n was registered again over unchanged files")
    }
    // another directory is other files: every view is registered again
    Tables.registerAll(s, freshCopy())
    Tables.names.zip(first).zip(views(s)).foreach { case ((n, a), b) =>
      assert(a ne b, s"$n kept the view of the other directory")
    }
  }

  test("a view the user replaced or dropped is registered again") {
    val dir = freshCopy()
    val s = spark.newSession()
    Tables.registerAll(s, dir)
    val regions = s.table("region").count()
    s.range(3).createOrReplaceTempView("orders")
    s.catalog.dropTempView("region")
    Tables.registerAll(s, dir)
    assert(s.table("orders").columns.contains("o_orderkey"))
    assert(s.table("region").count() == regions)
  }

  test("a file rewritten in place is re-read by the next registerAll") {
    val dir = freshCopy()
    val s = spark.newSession()
    Tables.registerAll(s, dir)
    assert(s.table("region").columns.contains("r_name"))
    rewriteRegion(dir)
    Tables.registerAll(s, dir)
    assert(s.table("region").columns.toSeq == Seq("x", "y"))
    assert(s.table("region").count() == 5)
  }
}
