package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Staging

/** The r11 incident, reproduced and proven healed: a staged oracle side
  * table deleted mid-battery must NOT poison later queries that read it
  * through the JVM-lifetime path cache — the cache hit is only a hit if
  * the parquet files are still on disk.
  */
class StagingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = TestSpark.sfDir
  val sideBase = Staging.sideDir(sfDir)

  private def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmrf))
    p.delete(); ()
  }

  test("hasParquet: empty, missing, and non-parquet dirs are unhealthy") {
    assert(!Staging.hasParquet("/tmp/graft_oracle/definitely_not_there"))
    val d = java.nio.file.Files.createTempDirectory("graft_stage").toFile
    assert(!Staging.hasParquet(d.toString))
    val junk = new java.io.File(d, "_SUCCESS"); junk.createNewFile()
    assert(!Staging.hasParquet(d.toString))
    val empty = new java.io.File(d, "part-0.parquet"); empty.createNewFile()
    assert(!Staging.hasParquet(d.toString), "zero-byte parquet is not readable data")
    rmrf(d)
  }

  test("parquetOnce stages once, then reuses without re-running the writer") {
    var runs = 0
    val d = java.nio.file.Files.createTempDirectory("graft_stage2").toString + "/t"
    def stage(): String = Staging.parquetOnce("spec#once", d) { p =>
      runs += 1
      spark.range(5).coalesce(1).write.mode("overwrite").parquet(p)
    }
    assert(stage() == d && runs == 1)
    assert(stage() == d && runs == 1, "healthy staged dir must not re-run the writer")
    Staging.invalidate("spec#once")
    // cold cache but files present: getOrElse path misses, writer re-runs
    // (cheap, correct) — the guarantee under test is never-stale, not
    // never-rewrite
    assert(stage() == d && runs == 2)
  }

  test("r11 scenario: side dir deleted between n51 and n54 — n54 still green") {
    // n51 stages minhash_sigs + minhash_banded via the path cache
    val n51 = SparkEntry.queries("n51_minhash_dedup_clusters")(spark, sfDir)
    assert(n51.count() > 0)
    val banded = new java.io.File(s"$sideBase/minhash_banded")
    assert(Staging.hasParquet(banded.toString), "n51 must have staged the banded table")

    // the external cleaner strikes: both staged dirs vanish mid-battery
    rmrf(banded)
    rmrf(new java.io.File(s"$sideBase/minhash_sigs"))
    assert(!Staging.hasParquet(banded.toString))

    // n54 reads the banded table through the same cache — before the fix
    // this threw (engine side) or left the oracle reading a void (r11's
    // red row); now it re-stages and completes
    val n54 = SparkEntry.queries("n54_connected_components")(spark, sfDir)
    assert(n54.count() > 0, "n54 must self-heal after the side dir vanished")
    assert(Staging.hasParquet(banded.toString),
      "the banded table must be back on disk for the oracle to replay")

    // and n53 (which re-reads minhash_sigs through sigsTable) also heals
    rmrf(new java.io.File(s"$sideBase/minhash_sigs"))
    val n53 = SparkEntry.queries("n53_minhash_lsh_pairs")(spark, sfDir)
    assert(n53.count() >= 0)
    assert(Staging.hasParquet(s"$sideBase/minhash_sigs"))
  }

  test("fixture dirs that share a basename never share side tables") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("graft_same_base")
    val name = new java.io.File(sfDir).getName
    def fixture(parent: String): Path = {
      val d = Files.createDirectories(root.resolve(parent).resolve(name))
      new java.io.File(sfDir).listFiles().filter(_.getName != "documents.parquet")
        .foreach(f => Files.copy(f.toPath, d.resolve(f.getName)))
      d
    }
    val a = fixture("a")
    val b = fixture("b")
    Files.copy(Path.of(sfDir, "documents.parquet"), a.resolve("documents.parquet"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.orderBy("doc_id").limit((docs.count() / 2).toInt).coalesce(1)
      .write.parquet(b.resolve("documents.parquet").toString)

    def n51(d: Path): Seq[String] =
      SparkEntry.queries("n51_minhash_dedup_clusters")(spark, d.toString)
        .collect().map(_.toString).toSeq.sorted
    val first = n51(a)
    if (n51(b) == first) fail("half the corpus must cluster differently")
    val third = n51(a)
    if (third != first) fail("A read the side tables staged for B: " +
      s"${third.size} rows, ${first.size} on the first run")
    Seq(a, b).foreach(d => rmrf(new java.io.File(Staging.sideDir(d.toString))))
    rmrf(root.toFile)
  }

  // ---- r22: localCheckpoint block release -----------------------------

  test("checkpointWithHandles: releasing the handles frees the real blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val (cp, handles) = Staging.checkpointWithHandles(spark.range(100).toDF("id"))
    assert(handles.nonEmpty, "checkpoint must pin at least one RDD")
    assert(sc.getPersistentRDDs.size == before + handles.size)
    assert(cp.count() == 100)
    // Dataset.unpersist does NOT reach the blocks (the bug this fixes)
    cp.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.size == before + handles.size,
      "Dataset.unpersist must not have released the checkpoint (else the helper is redundant)")
    Staging.releaseCheckpoint(handles)
    // blocking=false: removal is async — poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.getPersistentRDDs.size != before && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.getPersistentRDDs.size == before, "release must drop the pinned RDDs")
  }

  test("checkpointSuperseding: a re-invocation frees the previous checkpoint, keeps the new one usable") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val cp1 = Staging.checkpointSuperseding("spec#supersede", spark.range(10).toDF("id"))
    assert(cp1.count() == 10)
    val cp2 = Staging.checkpointSuperseding("spec#supersede", spark.range(20).toDF("id"))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.getPersistentRDDs.size > before + 1 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.getPersistentRDDs.size == before + 1,
      "exactly one live checkpoint per site after supersession")
    assert(cp2.count() == 20, "the new checkpoint must remain fully usable")
    // leave the registry clean for other suites
    Staging.supersedeHandles("spec#supersede", Nil)
  }
}
