package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      // native TIME type (Flink TIME(p) analog) — see sql/Ddl.scala
      .config("spark.sql.timeType.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs that `body` starts on this thread. Listener delivery is
    * asynchronous, so a tagged marker job closes the window: events of
    * one queue arrive in order, and the marker's end comes last.
    */
  def jobsDuring(body: => Unit): Int = {
    val tag = "graft.test.jobs"
    val started = new ConcurrentLinkedQueue[String]()
    val markerDone = new CountDownLatch(1)
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
}
