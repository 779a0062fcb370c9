package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness. `kind` is the span level: "pass",
  * "query" or "op", then "build"/"exec"/"paced"/"drain". Times are epoch
  * milliseconds with a fractional part. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, var endMs: Double = Double.NaN)

/** Work of one Spark job, summed over its tasks. */
final class JobRec(val jobId: Int, val span: Long, val callSite: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages, tasks = 0L
  var cpuNs, gcMs, shuffleWrite, shuffleRead, input, spill = 0L
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
}

/** One planned query execution (from the QueryExecutionListener). */
final case class PlanRec(startMs: Long, planS: Double, exchanges: Int, joins: Int,
                         aggregates: Int, scans: Int)

/** The traced run's instruments: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (Catalyst phases and final-plan shape) and a
  * StreamingQueryListener (micro-batch progress). They are attached from
  * here and change no program code. Spans are kept in memory and written
  * out once, at the end of the run. Jobs are attributed to the span that
  * submitted them through a thread-local property. */
final class Trace(spark: SparkSession) {
  private val nextId = new AtomicLong(1L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())
  private val current = new AtomicReference[Span](null)

  private val CallSite = """ at ([\w$.\-]+)\.(?:scala|java):\d+""".r.unanchored
  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val site = result match { case CallSite(f) => f; case _ => "?" }
      val rec = new JobRec(e.jobId, span, site, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time); touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1)); touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).foreach { j => j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.input += m.inputMetrics.bytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }}
      touch()
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val names = Seq("analysis", "optimization", "planning")
      val planMs = names.flatMap(ph.get).map(_.durationMs).sum
      val start = names.flatMap(ph.get).map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      val s = Trace.shape(qe.executedPlan)
      plans.add(PlanRec(start, planMs / 1e3, s._1, s._2, s._3, s._4))
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); touch()
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until listener events stop arriving and every started job has
    * ended (listener delivery is asynchronous). */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def open = jobs.values.asScala.exists(_.endMs < 0)
    while (System.currentTimeMillis() < deadline &&
      (open || System.currentTimeMillis() - lastEventMs.get < 300L)) Thread.sleep(50L)
  }

  /** Runs `body` inside a new span; jobs it submits are attributed to it. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val parent = current.get
    val sp = Span(nextId.getAndIncrement(), if (parent == null) 0L else parent.id, kind, name,
      Trace.nowMs())
    spans.synchronized(spans += sp)
    current.set(sp)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Trace.SpanProp)
    sc.setLocalProperty(Trace.SpanProp, sp.id.toString)
    try body
    finally {
      sp.endMs = Trace.nowMs()
      sc.setLocalProperty(Trace.SpanProp, prevProp)
      current.set(parent)
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Jobs whose span is `s` or one of its descendants. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val byParent = allSpans.groupBy(_.parent)
    def ids(id: Long): Seq[Long] = id +: byParent.getOrElse(id, Nil).flatMap(c => ids(c.id))
    val set = ids(s.id).toSet
    jobs.values.asScala.filter(j => set(j.span)).toSeq
  }

  /** Plans whose Catalyst phases started inside span `s`. */
  def plansIn(s: Span): Seq[PlanRec] =
    plans.asScala.filter(p => p.startMs >= s.startMs - 1 && p.startMs <= s.endMs + 1).toSeq

  /** Writes every span, job and plan as JSON lines. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      allSpans.foreach { s =>
        w.println(f"""{"span":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
          f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      }
      jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
        w.println(s"""{"job":${j.jobId},"span":${j.span},"call_site":"${j.callSite}",""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages},"tasks":${j.tasks},""" +
          s""""cpu_ns":${j.cpuNs},"gc_ms":${j.gcMs},"shuffle_write":${j.shuffleWrite},""" +
          s""""shuffle_read":${j.shuffleRead},"input":${j.input},"spill":${j.spill}}""")
      }
      plans.asScala.foreach { p =>
        w.println(s"""{"plan_start_ms":${p.startMs},"plan_s":${p.planS},"exchanges":${p.exchanges},""" +
          s""""joins":${p.joins},"aggregates":${p.aggregates},"scans":${p.scans}}""")
      }
    } finally w.close()
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  val SpanProp = "perfbench.span"

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Wall-clock epoch milliseconds at nanosecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** (exchanges, joins, aggregates, scans) of a final physical plan,
    * looking through adaptive query stages and subqueries. */
  def shape(plan: SparkPlan): (Int, Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[BaseJoinExec]),
      nodes.count(_.isInstanceOf[BaseAggregateExec]),
      nodes.count {
        case _: QueryStageExec | _: ReusedExchangeExec => false
        case _: LeafExecNode => true
        case _ => false
      })
  }
}
