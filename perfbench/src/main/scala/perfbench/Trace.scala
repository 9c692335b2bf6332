package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are microseconds since the tracer started.
  * Spans of one run share the tracer's run id.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long)

/** What the listener keeps of one finished task (sizes in bytes). */
final case class TaskRec(job: Long, stage: Int, start: Long, end: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         input: Long, output: Long, outputRecords: Long)

/** Cumulative process counters, read around a query. */
final case class Counters(jitMs: Long, classes: Long, gcMs: Long,
                          codegen: Long, codegenUs: Long) {
  def -(o: Counters): Counters = Counters(jitMs - o.jitMs,
    classes - o.classes, gcMs - o.gcMs, codegen - o.codegen,
    codegenUs - o.codegenUs)
}

/** One traced query execution: its spans, and what it left pinned. */
final case class QueryTrace(pass: Int, query: Span, build: Span, exec: Span,
                            pinLeft: Int, pinMiB: Double, counters: Counters)

/** Spans, job/stage/task records and plan counts for the traced run.
  *
  * The benchmark loop opens run, pass, query, build and exec spans; each
  * Spark job is tagged with the span current when it was submitted (a
  * local property), and becomes a job span under it. Listener events
  * arrive asynchronously, so [[queryEnd]] waits for the bus to drain
  * before the next query starts. Everything stays in memory until
  * [[write]].
  */
final class Tracer(val runId: String) {
  import Tracer._

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def now: Long = (System.nanoTime() - nano0) / 1000
  private def fromWall(ms: Long): Long = (ms - wall0) * 1000

  private val ids = new AtomicLong(0)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val taskBuf = mutable.ArrayBuffer.empty[TaskRec]
  private val stageBuf = mutable.ArrayBuffer.empty[(Long, Int)] // (job span, stage)
  private val openJobs = mutable.Map.empty[Int, (Long, Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val planBuf = mutable.Map.empty[Long, Array[Long]]
  @volatile private var current = 0L // query span the plans belong to
  @volatile private var on = false

  def active: Boolean = on

  /** Runs `body` inside a span, recorded if the tracer was on when the
    * span opened.
    */
  def span[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val rec = on
    val start = now
    try body(id)
    finally if (rec) record(Span(id, parent, kind, name, start, now))
  }

  private def record(s: Span): Unit = spanBuf.synchronized(spanBuf += s)

  /** Makes `id` the span later jobs of this thread are tagged with. */
  def tag(spark: SparkSession, id: Long): Unit =
    if (on) spark.sparkContext.setLocalProperty(SpanKey, id.toString)

  def queryStart(id: Long): Unit = current = id

  /** Waits until every listener event of the finished query arrived. */
  def queryEnd(spark: SparkSession): Unit =
    if (on) {
      spark.sparkContext.setLocalProperty(SpanKey, null)
      ListenerBus.drain(spark.sparkContext)
      current = 0L
    }

  def counters(): Counters = Counters(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum,
    Codegen.count.get, Codegen.micros.get)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val id = ids.incrementAndGet()
      openJobs.synchronized {
        openJobs(e.jobId) = (id, parent, fromWall(e.time))
        e.stageIds.foreach(s => stageJob(s) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      openJobs.synchronized(openJobs.remove(e.jobId)).foreach {
        case (id, parent, start) =>
          record(Span(id, parent, "job", s"job ${e.jobId}", start, fromWall(e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val job = openJobs.synchronized(stageJob.getOrElse(e.stageInfo.stageId, 0L))
      stageBuf.synchronized(stageBuf += ((job, e.stageInfo.stageId)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val job = openJobs.synchronized(stageJob.getOrElse(e.stageId, 0L))
        val i = e.taskInfo
        val t = TaskRec(job, e.stageId, fromWall(i.launchTime), fromWall(i.finishTime),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
        taskBuf.synchronized(taskBuf += t)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = PlanWalk.counts(qe.executedPlan)
      planBuf.synchronized {
        val acc = planBuf.getOrElseUpdate(current, new Array[Long](c.length))
        c.indices.foreach(i => acc(i) += c(i))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    Codegen.install()
    on = true
  }

  def detach(spark: SparkSession): Unit = {
    ListenerBus.drain(spark.sparkContext)
    on = false
    Codegen.uninstall()
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  def tasks: Seq[TaskRec] = taskBuf.synchronized(taskBuf.toList)
  def stages: Seq[(Long, Int)] = stageBuf.synchronized(stageBuf.toList)
  def plans(query: Long): Array[Long] =
    planBuf.synchronized(planBuf.get(query).map(_.clone))
      .getOrElse(new Array[Long](PlanWalk.names.length))

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}","start_us":${s.start},"end_us":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Final-plan operator counts of one SQL execution, AQE stages and
    * subqueries included.
    */
  object PlanWalk extends AdaptiveSparkPlanHelper {
    val names: Seq[String] =
      Seq("plan.exchanges", "plan.smj", "plan.windows", "plan.broadcasts")

    def counts(plan: SparkPlan): Array[Long] = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      Array(
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
        nodes.count(_.isInstanceOf[SortMergeJoinExec]).toLong,
        nodes.count(_.isInstanceOf[WindowExec]).toLong,
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toLong)
    }
  }

  /** Counts Janino compiles and their time from the code generator's
    * "Code generated in <ms> ms" log line, while installed.
    */
  object Codegen {
    val count = new AtomicLong(0)
    val micros = new AtomicLong(0)
    private val logger =
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored

    private lazy val appender = {
      val a = new AbstractAppender("perfbench-codegen", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          e.getMessage.getFormattedMessage match {
            case pattern(ms) =>
              count.incrementAndGet()
              micros.addAndGet((ms.toDouble * 1000).round)
            case _ =>
          }
      }
      a.start()
      a
    }

    private def context = LogManager.getContext(false).asInstanceOf[LoggerContext]

    def install(): Unit = {
      val cfg = context.getConfiguration
      val lc = new LoggerConfig(logger, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(logger, lc)
      context.updateLoggers()
    }

    def uninstall(): Unit = {
      context.getConfiguration.removeLogger(logger)
      context.updateLoggers()
    }
  }
}
