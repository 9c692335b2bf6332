package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One stage's counters over its finished tasks: task wall and GC in ms,
  * shuffle in bytes, and the first line of the stage name.
  */
final case class StageCounters(name: String, tasks: Int, maxTaskMs: Long, sumTaskMs: Long,
                               gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long) {
  def +(o: StageCounters): StageCounters = StageCounters(
    if (name.nonEmpty) name else o.name, tasks + o.tasks, math.max(maxTaskMs, o.maxTaskMs),
    sumTaskMs + o.sumTaskMs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes)
}

/** One [[Runner]] call: the body's value or error, its wall time, and
  * the counters of every stage that ran in it, by stage id.
  */
final case class Run[A](result: Either[Throwable, A], seconds: Double,
                        stages: Map[Int, StageCounters]) {
  def value: A = result.fold(e => throw e, identity)
  def tasks: Int = stages.values.map(_.tasks).sum
  def maxTaskMs: Long = stages.values.map(_.maxTaskMs).maxOption.getOrElse(0L)
  def shuffleReadBytes: Long = stages.values.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.values.map(_.shuffleWriteBytes).sum
}

/** The per-query loop of every harness main: GC, drain the listener bus,
  * start the clock, run the body, stop the clock, drain again and read
  * the counters, then release what the body left behind.
  *
  * Isolation: a query's pins (`localCheckpoint` blocks, persisted frames)
  * left to the ContextCleaner are freed at some later driver GC, and that
  * asynchronous cleanup, or a full GC of the previous query's garbage,
  * otherwise lands inside the next query's timed region (a 7.4× spike on
  * the query after a localCheckpoint-heavy one; a 2–30 s spread on the
  * ScaleStress classifier family). So after the clock stops, the runner
  * blocking-unpersists exactly the persistent RDDs that appeared while
  * the body ran (a snapshot before, a diff after: what was persisted
  * before the call survives), and before the clock starts it runs one GC.
  * Cached plans are released too when the cache held none before the
  * call; otherwise their blocks go with the RDDs and the entries stay.
  *
  * The drains make the counters exact: every task of the body, none of an
  * earlier one. One listener per runner keeps them.
  */
final class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val stages = new ConcurrentHashMap[Int, StageCounters]()

  private def add(stage: Int, c: StageCounters): Unit = stages.merge(stage, c, _ + _)

  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) {
        val m = Option(t.taskMetrics)
        val ms = t.taskInfo.duration
        add(t.stageId, StageCounters("", 1, ms, ms, m.fold(0L)(_.jvmGCTime),
          m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      add(s.stageInfo.stageId, StageCounters(s.stageInfo.name.takeWhile(_ != '\n').take(80),
        0, 0L, 0L, 0L, 0L, 0L))
  })

  def apply[A](body: => A): Run[A] = {
    System.gc()
    ListenerBus.drain(sc)
    stages.clear()
    val persisted = sc.getPersistentRDDs.keySet
    val cache = spark.sharedState.cacheManager
    val cacheWasEmpty = cache.isEmpty
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    ListenerBus.drain(sc)
    val counters = stages.asScala.toMap
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!persisted(id)) rdd.unpersist(blocking = true)
    }
    if (cacheWasEmpty && !cache.isEmpty) cache.clearCache()
    Run(result, seconds, counters)
  }
}
