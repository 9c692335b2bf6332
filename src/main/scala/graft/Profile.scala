package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Profiling / plan-audit main (not part of the driver contract):
  *  - `Profile <n> q <name1,name2,...>` runs each named query three times
  *    (bench shape: noop sink, cache clear and GC between reps) and prints
  *    its wall plus a per-stage task histogram;
  *  - `Profile <n> explain <name1,name2,...> [suffix]` writes each named
  *    query's formatted plan to `<plans dir>/<name>_<suffix>.txt`.
  * `<n>` is unused. The sf dir comes from SPARK_GRAFT_SF_DIR (default
  * sf0.1), the plans dir from SPARK_GRAFT_PLANS_DIR (default plans/r21).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 1) args(1) else ""
    if (!Seq("q", "explain").contains(mode) || args.length < 3) {
      System.err.println("usage: Profile <n> q <name1,name2,...>\n" +
        "       Profile <n> explain <name1,name2,...> [suffix]")
      sys.exit(2)
    }
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PART_SIZE", "64k"))
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // per-stage: task count, max task ms, sum task ms, sum GC ms
    val stageStats = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long, Long)]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          val gc = if (t.taskMetrics != null) t.taskMetrics.jvmGCTime else 0L
          stageStats.merge(t.stageId,
            (1, t.taskInfo.duration, t.taskInfo.duration, gc),
            (a, b) => (a._1 + b._1, math.max(a._2, b._2), a._3 + b._3, a._4 + b._4))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stageNames.put(s.stageInfo.stageId,
          s.stageInfo.name.takeWhile(_ != '\n').take(80))
    })

    def time[A](name: String)(f: => A): A = {
      stageStats.clear(); stageNames.clear()
      val t0 = System.nanoTime()
      val r = f
      println(f"$name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      // listener events arrive ASYNCHRONOUSLY on the bus — without a
      // settle, tail onTaskEnd/onStageCompleted events from the just-
      // timed job can be missed or bleed into the NEXT measurement, and
      // these histograms are diagnostic instruments (they re-diagnosed
      // the r14 PQ "straggler"). Same drain ScaleStress uses (ADVICE
      // r15; listenerBus.waitUntilEmpty is private[spark]).
      Thread.sleep(1500)
      import scala.jdk.CollectionConverters._
      stageStats.asScala.toSeq.sortBy(_._1).foreach { case (sid, (cnt, mx, sm, gc)) =>
        if (mx > 500 || sm > 2000)
          println(f"  stage $sid%4d tasks=$cnt%4d max=${mx / 1000.0}%7.1fs " +
            f"sum=${sm / 1000.0}%8.1fs gc=${gc / 1000.0}%8.1fs  " +
            stageNames.getOrDefault(sid, "?"))
      }
      r
    }

    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val picked = graft.SparkEntry.registry.filter(qq => names.exists(qq.name.contains))
    if (mode == "q") {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      picked.foreach { qq =>
        (1 to 3).foreach { i =>
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
          System.gc()
          time(s"${qq.name} rep$i") {
            qq.impl(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
        }
      }
    } else {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r21")
      val suffix = if (args.length > 3) args(3) else "after"
      picked.foreach { qq =>
        val plan = qq.impl(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(plansDir, s"${qq.name}_$suffix.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, plan)
        println(s"wrote $p (${plan.length} chars)")
      }
    }
    spark.stop()
  }
}
