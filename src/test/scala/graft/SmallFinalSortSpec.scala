package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Literal}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.plans.SmallFinalSort
import org.scalatest.funsuite.AnyFunSuite

/** `plans.SmallFinalSort`: a small global sort at the plan root sorts in
  * one partition, in the scan's own task when its input is a one-split
  * file scan; every other sort keeps its range exchange.
  */
class SmallFinalSortSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def executed(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** 2000 rows with repeated keys, in an order the sort must undo. */
  private def small: DataFrame =
    spark.range(0, 2000, 1, 4).select(
      (col("id") * 7919 % 500).as("k"), col("id"), (col("id") / 7.0).as("v"))

  test("a small final orderBy sorts in one partition and runs one job fewer") {
    def sorted = small.orderBy("k", "id")
    val (rows, jobs) = JobCount(spark.sparkContext)(sorted.collect().toSeq)
    val df = sorted
    df.collect()
    assert(!executed(df).contains("rangepartitioning"), executed(df))
    assert(executed(df).contains("SinglePartition"), executed(df))
    // the same query with the bound below its size keeps the range exchange
    val was = spark.conf.get(advisoryKey)
    spark.conf.set(advisoryKey, "1")
    val (rangeRows, rangeJobs) =
      try {
        val r = sorted
        val out = JobCount(spark.sparkContext)(r.collect().toSeq)
        assert(executed(r).contains("rangepartitioning"), executed(r))
        out
      } finally spark.conf.set(advisoryKey, was)
    assert(jobs === rangeJobs - 1)
    assert(rows === rangeRows)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ===
      (0L until 2000L).map(i => (i * 7919 % 500, i)).sorted)
  }

  test("a sort whose input estimate is above the advisory size keeps range partitioning") {
    // 20e9 longs: an estimate of 160 GB; the plan is built, never run
    val big = spark.range(0L, 20000000000L).select((col("id") % 1000).as("k"), col("id"))
      .orderBy("k")
    val plan = executed(big)
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("a sort over a Generate stage keeps range partitioning") {
    val df = spark.range(0, 20, 1, 4)
      .select(explode(sequence(lit(0L), col("id"))).as("x"))
      .orderBy("x")
    val rows = df.as[Long].collect().toSeq
    assert(executed(df).contains("Generate"), executed(df))
    assert(executed(df).contains("rangepartitioning"), executed(df))
    assert(rows === (0L until 20L).flatMap(i => 0L to i).sorted)
  }

  test("a sorted frame that is then joined keeps range partitioning") {
    // the nondeterministic id keeps the optimizer from dropping the sort
    val sorted = small.orderBy("k").withColumn("rid", monotonically_increasing_id())
    val df = sorted.join(small.select(col("id"), col("v").as("w")), "id")
    assert(df.count() === 2000L)
    assert(executed(df).contains("rangepartitioning"), executed(df))
  }

  test("a nondeterministic projection over the root sort keeps range partitioning") {
    val df = small.orderBy("k").withColumn("p", spark_partition_id())
    df.collect()
    assert(executed(df).contains("rangepartitioning"), executed(df))
  }

  test("a small sorted write skips the sampling job and writes one file, in order") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sorted")
    def write(to: String): Int =
      JobCount(spark.sparkContext)(small.orderBy("k", "id").write.parquet(to))._2
    val jobs = write(tmp.resolve("one").toString)
    val was = spark.conf.get(advisoryKey)
    spark.conf.set(advisoryKey, "1")
    val rangeJobs = try write(tmp.resolve("range").toString)
      finally spark.conf.set(advisoryKey, was)
    assert(jobs === rangeJobs - 1)
    val out = tmp.resolve("one").toString
    val files = new java.io.File(out).list().filter(_.endsWith(".parquet"))
    assert(files.length === 1, files.toSeq)
    assert(spark.read.parquet(out).collect().toSeq === small.orderBy("k", "id").collect().toSeq)
  }

  /** `small` written as one parquet file, read back. */
  private lazy val oneFile: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_one_split").resolve("t").toString
    small.coalesce(1).write.parquet(out)
    out
  }

  private def scanSorted: DataFrame =
    spark.read.parquet(oneFile).filter(col("v") > 1.0)
      .select(col("k"), col("id"), (col("v") * 2).as("w"))
      .orderBy("k", "id")

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val was = spark.conf.get(key)
    spark.conf.set(key, value)
    try f finally spark.conf.set(key, was)
  }

  /** Forces the same scan to several splits. */
  private def multiSplit[A](f: => A): A =
    withConf("spark.sql.files.maxPartitionBytes", "1024")(
      withConf("spark.sql.files.openCostInBytes", "0")(f))

  test("a small sort over a one-split file scan sorts in the scan task: no exchange, one job fewer") {
    val df = scanSorted
    val (rows, jobs) = JobCount(spark.sparkContext)(df.collect().toSeq)
    assert(!executed(df).contains("Exchange"), executed(df))
    assert(executed(df).contains("Coalesce 1"), executed(df))
    val (exchangeRows, exchangeJobs) = multiSplit {
      val m = scanSorted
      val out = JobCount(spark.sparkContext)(m.collect().toSeq)
      assert(executed(m).contains("SinglePartition"), executed(m))
      assert(!executed(m).contains("Coalesce"), executed(m))
      out
    }
    assert(jobs === exchangeJobs - 1)
    assert(rows === exchangeRows)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ===
      (0L until 2000L).filter(_ / 7.0 > 1.0).map(i => (i * 7919 % 500, i)).sorted)
  }

  test("a multi-split scan, a sort above the bound and a bucketed scan keep their exchange") {
    multiSplit {
      val plan = executed(scanSorted)
      assert(plan.contains("SinglePartition") && !plan.contains("Coalesce"), plan)
    }
    withConf(advisoryKey, "1") {
      val df = scanSorted
      df.collect()
      assert(executed(df).contains("rangepartitioning"), executed(df))
      assert(!executed(df).contains("Coalesce"), executed(df))
    }
    spark.sql("DROP TABLE IF EXISTS graft_sfs_bucketed")
    // one file in one bucket: one partition whether or not the planner
    // keeps the bucketed read
    small.repartition(1).write.bucketBy(1, "k").saveAsTable("graft_sfs_bucketed")
    try {
      val df = spark.table("graft_sfs_bucketed").orderBy("k", "id")
      val rows = df.collect().toSeq
      assert(executed(df).contains("SinglePartition") && !executed(df).contains("Coalesce"),
        executed(df))
      assert(rows === small.orderBy("k", "id").collect().toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sfs_bucketed")
  }

  test("a one-split scan with a dynamic-pruning filter keeps its exchange") {
    // the rule over the planned sort, after EnsureRequirements adds the
    // range exchange, with and without a pruning filter on the scan
    def ruled(pruning: Boolean): SparkPlan = {
      val planned = scanSorted.queryExecution.sparkPlan.transformUp {
        case f: FileSourceScanExec if pruning =>
          f.copy(partitionFilters = Seq(DynamicPruningExpression(Literal.TrueLiteral)))
      }
      SmallFinalSort(EnsureRequirements().apply(planned))
    }
    val plain = ruled(pruning = false)
    assert(plain.collectFirst { case c: CoalesceExec => c }.nonEmpty, plain)
    val pruned = ruled(pruning = true)
    assert(pruned.collectFirst { case c: CoalesceExec => c }.isEmpty, pruned)
    assert(pruned.collectFirst { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
      === Some(1), pruned)
  }
}
