package graft

import java.lang.Double.doubleToLongBits
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Tables.{eventDay, events}
import graft.ops.Exact.{davg, gsum}
import graft.ops.Fills

/** q30 (`queries.Disaggregate`) pinned bit-exactly: every double is
  * compared as `doubleToLongBits`, against digests and rows recorded from
  * the join-plus-ffill form, and against that form itself, kept here as
  * the reference DAG: monthly aggregate, left join onto the month-start
  * day, forward fill within the month.
  */
class DisaggregateSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def reference(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(eventDay.as("day"))
      .agg(davg(col("value")).as("demand"), count(lit(1)).cast("double").as("n_ev"))
      .withColumn("mon", trunc(col("day"), "month"))
    val monthly = daily
      .groupBy(col("mon"))
      .agg(gsum(col("demand")).as("mon_demand"), gsum(col("n_ev")).as("mon_total"))
      .withColumnRenamed("mon", "mon_key")
    daily.join(monthly, col("day") === col("mon_key"), "left_outer")
      .withColumn("mon_demand_f",
        Fills.ffill(col("mon_demand"), Seq(col("mon")), Seq(col("day")), None))
      .withColumn("mon_total_f",
        Fills.ffill(col("mon_total"), Seq(col("mon")), Seq(col("day")), None))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("demand"),
        date_format(col("mon"), "yyyy-MM-dd").as("mon"),
        col("mon_demand_f").as("mon_demand"),
        (col("demand") / col("mon_demand_f")).as("share"),
        (col("mon_total_f") * (col("demand") / col("mon_demand_f"))).as("disagg"))
      .orderBy("day")
  }

  /** One row as text, doubles as their IEEE bits, nulls as "null". */
  private def bits(df: DataFrame): Seq[String] = df.collect().toSeq.map { r: Row =>
    (0 until r.length).map { i =>
      if (r.isNullAt(i)) "null"
      else r.get(i) match {
        case d: Double => doubleToLongBits(d).toString
        case v => v.toString
      }
    }.mkString("|")
  }

  private def sha256(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  // (sf dir, rows, sha256 of the bit rows), recorded from the reference form
  private val pinned = Seq(
    ("/root/testdata/sf0.001", 30,
      "85b1aef5ced1b77300d2db597d71bc59d39ab63abec3dda5fa99345bd6cb5535"),
    ("/root/testdata/sf0.01", 30,
      "3e3d414c2cf1025824a8cae9b4b827ae34455fe2cbf615c379b828b737fd7aff"))

  test("q30 output is pinned bit-exactly on sf0.001 and sf0.01") {
    pinned.foreach { case (dir, n, digest) =>
      val got = bits(queries.Disaggregate.query(spark, dir))
      assert(got === bits(reference(spark, dir)), dir)
      assert((got.size, sha256(got)) === ((n, digest)), dir)
    }
  }

  test("q30 fixture: empty month start, first-day-only month, null values") {
    def ns(day: String, hour: Int): Long =
      (java.time.LocalDate.parse(day).toEpochDay * 86400L + hour * 3600L) * 1000000000L
    val ev = Seq[(String, Int, java.lang.Double)](
      // January: its first day has no events, so no monthly figures
      ("2024-01-02", 1, 0.1), ("2024-01-02", 5, 0.2), ("2024-01-05", 3, 1.0 / 3),
      // February: only its first day
      ("2024-02-01", 0, 1.5), ("2024-02-01", 23, 2.25),
      // March: a null value beside a number, and a day of nulls only
      ("2024-03-01", 2, 4.0), ("2024-03-01", 4, null), ("2024-03-02", 6, 0.7),
      ("2024-03-10", 7, null), ("2024-03-10", 8, null),
      // April: its first day carries only nulls
      ("2024-04-01", 9, null), ("2024-04-03", 1, 2.5), ("2024-04-03", 2, 0.3))
      .map { case (d, h, v) => (ns(d, h), v) }.toDF("ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_q30").toString
    ev.coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = bits(queries.Disaggregate.query(spark, dir))
    assert(got === bits(reference(spark, dir)))
    assert(got === Seq(
      "2024-01-02|4594572339843380019|2024-01-01|null|null|null",
      "2024-01-05|4599676413416267078|2024-01-01|null|null|null",
      "2024-02-01|4611123068473966592|2024-02-01|4611123068473966592|4607182418800017408|4611686018427387904",
      "2024-03-01|4616189618054758400|2024-03-01|4616977747989548237|4605840921038673005|4616477081860760772",
      "2024-03-02|4604480259023595110|2024-03-01|4616977747989548237|4594534011335913036|4604882708351998431",
      "2024-03-10|null|2024-03-01|4616977747989548237|null|null",
      "2024-04-01|null|2024-04-01|4608983858650965606|null|null",
      "2024-04-03|4608983858650965606|2024-04-01|4608983858650965606|4607182418800017408|4613937818241073152"))
  }
}
