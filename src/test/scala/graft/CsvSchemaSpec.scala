package graft

import java.nio.file.{Files, Path}
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Csv

/** `Csv.scan` without a schema: a one-split input gets the schema Spark's
  * `inferSchema` gives, learned on the driver with no job; any other input
  * keeps Spark's inference. `Csv.skipPreamble` takes its header on the
  * driver and keeps Spark's names and rows.
  */
class CsvSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def file(dir: Path, name: String, content: String): String = {
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  private def sparkInferred(path: String, header: Boolean): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  /** name -> content: the shapes the driver-side inference must agree on. */
  private val fixtures = Seq(
    "empty" -> "",
    "header_only" -> "a,b,c\n",
    "quoted" -> "name,note\n\"Smith, J\",\"say \"\"hi\"\", then go\"\n\"x,y\",z\n",
    "empty_and_null_cells" -> "a,b,c\n1,,3\n,2,\n4,5,\n",
    "typed" ->
      ("i,l,dec,d,b,dt,ts\n" +
        "1,3000000000,12345678901234567890.5,1.5,true,2024-01-02,2024-01-02 03:04:05\n" +
        "-2,-4,1.25,2e10,false,2023-12-31,2024-02-29T10:00:00\n" +
        "3,5,0.001,NaN,TRUE,2020-02-29,2020-02-29 23:59:59.123\n"),
    "widening" -> "x,y\n1,2024-01-01\n2.5,notadate\n,\n",
    "dup_and_empty_names" -> "a,A,a,,b,\n1,2,3,4,5,6\n",
    "ragged_rows" -> "a,b,c\n1,2\n3,4,5,6\n",
    "blank_lines_crlf_header_repeat" -> "\r\n  \r\nk,v\r\n1,x\r\n\r\nk,v\r\n2,y\r\n\t\r\n")

  test("a one-split file's schema and rows equal Spark's inferSchema, header on and off") {
    val dir = Files.createTempDirectory("graft_csv_schema")
    for ((name, content) <- fixtures; header <- Seq(true, false)) {
      val path = file(dir, s"$name.csv", content)
      val want = sparkInferred(path, header)
      val got = Csv.scan(spark, path, header = header)
      assert(got.schema === want.schema, s"$name header=$header")
      assert(got.collect().toSeq === want.collect().toSeq, s"$name header=$header")
    }
  }

  test("a written directory (one part file, _SUCCESS, .crc files) resolves on the driver") {
    val out = Files.createTempDirectory("graft_csv_dir").resolve("t").toString
    Csv.sink(Seq((1L, "a", 2.5), (2L, "b,c", -1.0)).toDF("id", "s", "v"), out)
    val names = new java.io.File(out).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    val (schema, jobs) = JobCount(spark.sparkContext)(Csv.scan(spark, out).schema)
    assert(jobs === 0)
    assert(schema === sparkInferred(out, header = true).schema)
    assert(Csv.scan(spark, out).orderBy("id").collect().toSeq ===
      sparkInferred(out, header = true).orderBy("id").collect().toSeq)
  }

  test("a one-split scan and scanWithDates start no job; Spark's inference starts some") {
    val path = file(Files.createTempDirectory("graft_csv_jobs"), "t.csv",
      "id,od\n1,2024-01-02\n2,2024-03-04\n")
    assert(JobCount(spark.sparkContext)(Csv.scan(spark, path).schema)._2 === 0)
    assert(JobCount(spark.sparkContext)(
      Csv.scanWithDates(spark, path, Seq("od")).schema)._2 === 0)
    assert(JobCount(spark.sparkContext)(sparkInferred(path, header = true).schema)._2 > 0)
  }

  /** Asserts `path` keeps Spark's inference: the scan starts jobs, and its
    * schema and rows are Spark's.
    */
  private def keepsSparkInference(path: String): Unit = {
    val (df, jobs) = JobCount(spark.sparkContext)(Csv.scan(spark, path))
    assert(jobs > 0, path)
    val want = sparkInferred(path, header = true)
    assert(df.schema === want.schema, path)
    assert(df.collect().toSet === want.collect().toSet, path)
  }

  test("two files, a partitioned directory and an over-split file keep Spark's inference") {
    val two = Files.createTempDirectory("graft_csv_two")
    file(two, "a.csv", "id,v\n1,1.5\n")
    file(two, "b.csv", "id,v\n2,x\n")
    keepsSparkInference(two.toString)
    keepsSparkInference(two.toString + "/*.csv")

    val parted = Files.createTempDirectory("graft_csv_parted").resolve("t").toString
    Csv.sinkPerFile(Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "s", "p"), "p", parted)
    keepsSparkInference(parted)

    val big = file(Files.createTempDirectory("graft_csv_big"), "t.csv",
      "id,v\n" + (1 to 200).map(i => s"$i,${i * 0.5}").mkString("\n") + "\n")
    val key = "spark.sql.files.maxPartitionBytes"
    val was = spark.conf.get(key)
    spark.conf.set(key, "256")
    try keepsSparkInference(big)
    finally spark.conf.set(key, was)
  }

  test("skipPreamble keeps Spark's deduped names and drops every line equal to the header") {
    val path = file(Files.createTempDirectory("graft_csv_pre"), "export.csv",
      "EIA export\nunits: none\n\nid,name,id\n1,a,x\nid,name,id\n\n2,\"b, c\",y\n")
    // the form without the driver-side header: Spark takes it with a job
    def sparkForm = {
      val lines = spark.sparkContext.textFile(path).zipWithIndex()
        .filter { case (_, i) => i >= 2 }.map(_._1)
      spark.read.option("header", "true").csv(spark.createDataset(lines))
    }
    val (got, jobs) = JobCount(spark.sparkContext)(Csv.skipPreamble(spark, path, 2))
    val (want, sparkJobs) = JobCount(spark.sparkContext)(sparkForm)
    assert(got.columns.toSeq === Seq("id0", "name", "id2"))
    assert(got.schema === want.schema)
    assert(got.collect().toSeq === want.collect().toSeq)
    assert(got.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ===
      Seq(("1", "a", "x"), ("2", "b, c", "y")))
    assert(jobs === 0)
    assert(sparkJobs === 2) // numbering the lines, then taking the header
  }
}
