package graft

import java.nio.file.{Files, Path}
import scala.util.Try
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.t` takes a single file's schema from its parquet footer: the
  * schema Spark's inference gives, and no Spark job.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[A](on: Boolean)(f: => A): A = {
    val was = spark.conf.get(nanosKey)
    spark.conf.set(nanosKey, on.toString)
    try f finally spark.conf.set(nanosKey, was)
  }

  /** Footer schema vs inferred schema (equal, or both fail), and the jobs
    * `Tables.t` ran.
    */
  private def check(dir: String, name: String): Unit = {
    val (footer, jobs) = JobCount(spark.sparkContext)(Try(Tables.t(spark, dir, name).schema))
    val inferred = Try(spark.read.parquet(s"$dir/$name.parquet").schema)
    assert(footer.toOption === inferred.toOption, s"$dir/$name")
    assert(footer.isSuccess === inferred.isSuccess, s"$dir/$name")
    assert(jobs === 0, s"$dir/$name")
  }

  test("every sf0.01 table's footer schema is its inferred schema, with no job") {
    val dir = "/root/testdata/sf0.01"
    val names = new java.io.File(dir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("events") && names.size >= 10, names)
    Seq(true, false).foreach(on => withNanosAsLong(on)(names.foreach(check(dir, _))))
  }

  test("TIMESTAMP(NANOS) follows nanosAsLong as inference does") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); optional double value; }")
    val dir = Files.createTempDirectory("graft_nanos")
    val w = ExampleParquetWriter.builder(new HPath(dir.resolve("events.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1704067200123456789L).append("value", 1.5))
    finally w.close()
    withNanosAsLong(on = true) {
      check(dir.toString, "events")
      assert(Tables.t(spark, dir.toString, "events").schema("ts").dataType === LongType)
      assert(Tables.events(spark, dir.toString).select("ts").as[Long].collect() ===
        Array(1704067200123456789L))
    }
    withNanosAsLong(on = false)(check(dir.toString, "events"))
  }

  test("a Spark-written file's row-metadata schema comes through the footer") {
    val meta = new MetadataBuilder().putString("comment", "kept by the row-metadata key").build()
    val out = Files.createTempDirectory("graft_rowmeta")
    Seq((1L, "a", 2.5), (2L, null, -0.0)).toDF("id", "s", "v")
      .select(col("id"), col("s").as("s", meta), col("v"),
        timestamp_seconds(col("id")).as("t"), array(col("v")).as("arr"))
      .coalesce(1).write.parquet(out.resolve("w").toString)
    val part = Files.list(out.resolve("w")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, out.resolve("t.parquet"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(out.resolve("t.parquet").toString),
        new org.apache.hadoop.conf.Configuration()))
    try assert(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()
    check(out.toString, "t")
    assert(Tables.t(spark, out.toString, "t").schema("s").metadata === meta)
  }

  test("a directory keeps inference") {
    val out: Path = Files.createTempDirectory("graft_dir")
    Seq(1, 2, 3).toDF("x").write.parquet(out.resolve("d.parquet").toString)
    assert(Tables.t(spark, out.toString, "d").as[Int].collect().sorted === Array(1, 2, 3))
  }
}
