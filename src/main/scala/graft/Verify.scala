package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name substrings to run
    // (local iteration only; the driver always calls with two args)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = Session.build(Session.cpus)
    val runner = new Runner(spark)
    new java.io.File(outDir).mkdirs()
    // Failed queries must be VISIBLE in the artifacts, not silently absent
    // (round 7 lost 22 broken queries this way: Verify printed to stderr,
    // wrote nothing, and the driver omitted the rows — CORRECTNESS looked
    // all-green). Two signals per failure: a 0-row `__verify_error` marker
    // parquet (the driver's compare then records a failing row — 0 rows
    // never passes either the oracle or the rows-only check) and an
    // errors.json with the exception text for humans and scripts/check.py.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // REGISTRATION order, not SparkEntry.queries' map order: the
    // read-only index twins (q210–q212) read tables their builders
    // (q203/q204/q208) write earlier in the registry — an unordered map
    // sweep could run a twin before its builder (round 19). Filtered
    // runs that name a twin must include its builder.
    SparkEntry.registry
      .map(q => q.name -> q.impl)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      runner(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")).result.left.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        try {
          import org.apache.spark.sql.types.{StringType, StructField, StructType}
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(Seq(StructField("__verify_error", StringType))))
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} queries ERRORED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
