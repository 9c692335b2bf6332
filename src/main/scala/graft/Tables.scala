package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * Each table is a single parquet file under the scale-factor dir.
  *
  * `events.ts` has been observed under two physical parquet types across
  * testdata regenerations: TIMESTAMP(NANOS) — which Spark 4 cannot
  * represent natively (TimestampType is microseconds) and surfaces as a
  * raw nanosecond LONG under `spark.sql.legacy.parquet.nanosAsLong=true`
  * — and TIMESTAMP_MICROS, which surfaces as TIMESTAMP / TIMESTAMP_NTZ.
  * [[events]] dispatches on the scanned type and normalizes `ts` to one
  * canonical contract, an epoch-nanosecond LONG, so every downstream
  * consumer ([[eventDay]], gap sessionization's ns arithmetic, ts-ordered
  * windows) sees a single stable type regardless of which physical form
  * the generator wrote. Day-level truncation is unaffected by the ns→µs
  * difference, so date-grain results agree bit-for-bit with engines that
  * keep full precision, and `epoch_ns(ts)` in DuckDB matches the LONG
  * exactly under either physical type.
  */
object Tables {
  /** Loads `<dir>/<name>.parquet`. For a single file the schema is read
    * from its footer on the driver ([[FooterSchema]], Spark's own
    * conversion under the session's conf) and handed to the reader, so
    * the load runs no Spark job; `spark.read.parquet` alone launches a
    * schema-inference job for every load, even of one file. A directory
    * (a table Spark wrote) keeps `spark.read.parquet` and its inference.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    FooterSchema.ofFile(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Scan fan-out for UNSPLITTABLE fact-table inputs (round 20, guide
    * §2.5 "input skew"): every testdata table is ONE parquet file with
    * ONE row group, so any scan of it is a single task no matter how
    * many cores the session has — and the suite's expensive per-row
    * work that runs inside the scan stage (tokenizing splits, shingle
    * explodes, gram hashing, vector math) was measured running
    * SERIALLY at local[32] (q117's gram explode: a 0.9–3.5 s
    * single-task stage; the same shape heads every text/embedding
    * query). The guide's prescription for unsplittable inputs (gzip
    * files, single-row-group parquet) is to repartition immediately
    * after the read; this helper does that ONLY when the scan's
    * planned parallelism is below the session's default parallelism,
    * so it is scale-adaptive, not a local-mode constant: a production
    * table (many files / many row groups) plans at or above cluster
    * parallelism and the gate never fires. Round-robin repartition —
    * no key, so no skew and no hot-key hazard; the payload crossing
    * the one exchange is the table's scan output, the cheapest thing
    * this engine ever shuffles. Applied to the two CPU-DENSE corpora
    * only — `documents` (tokenizing splits, regex, shingle hashing run
    * 10–100× the decode cost per row) and `embeddings` (vector math) —
    * NOT to the relational tables: their per-row expressions are cheap
    * vectorized arithmetic, so across the ~100 small lineitem/orders/
    * events queries the added exchange costs more in aggregate than
    * the few heavy consumers gain (measured: the documents fan-out
    * moved q120 3.2→1.8 s and q201 2.8→1.9 s while a lineitem/events
    * fan-out read flat-to-negative on q01/q53/q144).
    *
    * Also applied per-query by the handful of RELATIONAL queries whose
    * per-row work is heavy enough to beat the exchange (q12's 4-way
    * unpivot + decimal sums, q143's from_json parse): repartition only
    * when the planned scan parallelism is below the session's — inert
    * on any production layout with splittable input.
    */
  def fanOutScan(spark: SparkSession, df: DataFrame): DataFrame = {
    val want = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want)
    else df
  }

  /** Calendar day of the canonical ns-long `ts` column (UTC). */
  def eventDay: Column = to_date(timestamp_micros(expr("ts div 1000")))

  /** Calendar month start of the canonical ns-long `ts` column (UTC). */
  def eventMonth: Column = trunc(eventDay, "month")

  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  /** Loads `events` and normalizes `ts` to an epoch-nanosecond LONG,
    * whichever physical type the parquet carries (see class doc). The
    * NANOS-as-LONG path additionally requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the session (set at
    * construction in Verify/Bench/TestSession) — mutating the conf here as
    * a loader side effect would make scan behavior depend on call order.
    *
    * Scale note: the normalization is a plain projection over the scan —
    * filters on other columns still push down past it, and `ts` itself is
    * never a pushable predicate in this suite (queries filter on ids and
    * derived days, not raw timestamps).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw // TIMESTAMP(NANOS) read as ns-long: already canonical
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        // Session timezone is pinned to UTC (Verify/Bench/TestSession), so
        // the NTZ→TZ cast is the identity on the underlying micros value.
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected ns-LONG or TIMESTAMP[_NTZ])")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = fanOutScan(spark, t(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = fanOutScan(spark, t(spark, dir, "embeddings"))
}
