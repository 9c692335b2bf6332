package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session configuration: Bench, Verify, Profile, ScaleStress,
  * GoldenGen and the test suite all run under [[build]].
  *
  *  - `local[cpus]`, with `cpus` shuffle partitions;
  *  - the UTC session time zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, so a TIMESTAMP(NANOS)
  *    `events.ts` scans (`Tables.events` normalizes either form);
  *  - the AQE partition-coalescing floor [[MinPartitionSize]];
  *  - [[graft.plans.GraftExtensions]];
  *  - the UI off.
  *
  * A warehouse directory is a deployment setting, so a caller that
  * persists catalog tables may pass one. `perfbench/` builds the same
  * configuration by hand; `SessionSpec` fails when the two drift.
  */
object Session {

  /** AQE's partition-coalescing floor. AQE sizes post-shuffle partitions
    * by bytes (parallelismFirst respects the 1 MB default floor), which
    * under-parallelizes stages whose cost is CPU, not I/O: this engine's
    * candidate-pair verify joins (`array_intersect` per pair),
    * decimal-exact aggregations and unrolled-DP projections carry
    * kilobytes per multi-second task. Measured at sf0.1 on `local[32]`:
    * the q128 prefix-verify chain coalesced to one task (5.2 s warm;
    * 2.2 s at a 64k floor), q170 10.8 → 6.6 s, q158 7.8 → 5.5 s, q164
    * 2.6 → 1.5 s, flat elsewhere. At production scale post-shuffle
    * partitions exceed any floor in this range, so the setting is inert
    * there; it keeps the parallelism of small-byte, big-CPU stages (a
    * 50 MB candidate list can need hours of verify CPU at 100 TB too).
    */
  val MinPartitionSize = "64k"

  /** `SPARK_GRAFT_CPUS` (default 4): the harness mains' local thread and
    * shuffle partition count.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The confs [[build]] sets besides the master, in order. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> MinPartitionSize,
    "spark.ui.enabled" -> "false")

  /** The session, with the log at WARN. Two per-operator warnings go to
    * ERROR: `WindowExec`'s "No Partition Defined" (the engine's global
    * windows are deliberate, bounded ones) and the localCheckpoint
    * lineage note `MapPartitionsRDD` logs for every pin.
    */
  def build(cpus: Int, warehouse: Option[String] = None): SparkSession = {
    val b = confs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.withExtensions(new graft.plans.GraftExtensions)
    val spark = warehouse.fold(b)(b.config("spark.sql.warehouse.dir", _)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.window.WindowExec",
        "org.apache.spark.rdd.MapPartitionsRDD")
      .foreach(Configurator.setLevel(_, Level.ERROR))
    spark
  }
}
