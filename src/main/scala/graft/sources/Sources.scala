package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFileLinesReader,
  PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructField, StructType}

/** Source loaders (SURVEY.md §2.1): headered/schema'd CSV scans with glob
  * support, skip-preamble CSV, and generated-projection fixed-width
  * readers. No custom DataSource is needed: every format reduces to
  * `spark.read.text`/`spark.read.csv` plus declarative column math, so
  * scans stay distributed, column-pruned, and codegen'd.
  */
object Csv {

  /** Headered CSV scan (S2); `path` may be a glob (S8). Explicit schema
    * wins over inference (inference is non-deterministic under schema
    * drift).
    *
    * Without a schema, a one-split input (see [[oneSplitFile]]) has its
    * header and column types inferred on the driver by Spark's own
    * pieces, in the order Spark's CSV source applies them, and is then
    * read with that schema: the same schema `inferSchema` gives, without
    * the header-line job and the inference job Spark would run for it.
    * Any other input (several data files, partition subdirectories, a
    * file Spark would split) keeps Spark's inference.
    */
  def scan(spark: SparkSession, path: String, schema: Option[StructType] = None,
           header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.orElse(oneSplitFile(spark, path).map(inferOnDriver(spark, _, header))) match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", "true").csv(path)
    }
  }

  /** CSV scan with eager timestamp columns (S3, pandas `parse_dates`);
    * the scan is [[scan]]'s, so a one-split file starts no job here.
    */
  def scanWithDates(spark: SparkSession, path: String, dateCols: Seq[String],
                    fmt: Option[String] = None): DataFrame = {
    val df = scan(spark, path)
    dateCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, fmt.map(f => to_timestamp(col(c), f))
        .getOrElse(to_timestamp(col(c))))
    }
  }

  /** Skip-preamble CSV (S4, reference `header=4` EIA export,
    * `normalization.ipynb#6`): drop the first `skip` physical lines, then
    * parse the remainder as a headered CSV.
    *
    * A one-split file is a text scan in one partition, so its lines are
    * numbered in file order by `monotonically_increasing_id`. Its header
    * is the first non-empty line after the preamble, read on the driver;
    * the rest is parsed by `from_csv` with that header's all-string
    * schema (names deduped as Spark dedupes them), after the filters
    * `csv` over a `Dataset[String]` applies: lines whose SQL `trim` is
    * empty go, and so does every line equal to the header. Building the
    * frame runs no job, and its plan keeps the file scan's size, so a
    * small sort over it needs no sampling.
    *
    * Any other input numbers its lines with `textFile` + `zipWithIndex`
    * (partition order follows file offset, valid for the single-file
    * exports this models) and re-parses them as a distributed headered
    * `csv` over a Dataset[String].
    */
  def skipPreamble(spark: SparkSession, path: String, skip: Int): DataFrame =
    oneSplitFile(spark, path).flatMap(f => readLines(spark, f)(firstLine(_, skip)).map(f -> _)) match {
      case Some((file, h)) =>
        val names = safeHeader(spark, h, csvOptions(spark, header = true))
          .getOrElse(Array.empty[String])
        val line = col("value")
        spark.read.text(file.getPath.toString)
          .select(monotonically_increasing_id().as("i"), line)
          .filter(col("i") >= skip && length(trim(line)) > 0 && line =!= h)
          .select(from_csv(line, StructType(names.map(StructField(_, StringType))),
            Map.empty[String, String]).as("r"))
          .select("r.*")
      case None =>
        import spark.implicits._
        val lines = spark.sparkContext.textFile(path).zipWithIndex()
          .filter { case (_, i) => i >= skip }
          .map(_._1)
        spark.read.option("header", "true").csv(spark.createDataset(lines))
    }

  /** The single data file a CSV read of `path` would scan in ONE task, if
    * there is one: `path` (a file, a directory or a glob) resolves to
    * exactly one visible file (Spark's hidden-name rule drops `_SUCCESS`,
    * `.crc` and the like) with no subdirectory beside it, and that file
    * is no longer than the split size Spark's scan would cut it at
    * (`FilePartition.maxSplitBytes` over this one file).
    */
  private def oneSplitFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // Spark's file-listing rule (`HadoopFSUtils.shouldFilterOutPathName`)
    def hidden(n: String) =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
    def visible(ss: Seq[FileStatus]) = ss.filterNot(s => hidden(s.getPath.getName))
    val files = visible(Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)) match {
      case Seq(d) if d.isDirectory => visible(fs.listStatus(d.getPath).toSeq)
      case matched => matched
    }
    files match {
      case Seq(f) if f.isFile && f.getLen <= FilePartition.maxSplitBytes(spark,
          Seq(PartitionDirectory(InternalRow.empty, Array(f)))) => Some(f)
      case _ => None
    }
  }

  /** The options Spark's CSV file format builds for an `inferSchema` read. */
  private def csvOptions(spark: SparkSession, header: Boolean): CSVOptions = {
    val conf = spark.sessionState.conf
    new CSVOptions(Map("header" -> header.toString, "inferSchema" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
  }

  /** `f` over the lines of `file` as Spark's text scan splits and decodes
    * them (Hadoop's line reader: LF, CR or CRLF ends a line).
    */
  private def readLines[A](spark: SparkSession, file: FileStatus)(f: Iterator[String] => A): A = {
    val reader = new HadoopFileLinesReader(
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(file.getPath), 0L, file.getLen),
      spark.sessionState.newHadoopConf())
    try f(reader.map(t => new String(t.getBytes, 0, t.getLength, UTF_8)))
    finally reader.close()
  }

  /** The line Spark takes as a CSV file's first line: the first one past
    * `skip` whose SQL `trim` (spaces only) is non-empty.
    */
  private def firstLine(lines: Iterator[String], skip: Int): Option[String] =
    lines.drop(skip).find(_.exists(_ != ' '))

  /** `head`'s fields as column names, made safe as Spark makes them. */
  private def safeHeader(spark: SparkSession, head: String,
                         options: CSVOptions): Option[Array[String]] =
    Option(new CsvParser(options.asParserSettings).parseLine(head)).map(
      CSVUtils.makeSafeHeader(_, spark.sessionState.conf.caseSensitiveAnalysis, options))

  /** Spark's CSV schema inference (`TextInputCSVDataSource.inferFromDataset`
    * then `CSVInferSchema.infer`) run on the driver over one file: the same
    * first line, header names, comment/empty/header-line filters and the
    * same per-row type fold and merge, so the schema is the one a
    * one-partition inference job would return.
    */
  private def inferOnDriver(spark: SparkSession, file: FileStatus, header: Boolean): StructType =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val options = csvOptions(spark, header)
      val inferred = for {
        first <- readLines(spark, file)(firstLine(_, 0))
        names <- safeHeader(spark, first, options)
      } yield {
        val infer = new CSVInferSchema(options)
        val start = Array.fill[DataType](names.length)(NullType)
        val types = readLines(spark, file) { lines =>
          val parser = new CsvParser(options.asParserSettings)
          CSVUtils.filterHeaderLine(CSVUtils.filterCommentAndEmpty(lines, options), first, options)
            .map(parser.parseLine)
            .foldLeft(start.clone())(infer.inferRowType)
        }
        StructType(infer.toStructFields(infer.mergeRowTypes(start, types), names))
      }
      inferred.getOrElse(StructType(Nil))
    }

  /** HTTP CSV ingestion (S1, `ETL.py:56-77` downloads EIA exports before
    * parsing): fetch each URL to `stagingDir/<name>.csv`, then hand the
    * staged files to [[scan]]. The transport is injectable so the fetch
    * layer is testable without egress (`file:` URLs in tests, a real
    * HTTP client in deployments) — this container has no network, so the
    * default transport is `java.net.URL#openStream`, which covers
    * `file:`/`jar:` schemes here and HTTP(S) wherever egress exists.
    * Download is driver-side by design: source acquisition is O(#files)
    * staging I/O, the distributed work starts at the scan.
    */
  def downloadToStaging(urls: Seq[String], stagingDir: String,
                        transport: String => java.io.InputStream =
                          url => java.net.URI.create(url).toURL.openStream())
      : Seq[String] = {
    val dir = java.nio.file.Paths.get(stagingDir)
    java.nio.file.Files.createDirectories(dir)
    urls.zipWithIndex.map { case (url, i) =>
      // Index-prefixed staging names: two URLs sharing a basename (or a
      // URL ending in '/', whose split yields the host segment) can never
      // silently overwrite each other in the staging dir.
      val base = url.split('/').filter(_.nonEmpty).lastOption.getOrElse("download.csv")
      val target = dir.resolve(f"$i%04d-$base")
      // Download to a unique temp name, then rename into place: a direct
      // copy with REPLACE_EXISTING is delete-then-write, so a re-download
      // overlapping a reader (parallel tests, a planning sweep concurrent
      // with an executing rep) could expose a missing/truncated file.
      // ATOMIC_MOVE is a POSIX rename — readers see old-complete or
      // new-complete bytes, never a partial file (ADVICE r11).
      val tmp = java.nio.file.Files.createTempFile(dir, f".$i%04d-", ".part")
      // A failed transport/copy must not strand the .part file: an
      // accumulating staging dir also defeats its deleteOnExit cleanup
      // (deleteOnExit only removes EMPTY dirs) — so delete on any throw
      // between creation and the rename (ADVICE r12).
      try {
        val in = transport(url)
        try java.nio.file.Files.copy(in, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        java.nio.file.Files.deleteIfExists(tmp)
        throw e
      }
      target.toString
    }
  }

  /** Single-file headered CSV sink (K1, `ETL.py:95,330`). `coalesce(1)`
    * matches the reference's one-file contract; large outputs should drop
    * the coalesce and write partitioned.
    */
  def sink(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.option("header", "true").mode("overwrite").csv(path)
  }

  /** Per-source-file partitioned sink (K2, one CSV per input `.dly`,
    * `ETL.py:121-131`): dynamic partition write on a file-tag column.
    */
  def sinkPerFile(df: DataFrame, fileTagCol: String, path: String): Unit =
    df.write.partitionBy(fileTagCol).option("header", "true")
      .mode("overwrite").csv(path)

  /** Bucketed parquet table sink — the co-located-join layout for fact
    * tables that are repeatedly joined/aggregated on the same key at
    * corpus scale: both sides bucketed (same key, same bucket count)
    * join with NO exchange (bucket-pruned sort-merge), and repeated
    * pipelines amortize the one-time layout shuffle. The repartition on
    * the bucket keys is load-bearing twice over: without it every input
    * task writes its own file per bucket (tasks × buckets small files),
    * and Spark only honors in-bucket sortedness — the `sortBuckets`
    * benefit that lets the join skip its per-bucket sort — when each
    * bucket holds a single file. Requires a table catalog (saveAsTable);
    * bucketing metadata lives there, not in the parquet footer.
    *
    * Overwrite is made SAFE against the stale-managed-location trap: a
    * previous JVM's table DIRECTORY survives under the warehouse while
    * the in-memory catalog does not, and saveAsTable-as-CREATE then
    * refuses the non-empty location (this silently killed a round-14
    * measurement campaign). The table is dropped from the catalog and
    * its default managed directory deleted before the write — managed
    * location only, never user data at an external path.
    */
  /** The stale-location cleanup's TARGET resolution, factored out so
    * the non-file-scheme contract is unit-testable without a real
    * hdfs/s3 warehouse (VERDICT r17 item 5): only a file-scheme or
    * scheme-less (local-warehouse default) managed location yields a
    * local directory to delete — any other scheme returns None, never
    * throws, and [[bucketedSink]] then skips the cleanup (there the
    * stale-location trap belongs to the cluster's warehouse tooling).
    */
  private[graft] def localCleanupTarget(locUri: java.net.URI)
      : Option[java.io.File] = locUri.getScheme match {
    case null   => Some(new java.io.File(locUri.getPath))
    case "file" => Some(new java.io.File(locUri))
    case _      => None
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  def bucketedSink(df: DataFrame, table: String, keys: Seq[String],
                   buckets: Int, sortBuckets: Boolean = true): Unit = {
    val spark = df.sparkSession
    // The stale-location cleanup recursively deletes a MANAGED table
    // directory, so the path must come from the CATALOG, not from
    // string-joining warehouse + name (ADVICE r15: with a non-default
    // current database the managed location is <warehouse>/<db>.db/
    // <table> and the joined path misses it — the saveAsTable-refuses-
    // non-empty-location trap would return; and a db-qualified name
    // would aim the recursive delete somewhere it was never validated
    // for). Require a simple unqualified name — the sink's contract —
    // and resolve the default managed path the same way saveAsTable
    // will.
    require(table.matches("[A-Za-z0-9_]+"),
      s"bucketedSink requires a simple unqualified table name " +
        s"(letters/digits/underscore), got '$table'")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val locUri = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    // The recursive delete is a LOCAL-filesystem cleanup: only attempt
    // it when the catalog-resolved managed location is file-scheme (or
    // scheme-less, the local-warehouse default). On an hdfs/s3
    // warehouse `new File(URI)` would throw IllegalArgumentException
    // before the write (ADVICE r16) — there the stale-location trap
    // belongs to the cluster's warehouse tooling, so skip, don't die.
    localCleanupTarget(locUri).filter(_.exists).foreach(deleteRecursively)
    val w = df.repartition(buckets, keys.map(col): _*)
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortBuckets) w.sortBy(keys.head, keys.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Append rows to an EXISTING [[bucketedSink]] table — the delta
    * half of an incremental index maintenance pass (VERDICT r16 item
    * 3): the (buckets, keys) spec must match the table's (saveAsTable
    * validates it against the catalog and throws on mismatch, so a
    * drifted spec cannot silently de-bucket the table). Each append
    * adds one file per bucket; Spark's bucketed scan still reports
    * HashPartitioning over the bucket keys with multiple files per
    * bucket (it unions them into the bucket's partition), so the
    * exchange-free join proofs (PlanSpec) survive appends. Per-bucket
    * SORT guarantees do NOT survive (each file is sorted, the union
    * isn't) — SMJ planning re-sorts; the engine's index joins are
    * hash-side anyway.
    */
  def bucketedAppend(df: DataFrame, table: String, keys: Seq[String],
                     buckets: Int, sortBuckets: Boolean = true): Unit = {
    require(table.matches("[A-Za-z0-9_]+"),
      s"bucketedAppend requires a simple unqualified table name, got '$table'")
    val w = df.repartition(buckets, keys.map(col): _*)
      .write.format("parquet").mode("append")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortBuckets) w.sortBy(keys.head, keys.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Compact an appended [[bucketedSink]] table back to one file per
    * bucket (VERDICT r17 item 2). [[bucketedAppend]] adds one file per
    * bucket per append, so a daily-append deployment accumulates
    * appends × buckets small files — the classic small-files scan
    * killer at corpus scale (every file costs a footer read, an open,
    * and a scheduler task split). Compaction rewrites the table
    * through the same (keys, buckets) spec, so content, bucketing
    * metadata, and the exchange-free join/agg proofs (PlanSpec,
    * IndexAppendSpec) are all preserved — and per-bucket SORT is
    * RESTORED (each bucket is one sorted file again, which appends had
    * forfeited).
    *
    * The rewrite stages the rows to a temp parquet directory first:
    * [[bucketedSink]] drops the table before writing, so writing
    * straight from a reader of the same table would read after the
    * delete. Staging costs one extra table write — the safe local
    * shape (the staged copy survives a crash between the drop and the
    * rewrite); a cluster deployment would compact bucket-by-bucket
    * with a commit protocol instead, but the semantics pinned here
    * (same spec in, one file per bucket out, content identical) are
    * the contract either implementation honors.
    *
    * SERVE-vs-COMPACT contract (VERDICT r18 item 5, measured round
    * 19): a serving STREAM started before the compaction holds the
    * pre-compact file listing (Spark resolves a catalog relation's
    * file index at plan time), so its next trigger FAILS LOUDLY
    * (FAILED_READ_FILE.FILE_NOT_EXIST → STREAM_FAILED) — it never
    * silently serves wrong or partial index rows, because a missing
    * file is an error, not an empty scan. A checkpointed restart
    * re-resolves the table and resumes bit-correct against the
    * compacted content (IndexAppendSpec pins both halves). Operate it
    * accordingly: compact in a maintenance window, or accept ≤ one
    * failed trigger and let the supervisor restart the stream — an
    * atomic-swap variant would not help the live stream, whose stale
    * listing predates any catalog swap.
    */
  def bucketedCompact(spark: SparkSession, table: String): Unit = {
    require(table.matches("[A-Za-z0-9_]+"),
      s"bucketedCompact requires a simple unqualified table name, got '$table'")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"table '$table' carries no bucketing spec — nothing to compact to"))
    require(spec.sortColumnNames.isEmpty ||
        spec.sortColumnNames == spec.bucketColumnNames,
      s"bucketedCompact only rewrites sinks of this library's layout " +
        s"(sorted by the bucket keys or unsorted); '$table' sorts by " +
        s"${spec.sortColumnNames.mkString(",")}")
    val tmp = java.nio.file.Files
      .createTempDirectory(s"graft_compact_$table").toString
    try {
      spark.table(table).write.mode("overwrite").parquet(tmp)
      bucketedSink(spark.read.parquet(tmp), table,
        spec.bucketColumnNames, spec.numBuckets,
        sortBuckets = spec.sortColumnNames.nonEmpty)
    } finally deleteRecursively(new java.io.File(tmp))
  }

  /** Delete rows from an EXISTING [[bucketedSink]] table WITHOUT any
    * model work — the takedown half of index maintenance (VERDICT r19
    * item 2): a takedown removes rows from the corpus, and before this
    * the four persisted ANN index families could only append and
    * compact, so forgetting a row meant a FULL index rebuild
    * (quantizer retrain + corpus re-assignment/re-encode). This is the
    * anti-join REWRITE arm: one scan of the table, a LEFT-ANTI join
    * against the id frame (id-only — under a bounded takedown list the
    * ids broadcast and the scan never exchanges), and a rewrite
    * through the table's own catalog bucketing spec — so content,
    * bucketing metadata, the exchange-free join proofs, AND the
    * one-file-per-bucket compaction all survive the delete, while the
    * quantizer/codebook/hyperplane models stay frozen (deleting rows
    * cannot re-home the survivors, so frozen models are exact, not an
    * approximation — IndexAppendSpec pins delete ≡ rebuild-minus-rows
    * under the frozen models). Cost is O(n) scan+write but ZERO
    * model/encode work — the `append`-decade delete rows put numbers
    * on that against the tombstone arm
    * ([[graft.sim.Similarity.withoutTombstones]]: O(|deleted|) write,
    * recurring per-query anti-join at read time) and the full rebuild.
    *
    * `keyCol` is the join column IN THE TABLE (e.g. `neighbor_id` for
    * a cells/codes table bucketed by it; an LSH index bucketed by
    * (t, b) still deletes by `neighbor_id`). `ids` is a one-column
    * frame of keys to remove, any column name.
    *
    * The same serve-vs-compact contract as [[bucketedCompact]]
    * applies: a serving stream started before the delete holds the
    * pre-delete file listing and FAILS LOUDLY on its next trigger; a
    * checkpointed restart resumes bit-correct over the post-delete
    * table.
    */
  def bucketedDelete(spark: SparkSession, table: String, ids: DataFrame,
                     keyCol: String): Unit = {
    require(table.matches("[A-Za-z0-9_]+"),
      s"bucketedDelete requires a simple unqualified table name, got '$table'")
    require(ids.columns.length == 1,
      s"delete-id frame must have exactly one key column, " +
        s"got [${ids.columns.mkString(", ")}]")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"table '$table' carries no bucketing spec — bucketedDelete only " +
        "rewrites this library's bucketed index layouts"))
    require(spec.sortColumnNames.isEmpty ||
        spec.sortColumnNames == spec.bucketColumnNames,
      s"bucketedDelete only rewrites sinks of this library's layout " +
        s"(sorted by the bucket keys or unsorted); '$table' sorts by " +
        s"${spec.sortColumnNames.mkString(",")}")
    val tmp = java.nio.file.Files
      .createTempDirectory(s"graft_delete_$table").toString
    try {
      spark.table(table)
        .join(ids.select(col(ids.columns.head).as(keyCol)),
          Seq(keyCol), "left_anti")
        .write.mode("overwrite").parquet(tmp)
      bucketedSink(spark.read.parquet(tmp), table,
        spec.bucketColumnNames, spec.numBuckets,
        sortBuckets = spec.sortColumnNames.nonEmpty)
    } finally deleteRecursively(new java.io.File(tmp))
  }

  /** Size-bounded shard writer — the training-shard layout of a curated
    * corpus: every output file carries at most `rowsPerShard` records
    * (`maxRecordsPerFile` splits within a task; the repartition keeps
    * shard count ~uniform instead of mirroring upstream skew). CEILING
    * division sizes partitions at ≤ rowsPerShard, so maxRecordsPerFile
    * is a guard rather than a per-task splitter (floor division would
    * put rowsPerShard+ε in every task and split each into one full
    * shard plus a tiny remainder file). Readers stream shards
    * independently, so shard size bounds a loader's unit of work at
    * any corpus scale.
    */
  def shardedSink(df: DataFrame, path: String, rowsPerShard: Int,
                  approxRows: Long): Unit = {
    val per = math.max(1L, rowsPerShard.toLong)
    val quotient = (approxRows + per - 1L) / per
    val parts = math.max(1L, math.min(quotient, Int.MaxValue.toLong)).toInt
    df.repartition(parts)
      .write.option("maxRecordsPerFile", per)
      .mode("overwrite").parquet(path)
  }
}

/** JSON Lines — the de-facto interchange format of training-data
  * pipelines (one JSON object per line; every dump/filter tool in the
  * ecosystem reads and writes it). Spark's native json source IS
  * line-delimited by default, so both directions are ordinary
  * distributed scans/writes with full column pruning.
  */
object Jsonl {

  /** JSONL scan. The explicit schema is the 100 TB contract: inference
    * costs a full extra pass over the corpus AND widens types from
    * whatever rows it happens to sample — pass `None` only for
    * exploration. Corrupt lines land in the PERMISSIVE-mode
    * `_corrupt_record` column when the schema declares one, mirroring
    * the codec layer's corrupt-media-rows-stay-visible contract.
    */
  def scan(spark: SparkSession, path: String,
           schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  /** JSONL sink: one JSON object per line, fields in schema order
    * (deterministic layout — two writes of the same frame are
    * byte-identical up to file split boundaries). Leave `singleFile`
    * false at scale; it exists for the reference's one-file exports.
    */
  def sink(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }
}

/** Generated-projection fixed-width readers (S5/S6): one `spark.read.text`
  * scan plus substring/trim column math — the parse runs inside the scan
  * projection, whole-stage codegen'd, no per-line closure.
  */
object FixedWidth {

  /** 1-based inclusive [start, end] character field. */
  final case class Field(name: String, start: Int, end: Int)

  /** Read `path` as fixed-width lines projected to `fields` (trimmed
    * strings; empty → null, matching pandas NaN semantics).
    */
  def read(spark: SparkSession, path: String, fields: Seq[Field]): DataFrame = {
    val cols = fields.map { f =>
      val raw = trim(substring(col("value"), f.start, f.end - f.start + 1))
      when(raw =!= "", raw).as(f.name)
    }
    spark.read.text(path).select(cols: _*)
  }

  /** GHCN-Daily `.dly` layout (reference `ETL.py:101-116`): ID[1-11],
    * YEAR[12-15], MONTH[16-17], ELEMENT[18-21], then 31 8-char groups of
    * VALUEd[5]/MFLAGd[1]/QFLAGd[1]/SFLAGd[1] from offset 22.
    */
  val dlyFields: Seq[Field] = {
    val head = Seq(Field("ID", 1, 11), Field("YEAR", 12, 15),
      Field("MONTH", 16, 17), Field("ELEMENT", 18, 21))
    val groups = (1 to 31).flatMap { d =>
      val o = 22 + (d - 1) * 8
      Seq(Field(s"VALUE$d", o, o + 4), Field(s"MFLAG$d", o + 5, o + 5),
        Field(s"QFLAG$d", o + 6, o + 6), Field(s"SFLAG$d", o + 7, o + 7))
    }
    head ++ groups
  }

  /** Parse `.dly` files (glob ok): YEAR/MONTH as ints, VALUEd as ints
    * (the -9999 sentinel is preserved — sentinel→null is the cleaning
    * layer's job, `ETL.py:222`), flags as trimmed strings.
    */
  def readDly(spark: SparkSession, path: String): DataFrame = {
    val raw = read(spark, path, dlyFields)
    val casts = Seq(col("ID"),
      col("YEAR").cast("int").as("YEAR"), col("MONTH").cast("int").as("MONTH"),
      col("ELEMENT")) ++
      (1 to 31).flatMap(d => Seq(col(s"VALUE$d").cast("int").as(s"VALUE$d"),
        col(s"MFLAG$d"), col(s"QFLAG$d"), col(s"SFLAG$d")))
    raw.select(casts: _*)
  }

  /** `ghcnd-stations.txt` canonical byte layout, projected to the
    * reference's column names (`ETL.py:133-140` uses inferred `read_fwf`;
    * we pin the published offsets — ID[1-11], lat[13-20], long[22-30],
    * elev[32-37], state+name as `city`, GSN/HCN/WMO as unk1-3).
    */
  val stationFields: Seq[Field] = Seq(
    Field("ID", 1, 11), Field("lat", 13, 20), Field("long", 22, 30),
    Field("elev", 32, 37), Field("state", 39, 40), Field("name", 42, 71),
    Field("unk1", 73, 75), Field("unk2", 77, 79), Field("unk3", 81, 85))

  /** Stations table with numeric lat/long/elev and a combined `city`. */
  def readStations(spark: SparkSession, path: String): DataFrame =
    read(spark, path, stationFields).select(
      col("ID"),
      col("lat").cast("double").as("lat"),
      col("long").cast("double").as("long"),
      col("elev").cast("double").as("elev"),
      concat_ws(" ", col("state"), col("name")).as("city"),
      col("unk1"), col("unk2"), col("unk3"))
}
