package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streaming

/** Structured Streaming extension tests (MemoryStream-driven). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("ANN query stream against the static LSH index equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.Similarity
    val dim = 16
    // deterministic corpus; bits = 2 / tables = 2 makes multi-table
    // bucket collisions (the duplicate-candidate path the stream's
    // dedup must collapse) near-certain
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (math.sin(i * 31 + d * 7) * 10 + d * 0.01 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val index = Similarity.signLshIndex(corpus, "vec_id", "embedding",
      dim = dim, bits = 2, tables = 2)
    val qIds = Seq(1L, 5L, 9L)
    val batch = Similarity.signLshTopKFromIndex(index, corpus,
        corpus.filter(col("vec_id").isin(qIds: _*)),
        "vec_id", "embedding", k = 5, dim = dim, bits = 2, tables = 2)
      .orderBy("query_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val qVecs = corpus.filter(col("vec_id").isin(qIds: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val served = Streaming.annTopKStream(
      input.toDF().toDF("ts", "vec_id", "embedding"),
      "ts", "vec_id", "embedding", index, corpus,
      k = 5, dim = dim, bits = 2, tables = 2)
    val q = served.writeStream.format("memory")
      .queryName("ann_stream").outputMode("complete").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(qVecs.map { case (id, v) => (t, id, v) }.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("ann_stream")
        .orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(got === batch,
        "streamed ANN results must be bit-identical to the batch operator")
    } finally q.stop()
  }

  test("degenerate corpus vectors fail LOUDLY and identically in stream and batch") {
    // ADVICE r17 flagged the exact re-rank's comparator returning 0 on
    // NaN cosines. Chasing the repro showed the scenario is UNREACHABLE
    // end to end: a zero-norm vector's 0-divisor division throws
    // DIVIDE_BY_ZERO under the default ANSI mode (and with ANSI off
    // Spark's Divide returns null, which both retention rules drop
    // before any ordering), and a NaN COMPONENT throws in the
    // exact-decimal capture (BigDecimal.valueOf(NaN)) — in BOTH
    // engines, before the comparator ever runs. The comparator now
    // carries defensive NaN branches matching the batch window's
    // Double.compare rule anyway; this spec pins the reachability
    // analysis: degenerate vectors are a loud failure, never a silent
    // ordering divergence.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.Similarity
    val dim = 8
    def corpusWith(bad: Array[Float]) = ((0L until 12L).map { i =>
      (i, Array.tabulate(dim)(d => (math.cos(i * 17 + d * 3) * 5).toFloat))
    } :+ (12L, bad)).toDF("vec_id", "embedding")
    for (bad <- Seq(Array.fill(dim)(0.0f), Array.fill(dim)(Float.NaN))) {
      val corpus = corpusWith(bad)
      val index = Similarity.signLshIndex(corpus, "vec_id", "embedding",
        dim = dim, bits = 0, tables = 1, maxBucketSize = Int.MaxValue)
      val queries = corpus.filter(col("vec_id") === 1L)
      intercept[Exception] {
        Similarity.signLshTopKFromIndex(index, corpus, queries,
          "vec_id", "embedding", k = 4, dim = dim, bits = 0, tables = 1)
          .collect()
      }
      val qVecs = queries.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val input = MemoryStream[(Timestamp, Long, Array[Float])]
      val served = Streaming.annTopKStream(
        input.toDF().toDF("ts", "vec_id", "embedding"),
        "ts", "vec_id", "embedding", index, corpus,
        k = 4, dim = dim, bits = 0, tables = 1)
      // complete mode so the aggregate EMITS in the same micro-batch:
      // in append mode the NaN case's throw (it lives in the post-agg
      // exact re-rank) is deferred to the watermark-advance emission —
      // still loud, just later
      val q = served.writeStream.format("noop").outputMode("complete").start()
      try {
        val t = Timestamp.valueOf("2024-01-01 00:00:00")
        input.addData(qVecs.map { case (id, v) => (t, id, v) }.toSeq: _*)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
      } finally q.stop()
    }
  }

  test("IVF query stream against the persisted index equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.Similarity
    val dim = 16
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (math.sin(i * 31 + d * 7) * 10 + d * 0.01 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding", nCells = 4)
    // pin the cells frame: the quantizer is already trained (idx holds
    // literal centroids), so both consumers read identical assignments
    val cells = graft.ops.Pin.pin(idx.cells)
    val qIds = Seq(2L, 7L, 11L)
    val batch = Similarity.ivfTopKFromIndex(cells, idx.centroids, corpus,
        corpus.filter(col("vec_id").isin(qIds: _*)),
        "vec_id", "embedding", k = 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val qVecs = corpus.filter(col("vec_id").isin(qIds: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val served = Streaming.ivfTopKStream(
      input.toDF().toDF("ts", "vec_id", "embedding"),
      "ts", "vec_id", "embedding", cells, idx.centroids, corpus,
      k = 5, nProbe = 2)
    val q = served.writeStream.format("memory")
      .queryName("ivf_stream").outputMode("complete").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(qVecs.map { case (id, v) => (t, id, v) }.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("ivf_stream")
        .orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(got === batch,
        "streamed IVF results must be bit-identical to the batch operator")
    } finally q.stop()
  }

  test("IVFPQ query stream (single-pass IVFADC) equals the batch operator and emits after ONE watermark pass") {
    // the FAISS IVFADC serving shape (VERDICT r17 item 1; single-pass
    // since round 20 — VERDICT r19 item 1): ADC-prefilter aggregate →
    // stateless survivor-vector attach → immediate-emission
    // flatMapGroupsWithState assembly → stateless exact re-rank. ONE
    // watermark-gated operator, so a query's rows emit in the same
    // trigger the ADC aggregate flushes — the test pins that the t0
    // rows are ALREADY in the sink after the FIRST watermark advance
    // (the round-19 two-aggregate layout needed two), then compares
    // them against the batch twin bit-for-bit.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.Similarity
    val dim = 16
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (math.sin(i * 31 + d * 7) * 10 + d * 0.01 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
      nCells = 4, m = 4, k = 8, dim = dim)
    val cells = graft.ops.Pin.pin(idx.cells)
    val qIds = Seq(2L, 7L, 11L)
    val batch = Similarity.ivfPqTopKFromIndex(cells, idx.centroids,
        idx.codebook, corpus, corpus.filter(col("vec_id").isin(qIds: _*)),
        "vec_id", "embedding", k = 5, m = 4, dim = dim, nProbe = 2,
        rerank = 10)
      .orderBy("query_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val qVecs = corpus.filter(col("vec_id").isin(qIds: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val dummyVec = corpus.filter(col("vec_id") === 0L)
      .head.getSeq[Float](1).toArray
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val served = Streaming.ivfPqTopKStream(
      input.toDF().toDF("ts", "vec_id", "embedding"),
      "ts", "vec_id", "embedding", cells, idx.centroids, idx.codebook,
      corpus, k = 5, m = 4, dim = dim, nProbe = 2, rerank = 10,
      watermark = "5 seconds")
    val q = served.writeStream.format("memory")
      .queryName("ivfpq_stream").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(qVecs.map { case (id, v) => (t0, id, v) }.toSeq: _*)
      q.processAllAvailable()
      // ONE watermark advance must flush the t0 groups end to end (the
      // single-pass latency pin — the two-aggregate layout emitted
      // nothing until a second advance)
      input.addData((Timestamp.valueOf("2024-01-01 00:01:00"), 1000L, dummyVec))
      q.processAllAvailable()
      def t0Rows() = spark.table("ivfpq_stream")
        .filter(col("ts") === t0)
        .orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      val afterOneAdvance = t0Rows()
      assert(afterOneAdvance === batch,
        "single-pass IVFPQ must emit bit-identical results after ONE watermark pass")
      // a further advance must not duplicate or change anything
      input.addData((Timestamp.valueOf("2024-01-01 00:02:00"), 1001L, dummyVec))
      q.processAllAvailable()
      assert(t0Rows() === batch,
        "a later watermark advance must not re-emit or mutate t0 rows")
    } finally q.stop()
  }

  test("IVF stream state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.Similarity
    val dim = 16
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (math.sin(i * 31 + d * 7) * 10 + d * 0.01 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding", nCells = 4)
    val cells = graft.ops.Pin.pin(idx.cells)
    val vecs = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_ckpt").toString
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    def start() = Streaming.ivfTopKStream(
        input.toDF().toDF("ts", "vec_id", "embedding"),
        "ts", "vec_id", "embedding", cells, idx.centroids, corpus,
        k = 5, nProbe = 2)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          out.add((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val q1 = start()
    try {
      input.addData((t(0), 2L, vecs(2L)))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData((t(40), 7L, vecs(7L)), (t(40), 11L, vecs(11L)))
      q2.processAllAvailable()
      input.addData((t(120), 98L, vecs(0L)))
      q2.processAllAvailable()
      input.addData((t(240), 99L, vecs(0L)))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val late = out.asScala.filter(r => r._1 == 7L || r._1 == 11L)
        .toSeq.sortBy(r => (r._1, r._2))
      val want = Similarity.ivfTopKFromIndex(cells, idx.centroids, corpus,
          corpus.filter(col("vec_id").isin(7L, 11L)),
          "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(late === want,
        s"post-restart IVF ranks must equal the batch operator: $late vs $want")
    } finally q2.stop()
  }

  test("IVFPQ stream state survives a checkpointed stop/restart (single-pass layout)") {
    // the IVF restart proof on the round-20 single-pass topology: the
    // only streaming state is the ADC-prefilter aggregate (the
    // flatMapGroupsWithState assembly keeps NONE — its GroupState is
    // never set, which this restart also exercises: recovery must not
    // depend on any assembly-state snapshot). Queries arriving only
    // AFTER the restart must rank bit-identically to the batch
    // operator.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.Similarity
    val dim = 16
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (math.sin(i * 31 + d * 7) * 10 + d * 0.01 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
      nCells = 4, m = 4, k = 8, dim = dim)
    val cells = graft.ops.Pin.pin(idx.cells)
    val vecs = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_ckpt").toString
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    def start() = Streaming.ivfPqTopKStream(
        input.toDF().toDF("ts", "vec_id", "embedding"),
        "ts", "vec_id", "embedding", cells, idx.centroids, idx.codebook,
        corpus, k = 5, m = 4, dim = dim, nProbe = 2, rerank = 10)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          out.add((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val q1 = start()
    try {
      input.addData((t(0), 2L, vecs(2L)))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData((t(40), 7L, vecs(7L)), (t(40), 11L, vecs(11L)))
      q2.processAllAvailable()
      input.addData((t(120), 98L, vecs(0L)))
      q2.processAllAvailable()
      input.addData((t(240), 99L, vecs(0L)))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val late = out.asScala.filter(r => r._1 == 7L || r._1 == 11L)
        .toSeq.sortBy(r => (r._1, r._2))
      val want = Similarity.ivfPqTopKFromIndex(cells, idx.centroids,
          idx.codebook, corpus,
          corpus.filter(col("vec_id").isin(7L, 11L)),
          "vec_id", "embedding", k = 5, m = 4, dim = dim, nProbe = 2,
          rerank = 10)
        .orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(late === want,
        s"post-restart IVFPQ ranks must equal the batch operator: $late vs $want")
    } finally q2.stop()
  }

  test("ANN stream state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.Similarity
    // the classifier restart proof's shape on the ANN server: the index
    // and corpus are STATIC (stream-static joins carry no stream state,
    // both frames re-resolve on restart); streaming state is the
    // candidate dedup + the per-(ts, query) top-k aggregate, recovered
    // from the checkpoint. Queries arriving only AFTER the restart must
    // rank bit-identically to the batch operator.
    val dim = 16
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (math.sin(i * 31 + d * 7) * 10 + d * 0.01 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val index = Similarity.signLshIndex(corpus, "vec_id", "embedding",
      dim = dim, bits = 2, tables = 2)
    val vecs = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ann_ckpt").toString
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    def start() = Streaming.annTopKStream(
        input.toDF().toDF("ts", "vec_id", "embedding"),
        "ts", "vec_id", "embedding", index, corpus,
        k = 5, dim = dim, bits = 2, tables = 2)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          out.add((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val q1 = start()
    try {
      input.addData((t(0), 1L, vecs(1L)))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // post-restart queries, then two late sentinels: the first
      // advances the watermark past t(40) at its batch's END, the
      // second runs a batch under the advanced watermark so append
      // mode flushes the t(40) groups (the classifier-proof protocol)
      input.addData((t(40), 5L, vecs(5L)), (t(40), 9L, vecs(9L)))
      q2.processAllAvailable()
      input.addData((t(120), 98L, vecs(0L)))
      q2.processAllAvailable()
      input.addData((t(240), 99L, vecs(0L)))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val late = out.asScala.filter(r => r._1 == 5L || r._1 == 9L)
        .toSeq.sortBy(r => (r._1, r._2))
      val want = Similarity.signLshTopKFromIndex(index, corpus,
          corpus.filter(col("vec_id").isin(5L, 9L)),
          "vec_id", "embedding", k = 5, dim = dim, bits = 2, tables = 2)
        .orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(late === want,
        s"post-restart ANN ranks must equal the batch operator: $late vs $want")
    } finally q2.stop()
  }

  test("tumbling daily means aggregate a replayed hourly feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val result = Streaming.dailyMeans(
      input.toDF().toDF("ts", "value"), "ts", "value")

    val q = result.writeStream.format("memory")
      .queryName("daily_means").outputMode("complete").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 01:00:00"), 10.0),
        (Timestamp.valueOf("2024-01-01 13:00:00"), 30.0),
        (Timestamp.valueOf("2024-01-02 02:00:00"), 50.0))
      q.processAllAvailable()
      val rows = spark.table("daily_means").orderBy("day_start").collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Double]("avg_v") === 20.0)
      assert(rows(0).getAs[Long]("n") === 2L)
      assert(rows(1).getAs[Double]("avg_v") === 50.0)
    } finally q.stop()
  }

  test("curation scan layer runs unchanged on an unbounded stream") {
    // quality score, language ID, repetition stats, and PII redaction
    // are stateless scan projections — the SAME column expressions and
    // UDFs must plan incrementally on a stream and agree with the batch
    // result row for row.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.TextOps
    val docs = Seq(
      (1L, "the quick brown fox is a fine fox and the fox jumps"),
      (2L, "mail me at a@b.io and call 555-123-4567 please"),
      (3L, "la la la la la"))
    def curate(df: org.apache.spark.sql.DataFrame) =
      TextOps.redactPii(
        TextOps.withRepetitionStats(df, "text", 2)
          .withColumn("q_score", TextOps.qualityScore(col("text"), graft.queries.Text.stops))
          .withColumn("lang", TextOps.langId(col("text"))), "text")
        .select("doc_id", "q_score", "lang", "dup_ngram_frac", "n_emails",
          "n_phones", "redacted")
    val input = MemoryStream[(Long, String)]
    val q = curate(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("curated_stream").orderBy("doc_id").collect()
      val batch = curate(docs.toDF("doc_id", "text")).orderBy("doc_id").collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      assert(streamed(1).getAs[Long]("n_emails") === 1L)
      assert(streamed(1).getAs[Long]("n_phones") === 1L)
    } finally q.stop()
  }

  test("Gopher filter + hash split run unchanged on an unbounded stream") {
    // both are stateless scan projections (PlanSpec guards the batch
    // shape) — the SAME calls must plan incrementally and agree with
    // batch row for row, which is what lets the ingest path score and
    // route documents as they arrive rather than in a rescan.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.TextOps
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog of june and that nearby have with style " +
        "plain word filler text goes here " * 6),
      (2L, "just ten small words live inside this tiny doc here"),
      (3L, "plain filler words appear here again " * 9))
    def route(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Splits.hashSplit(
        TextOps.gopherQuality(df, "doc_id", "text"), "doc_id", "#s",
        Seq("train" -> 0.9, "test" -> 0.1))
    val input = MemoryStream[(Long, String)]
    val q = route(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("gopher_stream").orderBy("doc_id").collect()
      val batch = route(docs.toDF("doc_id", "text")).orderBy("doc_id").collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      assert(streamed(0).getAs[Boolean]("keep_doc"))
      assert(!streamed(1).getAs[Boolean]("keep_doc"))
    } finally q.stop()
  }

  test("real codec scan layer runs unchanged on an unbounded stream") {
    // the codec paths are stateless mapPartitions batches — the SAME
    // call must plan incrementally on a stream and agree with batch.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.{ImageIo, PlantedImages}
    val blobs = PlantedImages.all.map(p => (p.id, p.blob))
    val input = MemoryStream[(Long, Array[Byte])]
    val q = ImageIo.imageStats(input.toDF().toDF("id", "blob"), "id", "blob")
      .writeStream.format("memory").queryName("codec_stream")
      .outputMode("append").start()
    try {
      input.addData(blobs: _*)
      q.processAllAvailable()
      val streamed = spark.table("codec_stream").orderBy("id").collect()
      val batch = ImageIo.imageStats(blobs.toDF("id", "blob"), "id", "blob")
        .orderBy("id").collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("session windows split a keyed feed on the silence gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val result = Streaming.sessionWindows(
      input.toDF().toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", gap = "30 minutes")
    val q = result.writeStream.format("memory")
      .queryName("sessions").outputMode("complete").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0), // same session
        (1L, Timestamp.valueOf("2024-01-01 11:30:00"), 4.0), // >30m later
        (2L, Timestamp.valueOf("2024-01-01 10:05:00"), 8.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .orderBy("user_id", "session_start").collect()
      assert(rows.length === 3)
      assert(rows(0).getAs[Long]("n_events") === 2L) // 10:00+10:10 merged
      assert(rows(0).getAs[Double]("sum_value") === 3.0)
      assert(rows(1).getAs[Long]("n_events") === 1L)
      assert(rows(2).getAs[Long]("user_id") === 2L)
    } finally q.stop()
  }

  test("streaming dedup passes first doc per fingerprint, drops later dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.Doc]
    val q = Streaming.dedupByKey(input.toDS())
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      input.addData(Streaming.Doc("fpA", 1L, "hello world"))
      q.processAllAvailable()
      input.addData(
        Streaming.Doc("fpA", 2L, "hello  world"), // duplicate fingerprint
        Streaming.Doc("fpB", 3L, "fresh text"))
      q.processAllAvailable()
      val got = spark.table("stream_dedup").orderBy("id").collect()
        .map(r => (r.getAs[String]("fp"), r.getAs[Long]("id")))
      assert(got.toSeq === Seq(("fpA", 1L), ("fpB", 3L)),
        "only the first doc per fingerprint may pass")
    } finally q.stop()
  }

  test("streaming KMV sketch over a live feed equals the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (1 to 3000).map(i => (s"g${i % 3}", s"key${i % 700}"))
    val input = MemoryStream[(String, String)]
    val hashed = graft.dedup.Dedup.md5Hash64(col("key"))
    val agg = input.toDF().toDF("g", "key")
      .select(col("g"), hashed.as("h"))
      .groupBy("g").agg(graft.sketch.KmvAgg.kmv(col("h"), 64).as("sk"))
    val q = agg.writeStream.format("memory")
      .queryName("kmv_stream").outputMode("complete").start()
    try {
      // arrive in three uneven micro-batches
      input.addData(rows.take(100))
      q.processAllAvailable()
      input.addData(rows.slice(100, 1700))
      q.processAllAvailable()
      input.addData(rows.drop(1700))
      q.processAllAvailable()
      val streamed = spark.table("kmv_stream")
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val batch = rows.toDF("g", "key")
        .select(col("g"), hashed.as("h"))
        .groupBy("g").agg(graft.sketch.KmvAgg.kmv(col("h"), 64).as("sk"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(streamed === batch)
      // and both equal the window-top-k sketch state
      val state = graft.sketch.Sketch.kmvState(rows.toDF("g", "key"), "g", "key", 64)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(batch === state)
    } finally q.stop()
  }

  test("streaming online LSH near-dup votes equal the batch twin; dups drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val D = graft.dedup.Dedup
    // corpus: 3 templates, each with 2 near-copies (1-2 word mutations),
    // plus 3 unrelated docs — ids are the ingestion sequence
    // single-word mutation: Jaccard vs the template stays ~0.8, far
    // above τ with 64-hash estimate noise (~±0.06)
    def mutate(s: String, k: Int) =
      s.split(" ").zipWithIndex.map { case (w, i) =>
        if (i == k) w + "x" else w }.mkString(" ")
    val templates = Seq(
      "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      "large scale data processing engines shuffle partition and aggregate rows efficiently",
      "energy consumption forecasting blends weather features with demand history signals")
      .map(t => t + " " + t) // long enough for stable 3-gram shingles
    val distinctDocs = Seq(
      "completely unrelated text about gardening tulips and spring rain",
      "another standalone document describing sailing knots and tides",
      "a third singleton covering orchestra rehearsal schedules in may")
    val corpus: Seq[(Long, String)] =
      (templates.zipWithIndex.flatMap { case (t, i) =>
        Seq(t, mutate(t, 1), mutate(t, 2)).zipWithIndex.map { case (s, j) =>
          (i.toLong * 3 + j, s) }
      } ++ distinctDocs.zipWithIndex.map { case (s, i) => (9L + i, s) })
        .sortBy(_._1)
    val (bands, numHashes, tau) = (16, 64, 0.5)

    // signatures attach with the batch path's own projection
    val sigs = D.minhashSignatures(corpus.toDF("id", "text"), "id", "text",
      graft.functions.MinHashFamily.XxHash64, numHashes)
    val eMap = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    // batch votes on the full corpus
    def votesMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("bucket")) -> r.getAs[Boolean]("dup"))
      .toMap
    val batchVotes = votesMap(
      Streaming.nearDupVotesBatch(sigs, bands, numHashes, tau))

    // streaming: same rows over three uneven micro-batches, ascending ids
    val sigDocs = corpus.map { case (id, _) => Streaming.SigDoc(id, eMap(id)) }
    val input = MemoryStream[Streaming.SigDoc]
    val q = Streaming.nearDupVotes(input.toDS(), bands, numHashes, tau)
      .writeStream.format("memory").queryName("neardup_votes")
      .outputMode("append").start()
    try {
      input.addData(sigDocs.take(4))
      q.processAllAvailable()
      input.addData(sigDocs.slice(4, 5))
      q.processAllAvailable()
      input.addData(sigDocs.drop(5))
      q.processAllAvailable()
      val streamVotes = votesMap(spark.table("neardup_votes"))
      assert(streamVotes === batchVotes,
        "stream votes diverged from the batch twin")
      // resolution: every near-copy drops, every template and singleton survives
      val dropped = Streaming.resolveVotes(spark.table("neardup_votes"))
        .collect().filter(_.getAs[Boolean]("dropped")).map(_.getAs[Long]("id")).toSet
      assert(dropped === Set(1L, 2L, 4L, 5L, 7L, 8L),
        s"expected exactly the near-copies to drop, got $dropped")
    } finally q.stop()
  }

  test("online near-dup state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // identical signatures → est-sim 1.0: doc 2 must be voted dup by the
    // RECOVERED bucket state after the query restarts from checkpoint
    val sig = (1L to 64L).toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nd_ckpt").toString
    val input = MemoryStream[Streaming.SigDoc]
    // the memory sink is not fault-tolerant (no checkpoint recovery);
    // foreachBatch is the recoverable sink shape a deployment uses
    val votes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
    def start() = Streaming.nearDupVotes(input.toDS(), bands = 16,
        numHashes = 64, tau = 0.5)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streaming.NearDupVote],
                       _: Long) =>
        batch.collect().foreach(v => votes.add(v.id -> v.dup))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(Streaming.SigDoc(1L, sig))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(Streaming.SigDoc(2L, sig))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val vs = votes.asScala.toSeq
      // doc 1 seeded every bucket pre-restart (all votes false); doc 2's
      // votes must all be dup=true via the recovered state
      assert(vs.count(_._1 == 2L) === 16)
      assert(vs.filter(_._1 == 2L).forall(_._2),
        "bucket rep state was lost across the checkpointed restart")
      assert(vs.filter(_._1 == 1L).forall(!_._2))
    } finally q2.stop()
  }

  test("streaming HLL registers over a live feed equal the batch registers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // register maintenance is a per-(group, bucket) MAX — incrementally
    // computable in complete mode with no sketch-specific state code
    val rows = (1 to 4000).map(i => (s"g${i % 2}", s"key${i % 900}"))
    val input = MemoryStream[(String, String)]
    def regs(df: org.apache.spark.sql.DataFrame) =
      graft.sketch.Sketch.hllRegistersFromHashes(
        df.select(col("g"), graft.dedup.Dedup.md5Hash64(col("key")).as("h")),
        p = 9)
    val q = regs(input.toDF().toDF("g", "key"))
      .writeStream.format("memory")
      .queryName("hll_stream").outputMode("complete").start()
    try {
      input.addData(rows.take(500))
      q.processAllAvailable()
      input.addData(rows.drop(500))
      q.processAllAvailable()
      def m(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(m(spark.table("hll_stream")) === m(regs(rows.toDF("g", "key"))))
    } finally q.stop()
  }

  test("streaming latest-wins fold equals the batch merge, out-of-order included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.Change
    // 4 keys through upsert / delete / delete-then-reinsert / stale-late
    // arrival; versions distinct per key (the latestWins contract)
    val log = Seq(
      Change(1L, 1L, "U", Some("a1"), Some("en")),
      Change(1L, 2L, "U", Some("a2"), Some("en")),   // upsert wins
      Change(2L, 1L, "U", Some("b1"), Some("de")),
      Change(2L, 2L, "D", None, None),               // tombstone wins
      Change(3L, 1L, "U", Some("c1"), Some("fr")),
      Change(3L, 2L, "D", None, None),
      Change(3L, 3L, "U", Some("c3"), Some("fr")),   // re-publication
      Change(4L, 2L, "U", Some("d2"), Some("es")),
      Change(4L, 1L, "U", Some("d1"), Some("es")))   // late arrival loses
    val input = MemoryStream[Change]
    val q = graft.streaming.Streaming.latestWinsStream(input.toDS())
      .writeStream.format("memory").queryName("lw_stream")
      .outputMode("update").start()
    try {
      // uneven micro-batches; key 4's stale v1 arrives AFTER v2
      input.addData(log.take(3))
      q.processAllAvailable()
      input.addData(log.slice(3, 7))
      q.processAllAvailable()
      input.addData(log.drop(7))
      q.processAllAvailable()
      // the sink accumulates one emission per touched key per batch; the
      // key's final state is its highest-version emission
      val streamed = spark.table("lw_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3)), Option(r.getString(4))))
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet
      val batch = graft.ops.Merge.latestWins(
        log.toDF("key", "version", "op", "fp", "lang"),
        "key", "version", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3)), Option(r.getString(4)))).toSet
      // live view = stream winners minus tombstones — must equal batch
      assert(streamed.filter(_._3 != "D") === batch)
      // tombstoned key 2 IS emitted (op intact) so sinks can delete it
      assert(streamed.exists(c => c._1 == 2L && c._3 == "D"))
      // stale late arrival never overwrote key 4
      assert(streamed.find(_._1 == 4L).get._4 === Some("d2"))
    } finally q.stop()
  }

  test("latest-wins state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.Change
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lw_ckpt").toString
    val input = MemoryStream[Change]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Change]()
    def start() = graft.streaming.Streaming.latestWinsStream(input.toDS())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Change], _: Long) =>
        batch.collect().foreach(out.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    val q1 = start()
    try {
      input.addData(Change(1L, 5L, "U", Some("v5"), Some("en")))
      q1.processAllAvailable()
    } finally q1.stop()
    // a STALE version arriving after restart must lose against the
    // RECOVERED v5 state — losing it would mean state died with the query
    val q2 = start()
    try {
      input.addData(Change(1L, 3L, "U", Some("v3"), Some("en")))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val emissions = out.asScala.toSeq.filter(_.key == 1L)
      assert(emissions.nonEmpty)
      assert(emissions.forall(_.fp === Some("v5")),
        s"stale v3 overwrote recovered state: $emissions")
    } finally q2.stop()
  }

  test("tombstone TTL frees delete state; a later pre-delete arrival resurrects") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.Change
    val input = MemoryStream[Change]
    // a REAL trigger interval is load-bearing: ProcessingTimeTimeout
    // schedules micro-batches even with no data (that's how timeouts
    // fire), and the default 0 ms trigger busy-loops thousands of empty
    // checkpointing batches — pair a TTL with a trigger in deployments
    // too (see the operator scaladoc). For the same reason this test
    // POLLS the sink instead of processAllAvailable(): with
    // timeout-scheduled batches arriving forever, "all available" never
    // settles and that call does not return.
    val q = graft.streaming.Streaming
      .latestWinsStream(input.toDS(), tombstoneTtl = Some("300 milliseconds"))
      .writeStream.format("memory").queryName("lw_ttl")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .outputMode("update").start()
    def emitted(): Seq[(Long, Long, String)] = spark.table("lw_ttl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    def eventually(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(200)
      assert(cond, s"timed out waiting for: $what (sink: ${emitted()})")
    }
    try {
      input.addData(Change(1L, 9L, "D", None, None))
      eventually("tombstone v9 emitted")(emitted().contains((1L, 9L, "D")))
      // let several trigger intervals pass: the armed timeout fires in a
      // no-data batch and the tombstone state is freed silently
      Thread.sleep(2000)
      // the documented trade-off: with state gone, a stale pre-delete
      // version resurrects the row (against live v9 state it would lose)
      input.addData(Change(1L, 3L, "U", Some("stale"), Some("en")))
      eventually("stale v3 resurrects after state expiry")(
        emitted().contains((1L, 3L, "U")))
      // and a live (non-delete) winner never expires: long after the TTL
      // horizon, key 2's recorded v1 still beats a stale v0 arrival
      input.addData(Change(2L, 1L, "U", Some("x"), Some("en")))
      eventually("key 2 v1 emitted")(emitted().contains((2L, 1L, "U")))
      Thread.sleep(2000)
      input.addData(Change(2L, 0L, "U", Some("older"), Some("en")))
      // the losing arrival still triggers an emission of the key's
      // CURRENT winner (v1) in its batch — observe it, then confirm v0
      // never won
      eventually("key 2 re-emits winner v1")(
        emitted().count(e => e._1 == 2L && e._2 == 1L) >= 2)
      assert(!emitted().contains((2L, 0L, "U")),
        s"stale v0 overwrote unexpired live state: ${emitted()}")
    } finally q.stop()
  }

  /** Fingerprint helper shared by the incremental-dedup stream tests:
    * the SAME canonicalization the batch operator applies.
    */
  private def fpOf(texts: Seq[String]): Map[String, String] = {
    import spark.implicits._
    texts.distinct.toDF("text")
      .select(col("text"), graft.text.TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("streaming incremental dedup matches the batch classifier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.IncDoc
    val corpus = Seq((1L, "alpha corpus page"), (2L, "beta corpus page"))
    val batch = Seq((10L, "alpha corpus page"),   // dup_corpus
      (12L, "gamma fresh page"),                  // new
      (15L, "gamma fresh page"),                  // dup_batch (later id)
      (18L, "delta fresh page"))                  // new
    val fps = fpOf((corpus ++ batch).map(_._2))
    val input = MemoryStream[IncDoc]
    val q = graft.streaming.Streaming.incrementalDedupStream(input.toDS())
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      // seed micro-batch: the corpus fp set; then the arrivals split
      // across TWO micro-batches so the gamma dup spans state
      input.addData(corpus.map { case (id, t) => IncDoc(fps(t), id, true) })
      q.processAllAvailable()
      input.addData(batch.take(2).map { case (id, t) => IncDoc(fps(t), id, false) })
      q.processAllAvailable()
      input.addData(batch.drop(2).map { case (id, t) => IncDoc(fps(t), id, false) })
      q.processAllAvailable()
      val streamed = spark.table("inc_dedup").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val expected = graft.dedup.Dedup.incrementalDedup(
        batch.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"),
        "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(streamed === expected)
      // corpus seed rows classify nothing — exactly |batch| emissions
      assert(streamed.size === batch.size)
    } finally q.stop()
  }

  test("incremental-dedup state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{IncDoc, IncStatus}
    val fps = fpOf(Seq("alpha corpus page", "gamma fresh page"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_inc_ckpt").toString
    val input = MemoryStream[IncDoc]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[IncStatus]()
    def start() = graft.streaming.Streaming.incrementalDedupStream(input.toDS())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[IncStatus], _: Long) =>
        b.collect().foreach(out.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(IncDoc(fps("alpha corpus page"), 1L, true))
      input.addData(IncDoc(fps("gamma fresh page"), 12L, false))
      q1.processAllAvailable()
    } finally q1.stop()
    // after restart: the recovered state must remember BOTH the corpus
    // fp (alpha → dup_corpus) and the batch claimant (gamma → dup_batch)
    val q2 = start()
    try {
      input.addData(
        IncDoc(fps("alpha corpus page"), 20L, false),
        IncDoc(fps("gamma fresh page"), 25L, false))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val late = out.asScala.filter(s => s.docId >= 20L).map(s => s.docId -> s.status).toMap
      assert(late === Map(20L -> "dup_corpus", 25L -> "dup_batch"),
        s"state lost across restart: $late")
    } finally q2.stop()
  }

  test("streaming shard manifest equals the batch manifest (incremental integrity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wave1 = (1L to 40L).map(i => (i, s"first crawl wave doc $i"))
    val wave2 = (41L to 60L).map(i => (i, s"second wave appended doc $i"))
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Shard.shardManifestStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", 4)
      .writeStream.format("memory").queryName("manifest_stream")
      .outputMode("update").start()
    try {
      input.addData(wave1)
      q.processAllAvailable()
      input.addData(wave2)
      q.processAllAvailable()
      // latest emission per shard = the maintained manifest; must equal
      // the batch manifest over everything seen (minus n_distinct_fp,
      // which the stream twin documents away)
      val streamed = spark.table("manifest_stream")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("shard")
            .orderBy(col("n_docs").desc)))
        .filter(col("rn") === 1).drop("rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5))).toSet
      val batch = graft.ops.Shard.shardManifest(
          (wave1 ++ wave2).toDF("doc_id", "text"), "doc_id", "text", 4)
        .select("shard", "n_docs", "n_tokens", "fp_checksum", "min_fp", "max_fp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("fluency stream scores against a batch-trained model, row-equal to the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.LangModel
    // the LangModelSpec fixture: train = docs 1,2; doc 3 carries an
    // unseen bigram, doc 4 has <2 alpha tokens
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "a b z"), (4L, "x Z9"))
      .toDF("doc_id", "text")
    val model = LangModel.trainBigramModel(docs, "doc_id", "text",
      isTrain = col("doc_id") <= 2)
    assert(model.vocabSize === 3L) // successors {b, a, c}
    val batch = LangModel.bigramFluencyWithTrain(docs, "doc_id", "text",
        isTrain = col("doc_id") <= 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    val input = MemoryStream[(Timestamp, Long, String)]
    val scored = Streaming.fluencyStream(
      input.toDF().toDF("ts", "doc_id", "text"),
      "ts", "doc_id", "text", model)
    val q = scored.writeStream.format("memory")
      .queryName("fluency_stream").outputMode("complete").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(
        (t, 1L, "a b a b"), (t, 2L, "a b c"),
        (t, 3L, "a b z"), (t, 4L, "x Z9"))
      q.processAllAvailable()
      val got = spark.table("fluency_stream").orderBy("doc_id").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(got === batch,
        "stream scores must be bit-identical to the batch scorer")
    } finally q.stop()
  }

  test("fluency stream honors the model's gram order (trigram parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.LangModel
    // the LangModelSpec trigram fixture: train = docs 1,2; doc 3 carries
    // an unseen trigram, doc 4 has <3 alpha tokens
    val docs = Seq(
      (1L, "a b a b a"), (2L, "a b c"), (3L, "a b a z"), (4L, "x y"))
      .toDF("doc_id", "text")
    val model = LangModel.trainNgramModel(docs, "doc_id", "text",
      isTrain = col("doc_id") <= 2, n = 3)
    val batch = LangModel.scoreWithModel(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val input = MemoryStream[(Timestamp, Long, String)]
    val scored = Streaming.fluencyStream(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", model)
    assert(scored.columns.toSeq ===
      Seq("ts", "doc_id", "n_ngrams", "n_unseen", "mean_cond_p"))
    val q = scored.writeStream.format("memory")
      .queryName("fluency_stream3").outputMode("complete").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(
        (t, 1L, "a b a b a"), (t, 2L, "a b c"),
        (t, 3L, "a b a z"), (t, 4L, "x y"))
      q.processAllAvailable()
      val got = spark.table("fluency_stream3").orderBy("doc_id").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(got === batch,
        "trigram stream scores must be bit-identical to the batch scorer")
    } finally q.stop()
  }

  test("fluency scores survive a checkpointed stop/restart (VERDICT r12 item 4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.LangModel
    // Stream-static joins carry no stream state — the model frames are
    // re-resolved on restart — and the only streaming state is the
    // per-doc aggregation, recovered from the checkpoint. The proof:
    // docs arriving only AFTER the restart must score bit-identically
    // to the batch scorer against the same model.
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "a b z"), (4L, "x Z9"))
      .toDF("doc_id", "text")
    val model = LangModel.trainBigramModel(docs, "doc_id", "text",
      isTrain = col("doc_id") <= 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_flu_ckpt").toString
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    def start() = graft.streaming.Streaming.fluencyStream(
        input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", model)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          out.add((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val q1 = start()
    try {
      input.addData((t(0), 1L, "a b a b"), (t(0), 2L, "a b c"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // post-restart docs, then two late sentinels: the first advances
      // the watermark past t(40) at its batch's END, the second runs a
      // batch under the advanced watermark so append mode flushes 3/4
      input.addData((t(40), 3L, "a b z"), (t(40), 4L, "x Z9"))
      q2.processAllAvailable()
      input.addData((t(120), 99L, "a b"))
      q2.processAllAvailable()
      input.addData((t(240), 100L, "a b"))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val late = out.asScala.filter(r => r._1 == 3L || r._1 == 4L).toSeq.sortBy(_._1)
      val want = LangModel.scoreWithModel(
          Seq((3L, "a b z"), (4L, "x Z9")).toDF("doc_id", "text"),
          "doc_id", "text", model)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(late === want,
        s"post-restart stream scores must equal the batch scorer: $late vs $want")
    } finally q2.stop()
  }

  test("classify stream scores against a batch-trained NB model, row-equal to the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.Classifier
    // the ClassifierSpec fixture: train = docs 1,2 (doc1 pos); doc 3
    // carries an unseen token, doc 4 has no alpha tokens
    val docs = Seq(
      (1L, "a b a", true), (2L, "b c", false),
      (3L, "a c z", false), (4L, "x9 !!", false))
      .toDF("doc_id", "text", "pos")
    val model = Classifier.trainNbModel(docs, "doc_id", "text",
      isTrain = col("doc_id") <= 2, isPos = col("pos"))
    assert((model.nPos, model.nNeg, model.vocabSize) === ((3L, 2L, 3L)))
    val batch = Classifier.scoreWithNbModel(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    val input = MemoryStream[(Timestamp, Long, String)]
    val scored = Streaming.classifyStream(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", model)
    assert(scored.columns.toSeq ===
      Seq("ts", "doc_id", "n_tokens", "n_unseen", "score", "predicted"))
    val q = scored.writeStream.format("memory")
      .queryName("classify_stream").outputMode("complete").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(
        (t, 1L, "a b a"), (t, 2L, "b c"),
        (t, 3L, "a c z"), (t, 4L, "x9 !!"))
      q.processAllAvailable()
      val got = spark.table("classify_stream").orderBy("doc_id").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5)))
      assert(got === batch,
        "stream scores must be bit-identical to the batch scorer")
    } finally q.stop()
  }

  test("classifier scores survive a checkpointed stop/restart (VERDICT r13 item 4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.Classifier
    // the fluency restart proof's shape on the NB scorer: stream-static
    // joins carry no stream state — the model frames re-resolve on
    // restart — and the only streaming state is the per-doc aggregate,
    // recovered from the checkpoint. Docs arriving only AFTER the
    // restart must score bit-identically to the batch scorer.
    val docs = Seq(
      (1L, "a b a", true), (2L, "b c", false),
      (3L, "a c z", false), (4L, "x9 !!", false))
      .toDF("doc_id", "text", "pos")
    val model = Classifier.trainNbModel(docs, "doc_id", "text",
      isTrain = col("doc_id") <= 2, isPos = col("pos"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nb_ckpt").toString
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double, Boolean)]()
    def start() = graft.streaming.Streaming.classifyStream(
        input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", model)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          out.add((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
            r.getBoolean(5))))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val q1 = start()
    try {
      input.addData((t(0), 1L, "a b a"), (t(0), 2L, "b c"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // post-restart docs, then two late sentinels: the first advances
      // the watermark past t(40) at its batch's END, the second runs a
      // batch under the advanced watermark so append mode flushes 3/4
      input.addData((t(40), 3L, "a c z"), (t(40), 4L, "x9 !!"))
      q2.processAllAvailable()
      input.addData((t(120), 99L, "a b"))
      q2.processAllAvailable()
      input.addData((t(240), 100L, "a b"))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val late = out.asScala.filter(r => r._1 == 3L || r._1 == 4L).toSeq.sortBy(_._1)
      val want = Classifier.scoreWithNbModel(
          Seq((3L, "a c z"), (4L, "x9 !!")).toDF("doc_id", "text"),
          "doc_id", "text", model)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(4))).toSeq
      assert(late === want,
        s"post-restart stream scores must equal the batch scorer: $late vs $want")
    } finally q2.stop()
  }
}
