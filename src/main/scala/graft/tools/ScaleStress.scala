package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness (NOT a registered query): empirically validates
  * SCALE.md's 100×-survival claims for the heaviest operator families
  * (7 linear-shape core families, the two planted-skew decades, the
  * 4-path ANN similarity decade) by driving them at self-generated
  * corpus sizes and recording wall time and shuffle volume. Testdata
  * is read-only and capped at sf0.1, so inputs are synthesized here —
  * deterministic
  * hash-derived columns over `spark.range` (no RNG state, no driver
  * materialization), with planted near-dup structure so the dedup chain
  * does real verification work.
  *
  * Run:  sbt "runMain graft.tools.ScaleStress 5000"    (sf0.1-ish)
  *       sbt "runMain graft.tools.ScaleStress 50000"   (10×)
  * Emits one JSON line per family:
  *   {"family":…,"n_docs":…,"wall_sec":…,"shuffle_read_mb":…,
  *    "shuffle_write_mb":…,"result_rows":…}
  * The interesting read is the RATIO between sizes: a linear-shape
  * family shows ~10× wall/shuffle at 10× rows; a quadratic one shows
  * ~100× — the measured complement to SCALE.md's per-family reasoning.
  *
  * Sizing: edges = 8 × docs (PageRank at constant average degree 8);
  * series = docs / 16 of length 24 (DTW k-means is O(k·len²·series) per
  * iteration — series count is the scaling axis).
  */
object ScaleStress {

  /** Synthetic documents: ~60 tokens over a 5000-word vocabulary; ids
    * with id%5 ∈ {0,1} form planted near-dup pairs sharing 58/60 tokens
    * (Jaccard ≈ 0.93 — well above the 0.5 verify threshold), everything
    * else draws from a per-doc token stream. All columns are pure
    * hash projections of `id` — distributed, deterministic, no skew.
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val fam = when(col("id") % 5 <= 1,
      (col("id") / 5).cast("long") + lit(1000000000L)).otherwise(col("id"))
    val toks = transform(sequence(lit(0), lit(59)),
      i => concat(lit("w"), pmod(xxhash64(fam, i), lit(5000)).cast("string")))
    // the second member of each pair perturbs two tokens so verify sees
    // a real (non-identical) near-dup, not an exact dup
    val perturbed = concat(
      array(concat(lit("u"), col("id").cast("string")),
        concat(lit("v"), col("id").cast("string"))),
      slice(toks, 3, 58))
    spark.range(n).select(
      col("id").as("doc_id"),
      array_join(when(col("id") % 5 === 1, perturbed).otherwise(toks), " ")
        .as("text"),
      (pmod(xxhash64(col("id"), lit(7L)), lit(1000)).cast("double") / 1000.0)
        .as("score"))
  }

  /** Synthetic edge list at average degree `deg` over n/`deg` nodes —
    * hash-uniform endpoints (no hubs; the hub path is pageRank's
    * documented adjacencyForm=false fallback).
    */
  def edges(spark: SparkSession, nEdges: Long, nNodes: Long): DataFrame =
    spark.range(nEdges).select(
      pmod(xxhash64(col("id"), lit(1L)), lit(nNodes)).as("src"),
      pmod(xxhash64(col("id"), lit(2L)), lit(nNodes)).as("dst"))

  /** Synthetic equal-length series with 4 planted cluster shapes (phase
    * offset by id%4) plus hash noise — DTW k-means does real work.
    */
  def series(spark: SparkSession, n: Long, len: Int): DataFrame =
    spark.range(n).select(
      col("id").cast("string").as("sid"),
      transform(sequence(lit(0), lit(len - 1)), i =>
        sin((i.cast("double") + (col("id") % 4).cast("double") * 6.0) / 3.0)
          + pmod(xxhash64(col("id"), i), lit(100)).cast("double") / 500.0)
        .as("vec"))

  /** Documents with a planted HOT LSH bucket: ids with id%100 == 0 (1%
    * of the corpus) are boilerplate — one shared 58-token template plus
    * two unique tokens per doc (near-identical, not exact dups), so they
    * collide into the same (band, hash) buckets and the bucket self-join
    * goes quadratic in the boilerplate population unless capped. The
    * other 99% are the uniform [[documents]] shape (no planted pairs).
    */
  def skewDocuments(spark: SparkSession, n: Long): DataFrame = {
    val fam = when(col("id") % 100 === 0, lit(-1L)).otherwise(col("id"))
    val toks = transform(sequence(lit(0), lit(59)),
      i => concat(lit("w"), pmod(xxhash64(fam, i), lit(5000)).cast("string")))
    val boiler = concat(
      array(concat(lit("u"), col("id").cast("string")),
        concat(lit("v"), col("id").cast("string"))),
      slice(toks, 3, 58))
    spark.range(n).select(
      col("id").as("doc_id"),
      array_join(when(col("id") % 100 === 0, boiler).otherwise(toks), " ")
        .as("text"))
  }

  /** Synthetic dim-`dim` float embeddings: components are pure hash
    * projections of `id`, uniform in [-1, 1] — distributed,
    * deterministic, no skew. The ANN query batch is simply ids <
    * nQueries from the SAME generator, so the batch is PINNED across
    * corpus sizes (id k generates the identical vector at every n) and
    * its members' self-matches are excluded by the operators' own
    * `neighbor_id =!= query_id` guard. Hash-uniform vectors make LSH
    * buckets / IVF cells balanced — the cost decade measures the
    * even-load shape; recall quality under structure is the q185–q187
    * audits' job, and the hot-bucket failure mode is the skew decade's.
    */
  def annEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      embeddingCol(col("id"), dim).as("embedding"))

  /** The generator's embedding as a COLUMN of any id expression — shared
    * with the `serve` mode's rate-source query stream, so streamed query
    * vectors come from the identical deterministic family as the corpus.
    */
  def embeddingCol(id: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(xxhash64(id, i), lit(2001)).cast("double")
        / lit(1000.0) - lit(1.0)).cast("float"))

  /** Fact table with a planted hot join key at ×100 the mean: keys are
    * uniform over `nKeys` for 90% of rows, and the remaining 10% all
    * carry key 0 — with nKeys = 1000 the mean key holds n/1000 rows and
    * key 0 holds ~n/10 ≈ 100× the mean (the q188 hot_ratio shape).
    */
  def skewFact(spark: SparkSession, n: Long, nKeys: Long): DataFrame =
    spark.range(n).select(
      when(pmod(xxhash64(col("id"), lit(3L)), lit(10)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(4L)), lit(nKeys))).as("key"),
      col("id").as("v"))

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 5000L
    // "core" (default) = the round-10 linear-shape families;
    // "skew"           = the planted-hot-key decade: naive vs mitigated
    //                    (Dedup.capBuckets / q188-planned Skew.saltedJoin)
    // "ann"            = the similarity-search decade: exact vs sign-LSH
    //                    vs IVF vs PQ-ADC top-k over a pinned query batch
    //                    (+ "recall" families: production-path recall@k)
    // "append"         = index delta-append vs rebuild (1% corpus growth)
    // "serve"          = ANN serving-stream qps/latency/state decade
    val mode = if (args.length > 1) args(1) else "core"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      // the ann *_bucketed families persist the corpus as a bucketed
      // TABLE (bucketing metadata lives in the catalog, not the footer)
      .config("spark.sql.warehouse.dir", "/tmp/graft_stress_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val read = new java.util.concurrent.atomic.AtomicLong
    val write = new java.util.concurrent.atomic.AtomicLong
    val maxTask = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        if (t.taskInfo != null)
          maxTask.getAndAccumulate(t.taskInfo.duration, math.max(_, _))
      }
    })

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", v)
    def run(family: String)(body: => Long): Unit = {
      // Drop the previous family's leaked pinned blocks before timing:
      // chains localCheckpoint intermediates they never unpersist (the
      // ContextCleaner frees them on driver GC, i.e. at an arbitrary
      // later point), so block-manager pressure from family k inflated
      // family k+1's wall — observed as a 2.1–21 s same-code spread on
      // the classifier family until this flush was added.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // ... and collect the previous family's garbage OUTSIDE the timed
      // region (the Bench isolation rationale): without this, the next
      // family's first heavy stage absorbs a full-heap GC of its
      // predecessor's garbage — measured on the classifier decade as a
      // 2-30 s same-code wall spread whose slow draws put 25-40% of
      // task time in jvmGCTime, uniformly across all 32 tasks
      // (Profile stage histograms, round 15).
      System.gc()
      // settle async listener traffic from the previous family
      Thread.sleep(1500)
      read.set(0L); write.set(0L); maxTask.set(0L)
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let task-end events drain before reading
      println(s"""{"family":"$family","n_docs":$nDocs,"wall_sec":${fmt(wall)},""" +
        s""""shuffle_read_mb":${fmt(read.get / 1e6)},""" +
        s""""shuffle_write_mb":${fmt(write.get / 1e6)},""" +
        s""""max_task_ms":${maxTask.get},"result_rows":$rows}""")
    }

    // ---- ANN similarity decade (VERDICT r12 top item) ----
    // The four registered top-k paths over the same synthetic corpus and
    // the same PINNED 64-query batch (`annEmbeddings` — ids < 64
    // generate identical vectors at every corpus size):
    //  * exact  — `Similarity.cosineTopK`: the brute-force baseline;
    //    cost is Q×n pair scores and a Q×n-row (ids + one double)
    //    window shuffle — LINEAR in n at fixed Q, which is exactly why
    //    the corpus-sized-query-set form (dedup, Q ∝ n) is QUADRATIC
    //    and never schedulable at 100 TB.
    //  * sign-LSH — `Similarity.signLshCandidates`/`signLshTopK`
    //    (bits=12, tables=4): candidate mass ≈ Q·tables·n/2^bits — the
    //    measured candidate count is the *_cands family's result_rows.
    //  * IVF — `Similarity.ivfCandidates`/`ivfTopK` (nCells=64,
    //    nProbe=8): candidate mass ≈ Q·n·nProbe/nCells, plus the
    //    one-time seeded KMeans quantizer train (charged to the wall —
    //    at 100 TB it is an indexing cost amortized over query batches).
    //  * PQ-ADC — `Similarity.pqTopK` (m=8, k=16, the q120 config): by
    //    design a SCAN-ALL method (candidates = Q×n code rows); its win
    //    is 8 codes instead of 64 floats per row and m table lookups
    //    instead of a dim-wide dot per pair, not candidate reduction.
    //    The wall includes the one-time exact-decimal encode of the
    //    corpus (the oracle-replayable audit form, O(n·m·k) decimal
    //    sub-distances — the indexing cost, amortized in production).
    // Cands families run the candidate stage alone (result_rows = the
    // candidate count); topk families run the full operator. Run at
    // 100k / 1M / 10M: the separation to read is exact's shuffle/wall
    // slope (∝ n) vs the bucketed paths' candidate-bounded re-rank.
    if (mode == "ann") {
      val dim = 64; val qn = 64L; val k = 10
      // optional third arg: comma-separated family substrings to run
      // (e.g. "exact,lsh,ivf" to skip the decimal-heavy PQ encode at
      // the largest sizes — the exact-encode PQ decade is capped at 1M
      // by design; "pq_fast" is the production-encode 10M path)
      val fams = if (args.length > 2) args(2).split(",").toSeq else Seq("")
      def want(name: String): Boolean = fams.exists(name.contains)
      def emb = annEmbeddings(spark, nDocs, dim)
      def qs = annEmbeddings(spark, qn, dim)
      import graft.sim.Similarity
      val bodies: Seq[(String, (DataFrame, DataFrame) => Long)] = Seq(
        "ann_exact_topk" -> ((c, q) =>
          Similarity.cosineTopK(c, q, "vec_id", "embedding", k).count()),
        "ann_lsh_cands" -> ((c, q) =>
          Similarity.signLshCandidates(c, q, "vec_id", "embedding",
            dim = dim, bits = 12, tables = 4).count()),
        "ann_lsh_topk" -> ((c, q) =>
          Similarity.signLshTopK(c, q, "vec_id", "embedding", k,
            dim = dim, bits = 12, tables = 4).count()),
        "ann_ivf_cands" -> ((c, q) =>
          Similarity.ivfCandidates(c, q, "vec_id", "embedding",
            nCells = 64, nProbe = 8).count()),
        "ann_ivf_topk" -> ((c, q) =>
          Similarity.ivfTopK(c, q, "vec_id", "embedding", k,
            nCells = 64, nProbe = 8).count()),
        // the exact-decimal encode is the oracle-replayable audit form
        "ann_pq_adc_topk" -> ((c, q) =>
          Similarity.pqTopK(c, q, "vec_id", "embedding",
            m = 8, k = 16, dim = dim, topK = k).count()),
        // the production-encode PQ path (pqEncodeFast — scan-local
        // double argmin, codes spec-equated to the exact form): the
        // decimal encode capped the PQ decade at 1M; this family is
        // the 10M un-capping (VERDICT r13 item 2)
        "ann_pq_fast_topk" -> ((c, q) =>
          Similarity.pqTopK(c, q, "vec_id", "embedding",
            m = 8, k = 16, dim = dim, topK = k, exactEncode = false)
            .count()))
      // Cold-JVM warmup: run every WANTED body once at a small size so
      // the timed families measure the operator, not first-run JIT (the
      // SCALE.md wall methodology note — a family-FIRST exact-PQ run
      // measured 276 s at 1M where the warm operator runs ~50 s).
      locally {
        val we = annEmbeddings(spark, math.min(nDocs, 20000L), dim)
        val wq = annEmbeddings(spark, 8L, dim)
        bodies.foreach { case (name, body) =>
          if (want(name) || want(name + "_bucketed")) body(we, wq) }
      }
      bodies.foreach { case (name, body) =>
        if (want(name)) run(name) { body(emb, qs) } }
      // ---- bucketed-corpus re-rank (VERDICT r13 item 1) ----
      // The round-13 ANN decade proved the family's dominant remaining
      // shuffle is the re-rank's corpus-vector re-attach (LSH 5.2 GB /
      // IVF 15.1 GB at 10M vectors). The named lever is LAYOUT: the
      // corpus written bucketed by id (Sources.bucketedSink) gives the
      // attach join's corpus side a pre-shuffled HashPartitioning, so
      // only candidate IDS exchange. The one-time bucketed write is the
      // indexing pass (amortized across query batches in production),
      // so it runs OUTSIDE the timed body; PlanSpec holds the
      // no-Exchange-above-the-bucketed-scan plan proof.
      val bucketedPairs = Seq(
        "ann_exact_topk_bucketed" -> "ann_exact_topk",
        "ann_lsh_topk_bucketed" -> "ann_lsh_topk",
        "ann_ivf_topk_bucketed" -> "ann_ivf_topk")
      if (bucketedPairs.exists(p => want(p._1))) {
        // a previous JVM's table DIRECTORY survives while the
        // in-memory catalog does not — clear both, or saveAsTable
        // refuses the non-empty managed location (this silently killed
        // the first bucketed campaign: sbt's stderr was discarded)
        spark.sql("DROP TABLE IF EXISTS graft_ann_corpus")
        def del(f: java.io.File): Unit = {
          if (f.isDirectory) { val fs = f.listFiles; if (fs != null) fs.foreach(del) }
          f.delete(); ()
        }
        del(new java.io.File("/tmp/graft_stress_warehouse/graft_ann_corpus"))
        graft.sources.Csv.bucketedSink(emb, "graft_ann_corpus",
          Seq("vec_id"), buckets = cpus.toInt)
        def bucketedCorpus = spark.table("graft_ann_corpus")
        val byName = bodies.toMap
        bucketedPairs.foreach { case (bn, base) =>
          if (want(bn)) run(bn) { byName(base)(bucketedCorpus, qs) } }
      }
      // ---- persisted LSH index (VERDICT r14 item 1) ----
      // The bucketed decade left ONE multi-hundred-MB sign-LSH term:
      // the per-batch (neighbor_id, t, b) index build — bucket dots
      // over the corpus plus the capBuckets window's hashpartitioning
      // (t, b) exchange of all n·tables membership rows (468.7 MB at
      // 10M), attributed to "a one-time amortized pass" WITHOUT a
      // number. This family puts the number on it: the index persists
      // ONCE via bucketedSink keyed by its (t, b) join key (untimed —
      // the indexing pass), the corpus stays the bucketed table from
      // above (untimed — the round-14 layout pass), and the timed body
      // is what a production query batch actually runs:
      // signLshTopKFromIndex over the two persisted tables. Expected
      // per-batch shuffle: the 64-query bucket frame + candidate ids.
      if (want("ann_lsh_topk_indexed")) {
        graft.sources.Csv.bucketedSink(
          Similarity.signLshIndex(emb, "vec_id", "embedding",
            dim = dim, bits = 12, tables = 4),
          "graft_lsh_index", Seq("t", "b"), buckets = cpus.toInt)
        // corpus table may already exist from the *_bucketed families;
        // (re)write it so this family also runs standalone
        graft.sources.Csv.bucketedSink(emb, "graft_ann_corpus",
          Seq("vec_id"), buckets = cpus.toInt)
        run("ann_lsh_topk_indexed") {
          Similarity.signLshTopKFromIndex(
            spark.table("graft_lsh_index"),
            spark.table("graft_ann_corpus"), qs,
            "vec_id", "embedding", k, dim = dim, bits = 12, tables = 4)
            .count()
        }
      }
      // ---- persisted IVF index (the LSH-index pattern on IVF) ----
      // IVF's per-batch corpus-side terms are the quantizer train and
      // the cell-assignment scan; both are one-time indexing passes.
      // Persist the (neighbor_id, cell) assignment bucketed by
      // NEIGHBOR_ID — not the probe key: the bounded query batch
      // broadcasts into the probe join anyway, and IVF has no distinct
      // between probe and attach, so an id-bucketed cells table lets
      // the candidate frame inherit HashPartitioning(neighbor_id)
      // straight through to the re-rank attach. (A first cut bucketed
      // by `cell` measured 556 MB/batch at 10M — the whole 80M-pair
      // candidate frame re-exchanged for the attach — vs 0.53 MB with
      // the id bucketing.) The centroid frame is the bounded model
      // artifact, persisted next to it.
      if (want("ann_ivf_topk_indexed")) {
        val idx = Similarity.ivfIndex(emb, "vec_id", "embedding",
          nCells = 64)
        graft.sources.Csv.bucketedSink(idx.cells, "graft_ivf_cells",
          Seq("neighbor_id"), buckets = cpus.toInt)
        graft.sources.Csv.bucketedSink(idx.centroids,
          "graft_ivf_centroids", Seq("cell"), buckets = 1)
        graft.sources.Csv.bucketedSink(emb, "graft_ann_corpus",
          Seq("vec_id"), buckets = cpus.toInt)
        run("ann_ivf_topk_indexed") {
          Similarity.ivfTopKFromIndex(
            spark.table("graft_ivf_cells"),
            spark.table("graft_ivf_centroids"),
            spark.table("graft_ann_corpus"), qs,
            "vec_id", "embedding", k, nProbe = 8)
            .count()
        }
      }
      // ---- production-path recall (VERDICT r16 item 4) ----
      // q185–q187 audit recall on PINNED oracle-replayable mechanics
      // (deterministic md5-sampled centroids, exact-decimal cell
      // assignment); the recall a deployment actually gets from the
      // TRAINED paths — the seeded-KMeans IVF coarse quantizer, the
      // sampled PQ codebooks, the seeded sign-LSH hyperplanes at the
      // production (bits, tables) — was unmeasured. recall@k here is
      // |engine top-k ∩ exact top-k| / |exact top-k| over the same
      // pinned 64-query batch as the wall families, computed
      // engine-side (a bounded Q·k-row join). Filter name: "recall".
      if (want("recall")) {
        val exact = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", k)
          .select(col("query_id"), col("neighbor_id"))
        val exactP = graft.ops.Pin.pin(exact)
        val nExact = exactP.count()
        def recallOf(name: String, res: DataFrame): Unit = {
          val hit = res.select(col("query_id"), col("neighbor_id"))
            .join(exactP, Seq("query_id", "neighbor_id")).count()
          println(s"""{"family":"$name","n_docs":$nDocs,"k":$k,""" +
            s""""recall_at_k":${fmt(hit.toDouble / math.max(1L, nExact))},""" +
            s""""hits":$hit,"exact_pairs":$nExact}""")
        }
        recallOf("ann_ivf_recall",
          Similarity.ivfTopK(emb, qs, "vec_id", "embedding", k,
            nCells = 64, nProbe = 8))
        // the recall KNOBS, swept so the row is actionable: IVF recall
        // is bought with nProbe (nProbe = nCells degenerates to exact),
        // LSH recall with fewer bits / more tables (bigger buckets,
        // more candidate mass)
        recallOf("ann_ivf_recall_probe16",
          Similarity.ivfTopK(emb, qs, "vec_id", "embedding", k,
            nCells = 64, nProbe = 16))
        recallOf("ann_ivf_recall_probe32",
          Similarity.ivfTopK(emb, qs, "vec_id", "embedding", k,
            nCells = 64, nProbe = 32))
        recallOf("ann_lsh_recall",
          Similarity.signLshTopK(emb, qs, "vec_id", "embedding", k,
            dim = dim, bits = 12, tables = 4))
        recallOf("ann_lsh_recall_b8t8",
          Similarity.signLshTopK(emb, qs, "vec_id", "embedding", k,
            dim = dim, bits = 8, tables = 8))
        recallOf("ann_pq_recall",
          Similarity.pqTopK(emb, qs, "vec_id", "embedding",
            m = 8, k = 16, dim = dim, topK = k, exactEncode = false))
        recallOf("ann_pq_recall_m16k256",
          Similarity.pqTopK(emb, qs, "vec_id", "embedding",
            m = 16, k = 256, dim = dim, topK = k, exactEncode = false))
        // IVFPQ (round 18): the serving path's recall knobs are nProbe
        // (which cells) × rerank (how many ADC survivors fetch true
        // vectors). The question the sweep answers: does the ADC
        // prefilter COST recall vs flat IVF at the same nProbe — i.e.
        // is rerank = 64 enough for the 8-byte codes to recover the
        // flat path's candidates at k = 10?
        locally {
          val pqIdx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
            nCells = 64, m = 8, k = 256, dim = dim)
          val cellsP = graft.ops.Pin.pin(pqIdx.cells)
          def ivfpq(nProbe: Int, rerank: Int) =
            Similarity.ivfPqTopKFromIndex(cellsP, pqIdx.centroids,
              pqIdx.codebook, emb, qs, "vec_id", "embedding", k = k,
              m = 8, dim = dim, nProbe = nProbe, rerank = rerank)
          recallOf("ann_ivfpq_recall_probe8_rr64", ivfpq(8, 64))
          recallOf("ann_ivfpq_recall_probe16_rr64", ivfpq(16, 64))
          recallOf("ann_ivfpq_recall_probe16_rr16", ivfpq(16, 16))
          recallOf("ann_ivfpq_recall_probe16_rr256", ivfpq(16, 256))
          // the code-width knob: 16 subspaces × 256 codes = 16 B/vector
          val pqIdx16 = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
            nCells = 64, m = 16, k = 256, dim = dim)
          val cells16 = graft.ops.Pin.pin(pqIdx16.cells)
          recallOf("ann_ivfpq_recall_m16_probe16_rr64",
            Similarity.ivfPqTopKFromIndex(cells16, pqIdx16.centroids,
              pqIdx16.codebook, emb, qs, "vec_id", "embedding", k = k,
              m = 16, dim = dim, nProbe = 16, rerank = 64))
        }
      }
      // ---- filtered-ANN recall (round 20, VERDICT r19 item 5) ----
      // Predicate-constrained top-k: the reference is EXACT search over
      // the filtered corpus, the engine side the from-index paths with
      // the allowed-id restriction pushed into the cells scan
      // (Similarity.restrictIndex). The question the sweep answers: how
      // does recall move when a selective filter thins the probed
      // cells' matching mass — per-probed-cell survivors shrink by the
      // selectivity, so at 5% a cell holding ~n/nCells rows offers only
      // ~5% of them, and nProbe has to climb to recover the same
      // matching-candidate count. Two selectivities (50% and 5%, id-mod
      // predicates — uncorrelated with cell geometry), nProbe at the
      // production 8 and the 2× 16, IVFPQ at the serving rr64.
      // Filter name: "filtered".
      if (want("filtered")) {
        val ivfIdxF = Similarity.ivfIndex(emb, "vec_id", "embedding",
          nCells = 64)
        val ivfCellsF = graft.ops.Pin.pin(ivfIdxF.cells)
        val pqIdxF = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
          nCells = 64, m = 8, k = 256, dim = dim)
        val pqCellsF = graft.ops.Pin.pin(pqIdxF.cells)
        for ((selName, modulus) <- Seq(("sel50", 2), ("sel5", 20))) {
          val pred = col("vec_id") % modulus === 0
          val allowed = emb.filter(pred).select(col("vec_id"))
          val exactF = graft.ops.Pin.pin(
            Similarity.cosineTopK(emb.filter(pred), qs,
              "vec_id", "embedding", k)
              .select(col("query_id"), col("neighbor_id")))
          val nExactF = exactF.count()
          def recallF(name: String, res: DataFrame): Unit = {
            val hit = res.select(col("query_id"), col("neighbor_id"))
              .join(exactF, Seq("query_id", "neighbor_id")).count()
            println(s"""{"family":"$name","n_docs":$nDocs,"k":$k,""" +
              s""""selectivity":${fmt(1.0 / modulus)},""" +
              s""""recall_at_k":${fmt(hit.toDouble / math.max(1L, nExactF))},""" +
              s""""hits":$hit,"exact_pairs":$nExactF}""")
          }
          recallF(s"ann_filtered_ivf_probe8_$selName",
            Similarity.ivfTopKFromIndex(ivfCellsF, ivfIdxF.centroids,
              emb, qs, "vec_id", "embedding", k, nProbe = 8,
              allowed = Some(allowed)))
          recallF(s"ann_filtered_ivf_probe16_$selName",
            Similarity.ivfTopKFromIndex(ivfCellsF, ivfIdxF.centroids,
              emb, qs, "vec_id", "embedding", k, nProbe = 16,
              allowed = Some(allowed)))
          recallF(s"ann_filtered_ivfpq_probe16_rr64_$selName",
            Similarity.ivfPqTopKFromIndex(pqCellsF, pqIdxF.centroids,
              pqIdxF.codebook, emb, qs, "vec_id", "embedding", k = k,
              m = 8, dim = dim, nProbe = 16, rerank = 64,
              allowed = Some(allowed)))
        }
      }
      // ---- clustered-corpus recall: the residual-encoding regime
      // (round 19, VERDICT r18 item 1). The residual IVFADC encode
      // measured FLAT vs round 18's raw codes on the hash-UNIFORM
      // corpus (0.33 @ m8/nProbe16/rr64 both rounds) — and should: on
      // isotropic data the rate-distortion bound says a coarse
      // quantizer barely compresses (64—or even 4096—cells in 64-dim
      // buy ≤ ~25% MSE), so residuals ≈ raw vectors and the codes face
      // the same job. Residual encoding pays exactly where deployments
      // live: CLUSTERED embeddings with nCells sized near the cluster
      // count (the FAISS √n rule), where the residual shrinks to noise
      // scale while raw codes must still span the whole space. This
      // family plants that regime — nClusters hash-uniform centers,
      // x = center(id % nClusters) + σ·noise, nCells ≳ nClusters via
      // the deterministic quantizer — and measures the three-way
      // separation: flat IVF (the no-codes ceiling at the probe
      // width), residual IVFPQ (this round's encode), and the RAW-code
      // dominance baseline: plain-PQ ADC top-64 at FULL coverage (a
      // strict candidate SUPERSET of the IVFPQ probe — if residual
      // IVFPQ on fewer candidates beats raw ADC on all of them, the
      // code resolution itself is proven, not the probe). Filter name:
      // "clustered".
      if (want("clustered") || want("clustered_trained")) {
        val nClusters = 1024L
        val nCellsC = 4096
        val sigma = 0.15
        // centers and noise drawn from the SAME deterministic family as
        // annEmbeddings, in disjoint id spaces
        def cembCol(id: Column): Column = zip_with(
          embeddingCol(pmod(id, lit(nClusters)) + lit(2000000000L), dim),
          embeddingCol(id + lit(4000000000L), dim),
          (c, e) => (c + lit(sigma) * e).cast("float"))
        def cemb(n: Long) = spark.range(n)
          .select(col("id").as("vec_id"), cembCol(col("id")).as("embedding"))
        val cc = cemb(nDocs)
        val cqs = cemb(qn)
        val exactC = graft.ops.Pin.pin(
          Similarity.cosineTopK(cc, cqs, "vec_id", "embedding", k)
            .select(col("query_id"), col("neighbor_id")))
        val nExactC = exactC.count()
        def recallC(name: String, res: DataFrame): Unit = {
          val hit = res.select(col("query_id"), col("neighbor_id"))
            .join(exactC, Seq("query_id", "neighbor_id")).count()
          println(s"""{"family":"$name","n_docs":$nDocs,"k":$k,""" +
            s""""n_clusters":$nClusters,"sigma":$sigma,"n_cells":$nCellsC,""" +
            s""""recall_at_k":${fmt(hit.toDouble / math.max(1L, nExactC))},""" +
            s""""hits":$hit,"exact_pairs":$nExactC}""")
        }
        // ---- trained-quantizer arms (round 20, VERDICT r19 item 3):
        // the round-19 residual-dominance table ran under the
        // DETERMINISTIC (md5-sampled) quantizer; production builds use
        // the seeded-KMeans trainQuantizer. These arms re-run the
        // headline configs under ivfPqIndex's own trained quantizer at
        // the same 4096 cells, plus the serve tier's 1024-cell cap —
        // quantifying what Lloyd iterations buy (or cost) on planted
        // structure. Filter name: "clustered_trained" (separate from
        // "clustered": the 4096-cell KMeans train is the expensive
        // step). The flat-IVF ceiling reuses the SAME trained cells
        // frame (ivfTopKFromIndex ignores the codes column), so the
        // quantizer trains once per cell count. EXACT fam match, not
        // the substring rule: "clustered" as a filter must keep
        // running only the deterministic family (r19 cost envelope),
        // never silently pull in the KMeans train.
        if (fams.contains("clustered_trained")) {
          val tpq = Similarity.ivfPqIndex(cc, "vec_id", "embedding",
            nCells = nCellsC, m = 8, k = 256, dim = dim)
          val tCells = graft.ops.Pin.pin(tpq.cells)
          recallC("ann_clustered_trained_ivf_probe16",
            Similarity.ivfTopKFromIndex(tCells, tpq.centroids, cc, cqs,
              "vec_id", "embedding", k, nProbe = 16))
          def tIvfpq(nProbe: Int, rerank: Int) =
            Similarity.ivfPqTopKFromIndex(tCells, tpq.centroids,
              tpq.codebook, cc, cqs, "vec_id", "embedding", k = k,
              m = 8, dim = dim, nProbe = nProbe, rerank = rerank)
          recallC("ann_clustered_trained_ivfpq_probe16_rr64",
            tIvfpq(16, 64))
          recallC("ann_clustered_trained_ivfpq_probe16_rr256",
            tIvfpq(16, 256))
          // the serve tier's cell cap: 1024 trained cells (= the
          // planted cluster count) at the same probe width
          val tpq1k = Similarity.ivfPqIndex(cc, "vec_id", "embedding",
            nCells = 1024, m = 8, k = 256, dim = dim)
          val tCells1k = graft.ops.Pin.pin(tpq1k.cells)
          recallC("ann_clustered_trained1k_ivfpq_probe16_rr64",
            Similarity.ivfPqTopKFromIndex(tCells1k, tpq1k.centroids,
              tpq1k.codebook, cc, cqs, "vec_id", "embedding", k = k,
              m = 8, dim = dim, nProbe = 16, rerank = 64))
        }
        if (!want("clustered")) { spark.stop(); return }
        val centsC = Similarity.deterministicCentroids(cc, "vec_id",
          "embedding", nCellsC)
        // flat IVF under the SAME quantizer (ivfDeltaCells on the full
        // corpus IS assignment under a frozen quantizer)
        val flatCells = graft.ops.Pin.pin(
          Similarity.ivfDeltaCells(centsC, cc, "vec_id", "embedding"))
        recallC("ann_clustered_ivf_probe16",
          Similarity.ivfTopKFromIndex(flatCells, centsC, cc, cqs,
            "vec_id", "embedding", k, nProbe = 16))
        val ipqC = Similarity.ivfPqIndexWith(cc, "vec_id", "embedding",
          centsC, m = 8, k = 256, dim = dim)
        val cellsC = graft.ops.Pin.pin(ipqC.cells)
        def ivfpqC(nProbe: Int, rerank: Int) =
          Similarity.ivfPqTopKFromIndex(cellsC, centsC, ipqC.codebook,
            cc, cqs, "vec_id", "embedding", k = k, m = 8, dim = dim,
            nProbe = nProbe, rerank = rerank)
        recallC("ann_clustered_ivfpq_probe16_rr16", ivfpqC(16, 16))
        recallC("ann_clustered_ivfpq_probe16_rr64", ivfpqC(16, 64))
        recallC("ann_clustered_ivfpq_probe16_rr256", ivfpqC(16, 256))
        // code-width slope on the clustered regime (16 B/vector)
        val ipq16 = Similarity.ivfPqIndexWith(cc, "vec_id", "embedding",
          centsC, m = 16, k = 256, dim = dim)
        val cells16C = graft.ops.Pin.pin(ipq16.cells)
        recallC("ann_clustered_ivfpq_m16_probe16_rr64",
          Similarity.ivfPqTopKFromIndex(cells16C, centsC, ipq16.codebook,
            cc, cqs, "vec_id", "embedding", k = k, m = 16, dim = dim,
            nProbe = 16, rerank = 64))
        // raw-code dominance baseline: top-64 by RAW-vector ADC over
        // the WHOLE corpus (full coverage — strictly more candidates
        // than any probe). recallC counts |top64 ∩ exact top-10|, i.e.
        // exactly the recall a rerank = 64 exact re-rank would recover.
        recallC("ann_clustered_pq_raw_full_top64",
          Similarity.pqTopK(cc, cqs, "vec_id", "embedding",
            m = 8, k = 256, dim = dim, topK = 64, exactEncode = false)
            .select(col("query_id"), col("neighbor_id")))
      }
      spark.stop(); return
    }

    // ---- index delta-append vs rebuild (VERDICT r16 item 3) ----
    // Corpora grow ~1% at a time; the maintenance question is what the
    // delta path saves over rebuilding the persisted layout. Rebuild
    // families time the full index build + bucketed write at n + 1%;
    // append families time assigning ONLY the 1% delta under the frozen
    // quantizer/hyperplanes and appending to the existing bucketed
    // table (IndexAppendSpec holds the parity proofs). Run at 1M / 10M.
    if (mode == "append") {
      val dim = 64
      val deltaN = math.max(1L, nDocs / 100L)
      val cpusI = cpus.toInt
      def full = annEmbeddings(spark, nDocs + deltaN, dim)
      def base = annEmbeddings(spark, nDocs, dim)
      def delta = full.filter(col("vec_id") >= nDocs)
      import graft.sim.Similarity
      // cold-JVM warm-up at a small size (the SCALE.md methodology note)
      locally {
        val we = annEmbeddings(spark, 20000L, dim)
        val wd = annEmbeddings(spark, 20200L, dim)
          .filter(col("vec_id") >= 20000L)
        graft.sources.Csv.bucketedSink(
          Similarity.signLshIndex(we, "vec_id", "embedding", dim = dim,
            bits = 12, tables = 4), "graft_append_lsh", Seq("t", "b"),
          buckets = cpusI)
        Similarity.signLshAppend("graft_append_lsh", wd, "vec_id",
          "embedding", dim = dim, buckets = cpusI, bits = 12, tables = 4)
        val wi = Similarity.ivfIndex(we, "vec_id", "embedding", nCells = 64)
        graft.sources.Csv.bucketedSink(wi.cells, "graft_append_ivf_cells",
          Seq("neighbor_id"), buckets = cpusI)
        graft.sources.Csv.bucketedSink(wi.centroids,
          "graft_append_ivf_centroids", Seq("cell"), buckets = 1)
        Similarity.ivfAppend("graft_append_ivf_cells",
          spark.table("graft_append_ivf_centroids"), wd,
          "vec_id", "embedding", buckets = cpusI)
      }
      run("lsh_index_rebuild") {
        graft.sources.Csv.bucketedSink(
          Similarity.signLshIndex(full, "vec_id", "embedding", dim = dim,
            bits = 12, tables = 4),
          "graft_append_lsh", Seq("t", "b"), buckets = cpusI)
        nDocs + deltaN
      }
      // existing index on the base corpus (untimed — it already exists
      // in the maintenance scenario), then the timed delta append
      graft.sources.Csv.bucketedSink(
        Similarity.signLshIndex(base, "vec_id", "embedding", dim = dim,
          bits = 12, tables = 4),
        "graft_append_lsh", Seq("t", "b"), buckets = cpusI)
      run("lsh_index_append") {
        Similarity.signLshAppend("graft_append_lsh", delta, "vec_id",
          "embedding", dim = dim, buckets = cpusI, bits = 12, tables = 4)
        deltaN
      }
      run("ivf_index_rebuild") {
        val idx = Similarity.ivfIndex(full, "vec_id", "embedding",
          nCells = 64)
        graft.sources.Csv.bucketedSink(idx.cells, "graft_append_ivf_cells",
          Seq("neighbor_id"), buckets = cpusI)
        graft.sources.Csv.bucketedSink(idx.centroids,
          "graft_append_ivf_centroids", Seq("cell"), buckets = 1)
        nDocs + deltaN
      }
      val idxB = Similarity.ivfIndex(base, "vec_id", "embedding",
        nCells = 64)
      graft.sources.Csv.bucketedSink(idxB.cells, "graft_append_ivf_cells",
        Seq("neighbor_id"), buckets = cpusI)
      graft.sources.Csv.bucketedSink(idxB.centroids,
        "graft_append_ivf_centroids", Seq("cell"), buckets = 1)
      run("ivf_index_append") {
        Similarity.ivfAppend("graft_append_ivf_cells",
          spark.table("graft_append_ivf_centroids"), delta,
          "vec_id", "embedding", buckets = cpusI)
        deltaN
      }
      // ---- PQ + IVFPQ (round 18: the index families gained the same
      // persisted+append lifecycle; production fast encode both arms) ----
      val pqM = 8; val pqK = 256
      run("pq_index_rebuild") {
        val idx = Similarity.pqIndex(full, "vec_id", "embedding",
          m = pqM, k = pqK, dim = dim)
        graft.sources.Csv.bucketedSink(idx.codes, "graft_append_pq_codes",
          Seq("neighbor_id"), buckets = cpusI)
        graft.sources.Csv.bucketedSink(idx.codebook, "graft_append_pq_cb",
          Seq("j", "code"), buckets = 1)
        nDocs + deltaN
      }
      val pqB = Similarity.pqIndex(base, "vec_id", "embedding",
        m = pqM, k = pqK, dim = dim)
      graft.sources.Csv.bucketedSink(pqB.codes, "graft_append_pq_codes",
        Seq("neighbor_id"), buckets = cpusI)
      graft.sources.Csv.bucketedSink(pqB.codebook, "graft_append_pq_cb",
        Seq("j", "code"), buckets = 1)
      run("pq_index_append") {
        Similarity.pqAppend("graft_append_pq_codes",
          spark.table("graft_append_pq_cb"), delta, "vec_id", "embedding",
          m = pqM, dim = dim, buckets = cpusI)
        deltaN
      }
      run("ivfpq_index_rebuild") {
        val idx = Similarity.ivfPqIndex(full, "vec_id", "embedding",
          nCells = 64, m = pqM, k = pqK, dim = dim)
        graft.sources.Csv.bucketedSink(idx.cells, "graft_append_ivfpq_cells",
          Seq("neighbor_id"), buckets = cpusI)
        graft.sources.Csv.bucketedSink(idx.centroids,
          "graft_append_ivfpq_centroids", Seq("cell"), buckets = 1)
        graft.sources.Csv.bucketedSink(idx.codebook,
          "graft_append_ivfpq_cb", Seq("j", "code"), buckets = 1)
        nDocs + deltaN
      }
      val ipqB = Similarity.ivfPqIndex(base, "vec_id", "embedding",
        nCells = 64, m = pqM, k = pqK, dim = dim)
      graft.sources.Csv.bucketedSink(ipqB.cells, "graft_append_ivfpq_cells",
        Seq("neighbor_id"), buckets = cpusI)
      graft.sources.Csv.bucketedSink(ipqB.centroids,
        "graft_append_ivfpq_centroids", Seq("cell"), buckets = 1)
      graft.sources.Csv.bucketedSink(ipqB.codebook,
        "graft_append_ivfpq_cb", Seq("j", "code"), buckets = 1)
      run("ivfpq_index_append") {
        Similarity.ivfPqAppend("graft_append_ivfpq_cells",
          spark.table("graft_append_ivfpq_centroids"),
          spark.table("graft_append_ivfpq_cb"), delta,
          "vec_id", "embedding", m = pqM, dim = dim, buckets = cpusI)
        deltaN
      }
      // ---- delete-from-index (round 20, VERDICT r19 item 2) ----
      // A 1% takedown against the persisted layouts, all three prices:
      // tombstone write (O(|deleted|), read overhead recurs per query),
      // anti-join rewrite (O(n) scan+write, ZERO model/encode work,
      // read overhead zero afterwards), and the full rebuild the two
      // arms exist to avoid (already priced above as *_index_rebuild —
      // the rebuild arm re-trains and re-encodes). The read-overhead
      // pair prices what the tombstone arm costs every query batch
      // until the next maintenance-window fold.
      val delIds = base.filter(col("vec_id") % 100L === 37L)
        .select(col("vec_id"))
      run("ivfpq_delete_tombstone_write") {
        graft.sources.Csv.bucketedSink(delIds, "graft_append_tombstones",
          Seq("vec_id"), buckets = 1)
        spark.table("graft_append_tombstones").count()
      }
      val qsDel = base.filter(col("vec_id") < 64L)
      run("ivfpq_fromindex_plain") {
        Similarity.ivfPqTopKFromIndex(
          spark.table("graft_append_ivfpq_cells"),
          spark.table("graft_append_ivfpq_centroids"),
          spark.table("graft_append_ivfpq_cb"),
          full, qsDel, "vec_id", "embedding", k = 10, m = pqM, dim = dim,
          nProbe = 8, rerank = 64).count()
      }
      run("ivfpq_fromindex_tombstoned") {
        Similarity.ivfPqTopKFromIndex(
          Similarity.withoutTombstones(
            spark.table("graft_append_ivfpq_cells"),
            spark.table("graft_append_tombstones")),
          spark.table("graft_append_ivfpq_centroids"),
          spark.table("graft_append_ivfpq_cb"),
          full, qsDel, "vec_id", "embedding", k = 10, m = pqM, dim = dim,
          nProbe = 8, rerank = 64).count()
      }
      run("ivf_delete_rewrite") {
        graft.sources.Csv.bucketedDelete(spark, "graft_append_ivf_cells",
          delIds, "neighbor_id")
        spark.table("graft_append_ivf_cells").count()
      }
      run("ivfpq_delete_rewrite") {
        graft.sources.Csv.bucketedDelete(spark, "graft_append_ivfpq_cells",
          delIds, "neighbor_id")
        spark.table("graft_append_ivfpq_cells").count()
      }
      spark.stop(); return
    }

    // ---- IVF probe selection micro-decade (VERDICT r16 item 6) ----
    // The probe rule maps each query vector to its nProbe nearest of
    // nCells centroids. The old form full-sorted all cells per row
    // (boxed O(nCells log nCells)); the shipped form is an insertion
    // k-selection with an early-abandoned distance loop
    // (ProbeSelectionSpec pins output equality). This mode puts the
    // number on the swap at a 100 TB layout's cell count: nDocs query
    // rows probed against 10⁴ centroids, nProbe 8, both forms timed
    // over the identical projection. The sort body below is the
    // REFERENCE COPY of the replaced implementation, kept only as the
    // measurement control.
    if (mode == "probe") {
      val dim = 64; val nCells = 10000; val nProbe = 8
      val centers: Array[Array[Double]] = Array.tabulate(nCells)(c =>
        Array.tabulate(dim)(j =>
          (((c * 2654435761L + j * 40503L) % 2001L) / 1000.0 - 1.0)))
      val bc = spark.sparkContext.broadcast(centers)
      val sortUdf = udf { (v: Seq[Double]) =>
        val arr = v.toArray
        bc.value.indices.sortBy { c =>
          val cen = bc.value(c)
          var s = 0.0; var i = 0
          while (i < arr.length) { val d = arr(i) - cen(i); s += d * d; i += 1 }
          s
        }.take(nProbe)
      }
      import spark.implicits._
      val centroids = centers.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
      val selUdf = graft.sim.Similarity.nearestCellsUdf(centroids, nProbe)
      def qs = annEmbeddings(spark, nDocs, dim)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      def probeAll(u: org.apache.spark.sql.expressions.UserDefinedFunction): Long =
        qs.select(explode(u(col("v"))).as("cell"))
          .agg(count(lit(1))).collect()(0).getLong(0)
      probeAll(sortUdf); probeAll(selUdf) // JIT warm-up, both paths
      run("probe_full_sort") { probeAll(sortUdf) }
      run("probe_k_selection") { probeAll(selUdf) }
      spark.stop(); return
    }

    // ---- ANN serving streams: throughput / latency / state (r16 #2) ----
    // annTopKStream / ivfTopKStream are bit-equal to batch and
    // restart-proven (StreamingSpec) but carried no numbers. Serve the
    // persisted nDocs-vector layouts a rate-source query stream at a
    // fixed qps for SPARK_GRAFT_SERVE_SEC seconds (default 45) and
    // report per-family: processed qps, trigger-latency p50/p95, and
    // state rows/bytes at the run's first and last progress — the
    // first≈last state row count IS the watermark-turnover boundedness
    // evidence (state would grow monotonically without eviction).
    // Third arg: comma-separated input rates, default "64,512".
    if (mode == "serve") {
      val dim = 64; val k = 10
      val cpusI = cpus.toInt
      val rates = (if (args.length > 2) args(2) else "64,512")
        .split(",").map(_.trim.toInt).toSeq
      // optional fourth arg: comma-separated family substrings (the ann
      // mode convention) so one family's A/B re-runs don't pay the
      // whole campaign; "_pinned" arms match via the base name too
      val serveFams = if (args.length > 3) args(3).split(",").toSeq
                      else Seq("")
      def wantServe(name: String): Boolean = serveFams.exists(name.contains)
      // The serving aggregate is an ObjectHashAggregate (typed udaf);
      // Spark falls back to SORT-based aggregation after 128 distinct
      // groups per partition — measured as an 86 s batch at 2.3k
      // in-flight queries (the sort ships every candidate row's
      // vector payload) vs ~7 s hash-aggregated. ~3 KB buffer per
      // group (k+ε × dim·8 B) makes 8k groups ≈ 24 MB per partition —
      // cheap insurance; deployments of the serving streams should
      // carry this conf.
      spark.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      val emb = annEmbeddings(spark, nDocs, dim)
      import graft.sim.Similarity
      graft.sources.Csv.bucketedSink(emb, "graft_serve_corpus",
        Seq("vec_id"), buckets = cpusI)
      graft.sources.Csv.bucketedSink(
        Similarity.signLshIndex(emb, "vec_id", "embedding", dim = dim,
          bits = 12, tables = 4),
        "graft_serve_lsh", Seq("t", "b"), buckets = cpusI)
      // PRODUCTION-sized quantizer, not the 64-cell bench config: the
      // first serve campaign measured a 123 s batch at nCells = 64 /
      // nProbe = 8 on a 1M corpus — that config probes 12.5% of the
      // corpus PER QUERY (125k candidate rows), which no serving tier
      // would deploy. Standard IVF sizing is nCells ≈ √n with nProbe
      // tuned to the recall target (the recall decade's slope): here
      // √1M = 1024 cells, nProbe 16 → ~1.6% probe fraction.
      // capped at 1024: KMeans train cost grows with k·|sample|·iters,
      // and past ~1k cells the quantizer train (not the serve path)
      // dominates the one-time build at 10M
      val serveCells =
        math.min(1024, math.max(64, math.sqrt(nDocs.toDouble).toInt))
      val serveProbe = 16
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding",
        nCells = serveCells)
      graft.sources.Csv.bucketedSink(idx.cells, "graft_serve_ivf_cells",
        Seq("neighbor_id"), buckets = cpusI)
      graft.sources.Csv.bucketedSink(idx.centroids,
        "graft_serve_ivf_centroids", Seq("cell"), buckets = 1)
      // IVFPQ layout (VERDICT r17 item 1): same quantizer sizing, PQ
      // codes at m = 8, 256 codes/subspace (8 bytes/vector) stored in
      // the cells table; rerank = 64 true-vector fetches per query.
      // Its own index build (the same seeded train re-runs) keeps the
      // flat-IVF family's tables byte-identical to the r17 campaign.
      val serveM = 8; val serveCodes = 256; val serveRerank = 64
      // any ivfpq arm (topk, pinned, or e2e) needs the tables — gate on
      // every arm NAME (wantServe matches filter substrings against the
      // arm name, so a run filtered exactly to the pinned arm would
      // otherwise skip the build and fail on missing tables; ADVICE r19)
      if (wantServe("serve_ivfpq_topk") ||
          wantServe("serve_ivfpq_topk_pinned") ||
          wantServe("serve_ivfpq_e2e")) {
        val pqIdx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
          nCells = serveCells, m = serveM, k = serveCodes, dim = dim)
        graft.sources.Csv.bucketedSink(pqIdx.cells,
          "graft_serve_ivfpq_cells", Seq("neighbor_id"), buckets = cpusI)
        graft.sources.Csv.bucketedSink(pqIdx.centroids,
          "graft_serve_ivfpq_centroids", Seq("cell"), buckets = 1)
        graft.sources.Csv.bucketedSink(pqIdx.codebook,
          "graft_serve_ivfpq_cb", Seq("j", "code"), buckets = 1)
      }
      val corpus = spark.table("graft_serve_corpus")
      val serveSec = sys.env.getOrElse("SPARK_GRAFT_SERVE_SEC", "45").toInt
      def pct(xs: Seq[Double], p: Double): Double =
        if (xs.isEmpty) -1.0
        else xs.sorted.apply(math.min(xs.size - 1,
          (p * xs.size).toInt))
      // count-weighted percentile over per-batch (latency, rows) pairs
      // — the e2e arms' summary statistic
      def wpct(xs: Seq[(Double, Long)], p: Double): Double =
        if (xs.isEmpty) -1.0
        else {
          val sorted = xs.sortBy(_._1)
          val tot = sorted.map(_._2).sum
          val thr = math.max(1L, (p * tot).toLong)
          var acc = 0L
          sorted.find { case (_, n) => acc += n; acc >= thr }
            .map(_._1).getOrElse(sorted.last._1)
        }
      def serveOne(name: String, rps: Int, e2e: Boolean = false)
                  (mk: DataFrame => DataFrame): Unit = {
        // query ids offset far past any corpus id so the stream never
        // collides with a corpus row's self-match guard
        val qid = col("value") + lit(1L << 40)
        val qs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps.toString).load()
          .select(col("timestamp").as("ts"), qid.as("vec_id"),
            embeddingCol(qid, dim).as("embedding"))
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft_serve_$name").toString
        // EVENT-TIME → EMISSION latency (VERDICT r18 item 6): trigger
        // p50 measures processing, not query-to-answer — append-mode
        // results emit only after the watermark passes their event time
        // (TWICE for the chained IVFPQ topology), so the user-visible
        // latency is watermark + trigger cadence + backlog, invisible
        // to the noop arms. The `_e2e` arms swap the noop sink for a
        // foreachBatch that aggregates each EMITTED batch's median
        // event time (one tiny agg on the ≤ k·|queries| output rows)
        // and records now − median as that batch's latency sample,
        // count-weighted into the family percentiles. Kept as separate
        // arms so the noop-based trigger stats stay comparable to the
        // r17/r18 campaigns.
        val e2eSamples =
          scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        val writer0 = mk(qs).writeStream
        val writer =
          if (e2e) writer0.foreachBatch {
            (b: org.apache.spark.sql.DataFrame, _: Long) =>
              val r = b.agg(count(lit(1)).as("n"),
                expr("percentile_approx(unix_millis(ts), 0.5)").as("t50"))
                .head
              if (r.getLong(0) > 0L) {
                val lat = System.currentTimeMillis() -
                  r.getAs[Number](1).longValue()
                e2eSamples.synchronized {
                  e2eSamples += ((lat.toDouble, r.getLong(0))); ()
                }
              }
          }
          else writer0.format("noop")
        val q = writer
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("1 second"))
          .start()
        // run to a BATCH-COUNT target (first input batch + 5 measured)
        // under a hard 3×serveSec deadline: the first batch carries
        // codegen + static-table warm-up and a 45 s fixed sleep was
        // measured to end DURING it at 1M (0 batches recorded). An
        // over-capacity rate is still a valid measurement — backlog
        // batches amortize the per-trigger fixed cost, so
        // qps_processed at saturation IS the throughput ceiling; the
        // deadline bounds the run either way.
        val deadline = System.nanoTime + serveSec.toLong * 3L * 1000000000L
        // e2e arms must observe EMISSIONS, which start only after the
        // watermark passes the first queries (once for the single-agg
        // streams, twice for the chained IVFPQ) — 6 input batches can
        // elapse before the first output row, so gate on emitted-batch
        // samples there instead
        def done(): Boolean =
          if (e2e) e2eSamples.synchronized { e2eSamples.size } >= 6
          else q.recentProgress.count(_.numInputRows > 0) >= 6
        while (System.nanoTime < deadline && !done())
          Thread.sleep(1000)
        // full per-batch forensics to stderr (kept: the first serve
        // campaign read 0 measured batches and the stdout line alone
        // could not say where the time went)
        q.recentProgress.foreach { p =>
          System.err.println(s"[serve:$name:$rps] batch=${p.batchId} " +
            s"rows=${p.numInputRows} durMs=${p.durationMs} " +
            s"state=${p.stateOperators.map(s =>
              s"${s.numRowsTotal}r/${s.memoryUsedBytes}B").mkString(",")}")
        }
        val progs = q.recentProgress.toSeq
          .filter(_.numInputRows > 0)
          .drop(1) // warm-up batch excluded from the stats
        q.stop()
        val trig = progs.flatMap(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
        val rows = progs.map(_.numInputRows).sum
        val wallSec = trig.sum / 1000.0
        val stateRows = progs.map(_.stateOperators.map(_.numRowsTotal).sum)
        val stateMb = progs.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        val e2eFields =
          if (e2e) {
            val samples = e2eSamples.synchronized { e2eSamples.toSeq }
            s""""e2e_ms_p50":${fmt(wpct(samples, 0.50))},""" +
              s""""e2e_ms_p95":${fmt(wpct(samples, 0.95))},""" +
              s""""e2e_batches":${samples.size},""" +
              s""""e2e_rows":${samples.map(_._2).sum},"""
          } else ""
        println(s"""{"family":"$name","n_docs":$nDocs,"rps_in":$rps,""" +
          s""""watermark":"${sys.env.getOrElse("SPARK_GRAFT_SERVE_WM",
            "10 seconds")}",""" +
          s""""batches":${progs.size},"rows":$rows,""" +
          s""""qps_processed":${fmt(if (wallSec > 0) rows / wallSec else -1.0)},""" +
          e2eFields +
          s""""trigger_ms_p50":${fmt(pct(trig, 0.50))},""" +
          s""""trigger_ms_p95":${fmt(pct(trig, 0.95))},""" +
          s""""state_rows_first":${stateRows.headOption.getOrElse(-1L)},""" +
          s""""state_rows_last":${stateRows.lastOption.getOrElse(-1L)},""" +
          s""""state_mb_last":${fmt(stateMb.lastOption.getOrElse(0L) / 1e6)}}""")
      }
      // Snapshot-pin A/B (VERDICT r17 item 4): the measured per-batch
      // floor at 10M is the STATIC side's re-scan every trigger. The
      // "_pinned" arms persist (MEMORY_AND_DISK) the per-trigger-scanned
      // static frames — the index/cells table and the corpus — and
      // force materialization before the stream starts, so each
      // trigger reads cached blocks instead of re-scanning parquet.
      // Centroids/codebook pin implicitly (driver-collected once at
      // stream build). Blocks unpersist after each family so arms
      // don't cross-pressure.
      def pinStatic(df: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
      def unpinAll(): Unit = spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // the serve watermark is the dominant e2e-latency term (results
      // emit only after it passes an event time — twice for chained
      // topologies); `SPARK_GRAFT_SERVE_WM` lets the e2e arms sweep it
      // (round-20 item 1: the r19 e2e table sampled only 10 s)
      val serveWm = sys.env.getOrElse("SPARK_GRAFT_SERVE_WM", "10 seconds")
      def lshStream(index: org.apache.spark.sql.DataFrame,
                    c: org.apache.spark.sql.DataFrame)
                   (qs: org.apache.spark.sql.DataFrame) =
        graft.streaming.Streaming.annTopKStream(qs, "ts", "vec_id",
          "embedding", index, c, k,
          dim = dim, bits = 12, tables = 4, watermark = serveWm)
      def ivfStream(cells: org.apache.spark.sql.DataFrame,
                    c: org.apache.spark.sql.DataFrame)
                   (qs: org.apache.spark.sql.DataFrame) =
        graft.streaming.Streaming.ivfTopKStream(qs, "ts", "vec_id",
          "embedding", cells,
          spark.table("graft_serve_ivf_centroids"), c, k,
          nProbe = serveProbe, watermark = serveWm)
      def ivfPqStream(cells: org.apache.spark.sql.DataFrame,
                      c: org.apache.spark.sql.DataFrame)
                     (qs: org.apache.spark.sql.DataFrame) =
        graft.streaming.Streaming.ivfPqTopKStream(qs, "ts", "vec_id",
          "embedding", cells,
          spark.table("graft_serve_ivfpq_centroids"),
          spark.table("graft_serve_ivfpq_cb"), c, k,
          m = serveM, dim = dim, nProbe = serveProbe,
          rerank = serveRerank, watermark = serveWm)
      rates.foreach { rps =>
        if (wantServe("serve_lsh_topk"))
          serveOne("serve_lsh_topk", rps)(
            lshStream(spark.table("graft_serve_lsh"), corpus))
        if (wantServe("serve_lsh_topk_pinned")) {
          serveOne("serve_lsh_topk_pinned", rps)(lshStream(
            pinStatic(spark.table("graft_serve_lsh")), pinStatic(corpus)))
          unpinAll()
        }
        if (wantServe("serve_ivf_topk"))
          serveOne("serve_ivf_topk", rps)(
            ivfStream(spark.table("graft_serve_ivf_cells"), corpus))
        if (wantServe("serve_ivf_topk_pinned")) {
          serveOne("serve_ivf_topk_pinned", rps)(ivfStream(
            pinStatic(spark.table("graft_serve_ivf_cells")),
            pinStatic(corpus)))
          unpinAll()
        }
        if (wantServe("serve_ivfpq_topk"))
          serveOne("serve_ivfpq_topk", rps)(
            ivfPqStream(spark.table("graft_serve_ivfpq_cells"), corpus))
        if (wantServe("serve_ivfpq_topk_pinned")) {
          serveOne("serve_ivfpq_topk_pinned", rps)(ivfPqStream(
            pinStatic(spark.table("graft_serve_ivfpq_cells")),
            pinStatic(corpus)))
          unpinAll()
        }
        // query-to-answer latency arms (VERDICT r18 item 6) — all three
        // families, same protocol, foreachBatch emission clock
        if (wantServe("serve_lsh_e2e"))
          serveOne("serve_lsh_e2e", rps, e2e = true)(
            lshStream(spark.table("graft_serve_lsh"), corpus))
        if (wantServe("serve_ivf_e2e"))
          serveOne("serve_ivf_e2e", rps, e2e = true)(
            ivfStream(spark.table("graft_serve_ivf_cells"), corpus))
        if (wantServe("serve_ivfpq_e2e"))
          serveOne("serve_ivfpq_e2e", rps, e2e = true)(
            ivfPqStream(spark.table("graft_serve_ivfpq_cells"), corpus))
      }
      spark.stop(); return
    }

    // ---- bucketed-table compaction decade (VERDICT r17 item 2) ----
    // bucketedAppend adds one file per bucket per append; a daily-append
    // deployment accumulates appends × buckets small files. This mode
    // measures what that costs a scan and what bucketedCompact buys
    // back: a bucketed corpus at nDocs takes `appends` small appends
    // (0.2% of nDocs each), the scan wall is timed before, the
    // compaction rewrite is timed, and the scan re-timed after. The
    // scan body is a grouping-less aggregate over the vector column —
    // pure scan + file-open cost, the term small files inflate.
    if (mode == "compact") {
      val cpusI = cpus.toInt
      val appends = if (args.length > 2) args(2).toInt else 50
      val dim = 64
      val emb = annEmbeddings(spark, nDocs, dim)
      graft.sources.Csv.bucketedSink(emb, "graft_compact_corpus",
        Seq("vec_id"), buckets = cpusI)
      def tableFiles(): Long = {
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("graft_compact_corpus"))
          .location
        new java.io.File(loc).listFiles()
          .count(f => f.getName.endsWith(".parquet")).toLong
      }
      def scan(): Long = {
        val r = spark.table("graft_compact_corpus")
          .agg(sum(element_at(col("embedding"), 1)).as("s"),
            count(lit(1)).as("n")).collect()
        r(0).getLong(1)
      }
      scan() // warm the JIT + page cache so before/after compare cleanly
      run("compact_scan_1file") { scan() }
      val deltaN = math.max(1L, nDocs / 500L)
      run("compact_appends") {
        (0 until appends).foreach { a =>
          val lo = nDocs + a * deltaN
          graft.sources.Csv.bucketedAppend(
            annEmbeddings(spark, lo + deltaN, dim)
              .filter(col("vec_id") >= lo),
            "graft_compact_corpus", Seq("vec_id"), buckets = cpusI)
        }
        appends.toLong * deltaN
      }
      println(s"""{"family":"compact_files_before","n_docs":$nDocs,""" +
        s""""files":${tableFiles()},"appends":$appends}""")
      run("compact_scan_small_files") { scan() }
      run("compact_rewrite") {
        graft.sources.Csv.bucketedCompact(spark, "graft_compact_corpus")
        nDocs + appends.toLong * deltaN
      }
      println(s"""{"family":"compact_files_after","n_docs":$nDocs,""" +
        s""""files":${tableFiles()},"appends":$appends}""")
      run("compact_scan_compacted") { scan() }
      spark.stop(); return
    }

    // ---- global top-k: window form vs combiner form (VERDICT r13 #3) ----
    // The globalTopKByScore rewrite trades the window's all-rows
    // exchange for a second corpus scan (the aggregate finds winner
    // ids, a join-back re-attaches payload). At sf0.1 that showed as
    // +0.4 s on q119/q140; this decade measures the crossover. The
    // frame carries a 64-char payload the result must retain (forced
    // through the aggregate below): the window form ships it THROUGH
    // the exchange, the combiner form only rescans it.
    if (mode == "topk") {
      val k = 100
      def dfN(n: Long) = spark.range(n).select(col("id").as("doc_id"),
        (pmod(xxhash64(col("id"), lit(7L)), lit(1000000L)).cast("double")
          / lit(1.0e6)).as("score"),
        concat(md5(col("id").cast("string")),
          md5(concat(col("id").cast("string"), lit("#p")))).as("payload"))
      // sum(length(payload)) forces the payload column through each
      // plan — a bare count() would let Catalyst prune it and the
      // window form's exchange would ship 16 bytes/row instead of 80
      def force(r: DataFrame): Long =
        r.agg(count(lit(1)), sum(length(col("payload"))))
          .collect()(0).getLong(0)
      def window(n: Long): Long =
        force(graft.ops.TopK.topKPerKey(dfN(n), Seq.empty,
          Seq(col("score").desc, col("doc_id").asc), k))
      def combiner(n: Long): Long =
        force(graft.ops.TopK.globalTopKByScore(dfN(n), "score", "doc_id", k))
      // cold-JVM warmup of BOTH code paths at a small size, so the
      // timed pair compares operator cost, not who ran first under JIT
      window(math.min(nDocs, 100000L))
      combiner(math.min(nDocs, 100000L))
      run("topk_window") { window(nDocs) }
      run("topk_combiner") { combiner(nDocs) }
      spark.stop(); return
    }

    // ---- planted-hot-key decade (VERDICT r11 top item) ----
    // The two named 100 TB skew mitigations measured against their naive
    // twins on the SAME planted skew, at the same sizes:
    //  * LSH hot bucket: 1% boilerplate docs collide into one
    //    (band, key) bucket per band; uncapped, the candidate self-join
    //    emits ~(n/100)²/2 pairs from that bucket — `Dedup.capBuckets`
    //    (maxBucketSize = 1000, q44's cap) bounds every bucket's
    //    contribution. AQE cannot help here: the cost is quadratic
    //    OUTPUT VOLUME, not task imbalance.
    //  * join skew: hot key at ×100 the mean; the mitigated path
    //    literally executes the q188 pipeline — `Skew.keySkewReport`
    //    plans the salt factor (its cost is charged to the mitigated
    //    wall), `Skew.saltedJoin` applies it. Broadcast is disabled (a
    //    1000-row dim would broadcast at any size and hide the skew) and
    //    AQE is off in BOTH join runs so the delta is attributable to
    //    the salt alone; in production AQE skew-join is ON and is the
    //    complementary runtime net.
    // "skew" runs both families; "skew-lsh"/"skew-join" one each (the
    // two decades want different sizes: the quadratic naive LSH output
    // is infeasible at the row counts where join-task skew first bites).
    // "skew-aqe" (VERDICT r12 item 7) re-runs the join pair with AQE ON
    // — skew-join net enabled and tuned to actually fire at this data
    // volume (the 256 MB default threshold never triggers on a 160 MB
    // hot partition, which would "measure" AQE as a silent no-op) — so
    // SCALE.md can state where the runtime net replaces the static salt
    // and where it cannot (skew AQE can't see: the join output's
    // per-key aggregation mass, or any skew downstream of the exchange
    // AQE already finalized). Broadcast stays disabled in all four runs
    // (the 1000-row dim stands in for an unbroadcastable large dim).
    if (mode.startsWith("skew")) {
      def withConf[A](kvs: (String, String)*)(body: => A): A = {
        val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
        kvs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body
        finally prev.foreach { case (k, vo) =>
          vo.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
      val noAqe = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      def lsh(cap: Int): Long = {
        val sigs = graft.dedup.Dedup.minhashSignatures(
          skewDocuments(spark, nDocs), "doc_id", "text",
          graft.functions.MinHashFamily.XxHash64, nHashes = 16)
        graft.dedup.Dedup.minhashCandidates(sigs, nHashes = 16, bands = 4,
          maxBucketSize = cap).count()
      }
      if (mode != "skew-join" && mode != "skew-aqe") {
        run("lsh_hot_bucket_naive") { lsh(Int.MaxValue) }
        run("lsh_hot_bucket_capped") { lsh(1000) }
      }
      if (mode == "skew-lsh") { spark.stop(); return }

      // AQE tuned to FIRE on this volume: key 0 holds n/10 rows
      // (~160 MB at 100M), under the 256 MB default skew threshold —
      // the comparison must measure AQE acting, not AQE asleep.
      val aqeOn = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "33554432",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "33554432")
      val joinConf = if (mode == "skew-aqe") aqeOn else noAqe
      val suffix = if (mode == "skew-aqe") "_aqe" else ""
      val nKeys = 1000L
      def dim = spark.range(nKeys).select(col("id").as("key"),
        (col("id") * 7L).as("w"))
      def joined(f: DataFrame, d: DataFrame): Long =
        f.join(d, "key").groupBy("key")
          .agg(sum(col("v") + col("w")).as("s")).count()
      run(s"skew_join_naive$suffix") {
        withConf(joinConf: _*) { joined(skewFact(spark, nDocs, nKeys), dim) }
      }
      run(s"skew_join_salted$suffix") {
        withConf(joinConf: _*) {
          val fact = skewFact(spark, nDocs, nKeys)
          val salts = graft.ops.Skew.keySkewReport(fact, "key",
              targetPerTask = math.max(nDocs / nKeys, 1L), topK = 1)
            .collect()(0).getAs[Long]("salts").toInt
          val salted = graft.ops.Skew.saltedJoin(fact, dim, "key", salts,
            saltExpr = Some(col("v")))
          salted.groupBy("key").agg(sum(col("v") + col("w")).as("s")).count()
        }
      }
      spark.stop(); return
    }

    // Core mode accepts the same optional third-arg family filter as
    // ann mode (comma-separated substrings), so a single family's
    // decade can be re-measured without paying for the other five.
    val coreFams = if (args.length > 2) args(2).split(",").toSeq else Seq("")
    def runCore(name: String)(body: => Long): Unit =
      if (coreFams.exists(name.contains)) run(name)(body)

    // 1. MinHash near-dup → connected components → keep-best (the q154
    //    family: production xxhash64 hashing, banded LSH, verify, then
    //    group resolution and best-doc semi-join)
    runCore("neardup_components_keepbest") {
      val docs = documents(spark, nDocs)
      val pairs = graft.dedup.Dedup.minhashNearDups(
          docs, "doc_id", "text", graft.functions.MinHashFamily.XxHash64,
          nHashes = 16, bands = 4, maxBucketSize = 1000)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      val groups = graft.dedup.Dedup.dupGroups(pairs)
      // keep the smallest id of each component; singletons (no pair)
      // pass through untouched — an anti-join on the losers only
      val losers = groups.filter(col("id") =!= col("group_id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti").count()
    }

    // 2. Adjacency-form PageRank, 3 iterations, broadcast ranks (q131's
    //    plan) over an 8-average-degree hash graph
    runCore("pagerank_adjacency") {
      val e = edges(spark, nDocs * 8, math.max(nDocs, 8L))
      graft.graph.Graph.pageRank(e, iters = 3).count()
    }

    // 3. DTW k-means (k=4, 5 Lloyd iterations) over nDocs/16 series of
    //    length 24 — the fused mapPartitions assignment path (q53)
    runCore("dtw_kmeans") {
      val s = series(spark, math.max(nDocs / 16, 64L), 24)
      graft.ml.Clustering.dtwKMeans(s, "sid", "vec", k = 4, maxIter = 5)
        .assignments.count()
    }

    // 4. Prefix-filtered exact Jaccard (q128 — the AllPairs/PPJoin scale
    //    path that replaces the quadratic all-pairs baseline): the
    //    corpus-wide EXACT similarity join whose cost must track the
    //    matching-pair mass, not the pair square
    runCore("prefix_jaccard") {
      graft.dedup.Dedup.prefixJaccardPairs(
        documents(spark, nDocs), "doc_id", "text",
        shingleSize = 3, threshold = 0.5).count()
    }

    // 5. Bigram-LM fluency (q195): train on the salted 80% split, score
    //    the whole corpus — counts shuffle on 8-byte bigram identities,
    //    one vocabulary-sized pinned model pass, AQE-sized score joins.
    //    Tokens must be PURE ALPHA (the scorer's ^[a-z]+$ filter drops
    //    [[documents]]' digit-suffixed vocabulary entirely — digits
    //    translate to letters so the 5000-word vocab survives).
    runCore("bigram_fluency") {
      val toks = transform(sequence(lit(0), lit(59)),
        i => concat(lit("w"), translate(
          pmod(xxhash64(col("id"), i), lit(5000)).cast("string"),
          "0123456789", "abcdefghij")))
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        array_join(toks, " ").as("text"))
      graft.text.LangModel.bigramFluency(docs, "doc_id", "text").count()
    }

    // 5b. Bigram fluency on a ZIPFIAN 1000-word vocabulary — the
    //     broadcast gate's FIRE path at corpus scale (family 5's
    //     uniform 5000² gram space exceeds BroadcastModelLimit at
    //     every measured size, so its decade only exercises the
    //     decline path; here the bigram space is capped at 10⁶ < 2M,
    //     the realistic Zipf head makes the gram-count distribution
    //     heavy, and the model joins broadcast at any corpus size —
    //     the shuffle column should stay ~model-sized as n grows).
    //     Rank = floor(V^u) is the inverse-CDF of Zipf(s=1) up to the
    //     harmonic normalization (CDF(k) ≈ ln k / ln V); pow is fine
    //     here — this is a stress generator, not an oracle contract.
    runCore("bigram_fluency_zipf") {
      def rank(i: Column): Column = floor(pow(lit(1000.0),
        (pmod(xxhash64(col("id"), i), lit(1000000L)).cast("double")
          + lit(0.5)) / lit(1000000.0))).cast("long")
      val toks = transform(sequence(lit(0), lit(59)),
        i => concat(lit("w"), translate(rank(i).cast("string"),
          "0123456789", "abcdefghij")))
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        array_join(toks, " ").as("text"))
      graft.text.LangModel.bigramFluency(docs, "doc_id", "text").count()
    }

    // 6. NB quality classifier (q199): the fluency chain minus one join
    //    (unigram identities, class counts instead of gram counts) —
    //    measured rather than argued, so SCALE.md's "the LM decade
    //    upper-bounds it" claim has its own row. Same alpha vocabulary
    //    as family 5; the class label is a hash projection (~30% pos).
    runCore("nb_classifier") {
      val toks = transform(sequence(lit(0), lit(59)),
        i => concat(lit("w"), translate(
          pmod(xxhash64(col("id"), i), lit(5000)).cast("string"),
          "0123456789", "abcdefghij")))
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        array_join(toks, " ").as("text"),
        (pmod(xxhash64(col("id"), lit(11L)), lit(10)) < 3).as("pos"))
      graft.text.Classifier.nbQuality(docs, "doc_id", "text",
        isPos = col("pos")).count()
    }

    spark.stop()
  }
}
