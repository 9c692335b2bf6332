package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[cosineTopK]]: brute-force exact cosine top-k — the correctness
  *    baseline. O(|queries| × |corpus|); right when the query set is small
  *    (broadcast) or as the verification stage after candidate generation.
  *  - [[signLshTopK]]: the scale path — seeded random-hyperplane LSH
  *    buckets the corpus once (shuffle on small integer keys), probes only
  *    same-bucket candidates, then re-ranks exactly. Sub-linear candidate
  *    sets at 100 TB; recall tunable via bits/tables.
  *
  * Dot products fold in DECIMAL so the scores (and therefore ranks) are
  * bit-deterministic under any partitioning — float→double conversion and
  * double multiplication are IEEE-exact, only the sum needs ordering
  * protection.
  */
object Similarity {

  /** Exact deterministic dot product of two numeric-array columns via the
    * native codegen'd expression [[graft.functions.ExactDotProduct]]
    * (identical semantics to the ANSI `SUM(CAST(a[i]*b[i] AS
    * DECIMAL(38,18)))`; the specs pin it to a declarative decimal fold).
    */
  def dotExact(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.ExactDotProduct(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Fast double dot product (sequential fold — deterministic per row).
    * Native codegen'd expression, pinned to a declarative fold by spec.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.DoubleDotProduct(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** L2 norm (exact-sum variant). */
  def normExact(a: Column): Column = sqrt(dotExact(a, a))

  /** Exact cosine top-k: for every query row, the k nearest corpus rows by
    * cosine similarity (self-matches excluded). Three stages:
    *
    *  1. Map-side-combined margin-top-k of the cheap codegen'd DOUBLE
    *     cosine over the full pair product ([[graft.ops.TopKAgg]] at
    *     [[RerankMargin]] — each map task ships a ~k-pair buffer per
    *     query through the shuffle, and the finished buffer is exactly
    *     { rank ≤ k } ∪ { within margin of the k-th }: the same
    *     near-tie superset of the true exact top-k the round-12
    *     windowed filter kept, row-identical). The round-12 form
    *     instead pushed ALL Q·n `(query_id, neighbor_id, dcos)` rows
    *     through one per-query window: a Q·n-row exchange plus a full
    *     sort whose hot partition was 87% of the 10M-vector wall
    *     (SCALE.md ANN decade, 220.8 s max task / 12 GB shuffle) — and
    *     the two-stage window ([[graft.ops.TopK.topKPerKey]]) only
    *     balances that sort, it still exchanges every row. ONE scan of
    *     the never-shuffled pair product (queries broadcast) now
    *     produces the survivor ids directly.
    *  2. Exact DECIMAL re-rank of the bounded survivor set (~k rows per
    *     query) — vectors re-attach by id, BigDecimal cost is O(k·|queries|)
    *     instead of O(|queries|·|corpus|).
    *
    * Same prefilter-then-exact pattern as [[cosineNearDups]]; the one-stage
    * exact-everywhere form was the engine's slowest plan at sf0.1 (23.9 s,
    * all of it BigDecimal allocation across the cross product).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    // Norms are per-ROW quantities: compute them before the pair join, not
    // in the pair projection, or each corpus norm is re-folded once per query.
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnD")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("cnD"))
    val dscored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qnD") * col("cnD"))).as("dcos"))
    // NOTE (measured, round 13): the survivor frame is ~k·|queries|
    // rows but its post-explode stats are opaque to the planner, so the
    // exact-stage attach exchanges the corpus vector column once
    // (2.3 GB of the 31 s 10M-decade wall — the linear re-attach term
    // SCALE.md documents; a Pin here does NOT fix it, localCheckpoint
    // propagates the child's estimate rather than measured stats, and
    // was measured cost-only). The production lever is layout: a
    // corpus bucketed by id makes this attach exchange-free.
    val cands = marginSurvivors(dscored, k)
    val qe = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), normExact(col(vecCol)).as("qn")))
    val ce = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      normExact(col(vecCol)).as("cn"))
    // corpus attach first, broadcast query frame last — the survivor
    // exchange then carries ids only (see rerankCandidates)
    val scored = cands.join(ce, "neighbor_id").join(qe, "query_id")
      .withColumn("cosine", dotExact(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  /** Double-vs-exact cosine discrepancy bound used by the top-k prefilter.
    * The true bound for dim-d unit-ish vectors is ~d·2⁻⁵² ≈ 1e-13 at
    * d ≤ 1024; 1e-9 leaves 4 orders of headroom while still pruning
    * everything that isn't a near-tie with the k-th score.
    */
  private[graft] val RerankMargin = 1e-9

  /** Margin-top-k survivor ids of a (query_id, neighbor_id, dcos)
    * double-prefilter frame — the shared first stage of [[cosineTopK]]
    * and [[rerankCandidates]]. When `neighbor_id` is LongType (every
    * registered embedding id) this is the [[graft.ops.TopKAgg]]
    * map-side-combined aggregate; any other id type falls back to the
    * windowed margin filter — the same retention set, computed the
    * round-12 way — because the combiner is a typed (Double, Long)
    * udaf with no encoder for other id types (the
    * [[graft.ops.TopK.globalTopKByScore]] fallback rule). Null scores
    * (a null/absent vector makes `dcos` null) are dropped up front in
    * BOTH branches: a null cosine is not a similarity — the windowed
    * form sorted them last, where they could only surface for queries
    * with fewer than k real candidates; the typed aggregate would
    * instead fail at runtime on the null double (ADVICE r13).
    */
  private[graft] def marginSurvivors(dscored0: DataFrame, k: Int): DataFrame = {
    val dscored = dscored0.filter(col("dcos").isNotNull)
    if (dscored.schema("neighbor_id").dataType ==
        org.apache.spark.sql.types.LongType)
      dscored.groupBy("query_id")
        .agg(graft.ops.TopKAgg.topK(col("dcos"), col("neighbor_id"), k,
          RerankMargin).as("__top"))
        .select(col("query_id"), explode(col("__top")).as("__t"))
        .select(col("query_id"), col("__t._2").as("neighbor_id"))
    else {
      // windowed twin of the aggregate's retention rule:
      // { rank ≤ k } ∪ { within RerankMargin of the k-th score }
      val w = Window.partitionBy("query_id")
        .orderBy(col("dcos").desc, col("neighbor_id"))
      dscored
        .withColumn("__rnk", row_number().over(w))
        .withColumn("__kth",
          min(when(col("__rnk") <= k, col("dcos")))
            .over(Window.partitionBy("query_id")))
        .filter(col("__rnk") <= k ||
          col("dcos") >= col("__kth") - RerankMargin)
        .select("query_id", "neighbor_id")
    }
  }

  /** Seeded random hyperplanes: `bits` pseudo-random unit directions per
    * table, components derived from a splitmix-style integer mix —
    * deterministic, no RNG state to ship.
    */
  private[graft] def planes(dim: Int, bits: Int, table: Int, seed: Long): Array[Array[Double]] = {
    def mix(z0: Long): Double = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      // uniform in [-1, 1)
      (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }
    Array.tabulate(bits, dim)((b, d) =>
      mix(seed + table * 1000003L + b * 10007L + d))
  }

  /** Bucket id: sign bits of the vector against each hyperplane. Each
    * plane is an array literal folded against the vector — the unrolled
    * per-component form (bits×dim inline terms) exceeds Janino's 64 KB
    * generated-method limit at real dims and forces interpreted eval.
    */
  def lshBucket(vec: Column, dim: Int, bits: Int, table: Int, seed: Long,
                exactPlaneDots: Boolean = false): Column = {
    // bits = 0 degenerates to one global bucket: every pair becomes a
    // candidate, making signLshTopK ≡ exact search — the oracle-checkable
    // full-coverage configuration (mirrors IVF's nProbe = nCells).
    if (bits == 0) return lit(0L)
    val ps = planes(dim, bits, table, seed)
    (0 until bits).map { b =>
      // native double dot against the literal plane — the HOF fold here
      // was interpreted per element × bits × tables per row. The exact
      // variant captures each term in DECIMAL (order-free), making the
      // sign bit engine-replayable for the q185 recall audit; sign
      // differences vs the double fold need |dot| < ~1e-13 — audit
      // recall numbers are therefore representative of the hot path.
      val d = if (exactPlaneDots) dotExact(vec, lit(ps(b)))
              else dot(vec, lit(ps(b)))
      when(d >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  // ---------------------------------------------------------------------
  // LSH-bucketed approximate top-k with exact re-ranking: candidates are
  // corpus rows sharing a bucket with the query in any of `tables`
  // independent tables. Equi-join on (table, bucket) — shuffles integer
  // keys, never the full cross product.
  // ---------------------------------------------------------------------

  /** Cap per-(table,bucket) membership at `cap` rows (deterministic:
    * smallest ids) — a hot bucket otherwise makes the candidate join
    * quadratic within the bucket at corpus scale. Hash-partitioned
    * window, no global ordering.
    */
  private def capBuckets(df: DataFrame, idCol: String, cap: Int): DataFrame =
    if (cap == Int.MaxValue) df
    else df
      .withColumn("__bn", row_number().over(
        Window.partitionBy(col("t"), col("b")).orderBy(col(idCol))))
      .filter(col("__bn") <= cap).drop("__bn")

  /** One (id, t, b) bucket-membership row per table for every input
    * row — the shared bucket-explode of the corpus index and the
    * per-batch query side.
    */
  private def lshBucketFrame(df: DataFrame, idCol: String, outId: String,
                             vecCol: String, dim: Int, bits: Int,
                             tables: Int, seed: Long,
                             exactPlaneDots: Boolean): DataFrame = {
    val buckets = array((0 until tables).map(t =>
      struct(lit(t).as("t"),
        lshBucket(col(vecCol), dim, bits, t, seed, exactPlaneDots).as("b"))): _*)
    df.select(col(idCol).as(outId), explode(buckets).as("tb"))
      .select(col(outId), col("tb.t").as("t"), col("tb.b").as("b"))
  }

  /** The sign-LSH corpus INDEX: one (neighbor_id, t, b) membership row
    * per (row, table), hot buckets already capped — everything about
    * the corpus that candidate generation consumes. This frame is what
    * a deployment PERSISTS: written once via
    * [[graft.sources.Csv.bucketedSink]] keyed by the (t, b) join key,
    * it pre-pays both per-batch corpus-side costs — the bucket
    * computation (tables × bits dots per corpus row) and, because the
    * bucketed table scan reports HashPartitioning(t, b), the
    * candidate equi-join's corpus-side exchange (n·tables (id, t, b)
    * rows — the dominant remaining sign-LSH shuffle term at 10M
    * vectors, 469 MB/batch, SCALE.md round 15). Query batches then
    * shuffle only their own tiny bucket frame plus candidate ids.
    */
  def signLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, bits: Int = 12, tables: Int = 4,
                   seed: Long = 42L, maxBucketSize: Int = 10000,
                   exactPlaneDots: Boolean = false): DataFrame =
    capBuckets(lshBucketFrame(corpus, idCol, "neighbor_id", vecCol, dim,
      bits, tables, seed, exactPlaneDots), "neighbor_id", maxBucketSize)

  /** The DELTA rows to append to a persisted [[signLshIndex]] table
    * when the corpus grows (VERDICT r16 item 3): bucket memberships for
    * only the new rows (hyperplanes are seed-derived and frozen, so a
    * delta row's (t, b) is bit-identical to what a fresh rebuild
    * assigns it), cap-aware against the EXISTING index — per (t, b),
    * delta rows fill only the `maxBucketSize − existing` remaining
    * slots, smallest ids first. Below the cap the appended index is
    * exactly the fresh-rebuild index (capBuckets keeps the cap
    * smallest ids, and a set that only grows can never re-admit a
    * dropped row — IndexAppendSpec pins set-equality); AT the cap the
    * semantics are first-committed-wins: existing members keep their
    * slots even when a delta id sorts below them (a rebuild would swap
    * them in). That divergence is deliberate — re-capping a hot bucket
    * means rewriting the table, which is the rebuild this operator
    * exists to avoid, and the cap is a hot-bucket pathology guard, not
    * a ranking.
    *
    * The existing-count scan is exchange-free when `existing` is the
    * persisted (t, b)-bucketed table (partial agg over the bucketed
    * scan's own partitioning); the delta-side window shuffles only the
    * delta's membership rows.
    */
  def signLshIndexDelta(existing: DataFrame, delta: DataFrame,
                        idCol: String, vecCol: String, dim: Int,
                        bits: Int = 12, tables: Int = 4, seed: Long = 42L,
                        maxBucketSize: Int = 10000,
                        exactPlaneDots: Boolean = false): DataFrame = {
    val deltaMem = lshBucketFrame(delta, idCol, "neighbor_id", vecCol,
      dim, bits, tables, seed, exactPlaneDots)
    if (maxBucketSize == Int.MaxValue) deltaMem
    else {
      val have = existing.groupBy(col("t"), col("b"))
        .agg(count(lit(1)).as("__have"))
      deltaMem
        .withColumn("__bn", row_number().over(
          Window.partitionBy(col("t"), col("b")).orderBy(col("neighbor_id"))))
        .join(have, Seq("t", "b"), "left")
        .filter(col("__bn") <= lit(maxBucketSize.toLong)
          - coalesce(col("__have"), lit(0L)))
        .select(col("neighbor_id"), col("t"), col("b"))
    }
  }

  /** [[signLshIndexDelta]] appended straight to the persisted index
    * table (same (t, b) bucketing keys and count — the spec is
    * catalog-validated, so the exchange-free candidate-join proof
    * survives the append).
    */
  def signLshAppend(indexTable: String, delta: DataFrame, idCol: String,
                    vecCol: String, dim: Int, buckets: Int,
                    bits: Int = 12, tables: Int = 4, seed: Long = 42L,
                    maxBucketSize: Int = 10000,
                    exactPlaneDots: Boolean = false): Unit = {
    val spark = delta.sparkSession
    graft.sources.Csv.bucketedAppend(
      signLshIndexDelta(spark.table(indexTable), delta, idCol, vecCol,
        dim, bits, tables, seed, maxBucketSize, exactPlaneDots),
      indexTable, Seq("t", "b"), buckets)
  }

  /** Candidate generation against a PREBUILT [[signLshIndex]] frame
    * (typically a persisted bucketed table): distinct
    * (query_id, neighbor_id) pairs sharing a bucket in any table. The
    * query side's (dim, bits, tables, seed, exactPlaneDots) MUST match
    * the index build's — bucket ids are only comparable under the same
    * hyperplanes.
    */
  def signLshCandidatesFromIndex(index: DataFrame, queries: DataFrame,
                                 idCol: String, vecCol: String, dim: Int,
                                 bits: Int = 12, tables: Int = 4,
                                 seed: Long = 42L,
                                 exactPlaneDots: Boolean = false): DataFrame = {
    val q = lshBucketFrame(queries, idCol, "query_id", vecCol, dim, bits,
      tables, seed, exactPlaneDots)
    index.join(q, Seq("t", "b"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  /** The candidate-generation stage of [[signLshTopK]], exposed as its
    * own operator: distinct (query_id, neighbor_id) pairs sharing a
    * bucket in any table — [[signLshCandidatesFromIndex]] over an
    * inline [[signLshIndex]] build. Carries IDS ONLY — buckets, the
    * equi-join, and the distinct shuffle 8-byte keys; vectors
    * re-attach by id in the re-rank — shuffling vectors with every
    * candidate pair is the scale killer. Also the instrument the `ann`
    * ScaleStress decade counts: this frame's row count IS the
    * candidate mass the bucketing admits at a given (bits, tables,
    * corpus size).
    */
  def signLshCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, dim: Int, bits: Int = 12,
                        tables: Int = 4, seed: Long = 42L,
                        maxBucketSize: Int = 10000,
                        exactPlaneDots: Boolean = false): DataFrame =
    signLshCandidatesFromIndex(
      signLshIndex(corpus, idCol, vecCol, dim, bits, tables, seed,
        maxBucketSize, exactPlaneDots),
      queries, idCol, vecCol, dim, bits, tables, seed, exactPlaneDots)

  def signLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, dim: Int, bits: Int = 12,
                  tables: Int = 4, seed: Long = 42L,
                  maxBucketSize: Int = 10000,
                  exactPlaneDots: Boolean = false): DataFrame = {
    val cands = signLshCandidates(corpus, queries, idCol, vecCol, dim, bits,
      tables, seed, maxBucketSize, exactPlaneDots)
    rerankCandidates(cands, corpus, queries, idCol, vecCol, k)
  }

  /** [[signLshTopK]] reading a PREBUILT corpus index — the production
    * per-batch shape: `index` is the persisted [[signLshIndex]] table
    * (bucketed by (t, b)), `corpus` the vector table the re-rank
    * attaches from (bucketed by id for the exchange-free attach). The
    * per-batch shuffle is then the query bucket frame + candidate ids
    * only; both one-time layout passes are amortized across batches.
    */
  def signLshTopKFromIndex(index: DataFrame, corpus: DataFrame,
                           queries: DataFrame, idCol: String,
                           vecCol: String, k: Int, dim: Int,
                           bits: Int = 12, tables: Int = 4,
                           seed: Long = 42L,
                           exactPlaneDots: Boolean = false,
                           allowed: Option[DataFrame] = None): DataFrame = {
    val cands = signLshCandidatesFromIndex(
      restrictIndex(index, allowed), queries, idCol, vecCol,
      dim, bits, tables, seed, exactPlaneDots)
    rerankCandidates(cands, corpus, queries, idCol, vecCol, k)
  }

  /** Predicate-constrained ANN (VERDICT r19 item 5): restrict a
    * persisted index frame to the ids in `allowed` BEFORE candidate
    * generation, so a filtered top-k ("top-k within lang = X") still
    * returns k rows of MATCHING neighbors instead of scoring everything
    * and letting the caller post-filter down to < k survivors.
    *
    * `allowed` is a one-column frame of permitted neighbor ids — the
    * caller materializes their metadata predicate as
    * `meta.filter(pred).select(id)`, which keeps the scale contract
    * honest: the predicate pushes down to the METADATA scan (its own
    * pruned parquet read), and what reaches the index is an id-only
    * LEFT-SEMI join — under a selective filter the id frame broadcasts
    * (no exchange at all, the bucketed cells layout survives intact
    * for the downstream probe/attach joins); under a broad one it
    * shuffles 8-byte ids, never vectors or payloads. Filtering BEFORE
    * the probe join also shrinks the candidate mass itself — the ADC /
    * re-rank stages never see a disallowed row. Recall under a
    * selective filter interacts with nProbe (a probed cell may hold
    * few matching rows); the `ann filtered` ScaleStress family
    * measures that slope.
    */
  private def restrictIndex(index: DataFrame,
                            allowed: Option[DataFrame]): DataFrame =
    allowed match {
      case None => index
      case Some(a) =>
        require(a.columns.length == 1,
          s"allowed-id frame must have exactly one id column, " +
            s"got [${a.columns.mkString(", ")}]")
        index.join(a.select(col(a.columns.head).as("neighbor_id")),
          Seq("neighbor_id"), "left_semi")
    }

  /** The TOMBSTONE arm of index deletion (VERDICT r19 item 2, the
    * complement of [[graft.sources.Csv.bucketedDelete]]'s anti-join
    * rewrite): a takedown appends its ids to a small tombstone table
    * (O(|deleted|) — no index scan, no rewrite, no model work), and
    * every from-index reader wraps its cells/codes/index frame in this
    * LEFT-ANTI join before candidate generation — deleted rows never
    * reach ADC scoring or the re-rank, exactly as if the table had
    * been rewritten. Read cost recurs per query: an id-only anti-join
    * whose tombstone side broadcasts while the list stays bounded, so
    * the bucketed index layout survives un-exchanged. The two arms
    * compose into the standard LSM-ish lifecycle — tombstone at
    * takedown time (cheap, immediate), [[graft.sources.Csv
    * .bucketedDelete]] at the next maintenance window (fold the
    * tombstones into the table, truncate the tombstone list, read
    * overhead back to zero). IndexAppendSpec pins tombstone-read ≡
    * rewrite ≡ rebuild-minus-rows under the frozen models; the
    * `append` ScaleStress decade prices all three.
    */
  def withoutTombstones(index: DataFrame, tombstones: DataFrame): DataFrame = {
    require(tombstones.columns.length == 1,
      s"tombstone frame must have exactly one id column, " +
        s"got [${tombstones.columns.mkString(", ")}]")
    index.join(
      tombstones.select(col(tombstones.columns.head).as("neighbor_id")),
      Seq("neighbor_id"), "left_anti")
  }

  /** Exact top-k over a bounded (query_id, neighbor_id) candidate set:
    * rank by the cheap codegen'd DOUBLE cosine first (the
    * [[graft.ops.TopKAgg]] map-side-combined margin-top-k — candidate
    * rows never enter an exchange, only ~k-pair buffers per query do;
    * the round-12 per-query window exchanged and sorted every
    * candidate row, 2 GB of IVF's 10M-decade shuffle), then
    * exact-DECIMAL re-rank only the survivors within [[RerankMargin]]
    * of the k-th double score — the same two-stage scheme as
    * [[cosineTopK]], so LSH/IVF at full coverage stay bit-equal to the
    * exact path while BigDecimal cost is O(k·|queries|), not
    * O(|candidates|).
    */
  private def rerankCandidates(cands: DataFrame, corpus: DataFrame,
                               queries: DataFrame, idCol: String,
                               vecCol: String, k: Int): DataFrame = {
    val qd = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), sqrt(dot(col(vecCol), col(vecCol))).as("qnD")))
    val cd = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("cnD"))
    // JOIN ORDER is load-bearing (round 14): the corpus attach on
    // neighbor_id comes FIRST, while the candidate rows are still bare
    // 16-byte id pairs — attaching the broadcast query frame first
    // (the round-13 order) put qv, a ~dim·4-byte array, on EVERY
    // candidate row BEFORE the neighbor_id exchange, so the "corpus
    // re-attach" shuffle was mostly query vectors riding candidates.
    // The query join stays a broadcast hash join wherever it sits, so
    // joining it last costs nothing and the exchange carries ids only
    // (with a bucketed corpus the attach is then fully exchange-free —
    // PlanSpec holds both proofs).
    val dscored = cands.join(cd, "neighbor_id").join(qd, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qnD") * col("cnD"))).as("dcos"))
    val surv = marginSurvivors(dscored, k)
    val qe = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), normExact(col(vecCol)).as("qn")))
    val ce = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      normExact(col(vecCol)).as("cn"))
    val scored = surv.join(ce, "neighbor_id").join(qe, "query_id")
      .withColumn("cosine",
        dotExact(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  // ---------------------------------------------------------------------
  // IVF (inverted-file) approximate top-k — the other standard ANN scale
  // path next to signLshTopK: a coarse k-means quantizer partitions the
  // corpus into `nCells` cells (MLlib KMeans, seeded); each query probes
  // its `nProbe` nearest cells and re-ranks exactly within them.
  // Centroids are driver/broadcast state (nCells × dim); the candidate
  // join shuffles on integer cell ids. Recall rises with nProbe;
  // nProbe = nCells degenerates to exact search.
  // ---------------------------------------------------------------------

  /** The candidate-generation stage of [[ivfTopK]]: distinct
    * (query_id, neighbor_id) pairs whose corpus row lives in one of the
    * query's `nProbe` nearest cells. Trains the same seeded coarse
    * quantizer as [[ivfTopK]] (identical cells), carries ids + the
    * integer cell only. The `ann` ScaleStress decade counts this frame
    * to measure the probe fraction the cell structure admits.
    */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nCells: Int = 16, nProbe: Int = 4,
                    seed: Long = 42L): DataFrame =
    ivfAssign(corpus, queries, idCol, vecCol, nCells, nProbe, seed)

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
              seed: Long = 42L): DataFrame = {
    val cands = ivfAssign(corpus, queries, idCol, vecCol, nCells, nProbe, seed)
    rerankCandidates(cands, corpus, queries, idCol, vecCol, k)
  }

  /** A trained IVF corpus layout: `cells` is the (neighbor_id, cell)
    * assignment frame — the corpus-sized half a deployment PERSISTS
    * (via [[graft.sources.Csv.bucketedSink]] keyed by `cell`, so the
    * per-batch probe equi-join needs no exchange on the corpus side) —
    * and `centroids` the bounded (cell, cvec) quantizer frame the
    * query side probes with (nCells rows; persist it next to the cells
    * table — it is the model artifact). Together they pre-pay BOTH
    * per-batch IVF costs: the quantizer train (sampled k-means) and
    * the corpus-wide cell-assignment scan.
    */
  final case class IvfIndex(cells: DataFrame, centroids: DataFrame)

  /** Shared cell-assignment + probe join of [[ivfTopK]] /
    * [[ivfCandidates]] — [[ivfCandidatesFromIndex]] over an inline
    * [[ivfIndex]] build.
    */
  private def ivfAssign(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, nCells: Int, nProbe: Int,
                        seed: Long): DataFrame = {
    val idx = ivfIndex(corpus, idCol, vecCol, nCells, seed)
    ivfCandidatesFromIndex(idx.cells, idx.centroids, queries, idCol,
      vecCol, nProbe)
  }

  /** Train the coarse quantizer and assign every corpus row its cell —
    * the one-time IVF indexing pass, exposed so deployments can persist
    * its two frames and amortize it across query batches (the
    * [[signLshIndex]] pattern on the IVF family).
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               nCells: Int = 16, seed: Long = 42L): IvfIndex = {
    val spark = corpus.sparkSession
    val centers = trainQuantizer(corpus, idCol, vecCol, nCells, seed)
    val cells = assignCellsWith(corpus, idCol, vecCol, centers)
    import spark.implicits._
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
    IvfIndex(cells, centroids)
  }

  /** The coarse-quantizer training pass of [[ivfIndex]], factored out so
    * the IVFPQ index build ([[ivfPqIndex]]) trains by the identical rule
    * (same sampling, same seed discipline) and can fuse its cell
    * assignment with the PQ encode into one corpus scan.
    */
  private def trainQuantizer(corpus: DataFrame, idCol: String,
                             vecCol: String, nCells: Int,
                             seed: Long): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    val corpusF = corpus.select(col(idCol).as("neighbor_id"),
      org.apache.spark.ml.functions.array_to_vector(
        col(vecCol).cast("array<double>")).as("__f"))
    // A coarse quantizer only partitions the corpus — recall comes from
    // nProbe, not centroid polish, so half MLlib's default iterations is
    // plenty and a seeded sample is enough training data (standard IVF
    // practice; the full-probe equivalence (q78) holds for ANY centroids).
    // The sample is CAPPED at ~256 training points per centroid (the
    // standard IVF sizing): a fixed 25% fraction made the quantizer
    // train O(corpus) — profiled at 9.1 s of IVF's 11.4 s wall at 1M
    // vectors (SCALE.md round 14) and growing linearly, for centroids
    // whose polish stopped mattering orders of magnitude earlier.
    // Sizing runs WITHOUT an exact full-corpus count (ADVICE r14: the
    // old corpusF.count() added a full scan per candidate-generation
    // call just to pick a fraction): sample at 0.25 first, count THAT
    // (the only corpus pass sizing pays, and it doubles as the
    // too-small-to-sample check), and when the sample overshoots the
    // 256/centroid budget, down-cap the already-drawn sample with a
    // second seeded sub-sample. At small corpora (0.25·n ≤ 256·nCells)
    // the training set is the plain 25% sample — identical to the old
    // path, so test-scale outputs are unchanged.
    val cap = 256.0 * nCells
    val sampled0 = corpusF.sample(withReplacement = false, 0.25, seed)
    val n0 = sampled0.count()
    val sampled = if (n0 > cap)
      sampled0.sample(withReplacement = false, cap / n0.toDouble, seed + 1)
    else sampled0
    val trainDf = if (n0 >= nCells * 2L) sampled else corpusF
    // random init, not k-means||: the parallel init runs ~5 extra
    // sampling rounds of jobs, and a coarse quantizer's recall comes
    // from nProbe, not centroid polish
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .setInitMode("random")
      .setFeaturesCol("__f").setPredictionCol("__cell").fit(trainDf)
    // corpus-side cell assignment (in the callers) goes via the native
    // argmin expression ([[graft.functions.PqEncodeCodes]] at m = 1,
    // k = nCells, dsub = dim — a PQ subspace argmin IS a
    // coarse-quantizer assign): MLlib's transform routes every row
    // through boxed Vector UDF machinery, the dominant per-vector cost
    // of the decade's 10M run once the train was capped; the
    // plain-double argmin assigns the same cells (ties and
    // fastSquaredDistance ulps can flip only exact near-ties, which
    // move recall — the q185–q187 audits' subject — never correctness:
    // q78's full-probe ≡ exact holds for ANY assignment, and q66 is
    // rows-only by design)
    model.clusterCenters.map(_.toArray)
  }

  /** Cell assignment against FIXED centroid arrays — the corpus-side
    * half of [[ivfIndex]], shared with the delta-append path so a
    * fresh build and an append assign by the identical rule.
    */
  private def assignCellsWith(corpus: DataFrame, idCol: String,
                              vecCol: String,
                              centers: Array[Array[Double]]): DataFrame = {
    val dim = centers.headOption.map(_.length).getOrElse(0)
    val cents: IndexedSeq[IndexedSeq[Double]] =
      centers.map(_.toIndexedSeq).toIndexedSeq
    val cellCol = element_at(org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PqEncodeCodes(
        org.apache.spark.sql.graft.Bridge.expression(col(vecCol)),
        cents, 1, centers.length, dim)), 1)
    corpus.select(col(idCol).as("neighbor_id"), cellCol.as("cell"))
  }

  /** Collect a persisted (cell, cvec) centroid frame into dense arrays
    * — BY NAME, with the contiguous-0..n-1 require (the
    * [[nearestCellsUdf]] rule, shared so every consumer of a persisted
    * quantizer rejects a reordered/gapped frame the same way). Bounded
    * by the [[IvfIndex]] contract (nCells rows).
    */
  private[graft] def centroidArrays(centroids: DataFrame): Array[Array[Double]] = {
    val rows = centroids.select(col("cell").cast("int").as("cell"),
      col("cvec")).orderBy("cell").collect()
    val ids = rows.map(_.getInt(0))
    require(ids.sameElements(Array.range(0, rows.length)),
      s"IVF centroid frame must carry exactly contiguous cell ids " +
        s"0..${rows.length - 1}; got [${ids.take(8).mkString(",")}${if (ids.length > 8) ",…" else ""}]")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** Assign a DELTA of new corpus rows their cells under a PERSISTED
    * quantizer — the incremental half of IVF index maintenance
    * (VERDICT r16 item 3): corpora grow, and rebuilding a 10M-row
    * assignment table to add 1% is a full corpus scan plus a full
    * table rewrite. The quantizer is FROZEN (the standard IVF
    * append contract — retraining centroids would re-home existing
    * rows, i.e. a rebuild by definition), so the delta frame is
    * bit-identical to what a fresh [[ivfIndex]] assignment under the
    * same centroids would produce for those rows (IndexAppendSpec
    * pins union-equality), and appending it to the id-bucketed cells
    * table preserves the exchange-free probe→attach layout
    * ([[graft.sources.Csv.bucketedAppend]] — same bucketing keys).
    */
  def ivfDeltaCells(centroids: DataFrame, delta: DataFrame,
                    idCol: String, vecCol: String): DataFrame =
    assignCellsWith(delta, idCol, vecCol, centroidArrays(centroids))

  /** [[ivfDeltaCells]] appended straight to the persisted cells table:
    * assign only the delta, append to the bucketed layout (same keys,
    * same bucket count — saveAsTable validates the spec against the
    * catalog, so a drifted spec throws instead of silently de-bucketing
    * the table).
    */
  def ivfAppend(cellsTable: String, centroids: DataFrame, delta: DataFrame,
                idCol: String, vecCol: String, buckets: Int): Unit =
    graft.sources.Csv.bucketedAppend(
      ivfDeltaCells(centroids, delta, idCol, vecCol),
      cellsTable, Seq("neighbor_id"), buckets)

  /** The ONE probe rule of the batch and streaming IVF paths: a udf
    * mapping a query vector to its `nProbe` nearest centroid cell ids.
    * Centroids are read BY NAME (`cell`, `cvec`) — not position — and a
    * named require pins cell ids to exactly contiguous 0..n-1, because
    * the udf returns ARRAY INDICES as cell ids: a persisted, reordered,
    * or gapped centroids frame would otherwise probe wrong cells with
    * no error, only silently wrong recall (ADVICE r15). Collect is
    * bounded by the [[IvfIndex]] contract (nCells rows). Defined once
    * so the batch ([[ivfCandidatesFromIndex]]) and streaming
    * ([[graft.streaming.Streaming.ivfTopKStream]]) probe rules cannot
    * drift apart — their bit-equality per micro-batch (StreamingSpec)
    * assumes identical probes.
    */
  private[graft] def nearestCellsUdf(
      centroids: DataFrame, nProbe: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val spark = centroids.sparkSession
    val centers: Array[Array[Double]] = centroidArrays(centroids)
    val bc = spark.sparkContext.broadcast(centers)
    udf { (v: Seq[Double]) =>
      // Allocation-free k-smallest selection instead of the old
      // `indices.sortBy(dist).take(nProbe)` (VERDICT r16 item 6): the
      // full sort is O(nCells log nCells) boxed-Integer work PER QUERY
      // ROW — noise at bench cell counts, per-row garbage at a 100 TB
      // layout's 10⁴–10⁵ cells under a high-QPS serving stream. Two
      // nProbe-length insertion buffers + an early-abandoned distance
      // loop give the same ids in the same order: strict `<` insertion
      // over ascending cell index reproduces the stable sort's
      // tie-to-lower-index rule exactly (earlier equal-distance cells
      // are already placed and a later equal never displaces), and the
      // abandon threshold is the current k-th best, which can only
      // skip cells the insertion would reject anyway.
      val arr = v.toArray
      val cents = bc.value
      val n = cents.length
      val kk = math.max(1, math.min(nProbe, n))
      val bd = new Array[Double](kk)
      val bi = new Array[Int](kk)
      java.util.Arrays.fill(bd, Double.PositiveInfinity)
      var filled = 0
      var c = 0
      while (c < n) {
        val cen = cents(c)
        val worst = bd(kk - 1)
        var s = 0.0
        var i = 0
        while (i < arr.length && s < worst) {
          val d = arr(i) - cen(i); s += d * d; i += 1
        }
        if (i == arr.length && s < worst) {
          if (bd(kk - 1) == Double.PositiveInfinity) filled += 1
          var j = kk - 1
          while (j > 0 && s < bd(j - 1)) {
            bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1
          }
          bd(j) = s; bi(j) = c
        }
        c += 1
      }
      if (filled == kk) bi.toSeq
      else {
        // Degenerate-distance fallback (ADVICE r17): a NaN component or
        // an overflow-to-+Inf squared distance never passes `s < worst`,
        // so fewer than kk cells insert and the unfilled `bi` slots
        // would emit spurious duplicate cell-0 ids. Mirror the replaced
        // full sort exactly — Ordering[Double] is Double.compare
        // (finite < +Inf < NaN, stable within ties), so non-finite
        // cells rank after every finite one, in index order — by
        // falling back to that sort. Only reachable on degenerate
        // inputs; every finite-distance row stays on the fast path.
        val ds = new Array[Double](n)
        var c2 = 0
        while (c2 < n) {
          val cen = cents(c2)
          var s = 0.0
          var i = 0
          while (i < arr.length) { val d = arr(i) - cen(i); s += d * d; i += 1 }
          ds(c2) = s
          c2 += 1
        }
        (0 until n).sortBy(i => ds(i)).take(kk)
      }
    }
  }

  /** Candidate generation against a PREBUILT [[IvfIndex]] (typically
    * both frames read back from persisted tables): each query probes
    * its `nProbe` nearest centroids and pairs with every corpus row
    * assigned to those cells. Carries ids + the integer cell only.
    */
  def ivfCandidatesFromIndex(cells: DataFrame, centroids: DataFrame,
                             queries: DataFrame, idCol: String,
                             vecCol: String, nProbe: Int): DataFrame = {
    val nearestCells = nearestCellsUdf(centroids, nProbe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell",
        explode(nearestCells(col("qv").cast("array<double>"))))
      .select("query_id", "cell")
    // candidate join carries ids + the integer cell only; scoring (in
    // ivfTopK / ivfTopKFromIndex) is the shared double-prefilter +
    // bounded exact re-rank. The probe frame is HINTED broadcast —
    // the query batch is bounded by contract (the rerankCandidates /
    // q41 rationale, whitelisted for q66/q78), and the broadcast is
    // load-bearing for the persisted layout: it leaves the cells
    // side's partitioning intact, so an id-bucketed cells table hands
    // the candidate frame HashPartitioning(neighbor_id) straight
    // through to the re-rank attach (PlanSpec proves it; a shuffled
    // probe join would re-key the scan by cell and forfeit it).
    cells.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
  }

  /** [[ivfTopK]] reading a PREBUILT index — the production per-batch
    * shape (the [[signLshTopKFromIndex]] pattern): `cells` is the
    * persisted assignment table (bucketed by `cell` for an
    * exchange-free probe join), `centroids` the persisted quantizer
    * frame, `corpus` the vector table the re-rank attaches from
    * (bucketed by id). Quantizer train and corpus assignment are both
    * amortized; the per-batch shuffle is the query probe frame +
    * candidate ids.
    */
  def ivfTopKFromIndex(cells: DataFrame, centroids: DataFrame,
                       corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nProbe: Int = 4,
                       allowed: Option[DataFrame] = None): DataFrame = {
    val cands = ivfCandidatesFromIndex(restrictIndex(cells, allowed),
      centroids, queries, idCol, vecCol, nProbe)
    rerankCandidates(cands, corpus, queries, idCol, vecCol, k)
  }

  /** IVF with a PINNED deterministic coarse quantizer — the q186
    * recall-audit twin of [[ivfTopK]]: centroids are the `nCells` corpus
    * vectors with the smallest (md5(id), id) (the [[pqCodebook]]
    * sampling rule — deterministic, shuffle-invariant, replayable by any
    * md5-capable engine), cell assignment and probe ordering use the
    * exact-DECIMAL squared distance (order-free sums, ties to the lower
    * cell index), so the whole cell structure — and therefore the
    * audit's recall numbers — is engine-exact and oracle-checkable.
    * Same DAG shape as ivfTopK otherwise: broadcast centroid literals,
    * integer-cell candidate join, bounded exact re-rank. Lloyd-trained
    * centroids improve recall, not mechanics; the audit needs the
    * mechanics pinned.
    */
  def ivfTopKPinned(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nCells: Int = 8,
                    nProbe: Int = 2): DataFrame = {
    val centers: Array[(Int, Array[Double])] = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol))
      .limit(nCells)                       // bounded: nCells rows
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
    def cellDists(v: Column) = array(centers.map { case (i, cen) =>
      struct(sqDistExact(v, lit(cen)).as("d"), lit(i).as("c"))
    }: _*)
    // one cell per corpus row: lexicographic struct min = (dist, cell)
    // argmin — the explicit ties-to-lower-index rule
    val c = corpus.select(col(idCol).as("neighbor_id"),
      array_min(cellDists(col(vecCol))).getField("c").as("__cell"))
    val q = queries.select(col(idCol).as("query_id"),
        explode(transform(
          slice(array_sort(cellDists(col(vecCol))), 1, nProbe),
          x => x.getField("c"))).as("__cell"))
      .select("query_id", "__cell")
    val cands = c.join(q, Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    rerankCandidates(cands, corpus, queries, idCol, vecCol, k)
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * via the LSH candidate path (id_a < id_b, exact cosine).
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, dim: Int, bits: Int = 12,
                     tables: Int = 4, seed: Long = 42L,
                     maxBucketSize: Int = 10000): DataFrame = {
    // id-only candidate generation (see signLshTopK), then vectors
    // re-attach by id and a plain double cosine prunes at threshold-1e-9
    // (|double - exact| < 1e-12, so no survivor of the exact filter can
    // be lost) before the exact decimal score.
    def bucketed(df0: DataFrame, id: String): DataFrame = {
      val buckets = array((0 until tables).map(t =>
        struct(lit(t).as("t"), lshBucket(col(vecCol), dim, bits, t, seed).as("b"))): _*)
      capBuckets(df0.select(col(idCol).as(id), explode(buckets).as("tb"))
        .select(col(id), col("tb.t").as("t"), col("tb.b").as("b")),
        id, maxBucketSize)
    }
    val a = bucketed(df, "id_a")
    val b = bucketed(df, "id_b")
    val cands = a.join(b, Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      normExact(col(vecCol)).as("na"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      normExact(col(vecCol)).as("nb"))
    cands.join(va, "id_a").join(vb, "id_b")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold - 1e-9)
      .withColumn("cosine",
        dotExact(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011: "Product
  // Quantization for Nearest Neighbor Search") — the standard
  // billion-vector compression: split each d-dim vector into m
  // subvectors, quantize each against a per-subspace codebook of k
  // centroids, and search with asymmetric distance computation (ADC):
  // per query, an m×k lookup table of query-to-centroid distances; a
  // stored vector's distance is the sum of m table lookups over its
  // codes (m log₂k bits per vector instead of 4d bytes — the reason PQ
  // scans billions of vectors in memory).
  //
  // Codebooks here are deterministic md5-ordered samples (training on a
  // sample is standard PQ practice; Lloyd refinement improves recall,
  // not mechanics — the MLlib-trained path is ivfTopK's pattern). All
  // distances use the DECIMAL(28,18) capture (order-free exact sums), so
  // encode argmins and ADC sums are engine-exact end to end (q120).
  // ---------------------------------------------------------------------

  /** Exact squared-L2 distance via the decimal capture — returns the
    * DECIMAL sum (no double rounding) so downstream argmins and ADC
    * additions stay exact and order-free. Native codegen'd expression,
    * pinned to a declarative decimal fold by spec (q120 measured
    * 4.0 → 3.6 s when it replaced that fold).
    */
  def sqDistExact(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.ExactSqDist(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Per-subspace codebook rows (j, code, cvec): the k corpus vectors
    * with the smallest (md5(id), id) — deterministic, shuffle-invariant —
    * sliced into m subvectors each. Bounded k×m rows (driver-collected,
    * broadcast by the callers).
    */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                 m: Int, k: Int, dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    val dsub = dim / m
    require(m * dsub == dim, s"dim $dim must split evenly into $m subspaces")
    val sampled = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(graft.dedup.Dedup.md5Hash64(col(idCol).cast("string")),
        col(idCol))
      .limit(k).collect()
    val rows = for {
      (r, c) <- sampled.zipWithIndex.toSeq
      j <- 0 until m
    } yield (j, c, r.getSeq[Float](1).slice(j * dsub, (j + 1) * dsub))
    import spark.implicits._
    rows.toDF("j", "code", "cvec")
  }

  /** Encode every vector as m codes: explode into subvectors, join the
    * broadcast codebook, exact-decimal argmin (ties to the lower code).
    * Output: (idCol, j, code).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    val subs = corpus
      .select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col(vecCol))
      .withColumn("sub", slice(col(vecCol), col("j") * dsub + 1, lit(dsub)))
      .drop(vecCol)
    subs.join(broadcast(codebook), Seq("j"))
      .withColumn("dist", sqDistExact(col("sub"), col("cvec")))
      .groupBy(col(idCol), col("j"))
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col(idCol), col("j"), col("best.code").as("code"))
  }

  /** Production encode — the same (idCol, j, code) contract as
    * [[pqEncode]] with the argmin taken over DOUBLE distances (one
    * native codegen'd dot per (row, code) instead of a per-element
    * BigDecimal capture). Two standard ADC-encode identities make it
    * cheap:
    *
    *  - ||s − c||² = ||s||² − 2⟨s,c⟩ + ||c||², and ||s||² is CONSTANT
    *    across the codes a subvector compares against, so the argmin
    *    drops it — the scored quantity is ||c||² − 2⟨s,c⟩ with ||c||²
    *    a driver-computed literal per centroid (the codebook is
    *    bounded by contract, so the whole argmin inlines into the
    *    scan projection: ZERO shuffle, where the exact form pays an
    *    n·m-row argmin exchange);
    *  - ties break to the lower code via the same lexicographic
    *    struct-min as the exact form.
    *
    * Code agreement with [[pqEncode]] is exact wherever the true
    * distance gap between the best and second-best centroid exceeds
    * double rounding (~1e-13 at embedding scale) — PqSpec equates the
    * two encoders on real vectors; [[pqEncode]] stays the q120 oracle
    * path (its decimal argmin is engine-replayable at EXACT
    * half-boundary ties, which no double form can promise). This form
    * exists because the exact encode dominates the PQ decade's wall —
    * O(n·m·k) BigDecimal captures, 43.2 s of the 1M-vector run
    * (SCALE.md round 13) — while at 100 TB the encode is the indexing
    * pass and must run at scan speed.
    */
  def pqEncodeFast(corpus: DataFrame, idCol: String, vecCol: String,
                   codebook: DataFrame, m: Int, dim: Int): DataFrame =
    fastPackedCodes(corpus, idCol, vecCol, codebook, m, dim, idCol)
      .select(col(idCol), posexplode(col("codes")))
      .select(col(idCol), col("pos").cast("int").as("j"),
        col("col").as("code"))

  /** The [[pqEncodeFast]] argmin emitting ONE row per vector with the
    * m codes as an array — the stored-index layout [[pqTopK]]'s packed
    * ADC scan consumes. The codebook is bounded and driver-built by
    * contract (pqCodebook collects k rows), so the whole argmin runs
    * INSIDE the scan projection — zero shuffle, unlike the exact
    * form's explode + broadcast-join + groupBy, whose n·m-row argmin
    * exchange is pure overhead once distances are double. The argmin
    * itself is the native [[graft.functions.PqEncodeCodes]] expression
    * (three primitive loops over a flat centroid array): the first cut
    * — m × array_min over k struct(dist, code) literals — allocated
    * m·k structs per row and measured ~12.5 µs/row, which WAS the PQ
    * decade's indexing wall; the native form runs the identical
    * arithmetic allocation-free (PqSpec equates both against the
    * exact-decimal encode).
    */
  private def fastPackedCodes(corpus: DataFrame, idCol: String,
                              vecCol: String, codebook: DataFrame,
                              m: Int, dim: Int, outId: String): DataFrame = {
    val dsub = dim / m
    val (nCodes, cents) = codebookArrays(codebook, m)
    val codes = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PqEncodeCodes(
        org.apache.spark.sql.graft.Bridge.expression(col(vecCol)),
        cents, m, nCodes, dsub))
    corpus.select(col(idCol).as(outId), codes.as("codes"))
  }

  /** Collect a (j, code, cvec) codebook frame into the flat
    * (j·nCodes + code)-indexed centroid array the native PQ expressions
    * consume, returning (nCodes, centroids). The contiguous-codes
    * require is the [[centroidArrays]] rule on the PQ family: a
    * persisted/externally-built codebook with gaps would otherwise
    * mis-index silently. Bounded by the codebook contract (m×k rows).
    */
  private[graft] def codebookArrays(codebook: DataFrame, m: Int)
      : (Int, IndexedSeq[IndexedSeq[Double]]) = {
    // cvec is float for PQ codebooks (corpus-vector slices) and DOUBLE
    // for IVFPQ residual codebooks (x − centroid differences); the cast
    // normalizes both losslessly (float → double is exact)
    val cbRows = codebook.select(col("j"), col("code"),
        col("cvec").cast("array<double>").as("cvec"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        r.getSeq[Double](2).toIndexedSeq)).toMap
    val nCodes = cbRows.keys.map(_._2).max + 1
    // codes must be contiguous 0..nCodes-1 in EVERY subspace (pqCodebook
    // emits exactly that; an externally-built codebook might not) — fail
    // with the defect named instead of a bare key-miss in the flatMap
    // below (ADVICE r14)
    require(cbRows.size == m * nCodes,
      s"incomplete codebook: expected every (j, code) pair for m=$m " +
        s"subspaces x $nCodes codes (${m * nCodes} rows), got ${cbRows.size}")
    val cents: IndexedSeq[IndexedSeq[Double]] =
      (0 until m).flatMap(j => (0 until nCodes).map(c => cbRows((j, c))))
        .toIndexedSeq
    (nCodes, cents)
  }

  /** ADC top-k: per query an m×k distance table (bounded, broadcast),
    * then one scan over the PACKED corpus codes — one row per vector
    * carrying its m codes as an array — scoring each (vector, query)
    * pair as m flat-array lookups INSIDE the broadcast-nested-loop
    * projection (the cosineTopK pair-product shape with table lookups
    * in place of the dot), feeding the [[graft.ops.TopKAgg]] margin
    * combiner directly. Output per query: (query_id, rank, neighbor_id,
    * adc) with adc snapped to DECIMAL(18,9)→double for cross-engine
    * output parity; ranking is by the EXACT decimal ADC — the margin
    * survivors ([[RerankMargin]] ≫ the ≤1e-13 double-lookup-sum error)
    * re-sum their decimal ADC from the pinned codes and a strict window
    * ranks them, so the output is bit-identical to ranking everything
    * exactly.
    *
    * The packed scan exists because the first ADC form — exploded
    * (id, j, code) rows joined to the broadcast table and hash-
    * aggregated per (query, neighbor) — pushes Q·n·m joined rows
    * through an aggregate over Q·n groups: measured 485 s at 10M
    * vectors (SCALE.md round 14), almost all of it that aggregate,
    * where the packed projection + combiner never materializes the
    * pair frame at all. Codes are pinned because the score scan and
    * the survivor re-sum both read them — and because stored packed
    * codes ARE the production PQ index (the encode is the indexing
    * pass this pin stands in for). Non-long ids keep the exploded
    * windowed form (the [[graft.ops.TopK.globalTopKByScore]] fallback
    * rule — the combiner is a typed (Double, Long) udaf).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, m: Int, k: Int, dim: Int,
             topK: Int, exactEncode: Boolean = true): DataFrame = {
    val dsub = dim / m
    val cb = pqCodebook(corpus, idCol, vecCol, m, k, dim)
    // actual per-subspace code count: pqCodebook emits min(k, corpus
    // rows) codes (its limit(k) driver collect), so a corpus smaller
    // than k makes the per-query flat table's stride nCodes < k — the
    // lookup index below must use THAT stride, or every j ≥ 1 lookup
    // reads a wrong position / returns null (ADVICE r14). cb is a
    // driver-built LocalRelation, so this max is a local no-scan job.
    val nCodes = cb.agg(max(col("code"))).head.getInt(0) + 1
    // exact-decimal per-(query, j, code) sub-distances in BOTH encode
    // modes: bounded m×k rows per query, and its sums ARE the ranking
    val table = adcDecimalTable(queries, idCol, vecCol, cb, m, dsub)
    val ranked =
      if (corpus.schema(idCol).dataType ==
          org.apache.spark.sql.types.LongType) {
        // packed codes: exactEncode packs the oracle-path argmin's
        // exploded rows (one n·m→n exchange, the audit trade); the
        // production encode emits the packed row straight from the
        // scan projection. BOTH are pinned, and the pin is
        // LOAD-BEARING beyond reuse: a broadcast-nested-loop join's
        // fused codegen defers its stream side's projection to the
        // use site INSIDE the build loop, so an unpinned codes
        // expression re-ran the whole m×k argmin once PER PAIR —
        // measured 65 s at 100k vectors vs 6.7 s pinned (the pin
        // materializes codes to row fields, and the pair loop then
        // reads attributes). In production the packed codes are a
        // STORED index table, which is this same materialization.
        // (A third materialization variant — a repartition exchange in
        // place of the pin, reusable across both consumers — measured
        // 2× SLOWER than the pin at 1M: 30.3 vs 16.0 s. Pin wins.)
        val packed = graft.ops.Pin.pin(
          if (exactEncode)
            pqEncode(corpus, idCol, vecCol, cb, m, dim)
              .groupBy(col(idCol).as("neighbor_id"))
              .agg(transform(
                array_sort(collect_list(struct(col("j"), col("code")))),
                g => g.getField("code")).as("codes"))
          else
            fastPackedCodes(corpus, idCol, vecCol, cb, m, dim,
              "neighbor_id"))
        packedAdcRank(packed, table, m, nCodes, topK)
      } else {
        val enc =
          if (exactEncode) pqEncode(corpus, idCol, vecCol, cb, m, dim)
          else pqEncodeFast(corpus, idCol, vecCol, cb, m, dim)
        val adc = enc.withColumnRenamed(idCol, "neighbor_id")
          .join(broadcast(table), Seq("j", "code"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum(col("td")).as("adc"))
        graft.ops.TopK.topKPerKey(adc, Seq("query_id"),
          Seq(col("adc").asc, col("neighbor_id").asc), topK,
          rankCol = "rank")
      }
    // snap scale-9 via floor(x·1e9 + ½)/1e9 in pure decimal arithmetic:
    // the exact ADC decimal CAN land on a half boundary at scale 9, where
    // engines' decimal-cast rounding modes disagree — floor doesn't.
    // Precision bookkeeping matters here: DECIMAL(38,18) × DECIMAL(20,0)
    // would exceed precision 38 and Spark's precision-loss rule rounds
    // the product at scale 6 — BELOW the 9 digits the snap needs. ADC
    // sums are small (≤10 int digits), so narrow to DECIMAL(28,18)
    // first (exact) and multiply by an INT literal (DECIMAL(10,0)):
    // 28+10+1 = 39 → adjusted DECIMAL(38,17), which holds the 9-frac-
    // digit product exactly. PqSpec pins the half-boundary class.
    ranked
      .withColumn("adc", snap9Floor(col("adc")))
      .select("query_id", "rank", "neighbor_id", "adc")
  }

  /** floor(x·1e9 + ½)/1e9 over exact decimals (see [[pqTopK]]); input
    * must carry ≤10 integer digits so the DECIMAL(28,18) narrowing is
    * exact.
    */
  def snap9Floor(adc: Column): Column =
    floor(adc.cast(DecimalType(28, 18)) * lit(1000000000)
        + lit(0.5).cast("decimal(2,1)"))
      .cast("double") / lit(1.0e9)

  /** The exact-decimal per-(query, j, code) ADC sub-distance table —
    * the bounded (|queries|·m·k rows) broadcast frame whose sums ARE
    * the oracle-replayable ADC ranking (q120/q207's CTE chain). Shared
    * by [[pqTopK]] and [[pqTopKFromIndex]] so the in-query and
    * persisted-index paths score by the identical rule.
    */
  private def adcDecimalTable(queries: DataFrame, idCol: String,
                              vecCol: String, cb: DataFrame,
                              m: Int, dsub: Int): DataFrame = {
    val qsubs = queries
      .select(col(idCol).as("query_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col(vecCol))
      .withColumn("qsub", slice(col(vecCol), col("j") * dsub + 1, lit(dsub)))
      .drop(vecCol)
    qsubs.join(broadcast(cb), Seq("j"))
      .withColumn("td", sqDistExact(col("qsub"), col("cvec")))
      .select("query_id", "j", "code", "td")
  }

  /** The packed-ADC scoring core shared by [[pqTopK]] (in-query encode)
    * and [[pqTopKFromIndex]] (persisted codes table): one scan over the
    * packed (neighbor_id, codes) frame scoring each (vector, query)
    * pair as m flat-array double lookups inside the broadcast-nested-
    * loop projection, the [[graft.ops.TopKAgg]] margin combiner, then
    * the exact-decimal ADC re-sum + strict window over the ≤ topK+ε
    * survivors. Output: (query_id, rank, neighbor_id, adc-decimal) —
    * bit-identical to ranking everything exactly (see [[pqTopK]]).
    */
  private def packedAdcRank(packed: DataFrame, table: DataFrame,
                            m: Int, nCodes: Int, topK: Int): DataFrame = {
    // per-query flat double lookup table (j-major: index
    // j·nCodes+code), order pinned by the (j, code) struct sort
    val qtblD = table.groupBy("query_id")
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("code"),
          col("td").cast("double").as("tdD")))),
        x => x.getField("tdD")).as("__qt"))
    val scored = packed
      .join(broadcast(qtblD), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (0 until m).map(j => element_at(col("__qt"),
          lit(j * nCodes + 1) + element_at(col("codes"), j + 1)))
          .reduce(_ + _).as("adcD"))
    val surv = scored.groupBy("query_id")
      .agg(graft.ops.TopKAgg.topK(-col("adcD"),
        col("neighbor_id"), topK, RerankMargin).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__t._2").as("neighbor_id"))
    val survAdc = surv.join(packed, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        posexplode(col("codes")))
      .select(col("query_id"), col("neighbor_id"),
        col("pos").cast("int").as("j"), col("col").as("code"))
      .join(broadcast(table), Seq("query_id", "j", "code"))
      .groupBy("query_id", "neighbor_id").agg(sum(col("td")).as("adc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id"))
    survAdc
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  // ---------------------------------------------------------------------
  // Persisted PQ index (VERDICT r17 item 3 — the symmetry gap): sign-LSH
  // and IVF both had persisted-index + delta-append + from-index query
  // paths; PQ codes were recomputed in-query every time. The packed
  // (neighbor_id, codes) frame IS the production PQ index — m·log₂k
  // bits per vector, the reason PQ scans billions of vectors in memory —
  // so it persists via bucketedSink (keyed by neighbor_id: the ADC scan
  // itself is layout-indifferent, but id bucketing keeps any downstream
  // attach exchange-free and matches the corpus/cells convention), the
  // bounded codebook frame next to it as the model artifact, and a
  // delta appends by encoding ONLY the new rows under the FROZEN
  // codebook (re-sampling the codebook would re-home every existing
  // code — a rebuild by definition; the ivfDeltaCells contract).
  // ---------------------------------------------------------------------

  /** A built PQ index: `codes` the packed (neighbor_id, codes) table —
    * the corpus-sized half a deployment persists — and `codebook` the
    * bounded (j, code, cvec) frame (m×k rows; the model artifact).
    */
  final case class PqIndex(codes: DataFrame, codebook: DataFrame)

  /** Build the PQ index: deterministic md5-ordered codebook sample +
    * one packed-encode scan. `exactEncode` keeps the oracle-replayable
    * exact-decimal argmin ([[pqEncode]], the q120/q207 audit form);
    * the default is the production scan-speed encoder
    * ([[fastPackedCodes]] — zero shuffle, PqSpec-equated codes).
    */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, dim: Int,
              exactEncode: Boolean = false): PqIndex = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, k, dim)
    PqIndex(packedCodes(corpus, idCol, vecCol, cb, m, dim, exactEncode), cb)
  }

  /** Packed (neighbor_id, codes) rows for `df` under a FIXED codebook —
    * the shared encode of [[pqIndex]] and [[pqDeltaCodes]].
    */
  private def packedCodes(df: DataFrame, idCol: String, vecCol: String,
                          cb: DataFrame, m: Int, dim: Int,
                          exactEncode: Boolean): DataFrame =
    if (exactEncode)
      pqEncode(df, idCol, vecCol, cb, m, dim)
        .groupBy(col(idCol).as("neighbor_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("j"), col("code")))),
          g => g.getField("code")).as("codes"))
    else
      fastPackedCodes(df, idCol, vecCol, cb, m, dim, "neighbor_id")

  /** The DELTA rows to append to a persisted [[pqIndex]] codes table
    * when the corpus grows: encode only the new rows under the frozen
    * persisted codebook — bit-identical to what a fresh build under
    * the same codebook assigns them (IndexAppendSpec pins it).
    */
  def pqDeltaCodes(codebook: DataFrame, delta: DataFrame, idCol: String,
                   vecCol: String, m: Int, dim: Int,
                   exactEncode: Boolean = false): DataFrame =
    packedCodes(delta, idCol, vecCol, codebook, m, dim, exactEncode)

  /** [[pqDeltaCodes]] appended straight to the persisted codes table
    * (same neighbor_id bucketing keys and count — catalog-validated,
    * the ivfAppend/signLshAppend contract).
    */
  def pqAppend(codesTable: String, codebook: DataFrame, delta: DataFrame,
               idCol: String, vecCol: String, m: Int, dim: Int,
               buckets: Int, exactEncode: Boolean = false): Unit =
    graft.sources.Csv.bucketedAppend(
      pqDeltaCodes(codebook, delta, idCol, vecCol, m, dim, exactEncode),
      codesTable, Seq("neighbor_id"), buckets)

  /** [[pqTopK]] reading a PREBUILT [[PqIndex]] — the production
    * per-batch shape: `codes` is the persisted packed table, `codebook`
    * the persisted model frame; the per-batch work is the bounded
    * per-query decimal table + the packed ADC scan. Output contract
    * and ranking rule are [[pqTopK]]'s exactly (the shared
    * [[packedAdcRank]] core), so the q120-pattern SQL oracles this
    * path end to end. Ids must be LongType (the combiner contract).
    */
  def pqTopKFromIndex(codes: DataFrame, codebook: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      m: Int, dim: Int, topK: Int): DataFrame = {
    require(codes.schema("neighbor_id").dataType ==
      org.apache.spark.sql.types.LongType,
      "pqTopKFromIndex requires LongType ids (the margin-combiner contract)")
    val dsub = dim / m
    val nCodes = codebook.agg(max(col("code"))).head.getInt(0) + 1
    val table = adcDecimalTable(queries, idCol, vecCol, codebook, m, dsub)
    packedAdcRank(codes, table, m, nCodes, topK)
      .withColumn("adc", snap9Floor(col("adc")))
      .select("query_id", "rank", "neighbor_id", "adc")
  }

  // ---------------------------------------------------------------------
  // IVFPQ (VERDICT r17 item 1; residual-encoded since round 19 — VERDICT
  // r18 item 1) — the standard FAISS serving composition (Jégou, Douze,
  // Schmid 2011 §V: IVFADC): the coarse IVF quantizer bounds WHICH
  // corpus rows a query inspects (nProbe cells), and PQ codes stored IN
  // the cells table bound what each inspection costs — candidates are
  // scored from m code-table lookups (bytes) instead of riding full
  // vectors through the probe join, and only the ≤ rerank ADC survivors
  // fetch their true vectors for the exact re-rank. The measured gap
  // this closes: flat-IVF serving saturated at ~59 q/s at 1M/256 q/s
  // because a backlog batch joined 78M candidate rows each carrying a
  // 64-double vector (SCALE.md round 17).
  //
  // Codes describe RESIDUALS x − centroid(cell), IVFADC's defining
  // step: round 18 encoded raw vectors, wasting code entropy
  // re-describing the cell offset the coarse quantizer already knows —
  // measured recall floor 0.33 @ m8/rerank64 vs flat IVF's 0.77 at the
  // same nProbe (SCALE.md round-18 recall table). The codebook trains
  // on residuals, the fused index scan assigns + residual-encodes in
  // one projection ([[graft.functions.IvfPqEncodeCells]]), and queries
  // build their ADC tables per PROBED CELL from the query residual
  // q − centroid(cell) — the per-(query, cell) table the scheme calls
  // for.
  // ---------------------------------------------------------------------

  /** A built IVFPQ index: `cells` the (neighbor_id, cell, codes)
    * assignment+codes table — ONE corpus-sized frame carrying both the
    * coarse cell and the packed RESIDUAL PQ codes — plus the two
    * bounded model frames (`centroids` the coarse quantizer, `codebook`
    * the residual PQ codebooks). Persist cells bucketed by neighbor_id
    * (the IvfIndex layout lesson), the model frames next to it.
    */
  final case class IvfPqIndex(cells: DataFrame, centroids: DataFrame,
                              codebook: DataFrame)

  /** Deterministic coarse-quantizer centroids: the `nCells` corpus
    * vectors with the smallest (md5Hash64(id), id) — the [[pqCodebook]]
    * sample rule applied to the quantizer — as a (cell, cvec
    * array<double>) frame with contiguous cell ids in that order.
    * Exists because a KMeans quantizer cannot be replayed in SQL while
    * this pick can (q209's oracle replays the FULL residual-IVFADC
    * protocol through it), and doubles as the warm-start hook for
    * externally supplied quantizers via [[ivfPqIndexWith]]. A coarse
    * quantizer only partitions the corpus — recall comes from nProbe,
    * not centroid polish (the [[ivfIndex]] training note) — so this is
    * a legitimate quantizer, not a test fixture.
    */
  def deterministicCentroids(corpus: DataFrame, idCol: String,
                             vecCol: String, nCells: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val picked = corpus.select(col(idCol), col(vecCol))
      .orderBy(graft.dedup.Dedup.md5Hash64(col(idCol).cast("string")),
        col(idCol))
      .limit(nCells)
      .select(col(vecCol).cast("array<double>"))
      .collect()
    picked.zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }
      .toSeq.toDF("cell", "cvec")
  }

  /** Exact-decimal cell assignment under a given centroid frame — the
    * oracle-replayable twin of the native double argmin
    * ([[assignCellsWith]]): every (row, cell) distance is the
    * [[ExactSqDist]] decimal capture, argmin ties to the lower cell
    * (struct-min) — the [[semDeDup]] assignment rule. The audit-path
    * assigner ([[ivfPqIndexWith]] at exactEncode = true); production
    * keeps the native scan-speed argmin.
    */
  private[graft] def assignCellsExact(df: DataFrame, idCol: String,
                                      vecCol: String,
                                      centroids: DataFrame): DataFrame =
    df.select(col(idCol).as("neighbor_id"), col(vecCol))
      .crossJoin(broadcast(centroids.select(
        col("cell").cast("int").as("cell"),
        col("cvec").cast("array<double>").as("__cc"))))
      .withColumn("__d", sqDistExact(col(vecCol), col("__cc")))
      .groupBy("neighbor_id")
      .agg(min(struct(col("__d").as("d"), col("cell").as("cell"))).as("__m"))
      .select(col("neighbor_id"), col("__m.cell").as("cell"))

  /** The salt decorrelating [[ivfPqCodebook]]'s training sample from
    * [[deterministicCentroids]]' pick. Load-bearing, not cosmetic: both
    * orderings once shared the unsalted md5 rule, so with nCells ≥ k
    * every codebook sample row WAS a centroid, every training residual
    * was x − x = 0, and the "codebook" collapsed to m×k zero vectors —
    * every candidate in a cell tied exactly in ADC, and the clustered
    * recall campaign measured the collapse as recall FROZEN at 0.48
    * across m = 8 vs 16 and rerank 16 vs 64 (identical 305-hit
    * survivor sets — round 19).
    */
  private[graft] val IvfPqCbSalt = "graft-ivfpq-cb#"

  /** Per-subspace RESIDUAL codebook for IVFPQ (the step that makes the
    * cited IVFADC actually IVFADC): the k corpus rows with the smallest
    * (md5Hash64([[IvfPqCbSalt]] # id), id) — the [[pqCodebook]] sample
    * rule under a SALT (see [[IvfPqCbSalt]]) — each
    * EXACT-decimal-assigned its coarse cell, contribute the residual
    * x − centroid(cell) sliced into m subvectors. Output (j, code,
    * cvec array<double>), bounded m×k rows. The sample collects to the
    * driver (k rows by contract) and the assignment argmin runs there
    * through the SAME [[graft.functions.ExactSqDist]] kernel the
    * distributed exact assigner uses — one rule, zero drift,
    * SQL-replayable (ties to the lower cell, matching
    * [[assignCellsExact]]'s struct-min).
    */
  def ivfPqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, m: Int, k: Int,
                    dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    val dsub = dim / m
    require(m * dsub == dim, s"dim $dim must split evenly into $m subspaces")
    val centers = centroidArrays(centroids)
    val sampled = corpus
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(graft.dedup.Dedup.md5Hash64(
          concat(lit(IvfPqCbSalt), col(idCol).cast("string"))),
        col(idCol))
      .limit(k).collect()
    val rows = for {
      (r, code) <- sampled.zipWithIndex.toSeq
      v = r.getSeq[Double](1).toArray
      cell = exactArgminCell(v, centers)
      residual = Array.tabulate(dim)(d => v(d) - centers(cell)(d))
      j <- 0 until m
    } yield (j, code, residual.slice(j * dsub, (j + 1) * dsub).toSeq)
    import spark.implicits._
    rows.toDF("j", "code", "cvec")
  }

  /** Driver-side exact-decimal argmin cell (ties to the lower cell) —
    * the [[assignCellsExact]] rule on one vector, with the engine's own
    * margin-prefilter trick so a production-sized quantizer does not
    * cost O(nCells·dim) BigDecimal ops per sample: a plain double
    * sq-dist pass picks the candidates within a MAGNITUDE-AWARE margin
    * of the min — `minD·1e-9 + 1e-6`, the relative term covering
    * large-component inputs (double sq-dist error is ~dim·ulp·minD ≈
    * minD·1e-14 at dim ≤ 4k — 5 orders inside minD·1e-9 at ANY scale)
    * and the absolute term covering minD ≈ 0 where the relative term
    * vanishes — and only those few near-ties pay the
    * [[graft.functions.ExactSqDist]] kernel. Bit-identical to the
    * all-exact argmin by the margin argument WITHOUT a unit-scale
    * precondition (ADVICE r19: the old absolute-only 1e-6 margin could
    * silently exclude the true argmin once sq-dists reached ~1e6), so
    * q209's SQL replay holds for arbitrary-magnitude embeddings.
    */
  private[graft] def exactArgminCell(v: Array[Double],
                                     centers: Array[Array[Double]]): Int = {
    val dd = new Array[Double](centers.length)
    var minD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val cen = centers(c)
      var s = 0.0
      var i = 0
      while (i < v.length) { val d = v(i) - cen(i); s += d * d; i += 1 }
      dd(c) = s
      if (s < minD) minD = s
      c += 1
    }
    // degenerate (NaN) distances never pass the ≤ filter — fall through
    // to the exact loop, whose decimal capture throws LOUDLY on NaN
    // (the similarity family's degenerate-input contract)
    val margin = minD * 1e-9 + 1e-6
    val cand0 = (0 until centers.length).filter(i => dd(i) <= minD + margin)
    val cand = if (cand0.nonEmpty) cand0 else 0 until centers.length
    if (cand.length == 1) cand.head
    else {
      var best: org.apache.spark.sql.types.Decimal = null
      var bestC = cand.head
      cand.foreach { i =>
        val d = graft.functions.ExactSqDist.compute(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(v), false,
          new org.apache.spark.sql.catalyst.util.GenericArrayData(centers(i)),
          false)
        if (best == null || d.compareTo(best) < 0) { best = d; bestC = i }
      }
      bestC
    }
  }

  /** Build the IVFPQ index: the [[ivfIndex]] coarse-quantizer train +
    * the residual codebook, then ONE corpus scan assigning each row its
    * cell and its packed residual codes in the same fused projection
    * ([[graft.functions.IvfPqEncodeCells]] — the indexing pass runs at
    * scan speed, no joins). `exactEncode` swaps in the fully
    * oracle-replayable decimal path (exact assignment + exact residual
    * argmin codes — the audit trade, q209's protocol under a
    * deterministic quantizer).
    */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 nCells: Int, m: Int, k: Int, dim: Int, seed: Long = 42L,
                 exactEncode: Boolean = false): IvfPqIndex = {
    val spark = corpus.sparkSession
    val centers = trainQuantizer(corpus, idCol, vecCol, nCells, seed)
    import spark.implicits._
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
    ivfPqIndexWith(corpus, idCol, vecCol, centroids, m, k, dim, exactEncode)
  }

  /** [[ivfPqIndex]] under a SUPPLIED coarse quantizer frame (cell,
    * cvec) — contiguous 0..n-1 cells required (the [[centroidArrays]]
    * rule). The audit entry point ([[deterministicCentroids]] makes the
    * whole build SQL-replayable) and the warm-start hook for external
    * quantizers.
    */
  def ivfPqIndexWith(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, m: Int, k: Int, dim: Int,
                     exactEncode: Boolean = false): IvfPqIndex = {
    val cb = ivfPqCodebook(corpus, idCol, vecCol, centroids, m, k, dim)
    val cells =
      if (exactEncode) {
        // exact-decimal assign + exact residual codes — the audit form
        // (an assignment exchange + residual join the fused production
        // scan never pays)
        val assigned = assignCellsExact(corpus, idCol, vecCol, centroids)
        val withR = corpus.select(col(idCol).as("neighbor_id"), col(vecCol))
          .join(assigned, "neighbor_id")
          .join(broadcast(centroids.select(
            col("cell").cast("int").as("cell"),
            col("cvec").cast("array<double>").as("__cc"))), "cell")
          .select(col("neighbor_id"), col("cell"),
            zip_with(col(vecCol).cast("array<double>"), col("__cc"),
              (x, c) => x - c).as("__rv"))
        withR.select("neighbor_id", "cell")
          .join(packedCodes(withR, "neighbor_id", "__rv", cb, m, dim,
            exactEncode = true), Seq("neighbor_id"))
          .select("neighbor_id", "cell", "codes")
      } else residualCells(corpus, idCol, vecCol, centroids, cb, m, dim)
    IvfPqIndex(cells, centroids, cb)
  }

  /** The fused production assign+residual-encode scan shared by
    * [[ivfPqIndexWith]] and [[ivfPqDeltaCells]] — one projection, zero
    * joins, zero per-row allocation until the output row
    * ([[graft.functions.IvfPqEncodeCells]]).
    */
  private def residualCells(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, codebook: DataFrame,
                            m: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    val coarse: IndexedSeq[IndexedSeq[Double]] =
      centroidArrays(centroids).map(_.toIndexedSeq).toIndexedSeq
    val (nCodes, cents) = codebookArrays(codebook, m)
    val enc = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.IvfPqEncodeCells(
        org.apache.spark.sql.graft.Bridge.expression(col(vecCol)),
        coarse, cents, m, nCodes, dsub))
    df.select(col(idCol).as("neighbor_id"), enc.as("__e"))
      .select(col("neighbor_id"), col("__e.cell").as("cell"),
        col("__e.codes").as("codes"))
  }

  /** The DELTA rows to append to a persisted [[ivfPqIndex]] cells table:
    * assign cell + residual codes for only the new rows under the
    * FROZEN quantizer and codebook — the [[ivfDeltaCells]] contract
    * with codes riding the same fused scan.
    */
  def ivfPqDeltaCells(centroids: DataFrame, codebook: DataFrame,
                      delta: DataFrame, idCol: String, vecCol: String,
                      m: Int, dim: Int): DataFrame =
    residualCells(delta, idCol, vecCol, centroids, codebook, m, dim)

  /** [[ivfPqDeltaCells]] appended straight to the persisted cells table
    * (same neighbor_id bucketing — the ivfAppend contract).
    */
  def ivfPqAppend(cellsTable: String, centroids: DataFrame,
                  codebook: DataFrame, delta: DataFrame, idCol: String,
                  vecCol: String, m: Int, dim: Int, buckets: Int): Unit =
    graft.sources.Csv.bucketedAppend(
      ivfPqDeltaCells(centroids, codebook, delta, idCol, vecCol, m, dim),
      cellsTable, Seq("neighbor_id"), buckets)

  /** The per-query ADC lookup-table COLUMN (array<double>, j-major
    * j·k + code) over a collected codebook — the stateless-projection
    * form the batch paths build their tables with. For IVFPQ the `vec`
    * passed in is the per-(query, cell) RESIDUAL column; for plain PQ
    * it is the query vector itself (ONE table-building rule either
    * way). Returns (nCodes, column).
    */
  private[graft] def adcTableCol(codebook: DataFrame, m: Int, dim: Int,
                                 vec: Column): (Int, Column) = {
    val dsub = dim / m
    val (nCodes, cents) = codebookArrays(codebook, m)
    (nCodes, org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PqAdcTable(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        cents, m, nCodes, dsub)))
  }

  /** The m-lookup ADC sum over a packed codes column against a
    * j-major lookup table column — the scoring projection of the
    * BATCH IVFPQ candidate join (the broadcast build side holds the
    * table once per (query, cell); candidates pay m lookups).
    */
  private[graft] def adcLookupSum(qt: Column, codes: Column,
                                  m: Int, nCodes: Int): Column =
    (0 until m).map(j => element_at(qt,
      lit(j * nCodes + 1) + element_at(codes, j + 1))).reduce(_ + _)

  /** Direct PQ ADC score column — Σ_j ‖sub_j − centroid(j, codes_j)‖²
    * computed per (vector, codes) pair, bit-identical to summing
    * [[adcTableCol]] lookups over the same vector (IvfPqSpec pins it).
    * Kept as the plain-PQ scalar and the spec reference for the
    * residual form below.
    */
  private[graft] def adcScoreCol(codebook: DataFrame, m: Int, dim: Int,
                                 vec: Column, codes: Column): Column = {
    val dsub = dim / m
    val (nCodes, cents) = codebookArrays(codebook, m)
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PqAdcScore(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        org.apache.spark.sql.graft.Bridge.expression(codes),
        cents, m, nCodes, dsub))
  }

  /** Direct RESIDUAL ADC score column — the STREAM's scoring form:
    * Σ_j ‖(q − centroid(cell))_sub_j − cen(j, codes_j)‖² per
    * (query vector, codes, cell) triple, bit-identical to materializing
    * the residual with zip_with and scoring via [[adcScoreCol]]
    * (IvfPqSpec pins it). A stream side cannot broadcast, a table
    * column riding the stream-static join is the measured 92 GB
    * row-copy trap, and a per-candidate residual array is allocation
    * churn — [[graft.functions.IvfPqAdcScore]] pays none of the three.
    */
  private[graft] def ivfPqAdcScoreCol(centroids: DataFrame,
                                      codebook: DataFrame, m: Int, dim: Int,
                                      vec: Column, codes: Column,
                                      cell: Column): Column = {
    val dsub = dim / m
    val coarse: IndexedSeq[IndexedSeq[Double]] =
      centroidArrays(centroids).map(_.toIndexedSeq).toIndexedSeq
    val (nCodes, cents) = codebookArrays(codebook, m)
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.IvfPqAdcScore(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        org.apache.spark.sql.graft.Bridge.expression(codes),
        org.apache.spark.sql.graft.Bridge.expression(cell),
        coarse, cents, m, nCodes, dsub))
  }

  /** IVFPQ top-k against a PREBUILT [[IvfPqIndex]] — the serving shape:
    *
    *  1. PROBE: each query explodes to its `nProbe` nearest cells (the
    *     shared [[nearestCellsUdf]] rule) and re-bases into each probed
    *     cell — its per-(query, cell) ADC lookup table is built from
    *     the RESIDUAL q − centroid(cell) (the IVFADC query-side step)
    *     and rides the bounded probe frame (broadcast — the cells
    *     side's id-bucketed partitioning survives to the re-rank
    *     attach).
    *  2. ADC PREFILTER: candidates are scored INSIDE the join
    *     projection as m double lookups over their stored residual
    *     codes — bytes, not vectors — and the margin-top-`rerank`
    *     combiner keeps ≤ rerank+ε survivor IDS per query.
    *  3. EXACT RE-RANK: only the survivors re-attach true vectors
    *     (the shared rerankCandidates tail: double-cosine prefilter +
    *     bounded exact-decimal re-rank), output the strict top-k.
    *
    * Full coverage (nProbe = nCells, rerank ≥ corpus) degenerates to
    * exact search — the q78-pattern oracle (q208). `exactAdc` swaps
    * step 2's double lookups for the oracle-replayable exact-decimal
    * residual ADC with a STRICT top-rerank (q209's audit form under a
    * [[deterministicCentroids]] quantizer; production keeps the
    * doubles). The two variants can differ at a BINDING rerank boundary
    * by design: code-identical same-cell candidates tie EXACTLY in ADC,
    * the production margin retention keeps the whole tie group, and the
    * strict replayable rule cuts inside it by id — a superset, never a
    * miss (IvfPqSpec pins both rules).
    *
    * Output: (query_id, rnk, neighbor_id, cosine) — cosine is the true
    * exact cosine, not the quantized ADC (the IVFADC re-rank contract).
    */
  def ivfPqTopKFromIndex(cells0: DataFrame, centroids: DataFrame,
                         codebook: DataFrame, corpus: DataFrame,
                         queries: DataFrame, idCol: String, vecCol: String,
                         k: Int, m: Int, dim: Int, nProbe: Int,
                         rerank: Int, exactAdc: Boolean = false,
                         allowed: Option[DataFrame] = None): DataFrame = {
    // the allowed-id restriction lands on the CELLS scan, before the
    // probe join — disallowed rows never reach ADC scoring or the
    // re-rank (see [[restrictIndex]])
    val cells = restrictIndex(cells0, allowed)
    val nearestCells = nearestCellsUdf(centroids, nProbe)
    val centFrame = broadcast(centroids.select(
      col("cell").cast("int").as("cell"),
      col("cvec").cast("array<double>").as("__cc")))
    // probe frame with the per-(query, probed cell) residual — bounded
    // (|queries|·nProbe rows), the only place residual arrays exist
    val qr = queries.select(col(idCol).as("query_id"), col(vecCol))
      .withColumn("cell",
        explode(nearestCells(col(vecCol).cast("array<double>"))))
      .join(centFrame, "cell")
      .select(col("query_id"), col("cell"),
        zip_with(col(vecCol).cast("array<double>"), col("__cc"),
          (x, c) => x - c).as("__rq"))
    val surv =
      if (exactAdc) {
        val dsub = dim / m
        // exact-decimal per-(query, cell, j, code) sub-distances from
        // the query residuals — bounded |queries|·nProbe·m·k rows, and
        // its sums ARE the replayable ranking (q209's CTE chain)
        val table = qr
          .select(col("query_id"), col("cell"),
            explode(sequence(lit(0), lit(m - 1))).as("j"), col("__rq"))
          .withColumn("qsub",
            slice(col("__rq"), col("j") * dsub + 1, lit(dsub)))
          .join(broadcast(codebook), Seq("j"))
          .withColumn("td", sqDistExact(col("qsub"), col("cvec")))
          .select("query_id", "cell", "j", "code", "td")
        // candidates keep their cell: the ADC joins the (query, CELL)
        // table — a candidate is scored against the query residual of
        // ITS OWN cell, the IVFADC rule
        val cands = cells.join(broadcast(qr.select("query_id", "cell")),
            Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("cell"), col("neighbor_id"),
            posexplode(col("codes")))
          .select(col("query_id"), col("cell"), col("neighbor_id"),
            col("pos").cast("int").as("j"), col("col").as("code"))
        // the inner join drops any null/out-of-range code slot, which
        // would UNDER-sum that candidate's ADC and wrongly promote it
        // into the strict rerank (ADVICE r19) — a complete code array
        // joins exactly one table row per j, so require m terms and
        // throw LOUDLY otherwise (the production paths' PqAdcScore /
        // IvfPqAdcScore null-code contract, replayed here)
        val adc = cands
          .join(broadcast(table), Seq("query_id", "cell", "j", "code"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum(col("td")).as("__adc"), count(lit(1)).as("__nt"))
          .select(col("query_id"), col("neighbor_id"),
            when(col("__nt") === m, col("__adc"))
              .otherwise(raise_error(format_string(
                s"exactAdc: candidate %s joined %s != $m ADC terms — " +
                  "null or out-of-range code slots in the cells table",
                col("neighbor_id"), col("__nt")))).as("adc"))
        // STRICT top-rerank by the exact decimal (replayable — no
        // double margin): row_number over (adc asc, neighbor_id)
        val w = Window.partitionBy("query_id")
          .orderBy(col("adc").asc, col("neighbor_id"))
        adc.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= rerank)
          .select("query_id", "neighbor_id")
      } else {
        val (nCodes, qtCol) = adcTableCol(codebook, m, dim, col("__rq"))
        val q = qr.select(col("query_id"), col("cell"), qtCol.as("__qt"))
        // candidates carry (query_id, codes) through the probe join;
        // the ADC sum runs in the join projection and only
        // (query_id, neighbor_id, adcD) survives it — the per-cell
        // lookup table rides the BOUNDED broadcast probe frame, never
        // a candidate row
        val dscored = cells.join(broadcast(q), Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            (-adcLookupSum(col("__qt"), col("codes"), m, nCodes))
              .as("dcos"))
        // margin-top-rerank by NEGATED double ADC — marginSurvivors'
        // retention rule verbatim (combiner on long ids)
        marginSurvivors(dscored, rerank)
      }
    rerankCandidates(surv, corpus, queries, idCol, vecCol, k)
  }

  /** Embedding-space decontamination — the semantic twin of the n-gram
    * protocol ([[graft.dedup.Dedup.contamination]]): a training vector is
    * contaminated if its cosine to ANY eval vector reaches `minCos`.
    * Eval sets are bounded by definition, so the eval frame broadcasts
    * whole and the sweep is ONE scan over the training corpus (a
    * broadcast nested-loop against the tiny eval side): a codegen'd
    * double prefilter keeps pairs within the re-rank margin of the
    * threshold, and only those survivors pay the decimal-exact re-score
    * — the same prefilter-then-exact pattern as [[cosineTopK]] /
    * [[cosineNearDups]]. Output one row per flagged training vector:
    * (train_id, n_hits, best_eval_id, best_cos), best = argmax cosine
    * with ties to the smaller eval id.
    */
  def semanticContamination(train: DataFrame, evalVecs: DataFrame,
                            idCol: String, vecCol: String,
                            minCos: Double): DataFrame = {
    // ONE scan, no re-attach join: a fixed threshold needs no windowed
    // k-th cutoff, so the decimal re-score can run inline right after
    // the double prefilter — Catalyst evaluates the projection only for
    // rows that survive the filter, and the vectors never appear in any
    // exchange (the sole shuffle is the final groupBy on integer ids).
    // The exact train norm is also computed post-filter: per surviving
    // pair (bounded by the contamination rate × |eval|) instead of per
    // corpus row.
    val e = broadcast(evalVecs.select(col(idCol).as("eval_id"),
      col(vecCol).as("ev"),
      sqrt(dot(col(vecCol), col(vecCol))).as("enD"),
      normExact(col(vecCol)).as("en")))
    val t = train.select(col(idCol).as("train_id"), col(vecCol).as("tv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("tnD"))
    t.crossJoin(e)
      .filter(dot(col("tv"), col("ev")) / (col("tnD") * col("enD"))
        >= minCos - RerankMargin)
      .withColumn("cos", dotExact(col("tv"), col("ev"))
        / (normExact(col("tv")) * col("en")))
      .filter(col("cos") >= minCos)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_hits"),
        max_by(col("eval_id"),
          struct(col("cos"), (-col("eval_id")).as("n"))).as("best_eval_id"),
        max(col("cos")).as("best_cos"))
  }

  // ---------------------------------------------------------------------
  // SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  // web-scale through semantic deduplication") — the embedding-space
  // dedup policy used on LAION/C4-scale corpora: cluster the embedding
  // space, call two items semantic duplicates when their cosine within a
  // cluster reaches a threshold, and keep ONE representative per
  // duplicate group — the member FARTHEST from its cluster centroid
  // (the paper's "lowest similarity to centroid" keep rule, which
  // retains the least-prototypical, most informative copy).
  //
  // Scale shape: the centroid table is k rows (broadcast); assignment is
  // one scan with a map-side-combined argmin shuffle carrying (id, cell,
  // dist) — vectors never cross the wire; candidate pairs are generated
  // from (id, cell) alone (the cosineNearDups id-only protocol) and the
  // quadratic is confined WITHIN a cell — the paper's approximation, and
  // the reason SemDeDup runs where all-pairs cannot. Callers size
  // `nCells` so cells stay bounded (k ≈ n / targetCellSize); cross-cell
  // near-dups are out of scope by design (nCells = 1 degenerates to the
  // exact all-pairs form, the q87 full-coverage pattern).
  // ---------------------------------------------------------------------

  /** SemDeDup over an embedding frame. Output: one row per member of a
    * semantic-duplicate group — (id, cell, group_id, dcent, kept) where
    * `group_id` is the smallest member id of the transitive duplicate
    * component, `dcent` the exact squared L2 distance to the member's own
    * centroid (1e-9-grid floor snap of the exact decimal, the q120
    * readout pattern), and `kept` = 1
    * for the group's survivor (argmax dcent, ties to the smaller id).
    *
    * Determinism: centroids are the `nCells` corpus rows with the
    * smallest (md5Hash64(salt#id), id) — shuffle- and growth-order
    * invariant; assignment argmin and the keep rule order on EXACT
    * decimal distances, so every decision replays bit-identically in any
    * engine (no IEEE accumulation anywhere in a comparison).
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
               nCells: Int, threshold: Double,
               salt: String = "graft-semdedup"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    // centroid pick: bounded top-k by hash order (TakeOrderedAndProject,
    // never a single-partition global sort); k rows collect to the
    // driver to get dense cell indices — the pqCodebook pattern.
    val picked = base
      .withColumn("__h", graft.dedup.Dedup.md5Hash64(
        concat(lit(salt + "#"), col("__id").cast("string"))))
      .orderBy(col("__h"), col("__id")).limit(nCells)
      .select(col("__id"), col("__v").cast("array<double>").as("__vd"))
      .collect()
    val cent = broadcast(picked.zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Double](1)) }.toSeq.toDF("cell", "__cvec"))
    // assignment: k distances per row computed in the scan projection;
    // the argmin shuffle carries (id, struct(dist, cell)) with map-side
    // partial min — exact decimal distances make the argmin (and its
    // tie-break to the smaller cell) engine-replayable.
    val assigned = base.crossJoin(cent)
      .withColumn("__d", sqDistExact(col("__v"), col("__cvec")))
      .groupBy("__id")
      .agg(min(struct(col("__d").as("d"), col("cell").as("cell"))).as("__m"))
      .select(col("__id"), col("__m.cell").as("cell"), col("__m.d").as("dcent"))
    // within-cell candidates from (id, cell) alone; vectors re-attach by
    // id for the double prefilter + exact-decimal verify (the
    // cosineNearDups protocol — threshold-1e-9 loses no exact survivor).
    val a = assigned.select(col("__id").as("id_a"), col("cell"))
    val b = assigned.select(col("__id").as("id_b"), col("cell"))
    val va = base.select(col("__id").as("id_a"), col("__v").as("va"),
      normExact(col("__v")).as("na"))
    val vb = base.select(col("__id").as("id_b"), col("__v").as("vb"),
      normExact(col("__v")).as("nb"))
    val dups = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .join(va, "id_a").join(vb, "id_b")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold - 1e-9)
      .filter(dotExact(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold)
      .select("id_a", "id_b")
    // transitive duplicate groups, then the paper's keep rule: per group
    // the member with the LARGEST exact distance to its own centroid
    // survives (ties to the smaller id) — a window over near-dup groups,
    // bounded by construction like q154's keeper.
    val members = graft.dedup.Dedup.dupGroups(dups)
      .select(col("group_id"), col("id").as("__id"))
      .join(assigned, "__id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("dcent").desc, col("__id"))
    members
      .withColumn("kept",
        (row_number().over(w) === 1).cast("int"))
      .select(col("__id").as(idCol), col("cell").cast("long").as("cell"),
        col("group_id"),
        snap9Floor(col("dcent")).as("dcent"),
        col("kept"))
  }
}
