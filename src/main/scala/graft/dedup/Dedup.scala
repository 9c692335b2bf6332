package graft.dedup

import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project,
  RepartitionOperation, Sample, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MinHashFamily, ShingleMinHash, ShingleSet, SortedStringIntersectSize}
import graft.text.TextOps

/** Deduplication for large-scale corpus curation: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Designed for the 100 TB shape:
  *  - exact dedup shuffles only 16-byte fingerprints, never text;
  *  - MinHash/SimHash candidate generation is a band-bucket equi-join
  *    (shuffle on small band keys), with exact verification only on the
  *    candidate pairs — no quadratic comparison anywhere;
  *  - all hash seeds are fixed, so results are deterministic under any
  *    partitioning.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** One row per duplicate-group: canonical (min) id, group size. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Keep exactly one row (min id) per canonical text.
    *
    * Round 20 (guide §2.3 — shuffle keys, not payloads): the
    * row_number window over fingerprint(text) shuffled FULL ROWS —
    * text included — to elect a winner the 16-byte fingerprint and the
    * id already determine. Now: a map-side-combined min(id) per
    * fingerprint (the [[exactGroups]] aggregate, ids+fps only cross
    * the exchange), then an AQE-sized semi-join pulls the winners'
    * full rows. Identical keep rule (rn=1 under orderBy id ⟺ min id —
    * ids are unique), identical output columns.
    */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(exactGroups(df, idCol, textCol)
        .select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Per-duplicate-group keep decision by QUALITY, not id — the keep
    * policy a curated training set actually wants (min-id keeps are
    * arbitrary; near-identical pages differ in boilerplate, casing, and
    * junk, and the cleanest copy should survive). One row per group:
    * (fp, keep_id, n_docs, best_score), keep = argmax score with ties
    * to the smaller id (total, replayable order). Shape: fingerprints +
    * (id, score) aggregate with map-side combine — text never crosses
    * the shuffle. Requires a numeric `idCol`.
    */
  def keepBestGroups(df: DataFrame, idCol: String, textCol: String,
                     scoreCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"),
        col(idCol).as("__id"), col(scoreCol).as("__s"))
      .groupBy("fp")
      .agg(
        max_by(col("__id"), struct(col("__s"), (-col("__id")).as("n"))).as("keep_id"),
        count(lit(1)).as("n_docs"),
        max(col("__s")).as("best_score"))

  // -------------------------------------------------------------- minhash

  /** Word n-gram shingles of the canonical text (distinct strings).
    * Readable reference form: the MinHash path builds the same strings
    * per document natively ([[graft.functions.Shingles]]), and the
    * prefix-filter joins use [[shingleHashes]].
    */
  def shingles(text: Column, n: Int): Column =
    // n-fold zip_with over shifted slices, not slice(toks, i, n) in an
    // index lambda: a non-lambda subexpression in a HOF body
    // re-evaluates per ELEMENT, so the old form re-ran the tokenizing
    // split O(tokens) times per doc (the q195 lesson,
    // LangModel.bigramArr). The token array is additionally let-bound
    // once per row through a single-element array + transform (the
    // [[graft.text.TextOps.chunkWindows]] trick): the gram tree
    // references it 2n+2 times, and each textual reference of a raw
    // expression analyzes into a distinct lambda binding that
    // subexpression elimination cannot unify — the unbound form re-ran
    // the split 2n+2 times per ROW.
    array_distinct(flatten(transform(array(TextOps.tokens(text)), toks => {
      val grams = (2 to n)
        .map(k => slice(toks, lit(k), size(toks) - (n - 1)))
        .foldLeft(slice(toks, lit(1), size(toks) - (n - 1)))(
          (acc, s) => zip_with(acc, s, (a, b) => concat_ws(" ", a, b)))
      when(size(toks) >= n, grams)
        .otherwise(array(concat_ws(" ", toks)))
    })))

  /** Distinct (id, shingle-string) ROWS — same shingle set as
    * [[shingles]] (distinct n-gram strings; whole trimmed text when the
    * doc has fewer than n tokens; "" for null text) but built with
    * codegen'd operators instead of the per-element interpreted
    * `transform` lambda, which dominates the cost of every shingle scan
    * (~4-6× slower at corpus scale). Tokens are exploded once and each
    * shingle is a `concat_ws` over `lead` windows partitioned by doc —
    * one hash shuffle on the doc id (even distribution at any scale),
    * then a distinct. This is the relational form, for consumers that
    * join or group on shingles ([[jaccardPairs]]); MinHash builds the
    * same shingles per document instead ([[graft.functions.Shingles]]).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      TextOps.tokens(coalesce(col(textCol), lit(""))).as("t"))
    val short = toks.filter(size(col("t")) < n)
      .select(col("id"), concat_ws(" ", col("t")).as("s"))
    val pos = toks.filter(size(col("t")) >= n)
      .select(col("id"), size(col("t")).as("len"),
        posexplode(col("t")).as(Seq("p", "tok")))
    val w = Window.partitionBy("id").orderBy("p")
    val parts = col("tok") +: (1 until n).map(k => lead(col("tok"), k).over(w))
    val full = pos
      .withColumn("s", concat_ws(" ", parts: _*))
      .filter(col("p") <= col("len") - n)
      .select("id", "s")
    full.union(short).distinct()
  }

  /** Distinct 64-bit identities of word n-gram shingles: tokens are
    * xxhash64'd once, then n consecutive hashes combine by xor of
    * position-rotated copies (`zip_with` pads the short side with null,
    * which propagates and marks the ragged tail for the filter; bitwise
    * ops are exempt from ANSI overflow checks). Same set semantics as
    * [[shingles]] up to hash collisions (~2^-64 per pair); ~n array ops
    * per document instead of ~len slices.
    */
  def shingleHashes(text: Column, n: Int): Column = {
    def rotl(c: Column, k: Int): Column =
      shiftleft(c, k).bitwiseOR(shiftrightunsigned(c, 64 - k))
    // Both the token array and its per-token hash array are let-bound
    // once per row through the single-element-array + transform trick
    // (the [[graft.text.TextOps.chunkWindows]] pattern): the xor fold
    // references the hash array ~2n times and the short-doc fallback
    // re-reads the tokens, and each textual reference of a raw
    // expression analyzes into a distinct lambda binding that
    // subexpression elimination cannot unify — the unbound form re-ran
    // the tokenizing split ~2n times per ROW (the q195 lesson's
    // per-ROW sibling; see SCALE.md round 13).
    array_distinct(flatten(transform(array(TextOps.tokens(text)), toks =>
      flatten(transform(array(transform(toks, t => xxhash64(t))), th => {
        val combined = (1 until n).foldLeft(th) { (acc, k) =>
          zip_with(acc, slice(th, lit(k + 1), greatest(size(th) - k, lit(0))),
            (a, b) => a.bitwiseXOR(rotl(b, (7 * k) % 63 + 1)))
        }
        when(size(th) >= n, filter(combined, c => c.isNotNull))
          .otherwise(array(xxhash64(concat_ws(" ", toks))))
      })))))
  }

  /** (id, sig: array<long> of length nHashes) — the MinHash signature of
    * every non-null-text doc under `family`: sig[i] = min over the doc's
    * shingles ([[shingles]]' strings) of `family.hash(shingle) XOR c_i`
    * ([[graft.functions.MinHashFamily]] owns the hash and the constants).
    * A null-text doc gets no signature, so it is never a candidate.
    *
    * Plan shape: ONE projection over the scan. The native
    * [[graft.functions.ShingleMinHash]] builds the doc's shingles from its
    * token array and folds them into the signature in the same row, so
    * there is no posexplode, no `lead` window, no exchange and no
    * nHashes-way `min` aggregate. A projection also runs unchanged on a
    * stream, so online dedup attaches signatures at ingestion with it.
    * TextDedupSpec checks this plan directly: the callers' pins hide it
    * from their final plans.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        family: MinHashFamily, nHashes: Int,
                        shingleSize: Int = 3): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        Bridge.column(ShingleMinHash(Bridge.expression(docTokens(col(textCol))),
          shingleSize, family, nHashes)).as("sig"))

  /** The token array the per-document shingle expressions start from. */
  private def docTokens(text: Column): Column =
    TextOps.tokens(coalesce(text, lit("")))

  /** MinHash signatures in long form (id, h_idx, minhash), the shape the
    * md5 oracle replays (q79): every doc keeps its nHashes rows, with a
    * null minhash for a null-text doc (the final left join). Each
    * (id, h_idx) row reads its slot of the joined signature. No generator
    * sits over the signature: Spark infers a `size(sig) > 0` filter under
    * an explode of an attribute and pushes it through the projection,
    * which evaluated every signature twice.
    */
  def minhashTableMd5(df: DataFrame, idCol: String, textCol: String,
                      nHashes: Int = 16, shingleSize: Int = 3): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, MinHashFamily.Md5, nHashes, shingleSize)
    val idx = broadcast(df.sparkSession.range(nHashes).toDF("h_idx"))
    df.select(col(idCol).as("id")).crossJoin(idx)
      .join(sig, Seq("id"), "left")
      .select(col("id").as(idCol), col("h_idx"),
        element_at(col("sig"), (col("h_idx") + 1).cast("int")).as("minhash"))
  }

  /** Candidate near-duplicate pairs (id_a < id_b, distinct) by LSH banding
    * of [[minhashSignatures]]' rows: the signature splits into `bands`
    * bands of nHashes/bands slots, and docs whose band key is equal in any
    * band become a candidate pair. A band key is the band's minhashes in
    * slot order, as an array of r longs: exact, so two docs share a bucket
    * only if their band slots are equal (no bucket-hash collision adds
    * pairs), fixed-width (8r bytes of values), and it derives per row from
    * the signature array with no extra exchange.
    *
    * `maxBucketSize` caps the membership of each (band, key) bucket before
    * the self-join, keeping its `maxBucketSize` smallest ids: a degenerate
    * hot bucket (boilerplate shingles, empty docs) otherwise goes quadratic
    * within the bucket at corpus scale. Docs beyond the cap lose only that
    * bucket's votes; with several bands true near-dups still collide
    * elsewhere. `Int.MaxValue` (the default) applies no cap and no window.
    *
    * This is the distributed route: [[minhashNearDups]] runs it only when
    * the input has non-long ids, more source rows or minhashes than its
    * [[DriverLimit]] bound or more than [[DriverLimit]] bucket pairs, and
    * bands a bounded input on the driver instead ([[driverCandidates]]).
    * The band table is referenced on both sides of the self-join and the
    * candidate table by every consumer; Spark replans (not reuses) each
    * reference, so both BOUNDED intermediates (ids × bands rows /
    * candidate pairs) are pinned ([[graft.ops.Pin]]).
    */
  def minhashCandidates(sigs: DataFrame, nHashes: Int, bands: Int,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(nHashes % bands == 0, "nHashes must divide into bands")
    val r = nHashes / bands
    val banded = sigs
      .select(col("id"),
        posexplode(array((0 until bands).map(b =>
          slice(col("sig"), b * r + 1, r)): _*)).as(Seq("band", "key")))
      .select(col("id"), col("band").cast("long").as("band"), col("key"))
    val capped = capBuckets(banded, "id", Seq("band", "key"), maxBucketSize)
      .transform(graft.ops.Pin.pin)
    capped.select(col("id").as("id_a"), col("band"), col("key"))
      .join(capped.select(col("id").as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .transform(graft.ops.Pin.pin)
  }

  /** Keep at most `cap` members per bucket (deterministic: the `cap`
    * smallest ids). One hash-partitioned window — no global ordering.
    */
  private def capBuckets(df: DataFrame, idCol: String, bucketCols: Seq[String],
                         cap: Int): DataFrame =
    if (cap == Int.MaxValue) df
    else df
      .withColumn("__bn", row_number().over(
        Window.partitionBy(bucketCols.map(col): _*).orderBy(col(idCol))))
      .filter(col("__bn") <= cap).drop("__bn")

  /** Exact n-gram Jaccard of every candidate pair (id_a, id_b):
    * (id_a, id_b, n_common, jaccard), unfiltered — callers apply their
    * own threshold (q44 reports every candidate's jaccard).
    *
    * The docs are semi-joined down to candidate ids before shingling, so
    * the cost is bounded by the candidate set, never the corpus. Each
    * candidate's distinct shingle strings ([[graft.functions.ShingleSet]],
    * one pinned row per doc) join onto the pairs: `n_common` is a merge of
    * the two sorted sets ([[graft.functions.SortedStringIntersectSize]])
    * and the set sizes are `size()`. Shingles compare as exact strings, as
    * the oracle's `list_distinct` sets do; the single integer-ratio double
    * division is IEEE-identical across engines.
    *
    * This is the distributed route, run on [[minhashCandidates]]' pairs;
    * [[minhashNearDups]]' driver route verifies its pairs with the same
    * sets and kernel after one collect ([[driverVerify]]).
    */
  def verifyJaccard(cands: DataFrame, df: DataFrame, idCol: String,
                    textCol: String, shingleSize: Int = 3): DataFrame = {
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val sets = shingleSets(df.join(candIds, Seq(idCol), "left_semi"), idCol, textCol,
        shingleSize)
      .transform(graft.ops.Pin.pin)
    cands
      .join(sets.select(col("id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Bridge.column(SortedStringIntersectSize(
          Bridge.expression(col("shs_a")), Bridge.expression(col("shs_b")))).as("n_common"),
        size(col("shs_a")).cast("long").as("n_a"),
        size(col("shs_b")).cast("long").as("n_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** (id, shs): every doc's distinct shingle strings, sorted by bytes. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"),
      Bridge.column(ShingleSet(Bridge.expression(docTokens(col(textCol))),
        shingleSize)).as("shs"))

  /** The bound of [[minhashNearDups]]' driver route: at most this many
    * candidate pairs, and at most this many signatures holding at most
    * 16 × this many minhashes (100,000 signatures of 16 hashes, 25,000 of
    * 64). The [[dupGroups]] and DTW-init bound; the minhash bound keeps
    * the driver's signature heap at that of the 16-hash shape.
    */
  val DriverLimit = 100000

  /** Banded-LSH near-dup detection end to end: [[minhashSignatures]] →
    * LSH candidates → exact Jaccard, every candidate pair with its exact
    * Jaccard (filter on `jaccard` for a threshold). Deterministic at
    * every step. Under `MinHashFamily.Md5` DuckDB replays the whole DAG
    * (q80); q44 runs the same DAG under `MinHashFamily.XxHash64` with a
    * bucket cap.
    *
    * Two routes, with identical rows. The gate first counts, up to the
    * bound, the rows of the input's source ([[rowSource]]: no signature is
    * computed and the input's semi-joins do not run). An input of long
    * ids whose source holds at most `driverLimit` rows, and at most
    * 16 × `driverLimit` minhashes at `nHashes` per row, has its
    * signatures fetched by one collect; if their capped buckets
    * hold at most `driverLimit` pairs, they are banded and verified on the
    * driver ([[driverCandidates]], [[driverVerify]]) and the result is a
    * local relation: one collect of the signatures and one of the
    * candidates' shingle sets, instead of the distributed route's three
    * pins. Any other input runs [[minhashCandidates]] →
    * [[verifyJaccard]] from the same signature frame: past the row bound
    * after the count alone, past the pair bound after recomputing the
    * signatures it fetched. `driverLimit` stays at [[DriverLimit]]
    * outside tests.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      family: MinHashFamily, nHashes: Int, bands: Int,
                      shingleSize: Int = 3,
                      maxBucketSize: Int = Int.MaxValue,
                      driverLimit: Int = DriverLimit): DataFrame = {
    require(nHashes % bands == 0, "nHashes must divide into bands")
    val sigs = minhashSignatures(df, idCol, textCol, family, nHashes, shingleSize)
    val maxSigs = math.min(driverLimit, driverLimit.toLong * 16 / nHashes).toInt
    val onDriver =
      if (sigs.schema("id").dataType != LongType ||
          rowSource(df).select(lit(1)).limit(maxSigs + 1).collect().length > maxSigs) None
      else {
        import df.sparkSession.implicits._
        // primitive long arrays: no boxed minhash reaches the driver heap
        driverCandidates(sigs.as[(Option[Long], Array[Long])].collect(), bands,
          nHashes / bands, maxBucketSize, driverLimit)
      }
    onDriver match {
      case Some(pairs) => driverVerify(pairs, df, idCol, textCol, shingleSize)
      case None => verifyJaccard(minhashCandidates(sigs, nHashes, bands, maxBucketSize),
        df, idCol, textCol, shingleSize)
    }
  }

  /** A frame with at least as many rows as `df` and cheaper to run: `df`'s
    * plan below its top operators that never add rows: projections,
    * filters, samples, sorts, repartitions, and semi- and anti-joins, of
    * which it keeps the left side.
    */
  private def rowSource(df: DataFrame): DataFrame = {
    def source(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => source(child)
      case Filter(_, child) => source(child)
      case SubqueryAlias(_, child) => source(child)
      case s: Sample => source(s.child)
      case s: Sort => source(s.child)
      case r: RepartitionOperation => source(r.child)
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti => source(j.left)
      case other => other
    }
    Bridge.frame(df.sparkSession, source(df.queryExecution.optimizedPlan))
  }

  /** [[minhashCandidates]] over collected (id, sig) rows: the distinct
    * (id_a < id_b) pairs sorted, or None when the capped buckets hold more
    * than `pairLimit` pairs (counted from bucket sizes, duplicates across
    * bands included, before any pair is built). Same semantics: a bucket
    * is a (band, band-slot slice) key, its members ordered by id with
    * nulls first (the window's ascending order) and cut at `cap`; a null
    * id takes a cap slot but never pairs.
    */
  private def driverCandidates(sigs: Array[(Option[Long], Array[Long])], bands: Int, r: Int,
                               cap: Int, pairLimit: Int): Option[Array[(Long, Long)]] = {
    // one band at a time, so only one band's keys are live
    val buckets = (0 until bands).flatMap { b =>
      sigs.indices.groupBy(i => ArraySeq.unsafeWrapArray(sigs(i)._2.slice(b * r, b * r + r)))
        .valuesIterator.map(members => members.map(sigs(_)._1).sorted.take(cap).flatten)
        .filter(_.length > 1)
    }
    if (buckets.iterator.map(m => m.length.toLong * (m.length - 1) / 2).sum > pairLimit) None
    else Some(buckets.flatMap(m =>
        for (i <- m.indices; j <- i + 1 until m.length if m(i) < m(j)) yield (m(i), m(j)))
      .distinct.sorted.toArray)
  }

  /** [[verifyJaccard]] on the driver: one collect of the candidate docs'
    * shingle sets (a semi-join against a local relation of their ids),
    * then `n_common` by the same [[SortedStringIntersectSize]] kernel and
    * `jaccard = n_common / (n_a + n_b − n_common)`. Every doc has at
    * least one shingle, so the denominator is never 0. A pair gets one
    * row per (id_a row, id_b row) combination, as the inner joins give.
    */
  private def driverVerify(pairs: Array[(Long, Long)], df: DataFrame, idCol: String,
                           textCol: String, shingleSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val candIds = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toSeq.toDF(idCol)
    // binary elements carry the shingles' exact bytes to the driver
    val sets = shingleSets(df.join(candIds, Seq(idCol), "left_semi"), idCol, textCol,
        shingleSize)
      .select(col("id"), col("shs").cast("array<binary>"))
      .collect().toSeq
      .groupMap(_.getLong(0))(row => new GenericArrayData(
        row.getSeq[Array[Byte]](1).map(UTF8String.fromBytes).toArray[Any]): ArrayData)
    (for {
      (a, b) <- pairs.toSeq
      sa <- sets.getOrElse(a, Nil)
      sb <- sets.getOrElse(b, Nil)
    } yield {
      val n = SortedStringIntersectSize.compute(sa, sb)
      (a, b, n, n.toDouble / (sa.numElements() + sb.numElements() - n))
    }).toDF("id_a", "id_b", "n_common", "jaccard")
  }

  /** Cross-engine reproducible 64-bit hash: the first 8 md5 digest bytes
    * as a signed long (two's complement). Any engine with md5 can
    * replicate it bit-for-bit (the DuckDB oracle assembles the same value
    * via HUGEINT arithmetic); xxhash64 is Spark-only. Slower than
    * xxhash64 — use for oracle-checked paths, keep xxhash64 in production
    * hot paths. Since round 8 this is the native codegen'd
    * [[graft.functions.Md5Hash64]] (digest bytes straight to long, no
    * hex-string round-trip); TextDedupSpec pins it equal to the
    * declarative hex composition.
    */
  def md5Hash64(c: Column): Column =
    Bridge.column(graft.functions.Md5Hash64(Bridge.expression(c.cast("binary"))))

  /** Driver-side twin of [[md5Hash64]] for literal constants: first 16 hex
    * chars of the UTF-8 md5, as a signed (two's-complement) long.
    */
  def md5Const64(s: String): Long =
    graft.functions.Md5Hash64.compute(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Exact n-gram Jaccard similarity join: all pairs with
    * jaccard >= threshold, computed from distinct (id, shingle-md5) rows
    * via a shingle equi-join — never an all-pairs comparison. This is the
    * oracle-checkable exact baseline; the scale path for fuzzier
    * thresholds is [[minhashNearDups]] (banded LSH bounds the candidate
    * set; here a boilerplate shingle shared by m docs contributes m²/2
    * join rows).
    *
    * jaccard = |A∩B| / (|A|+|B|-|A∩B|) over DISTINCT shingles; the single
    * integer-ratio double division is IEEE-identical across engines.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, shingleSize)
      .select(col("id"), unhex(md5(col("s").cast("binary"))).as("shh"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("nsh"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.shh") === col("b.shh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("nsh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** EXACT Jaccard similarity join at scale: same output contract as
    * [[jaccardPairs]] (all pairs with n-gram-set jaccard >= threshold),
    * but candidate generation uses PREFIX FILTERING (the AllPairs family,
    * Bayardo et al., WWW 2007) instead of the full shingle equi-join.
    *
    * Why: in the plain equi-join a boilerplate shingle shared by m docs
    * contributes m²/2 join rows — the hot-key quadratic blow-up that kills
    * the exact join at corpus scale. Prefix filtering orders every doc's
    * shingles by GLOBAL frequency ascending (rarest first; ties broken by
    * the 64-bit hash — one total order shared by all docs) and joins only
    * each doc's first `|d| - ceil(t*|d|) + 1` shingles: if two sets have
    * jaccard >= t, their prefixes under any common total order must share
    * at least one element (pigeonhole on the required overlap
    * `|A∩B| >= t/(1+t)*(|A|+|B|) >= t*max(|A|,|B|)`), so no qualifying
    * pair is missed — while the boilerplate shingles, being the most
    * frequent, sort to the SUFFIX and never generate candidates. A
    * length filter (`min(nsh) >= t*max(nsh)`, necessary for jaccard >= t)
    * prunes inside the join; exact verification then runs only on the
    * surviving candidate pairs.
    *
    * Scale shape: one groupBy for frequencies (map-side combined), one
    * doc-partitioned window for ranks, an equi-join on PREFIX rows only
    * (shuffle keyed by the 64-bit hash — never text), and a
    * candidate-bounded verify join. Intermediates referenced twice are
    * pinned. This is the scale path that upgrades [[jaccardPairs]] (kept
    * as the labeled quadratic oracle baseline, reference `Dedup.ipynb`
    * n-gram Jaccard semantics).
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val docSets = canonicalDocSets(df, idCol, textCol, shingleSize)
    // Prefix length p = |d| - ceil(t*|d|) + 1 (AllPairs, jaccard form);
    // rk is the 1-based rank of the shingle in the canonical order.
    val prefix = docSets.select(col("id"), col("nsh"),
        posexplode(slice(col("shs"), lit(1),
          (col("nsh") - ceil(lit(threshold) * col("nsh")) + lit(1)).cast("int"))))
      .select(col("id"), col("nsh"), (col("pos") + 1).as("rk"), col("col").as("shh"))
    // Candidates: equi-join on prefix shingles, with the length filter
    // (jaccard >= t forces min|d| >= t*max|d|) and PPJoin's positional
    // filter — the overlap can't exceed 1 + min remaining suffix length
    // at the matched rank, so rows whose upper bound misses the required
    // overlap t/(1+t)*(|A|+|B|) drop before the distinct. (Per-row
    // filtering is safe: for a qualifying pair the FIRST common shingle
    // sits in both prefixes and its bound holds.) Algebra kept
    // multiplicative to avoid a double-rounding ceil at the boundary.
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shh") === col("b.shh") && col("a.id") < col("b.id") &&
          least(col("a.nsh"), col("b.nsh")) >=
            lit(threshold) * greatest(col("a.nsh"), col("b.nsh")) &&
          (lit(1) + least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk"))) *
            lit(1.0 + threshold) >=
            lit(threshold) * (col("a.nsh") + col("b.nsh")) - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Exact verification: one hash join per side against the |docs|-row
    // set frame, intersection in codegen.
    val ca = docSets.select(col("id").as("id_a"), col("shs").as("shs_a"),
      col("nsh").as("n_a"))
    val cb = docSets.select(col("id").as("id_b"), col("shs").as("shs_b"),
      col("nsh").as("n_b"))
    cand.join(ca, "id_a").join(cb, "id_b")
      .withColumn("n_common", size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Pinned canonical doc-set frame shared by the prefix-filtered
    * similarity joins ([[prefixJaccardPairs]], [[prefixContainmentPairs]]):
    * one row per doc — (id, shs: 64-bit shingle identities sorted by
    * (global document frequency, hash) — the shared canonical order
    * rarest-first, nsh = |set|).
    *
    * Shingle sets are 64-bit identities from the [[shingleHashes]] scan
    * projection (no per-token window, no text in flight). One explode feeds the global document
    * frequency via a count window over the hash (one shuffle gives df
    * per ROW — the groupBy+re-join form costs a second full-stream
    * shuffle; same trick as the dup-span gram counting), then the stream
    * collapses back to ONE ROW PER DOC. From here on nothing is
    * per-shingle except the prefix stream: the doc frame is |docs| rows,
    * and exact verification is an in-codegen array_intersect against it
    * (LONG elements keep Spark's hash-set fast path; binary/struct
    * elements fall back to a nested-loop compare), not a re-join of the
    * full shingle stream.
    */
  private def canonicalDocSets(df: DataFrame, idCol: String, textCol: String,
                               shingleSize: Int): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      explode(shingleHashes(coalesce(col(textCol), lit("")), shingleSize)).as("h"))
    graft.ops.Pin.pin(
      ex.withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("id")
        .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ss"))
        .select(col("id"), expr("transform(ss, x -> x.h)").as("shs"),
          size(col("ss")).cast("long").as("nsh")))
  }

  /** EXACT containment join at scale: all pairs with Broder containment
    * n_common / min(n_a, n_b) >= threshold — the subset-dup relation
    * symmetric Jaccard misses (a short doc swallowed whole by a longer one
    * has jaccard ≈ |small|/|large| but containment 1.0). Output is
    * (id_a < id_b, n_common, n_a, n_b, containment); direction recovers
    * from the sizes. Candidate generation uses the ASYMMETRIC prefix
    * filter instead of the full shingle equi-join of [[jaccardPairs]] at
    * threshold 0 (the specs' containment oracle).
    *
    * Why containment cannot reuse the jaccard prefix bound: its
    * required overlap t·min(|A|,|B|) depends on the PARTNER's size, so a
    * big doc's own prefix would have to assume the smallest possible
    * partner (length 1) — i.e. the whole doc. The standard asymmetric
    * reduction (the PPJoin family's containment/overlap variant): only
    * the pair's SMALLER side needs a prefix. For a pair with
    * m = min(|A|,|B|), overlap o >= t·m and o integer force
    * o >= ceil(t·m); if none of the smaller doc's first
    * m - ceil(t·m) + 1 canonical-order shingles appeared in the larger
    * doc, o <= ceil(t·m) - 1 < t·m — contradiction. So joining
    * small-side PREFIX rows against the FULL ranked stream (ordered by
    * (nsh, id) so each unordered pair has exactly one small side)
    * misses no qualifying pair, while a boilerplate shingle shared by
    * m docs contributes (its prefix count)·m join rows instead of m²/2
    * — and frequent shingles, sorting to the suffix, rarely enter any
    * prefix. The per-row positional filter is PPJoin's: at the pair's
    * FIRST common canonical shingle (ranks rk_a, rk_b — common elements
    * appear in the same relative order on both sides), o <= 1 +
    * min(nsh_a - rk_a, nsh_b - rk_b), so rows whose upper bound misses
    * t·min drop before the distinct; the first-common-shingle row of a
    * qualifying pair always survives. Algebra kept multiplicative with
    * a 1e-9 slack on the double threshold product (ceil over a binary
    * double like 0.8·5 = 4.000000000000000222 would otherwise SHRINK a
    * boundary prefix and lose pairs).
    *
    * Scale shape: one [[canonicalDocSets]] build (one full-stream
    * shuffle + one per-doc aggregate), a prefix×full equi-join on
    * 64-bit hashes — never text — and a candidate-bounded
    * array_intersect verify against the |docs|-row set frame — the
    * scale path for containment, as [[prefixJaccardPairs]] is for
    * [[jaccardPairs]].
    */
  def prefixContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                             shingleSize: Int = 3,
                             threshold: Double = 0.8): DataFrame = {
    val docSets = canonicalDocSets(df, idCol, textCol, shingleSize)
    // full ranked stream: every (doc, shingle) with its 1-based rank in
    // the canonical order — re-exploded per join side from the PINNED
    // docSets frame (cheap projection, no extra pin job)
    def ranked = docSets.select(col("id"), col("nsh"), posexplode(col("shs")))
      .select(col("id"), col("nsh"), (col("pos") + 1).as("rk"),
        col("col").as("shh"))
    // small-side prefix: m - ceil(t·m) + 1 rarest shingles
    val prefix = ranked.filter(col("rk") <=
      col("nsh") - ceil(lit(threshold) * col("nsh") - lit(1e-9)) + lit(1))
    val cand = prefix.as("a")
      .join(ranked.as("b"),
        col("a.shh") === col("b.shh") &&
          // a is the pair's unique smaller side ((nsh, id) total order)
          struct(col("a.nsh"), col("a.id")) < struct(col("b.nsh"), col("b.id")) &&
          (lit(1) + least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk")))
            >= lit(threshold) * col("a.nsh") - lit(1e-9))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val ca = docSets.select(col("id").as("id_a"), col("shs").as("shs_a"),
      col("nsh").as("n_a"))
    val cb = docSets.select(col("id").as("id_b"), col("shs").as("shs_b"),
      col("nsh").as("n_b"))
    cand.join(ca, "id_a").join(cb, "id_b")
      .withColumn("n_common",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment")
  }

  // -------------------------------------------------------------- simhash

  /** Adds a 64-bit SimHash column of the token multiset: per bit, sign of
    * the sum of ±1 votes from each token's xxhash64. Pure expression folds
    * — no UDF, no explode; each document is one row through the
    * projection.
    *
    * Implementation note: one array-accumulator fold (token hash → 64-char
    * two's-complement bit string via `bin`, zipped into the vote array),
    * NOT 64 separate folds — the unrolled form re-inlines the tokenizer
    * per bit and grows generated code past Janino's 64 KB method limit,
    * silently dropping the whole stage to interpreted eval.
    */
  def withSimhash(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val hashes = transform(TextOps.tokens(col(textCol)), t => xxhash64(t))
    // LSB-first vote accumulation: reverse(lpad(bin(h),64,'0'))[b] = bit b.
    val votes = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, split(reverse(lpad(bin(h), 64, "0")), ""),
        (a, c) => a + when(c === "1", 1).otherwise(-1)))
    // Disjoint powers of two: plain addition assembles the bit pattern
    // (sign bit included — two's complement addition of disjoint bits).
    val pow2 = array((0 until 64).map(b => lit(1L << b)): _*)
    val sh = aggregate(
      zip_with(votes, pow2, (v, p) => when(v > 0, p).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    df.withColumn(outCol, sh)
  }

  /** (idCol, simhash) via explode + groupBy — the scalable form: per
    * (doc, token-hash) row the 64 per-bit votes are codegen'd long
    * arithmetic with map-side partial aggregation; the shuffle carries
    * 64 longs per document. Prefer this over [[withSimhash]] for large
    * corpora (the column-level fold is interpreted per row).
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
                   outCol: String = "simhash",
                   tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val exploded = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col(idCol), tokenHash(col("tok")).as("h"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$b")
    }
    val bits = (0 until 64).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val sigs = exploded.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), bits.as(outCol))
    // Zero-token documents (null/empty text) produce no exploded rows and
    // would vanish from the groupBy; join the signatures back so every
    // input id survives, with simhash 0 (the withSimhash fold's value).
    df.select(col(idCol)).distinct()
      .join(sigs, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col(outCol), lit(0L)).as(outCol))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming <= maxDist. Candidates are pairs
    * sharing at least one of four 16-bit chunks (pigeonhole: any pair with
    * hamming <= 3 shares a chunk), then exact hamming verification.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3,
                      maxBucketSize: Int = 1000): DataFrame = {
    val withSh = simhashTable(df, idCol, textCol, "sh")
    val chunked = capBuckets(withSh.select(
      col(idCol), col("sh"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sh"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF(idCol, "sh", "chunk", "ch"), idCol, Seq("chunk", "ch"), maxBucketSize)
    val left = chunked.select(col(idCol).as("id_a"), col("sh").as("sh_a"),
      col("chunk"), col("ch"))
    val right = chunked.select(col(idCol).as("id_b"), col("sh").as("sh_b"),
      col("chunk"), col("ch"))
    left.join(right, Seq("chunk", "ch"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("dist", hamming(col("sh_a"), col("sh_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Benchmark decontamination scan (the published n-gram-overlap
    * protocol, e.g. GPT-3's 13-gram rule): training docs sharing at
    * least `minShared` DISTINCT word n-grams with any eval doc. Grams
    * are md5'd before the join — 16-byte keys shuffle, text never does
    * — and the eval gram set (bounded by the eval corpus) broadcasts,
    * so a 100 TB training sweep is one scan + broadcast-join + count.
    */
  def contamination(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int = 13,
                    minShared: Int = 1): DataFrame = {
    import graft.text.TextOps
    // grams dedupe PER DOC inside the row (array_distinct before the
    // explode — the same shape as the MinHash shingler), so every
    // (doc, gram) row is unique WITHOUT any distinct shuffle and the
    // final overlap count is a plain map-side-combining count
    val tg = train.select(col(idCol),
        explode(TextOps.distinctWordNgrams(col(textCol), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("gh"))
    val eg = evalDocs
      .select(explode(TextOps.distinctWordNgrams(col(textCol), n)).as("g"))
      .select(md5(col("g")).as("gh")).distinct()
    tg.join(broadcast(eg), "gh")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components over an undirected near-dup pair list
    * (`id_a`, `id_b`) — dedup needs GROUPS (keep one representative per
    * component), not pairs. Iterative min-label propagation: each round
    * every node takes the minimum label among itself and its neighbors;
    * convergence in graph-diameter rounds, each one hash-shuffled join +
    * one bounded count action. Near-dup graphs are stars/cliques around
    * a template (diameter ~2), so 2-3 rounds close them; `maxIter`
    * bounds pathological chains. At extreme scale the published
    * alternating large-star/small-star scheme (Kiveris et al.,
    * "Connected Components in MapReduce") halves round count on long
    * chains — the per-round join shape below is the same, so it is a
    * drop-in upgrade if diameters ever warrant it. Output: one row per
    * node, `group_id` = smallest member id of its component.
    */
  def dupGroups(pairs: DataFrame, maxIter: Int = 20,
                driverThreshold: Long = 100000L): DataFrame = {
    // HYBRID: a near-dup pair list is usually TINY relative to the
    // corpus (banded LSH caps bucket fan-out), and a bounded pair set
    // is a driver-trivial union-find — one collect instead of
    // 2×diameter distributed jobs. The label-propagation path below
    // remains the scale route for pair lists above the threshold.
    val spark = pairs.sparkSession
    // resolve the id columns BY NAME — a frame with extra leading
    // columns (or reordered ones) must not silently skip the driver
    // path or mis-detect types
    val fieldsByName = pairs.schema.fields.map(f => f.name -> f.dataType).toMap
    val idsLong = Seq("id_a", "id_b").forall(n =>
      fieldsByName.get(n).contains(org.apache.spark.sql.types.LongType))
    if (idsLong) {
      // ONE job decides the gate AND fetches the edges (round 21): a
      // limit(threshold+1) collect returns the ENTIRE pair set whenever
      // it fits (limit only truncates past the threshold), so the
      // former cache + count + collect trio — two jobs plus a cache
      // round-trip over the verify subtree — collapses to one action.
      // Row order under limit is nondeterministic, but union-find is
      // order-invariant. Only an over-threshold input pays a recompute
      // (the distributed path below), exactly the case where the old
      // count also ran the subtree without reusing it.
      val fetched = pairs.select(col("id_a"), col("id_b"))
        .limit(math.min(driverThreshold + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (fetched.length <= driverThreshold) {
        import spark.implicits._
        val edges = fetched.map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map[Long, Long]()
        // iterative find with path-halving: a chain-shaped component at
        // the 100k-pair threshold is an in-envelope input, and a
        // recursive find would nest O(chain) frames and overflow the
        // driver stack. Path-halving keeps amortized near-O(1) finds
        // with a single constant-stack loop.
        def find(x0: Long): Long = {
          var x = x0
          var px = parent.getOrElse(x, x)
          while (px != x) {
            val ppx = parent.getOrElse(px, px)
            parent(x) = ppx // halve: point x at its grandparent
            x = ppx
            px = parent.getOrElse(x, x)
          }
          x
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        return edges.flatMap(e => Seq(e._1, e._2)).distinct.toSeq
          .map(x => (find(x), x)).toDF("group_id", "id")
      }
    }
    // The per-round label state iterates as an RDD, not a DataFrame.
    // Round 7 finding: the DataFrame loop's logical plan embedded the
    // previous round's tree ~3x per round (nbrMin join + next join +
    // changed-count join each reference `labels`), so plans grew
    // exponentially with round count — a cache truncates EXECUTION but
    // not the PLAN, and merely materializing the execution-listener
    // plan description OOM'd the driver once a component needed ~8+
    // propagation hops. The RDD lineage is a shared DAG (linear), the
    // same bounded-state pattern as dtwKMeans' Lloyd loop, and
    // superseded rounds still release DETERMINISTICALLY via blocking
    // unpersist. Ids are cast to long — every near-dup pair producer in
    // this engine emits integral doc ids.
    {
      import org.apache.spark.sql.types._
      val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
      require(pairs.schema.fields.filter(f =>
        f.name == "id_a" || f.name == "id_b").forall(f => integral(f.dataType)),
        "dupGroups' distributed path requires integral ids (id_a, id_b)")
    }
    import spark.implicits._
    val edges = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) } // src -> dst
      .persist()
    var labels = edges.map(_._1).distinct().map(x => (x, x)).persist()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = edges.join(labels) // (src, (dst, src's lbl))
        .map { case (_, (dst, lbl)) => (dst, lbl) }
        .reduceByKey(math.min)
      val next = labels.leftOuterJoin(nbrMin)
        .mapValues { case (own, nbr) => math.min(own, nbr.getOrElse(own)) }
        .persist()
      changed = next.join(labels)
        .filter { case (_, (n, o)) => n != o }.count() // also materializes next
      labels.unpersist(blocking = true)
      labels = next
      it += 1
    }
    // Silent truncation would SPLIT components (duplicates survive
    // dedup) — refuse instead: the caller raises maxIter (or switches
    // to [[dupGroupsAltStar]] for huge diameters).
    if (changed != 0) {
      edges.unpersist(blocking = true)
      labels.unpersist(blocking = true)
      throw new IllegalStateException(
        s"dupGroups did not converge in $maxIter rounds — component diameter " +
          s"exceeds maxIter; raise it, or use dupGroupsAltStar (O(log n) rounds)")
    }
    // pin (lineage-truncating, eagerly materialized) rather than cache:
    // a returned cache the caller can't know to release would recreate
    // the deterministic-cleanup-debt class this function's per-round
    // blocking unpersists exist to avoid
    val out = graft.ops.Pin.pin(
      labels.map { case (id, lbl) => (lbl, id) }.toDF("group_id", "id"))
    edges.unpersist(blocking = true)
    labels.unpersist(blocking = true)
    out
  }

  /** Connected components by ALTERNATING STARS (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the documented
    * long-diameter upgrade to [[dupGroups]]' per-hop label propagation:
    * each round applies large-star (every node's larger neighbors re-hang
    * off its minimum) then small-star (smaller neighbors and the center
    * re-hang off the minimum), which contracts chains geometrically —
    * O(log n) rounds instead of O(diameter). Per round: two
    * groupBy+join+distinct passes over the edge set and an anti-join
    * stability check, all on id-pair rows (text never enters). Same
    * output contract as dupGroups: one row per node, `group_id` =
    * smallest member id; throws rather than silently splitting
    * components if `maxIter` is exhausted.
    *
    * Prefer dupGroups for near-dup graphs (stars/cliques, diameter ~2:
    * one cheap join per round wins); prefer this when components can be
    * long paths (chained near-dup templates, transitive similarity).
    */
  def dupGroupsAltStar(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    altStarImpl(pairs, maxIter)._1

  private[graft] def altStarImpl(pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    import graft.ops.Pin
    val spark = pairs.sparkSession
    import spark.implicits._
    val nodes = pairs.select(col("id_a").cast("long").as("id"))
      .union(pairs.select(col("id_b").cast("long").as("id"))).distinct().cache()
    // The rounds iterate over an RDD, not a DataFrame: each star step
    // references the edge state twice (symmetrize) — as a Catalyst plan
    // that is a TREE that doubles per step and blows up analysis after a
    // handful of rounds, while the RDD lineage is a shared DAG (linear),
    // the same bounded-state pattern as dtwKMeans' Lloyd loop. Canonical
    // (a > b) undirected edge set throughout.
    var edges = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("a"),
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("b"))
      .distinct()
      .as[(Long, Long)].rdd
      .persist()
    var rounds = 0
    var stable = edges.isEmpty()
    while (!stable && rounds < maxIter) {
      val ls = starStep(edges, large = true).persist()
      val ss = starStep(ls, large = false).persist()
      // stable when small-star output equals the previous round's edges
      val changed = ss.subtract(edges).count() + edges.subtract(ss).count()
      ls.unpersist(blocking = true)
      edges.unpersist(blocking = true)
      edges = ss
      rounds += 1
      stable = changed == 0
    }
    if (!stable) {
      edges.unpersist(blocking = true)
      nodes.unpersist(blocking = true)
      throw new IllegalStateException(
        s"dupGroupsAltStar did not converge in $maxIter rounds (expected O(log n))")
    }
    // converged edges form stars (child -> component minimum)
    val out = Pin.pin(
      nodes.join(edges.toDF("id", "lbl"), Seq("id"), "left")
        .select(coalesce(col("lbl"), col("id")).as("group_id"), col("id")))
    edges.unpersist(blocking = true)
    nodes.unpersist(blocking = true)
    (out, rounds)
  }

  // ------------------------------------------------- incremental dedup

  /** Batch-incremental exact dedup — the daily-crawl shape: classify an
    * incoming batch against an existing corpus WITHOUT re-deduping the
    * corpus. Per incoming document: `dup_corpus` (fingerprint already in
    * the corpus), `dup_batch` (an earlier incoming doc — smaller id —
    * has the same fingerprint), or `new`. Only 16-byte fingerprints
    * shuffle: the corpus side reduces to a distinct-fp stream, the
    * within-batch tie-break is a window over (fp, id) pairs; at 100 TB
    * the corpus fp set is a parquet table maintained across increments,
    * not recomputed (this method accepts it as `existing`).
    */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val in = incoming.select(col(idCol),
      TextOps.fingerprint(col(textCol)).as("fp"))
    val ex = existing.select(TextOps.fingerprint(col(textCol)).as("fp"))
      .distinct().withColumn("__in_corpus", lit(1))
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    in.withColumn("__rn", row_number().over(w))
      .join(ex, Seq("fp"), "left")
      .select(col(idCol), col("fp"),
        when(col("__in_corpus").isNotNull, "dup_corpus")
          .when(col("__rn") > 1, "dup_batch")
          .otherwise("new").as("status"))
  }

  // ------------------------------------------------ duplicate-span dedup

  /** Merged duplicate n-gram spans per document — substring-granularity
    * dedup in the style of the published exact-substring protocol (see
    * the reference's dedup coverage; the technique: any word n-gram
    * occurring at least `minOccur` times ANYWHERE in the corpus —
    * including repeats inside one document — marks every position it
    * covers as duplicated; per document, overlapping-or-adjacent
    * duplicate windows merge into maximal spans [s, e] in token
    * positions, 1-based inclusive).
    *
    * 100 TB shape: the gram stream is a scan projection carrying
    * (doc_id, pos, 16-byte gram identity) — text never leaves the
    * scan; occurrence counting is one whole-partition window on the
    * identity; span merging windows over (doc_id, pos) int pairs
    * partitioned by document, so no single-partition stage exists
    * anywhere. Gram identities are engine-internal (they never
    * surface in output — spans are token POSITIONS) and are 128-BIT:
    * two independently-salted xxhash64 lanes, still 2.75× under the
    * hex-md5 payload the first cut shuffled. One 64-bit lane is NOT
    * enough here (ADVICE r13): a collision mints a FALSE duplicate
    * span, and at the 100 TB shape (10¹⁰⁺ distinct grams) the
    * birthday expectation N²/2⁶⁵ reaches whole false spans in
    * production, where the q121 oracle — which groups TRUE gram
    * strings and is the collision detector at test scale — never
    * executes. Two lanes put the expectation at N²/2¹²⁹ ≈ 10⁻¹⁹:
    * collision-safe at any physical corpus. (Set-membership uses like
    * the prefix-filter joins' [[shingleHashes]] identities keep the
    * single-lane trade — there a collision shifts one Jaccard estimate,
    * it does not fabricate output.)
    *
    * Returns one row per (doc, merged span): (doc_id, s, e).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int, minOccur: Int = 2): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minOccur >= 2, s"minOccur must be >= 2, got $minOccur")
    val base = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    // Guarded gram list: sequence(1, 0) in Spark DESCENDS ([1, 0]), so
    // the size >= n case must be gated explicitly, not left to sequence.
    // Two-level transform so the gram STRING binds once as a lambda
    // variable — referencing the array_join twice in one lambda would
    // re-run the slice+join per lane per position (the multi-reference
    // HOF re-evaluation class, commit ab2b3ea).
    val gramList = when(size(col("toks")) >= n,
        expr(s"transform(transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> array_join(slice(toks, i, $n), ' ')), " +
          "g -> named_struct('h1', xxhash64(g), 'h2', xxhash64('#ds2', g)))"))
      .otherwise(array().cast("array<struct<h1:bigint,h2:bigint>>"))
    val grams = base.select(col("doc_id"), posexplode(gramList))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col.h1").as("gh1"), col("col.h2").as("gh2"))
    // Occurrence counting as a whole-partition window over the gram
    // identity: ONE pass over the corpus and ONE gram-stream shuffle.
    // The groupBy-then-semi-join alternative scans the corpus twice
    // (the gram projection is recomputed on both sides) and still
    // shuffles the full gram stream for the join — measured 2.9 s vs
    // 2.4 s at sf0.1. A hash-hot gram only grows one window
    // partition's count scan, never a driver structure.
    val wGh = Window.partitionBy("gh1", "gh2")
    val dp = grams
      .withColumn("c", count(lit(1)).over(wGh))
      .filter(col("c") >= minOccur).select("doc_id", "pos")
    // Gaps-and-islands: a window starts a new span iff it begins past
    // the furthest end seen so far plus one (adjacent windows merge —
    // their covered token ranges are contiguous).
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dp.withColumn("prev_end", max(col("pos") + (n - 1)).over(wPrev))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1)
          .otherwise(0))
      .withColumn("island_id", sum(col("new_island")).over(wRun))
      .groupBy("doc_id", "island_id")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (n - 1)).as("e"))
      .select("doc_id", "s", "e")
  }

  /** Per-document duplicate-span statistics: (doc_id, n_tokens,
    * n_dup_spans, dup_tokens, kept_tokens, spans_fp) for every document
    * with at least one merged span, where `spans_fp` is the md5 of the
    * ordered "s:e" span list — a bounded fingerprint of WHERE the
    * duplication sits, replayable by any engine.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int, minOccur: Int = 2): DataFrame = {
    val nTok = df.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    val st = dupSpans(df, idCol, textCol, n, minOccur)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("s"), col("e")))),
          x => concat(x("s").cast("string"), lit(":"),
            x("e").cast("string"))), ",")).as("spans_fp"))
    st.join(nTok, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_spans"),
        col("dup_tokens"),
        (col("n_tokens") - col("dup_tokens")).as("kept_tokens"),
        col("spans_fp"))
  }

  /** One star operation: from each center u with neighborhood Γ(u) and
    * m = min(Γ(u) ∪ {u}), re-hang the LARGER (large-star) or the
    * not-larger neighbors plus the center itself (small-star) off m.
    * Every undirected edge is covered from one of its endpoints' centers,
    * so no connectivity is lost; emitted edges are (x, m) with x > m —
    * already canonical.
    */
  private def starStep(edges: org.apache.spark.rdd.RDD[(Long, Long)],
                       large: Boolean): org.apache.spark.rdd.RDD[(Long, Long)] = {
    val sym = edges.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    val mins = sym.reduceByKey(math.min)
      .map { case (u, mv) => (u, math.min(mv, u)) }
    val j = sym.join(mins) // (u, (v, m))
    val hung =
      if (large) j.collect { case (u, (v, m)) if v > u => (v, m) }
      else j.collect { case (u, (v, m)) if v < u => (v, m) }.union(mins)
    hung.filter { case (a, b) => a != b }.distinct()
  }
}
