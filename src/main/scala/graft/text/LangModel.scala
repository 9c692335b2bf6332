package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** N-gram language-model fluency scoring — the CCNet curation stage
  * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): score each document against a
  * language model trained on a reference partition, and filter/bucket
  * the corpus by how predictable its text is. CCNet uses KenLM 5-gram
  * perplexity; this engine's form is an add-one-smoothed n-gram model
  * (order parameterized — contexts are (n−1)-gram identities; the
  * registered queries run n = 2 for q195/q196, n = 3 for q197, and
  * n = 5 — KenLM's published order — for q201)
  * with the perplexity surrogate chosen for cross-engine exactness —
  * the same trade [[Retrieval]] makes for BM25's idf: a log/exp
  * perplexity is transcendental (two engines' `ln` may differ in the
  * last ulp, so a hash-compare contract cannot use it), so the score is
  * the per-document MEAN CONDITIONAL PROBABILITY of its bigrams,
  * captured on the exact 1e12 decimal grid. Monotone in the arithmetic
  * mean of p(wᵢ|wᵢ₋₁) rather than the geometric mean true perplexity
  * uses — same "how predictable is this text" ordering signal for
  * gate/bucket decisions, exactly replayable by any engine with
  * correctly-rounded double division.
  *
  * Scale shape: bigram counts and probabilities shuffle on bigram KEYS
  * (vocabulary-sized); the corpus stream carries only (id, bigram)
  * rows and the per-doc reduce is one map-side-combined aggregate.
  * The count tables join back onto the occurrence stream broadcast
  * when a MEASURED count of the pinned gram frame proves them small
  * ([[BroadcastModelLimit]] — the JoinInvariantSpec reviewed-gate
  * pattern), AQE-sized otherwise; the grouping-less 1-row vocabulary
  * count is always hinted.
  */
object LangModel {

  private val Grid = 1.0e12

  /** Auto-gate threshold for broadcasting the trained model's count
    * frames onto the corpus occurrence stream (the
    * [[graft.graph.Graph.BroadcastNodeLimit]] pattern: hint only when
    * a MEASURED count proved the bound). The measurement is free: the
    * count frame is already eagerly pinned, so counting it scans
    * materialized blocks. Without the gate the planner CANNOT make the
    * broadcast decision itself: the pinned frame reports no measured
    * stats (localCheckpoint propagates the child's estimate, which
    * derives from the corpus-sized occurrence stream), so the
    * vocabulary-sized model join was planned sort-merge at large n and
    * exchanged the corpus-sized occurrence stream — measured 506 MB of
    * shuffle at 1M docs on the classifier twin of this chain, vs
    * ~3 MB gated (SCALE.md round 13).
    *
    * The bound is set where the broadcast is CLEARLY cheap, not where
    * it barely fits: a gram-count row is two longs, so 2×10⁶ rows is a
    * ~60 MB hashed relation — a ~1 s single-threaded build and a
    * torrent-ship far below any corpus-sized exchange. The first cut
    * of this gate used 10⁷ (fits-in-memory reasoning) and measurement
    * vetoed it: at 9.2M distinct grams the single-threaded broadcast
    * build + relation memory pressure ran the 200k-doc fluency family
    * 5× SLOWER than the ungated AQE shuffle join it replaced (61.2 s
    * vs 12.6 s, SCALE.md round 13). Above the gate the joins degrade
    * to AQE-sized shuffles — the right call for gram vocabularies that
    * genuinely explode; real Zipfian bigram vocabularies sit well
    * under 2M and keep the broadcast win.
    */
  val BroadcastModelLimit: Long = 2000000L

  private[graft] def tokArr(textCol: Column): Column =
    filter(TextOps.tokens(textCol), t => t.rlike("^[a-z]+$"))

  /** [[ngramHashArr]] over an ALREADY-TOKENIZED array column. The
    * scoring scans bind the token array to a projected attribute and
    * call this form, because the gram tree references its input n+3
    * times (two slices per gram position, the size guard, the empty
    * fallback) and each textual reference is analyzed into a distinct
    * lambda-variable binding — subexpression elimination cannot unify
    * them, so passing the raw tokenizer expression re-ran the
    * split+regex filter n+3 times PER ROW (measured: the 1M-doc occ
    * pin's executor CPU dropped ~3× when the q195 scan switched to the
    * bound-attribute form; an attribute reference is a row-field read).
    */
  private[graft] def ngramHashFromToks(t: Column, n: Int): Column = {
    require(n >= 2, s"n-gram LM needs n >= 2, got $n")
    // (n−1)-token context strings at each start position (the
    // [[graft.dedup.Dedup.shingles]] fold), zipped with the successor
    val ctx = (2 until n)
      .map(k => slice(t, lit(k), size(t) - (n - 1)))
      .foldLeft(slice(t, lit(1), size(t) - (n - 1)))(
        (acc, s) => zip_with(acc, s, (a, b) => concat_ws(" ", a, b)))
    val succ = slice(t, lit(n), size(t) - (n - 1))
    when(size(t) >= n,
      zip_with(ctx, succ, (c, w) => struct(
        xxhash64(c, w).as("gh"),
        xxhash64(c).as("ch"),
        xxhash64(w).as("vh"))))
      .otherwise(array().cast("array<struct<gh:bigint,ch:bigint,vh:bigint>>"))
  }

  /** (gh, ch, vh) xxhash64 identity structs of the doc's n-grams, in
    * order with occurrence multiplicity: gram = hash of
    * ((n−1)-token context string, successor token), context and
    * successor as 8-byte keys on their own (the
    * [[graft.dedup.Dedup.shingleHashes]] 64-bit-identity trade; the
    * q195/q197 oracles replay true strings and double as the collision
    * detectors). At n = 2 this is exactly the historical bigram
    * hashing — gh = xxhash64(u, v), ch = xxhash64(u), vh = xxhash64(v)
    * — so [[bigramHashArr]] and every saved [[FluencyModel]] keep
    * their values.
    *
    * Built as an (n−1)-fold zip_with over shifted slices — NOT an
    * index-lambda with element_at(t, i): a non-lambda subexpression
    * inside a higher-order-function body re-evaluates PER ELEMENT, so
    * the element_at form re-ran the regex token filter O(tokens²) times
    * per document (measured 11.9 s for the bigram q195 at sf0.1; this
    * form runs the filter O(1) per row and the query in ~1 s). The
    * context string concatenates space-free ^[a-z]+$ tokens with " ",
    * so it is collision-free as an identity; the final hash lambda only
    * touches bound lambda variables — O(n-grams) per row. Plan-building
    * scans should prefer projecting [[tokArr]] to a column and calling
    * [[ngramHashFromToks]] on the attribute (see its Scaladoc).
    */
  def ngramHashArr(textCol: Column, n: Int): Column =
    ngramHashFromToks(tokArr(textCol), n)

  /** Bigram specialization of [[ngramHashArr]] under the historical
    * (bh, uh, vh) field names — the streaming scorer's and
    * [[FluencyModel]]'s on-disk schema. The rename lambda touches only
    * the bound variable (O(bigrams) per row).
    */
  def bigramHashArr(textCol: Column): Column =
    transform(ngramHashArr(textCol, 2), b => struct(
      b.getField("gh").as("bh"),
      b.getField("ch").as("uh"),
      b.getField("vh").as("vh")))

  /** A trained add-one n-gram LM as reusable artifacts: per-gram
    * counts (bh, c_uv), per-context counts (uh, c_u) — both pinned,
    * vocabulary-sized, under the historical bigram column names at any
    * order (bh = gram hash, uh = (n−1)-gram context hash — the on-disk
    * schema predates the order knob) — the successor-vocabulary size,
    * and the gram order `n`. The static side of
    * [[graft.streaming.Streaming.fluencyStream]]'s stream-static
    * joins; train it batch-side, score forever.
    */
  final case class FluencyModel(cuv: DataFrame, cu: DataFrame,
                                vocabSize: Long, n: Int = 2)

  /** Train a [[FluencyModel]] of order `n` from the rows where
    * `isTrain` holds — the same counts [[ngramFluencyWithTrain]]
    * derives internally (vocabSize is a 1-row collect, the
    * k-means-centroid artifact precedent: model fitting is an action).
    */
  def trainNgramModel(docs: DataFrame, idCol: String, textCol: String,
                      isTrain: Column, n: Int): FluencyModel = {
    // one corpus pass: group by (gh, ch, vh) — ch/vh are functionally
    // dependent on gh, so this is the gh partition — then pin the
    // vocabulary-sized counts and derive contexts + vocab size from them
    val cuv = graft.ops.Pin.pin(docs.filter(isTrain)
      .select(tokArr(col(textCol)).as("__tk"))
      .select(explode(ngramHashFromToks(col("__tk"), n)).as("g"))
      .groupBy(col("g.gh").as("bh"), col("g.ch").as("uh"),
        col("g.vh").as("vh"))
      .agg(count(lit(1)).as("c_uv")))
    val cu = cuv.groupBy("uh").agg(sum(col("c_uv")).as("c_u"))
    val v = cuv.agg(countDistinct(col("vh"))).collect()(0).getLong(0)
    FluencyModel(graft.ops.Pin.pin(cuv.select("bh", "c_uv")),
      graft.ops.Pin.pin(cu), v, n)
  }

  /** Bigram (n = 2) form of [[trainNgramModel]]. */
  def trainBigramModel(docs: DataFrame, idCol: String, textCol: String,
                       isTrain: Column): FluencyModel =
    trainNgramModel(docs, idCol, textCol, isTrain, 2)

  /** Persist a trained [[FluencyModel]]: the two count frames as
    * parquet, the vocab size + gram order as driver-side JSON (the
    * [[graft.ml.Artifacts]] K3 contract — parquet for distributed
    * state, JSON for scalars).
    */
  def saveModel(model: FluencyModel, dir: String): Unit = {
    model.cuv.write.mode("overwrite").parquet(s"$dir/cuv")
    model.cu.write.mode("overwrite").parquet(s"$dir/cu")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "meta.json"),
      s"""{"vocabSize":${model.vocabSize},"n":${model.n}}""")
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
                dir: String): FluencyModel = {
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "meta.json")))
    // models saved before the order knob carry no "n" — they are bigram
    FluencyModel(spark.read.parquet(s"$dir/cuv"),
      spark.read.parquet(s"$dir/cu"), meta.get("vocabSize").asLong(),
      if (meta.has("n")) meta.get("n").asInt() else 2)
  }

  /** The gram-count output column: the historical `n_bigrams` for
    * order-2 models (the q195 / streaming-parity contract), `n_ngrams`
    * for any other order.
    */
  private[graft] def countColName(n: Int): String =
    if (n == 2) "n_bigrams" else "n_ngrams"

  /** Score a batch frame against an already-trained (possibly
    * [[loadModel]]-reloaded) model of any order — the batch twin of
    * [[graft.streaming.Streaming.fluencyStream]], same columns and
    * arithmetic as [[ngramFluencyWithTrain]]'s scoring half.
    */
  def scoreWithModel(docs: DataFrame, idCol: String, textCol: String,
                     model: FluencyModel): DataFrame =
    // explode_outer: a doc with < n alpha tokens keeps one null-gram
    // row so the aggregate covers every input id — one corpus scan, no
    // re-attach join (the same shape as the streaming twin and
    // [[ngramFluencyWithTrain]]'s core)
    docs
      .select(col(idCol), tokArr(col(textCol)).as("__tk"))
      .select(col(idCol),
        explode_outer(ngramHashFromToks(col("__tk"), model.n)).as("b"))
      .select(col(idCol), col("b.gh").as("bh"), col("b.ch").as("uh"))
      .join(model.cuv, Seq("bh"), "left")
      .join(model.cu, Seq("uh"), "left")
      .select(col(idCol),
        (col("bh").isNotNull && col("c_uv").isNull).as("unseen"),
        when(col("bh").isNotNull,
          ((coalesce(col("c_uv"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c_u"), lit(0L)) + lit(math.max(model.vocabSize, 1L)))
              .cast("double"))).as("p"))
      .groupBy(col(idCol))
      .agg(count(col("p")).as(countColName(model.n)),
        count(when(col("unseen"), lit(1))).as("n_unseen"),
        gridSum(col("p")).as("__ps"))
      .select(col(idCol), col(countColName(model.n)), col("n_unseen"),
        gridMean(col("__ps"), col(countColName(model.n))).as("mean_cond_p"))

  /** Grid capture of a probability column — shared by the batch and
    * streaming scorers so the two paths provably share arithmetic.
    */
  private[graft] def gridSum(p: Column): Column =
    sum(round(p * lit(Grid), 0).cast(DecimalType(38, 0)))

  private[graft] def gridMean(ps: Column, n: Column): Column =
    when(n > 0, ps.cast("double") / lit(Grid) / n.cast("double"))
      .otherwise(lit(0.0))

  /** Shared n-gram scoring core: one corpus scan, the train flag
    * threaded through to the output. Returns
    * (idCol, __tr, n_ngrams, n_unseen, mean_cond_p).
    *
    * ONE (id, n-gram) occurrence stream, pinned (train counts and the
    * scoring reduce both read it — re-deriving would re-tokenize the
    * corpus twice), exploded with explode_OUTER so a doc with < n alpha
    * tokens keeps one null-gram row: the aggregate then covers every
    * input id and no second `documents` scan + re-attach join is needed
    * (VERDICT r12 item 3 — the wrapper's split label now rides the same
    * single scan). Gram/context/successor travel as 64-BIT xxhash64
    * identities, never strings — the [[graft.dedup.Dedup]]
    * shingle-identity trade ([[graft.dedup.Dedup.shingleHashes]]):
    * every shuffle and join key is 8 bytes, and the q195/q197/q201
    * oracles, which replay the protocol over the TRUE strings, double
    * as the collision detectors at test scale (a 64-bit collision
    * would shift a count and fail the hash compare; P ≈ n²/2⁶⁵).
    *
    * Corpus-size bound for the single lane (the [[graft.dedup.Dedup
    * .dupSpans]] analysis, applied): the oracle runs at sf0.01, never
    * at the 100 TB shape — there, with 10¹⁰⁺ distinct grams/contexts,
    * the birthday expectation n²/2⁶⁵ reaches ~a few colliding pairs,
    * so a production corpus SHOULD expect isolated collisions. The
    * effect is BOUNDED and benign, which is why one lane suffices
    * where dupSpans needed two: a gram/context collision merges two
    * count cells, nudging the smoothed conditional probability of the
    * affected grams — a perturbation of one heuristic fluency score,
    * on the order of a single extra observation against a
    * vocabulary-sized denominator. No row is dropped, fabricated, or
    * re-keyed (doc ids never pass through these hashes), and no
    * downstream decision consumes an exact count. dupSpans, by
    * contrast, MINTS output rows from identity equality — there a
    * collision fabricates a false duplicate span, hence its two
    * independently-salted lanes.
    */
  private def ngramScored(docs: DataFrame, idCol: String, textCol: String,
                          isTrain: Column, n: Int): DataFrame = {
    // two-step projection: tokenize ONCE into an attribute, gram-hash
    // from the attribute (the [[ngramHashFromToks]] rationale — the
    // gram tree references its input n+3 times; CollapseProject keeps
    // the split because the non-cheap alias is multiply referenced)
    val occ = graft.ops.Pin.pin(docs
      .select(col(idCol), isTrain.as("__tr"),
        tokArr(col(textCol)).as("__tk"))
      .select(col(idCol), col("__tr"),
        explode_outer(ngramHashFromToks(col("__tk"), n)).as("g"))
      .select(col(idCol), col("__tr"),
        col("g.gh").as("gh"), col("g.ch").as("ch"), col("g.vh").as("vh")))
    // null-gram sentinel rows carry no count mass anywhere: train counts
    // filter them, the score joins never match a null key, and the
    // aggregates below count only non-null p
    val train = occ.filter(col("__tr") && col("gh").isNotNull)
    // ch/vh are functionally dependent on gh, so grouping by all three
    // is the same partition as by gh alone — and carrying them through
    // ONE pinned count lets the context roll-up AND the vocabulary
    // count derive from the vocabulary-sized frame instead of each
    // replaying the corpus-sized aggregation (a .explain audit showed
    // the unpinned form running the occurrence shuffle three times)
    val cuv = graft.ops.Pin.pin(
      train.groupBy("gh", "ch", "vh").agg(count(lit(1)).as("c_uv")))
    val cu = cuv.groupBy("ch").agg(sum(col("c_uv")).as("c_u"))
    val vocab = cuv.agg(countDistinct(col("vh")).as("V"))
    // fold the model straight onto the occurrence stream: two left
    // joins on 8-byte keys + the 1-row V broadcast. The count-frame
    // hints are AUTO-GATED on the measured (already-pinned) gram count
    // — see [[BroadcastModelLimit]]; cu is grouped FROM cuv, so the
    // same measurement bounds both frames. Above the gate the joins
    // degrade to AQE-sized shuffles.
    val gateB = cuv.count() <= BroadcastModelLimit
    def gated(df: DataFrame): DataFrame = if (gateB) broadcast(df) else df
    occ
      .join(gated(cuv.select(col("gh"), col("c_uv"))), Seq("gh"), "left")
      .join(gated(cu), Seq("ch"), "left")
      .crossJoin(broadcast(vocab))
      // greatest(V, 1): an EMPTY train partition would otherwise make
      // every denominator 0 and every p Infinity — the guard pins the
      // degenerate model to p = 1 per gram (bounded, defined), and is
      // an exact no-op whenever any train gram exists (V >= 1)
      .select(col(idCol), col("__tr"),
        (col("gh").isNotNull && col("c_uv").isNull).as("unseen"),
        when(col("gh").isNotNull,
          ((coalesce(col("c_uv"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c_u"), lit(0L)) + greatest(col("V"), lit(1L)))
              .cast("double"))).as("p"))
      .groupBy(col(idCol))
      // __tr is functionally dependent on the group key (one flag per
      // doc), so first() is deterministic here
      .agg(first(col("__tr")).as("__tr"),
        count(col("p")).as("n_ngrams"),
        count(when(col("unseen"), lit(1))).as("n_unseen"),
        gridSum(col("p")).as("__ps"))
      .select(col(idCol), col("__tr"), col("n_ngrams"), col("n_unseen"),
        gridMean(col("__ps"), col("n_ngrams")).as("mean_cond_p"))
  }

  /** Per-document n-gram-LM fluency against a model trained on the rows
    * where `isTrain` holds (every doc is scored, train rows too — the
    * CCNet shape trains on the reference partition and scores the whole
    * crawl; CCNet's real model is a 5-gram KenLM, and `n` is that
    * order knob). Output per input row:
    * (idCol, n_ngrams, n_unseen, mean_cond_p) where
    * p(w|c) = (c(cw)+1)/(c(c)+V) over (n−1)-token contexts c,
    * c from train-occurrence counts, V = distinct successor-token count
    * of the train grams, and mean_cond_p is the exact-grid mean (0.0
    * for docs with < n alpha tokens). `n_unseen` counts grams absent
    * from the train model — the held-out novelty signal add-one
    * smoothing absorbs.
    */
  def ngramFluencyWithTrain(docs: DataFrame, idCol: String, textCol: String,
                            isTrain: Column, n: Int): DataFrame =
    ngramScored(docs, idCol, textCol, isTrain, n)
      .select(col(idCol), col("n_ngrams"), col("n_unseen"), col("mean_cond_p"))

  /** Bigram (n = 2) form of [[ngramFluencyWithTrain]] under the
    * historical column name `n_bigrams` — the q195/q196 contract.
    */
  def bigramFluencyWithTrain(docs: DataFrame, idCol: String, textCol: String,
                             isTrain: Column): DataFrame =
    ngramScored(docs, idCol, textCol, isTrain, 2)
      .select(col(idCol), col("n_ngrams").as("n_bigrams"), col("n_unseen"),
        col("mean_cond_p"))

  /** The q150 salted-hash unit-interval split expression shared by the
    * salted-split wrappers (stable under reruns and corpus growth,
    * replayable by any md5-capable engine).
    */
  private def unitHash(idCol: String, salt: String): Column =
    (graft.dedup.Dedup.md5Hash64(
        concat(col(idCol).cast("string"), lit(salt))).cast("double") +
      lit(9.223372036854776e18)) / lit(1.8446744073709552e19)

  /** The salted-hash-split n-gram form: train on the `trainFrac`
    * partition of the q150 unit-interval hash, score everything. The
    * split label rides [[ngramScored]]'s threaded train flag — one
    * corpus scan total (no re-hash, no re-attach join).
    */
  def ngramFluency(docs: DataFrame, idCol: String, textCol: String, n: Int,
                   trainFrac: Double = 0.8,
                   salt: String = "#lm"): DataFrame =
    ngramScored(docs, idCol, textCol,
        unitHash(idCol, salt) < trainFrac, n)
      .select(col(idCol),
        when(col("__tr"), "train").otherwise("held").as("split"),
        col("n_ngrams"), col("n_unseen"), col("mean_cond_p"))

  /** Bigram (n = 2) form of [[ngramFluency]] — the q195 contract
    * (`n_bigrams` column name).
    */
  def bigramFluency(docs: DataFrame, idCol: String, textCol: String,
                    trainFrac: Double = 0.8,
                    salt: String = "#lm"): DataFrame =
    ngramFluency(docs, idCol, textCol, 2, trainFrac, salt)
      .withColumnRenamed("n_ngrams", "n_bigrams")
}
