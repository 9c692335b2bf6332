package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extensions (SURVEY.md §2.10: the reference is
  * batch-only, so none of this is required for parity — it is the natural
  * streaming shape of the engine's two core flows, included so the
  * library covers unbounded inputs):
  *
  *  - [[dailyMeans]]: the hourly→daily aggregation (A1) as a tumbling
  *    1-day event-time window with a watermark — the streaming replay of
  *    the balance feed (`readStream` on the same schema the batch
  *    pipeline scans).
  *  - [[dedupByKey]]: incremental exact dedup over an unbounded corpus —
  *    first document per fingerprint passes, later duplicates drop;
  *    keyed state via `flatMapGroupsWithState`.
  *
  * Scale notes: the window aggregation is hash-partitioned by window
  * start (standard streaming shuffle); dedup state is one boolean per
  * distinct fingerprint, partitioned by key — the same 16-byte-hash
  * sharding as the batch dedup, never the text.
  */
object Streaming {

  /** Tumbling daily mean/count of `valueCol` over event-time `tsCol`
    * with a late-data watermark. Works on a streaming OR batch frame
    * (same plan, Catalyst picks the incremental execution for streams).
    */
  def dailyMeans(events: DataFrame, tsCol: String, valueCol: String,
                 watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day").as("w"))
      .agg(avg(col(valueCol)).as("avg_v"), count(lit(1)).as("n"))
      .select(col("w.start").as("day_start"), col("avg_v"), col("n"))

  /** Per-key session windows over event time: activity bursts separated
    * by ≥ `gap` of silence become one row (user_id, session start/end,
    * n_events, sum_value) — the streaming twin of the batch
    * `AsOf.sessionize` (q72), via Spark's native `session_window` (state
    * merges adjacent windows as late rows arrive, closed by the
    * watermark). Works on a streaming OR batch frame.
    */
  def sessionWindows(events: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, gap: String = "30 minutes",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Ingestion-time LM fluency gate — the streaming twin of the q195
    * batch scorer ([[graft.text.LangModel.ngramFluencyWithTrain]]):
    * the model is TRAINED batch-side
    * ([[graft.text.LangModel.trainNgramModel]], pinned
    * vocabulary-sized count frames + the vocab size + the gram order)
    * and every arriving document scores against it via stateless
    * projections plus two STREAM-STATIC left joins on 8-byte gram
    * identities — no model state lives in the stream. The only
    * streaming state is the per-doc aggregation of its own exploded
    * grams, keyed by (event-time, id) so the watermark evicts it; a
    * document's rows arrive in one micro-batch, so results are final
    * on arrival. Output: (tsCol, idCol, n_bigrams | n_ngrams,
    * n_unseen, mean_cond_p) — the batch scorer's columns at the
    * model's order, same grid arithmetic (StreamingSpec pins stream ≡
    * batch row-for-row on shared fixture models at n = 2 and n = 3).
    */
  def fluencyStream(docs: DataFrame, tsCol: String, idCol: String,
                    textCol: String, model: graft.text.LangModel.FluencyModel,
                    watermark: String = "10 minutes"): DataFrame = {
    import graft.text.LangModel
    val cnt = LangModel.countColName(model.n)
    docs
      .withWatermark(tsCol, watermark)
      // explode_outer: a doc with < n alpha tokens keeps one null-gram
      // row so it still emits a (0, 0, 0.0) score downstream. Two-step
      // projection — tokenize once into an attribute, gram-hash from
      // it (the ngramHashFromToks rationale; same plan shape as the
      // batch scorer so the parity spec also pins the evaluation form)
      .select(col(tsCol), col(idCol),
        LangModel.tokArr(col(textCol)).as("__tk"))
      .select(col(tsCol), col(idCol),
        explode_outer(LangModel.ngramHashFromToks(col("__tk"), model.n)).as("b"))
      .select(col(tsCol), col(idCol),
        col("b.gh").as("bh"), col("b.ch").as("uh"))
      .join(model.cuv, Seq("bh"), "left")
      .join(model.cu, Seq("uh"), "left")
      .select(col(tsCol), col(idCol),
        (col("bh").isNotNull && col("c_uv").isNull).as("unseen"),
        when(col("bh").isNotNull,
          (coalesce(col("c_uv"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c_u"), lit(0L)) +
              lit(math.max(model.vocabSize, 1L)))
              .cast("double")).as("p"))
      .groupBy(col(tsCol), col(idCol))
      .agg(count(col("p")).as(cnt),
        count(org.apache.spark.sql.functions.when(col("unseen"), lit(1)))
          .as("n_unseen"),
        LangModel.gridSum(col("p")).as("__ps"))
      .select(col(tsCol), col(idCol), col(cnt), col("n_unseen"),
        LangModel.gridMean(col("__ps"), col(cnt)).as("mean_cond_p"))
  }

  /** Ingestion-time NB quality gate — the streaming twin of the q199
    * batch scorer ([[graft.text.Classifier.scoreWithNbModel]]): the
    * classifier is TRAINED batch-side
    * ([[graft.text.Classifier.trainNbModel]], one pinned
    * vocabulary-sized class-count frame + three scalars) and every
    * arriving document scores against it via one STREAM-STATIC left
    * join on 8-byte token identities — the [[fluencyStream]] frame
    * with one join instead of two. Streaming state is only the per-doc
    * aggregation of its own exploded tokens, keyed by (event-time, id)
    * so the watermark evicts it. Output: (tsCol, idCol, n_tokens,
    * n_unseen, score, predicted) — the batch scorer's columns, same
    * exact-product posterior and grid arithmetic (StreamingSpec pins
    * stream ≡ batch on a shared fixture model).
    */
  def classifyStream(docs: DataFrame, tsCol: String, idCol: String,
                     textCol: String,
                     model: graft.text.Classifier.NbModel,
                     watermark: String = "10 minutes"): DataFrame = {
    import graft.text.{Classifier, LangModel}
    docs
      .withWatermark(tsCol, watermark)
      // explode_outer: a doc with no alpha tokens keeps one null-token
      // row so it still emits a neutral (0, 0, 0.5) score downstream
      .select(col(tsCol), col(idCol),
        explode_outer(Classifier.tokHashArr(col(textCol))).as("th"))
      .join(model.stats, Seq("th"), "left")
      .select(col(tsCol), col(idCol),
        (col("th").isNotNull && col("c_pos").isNull).as("unseen"),
        when(col("th").isNotNull,
          Classifier.posterior(col("c_pos"), col("c_neg"),
            lit(model.nPos), lit(model.nNeg),
            lit(model.vocabSize))).as("r"))
      .groupBy(col(tsCol), col(idCol))
      .agg(count(col("r")).as("n_tokens"),
        count(org.apache.spark.sql.functions.when(col("unseen"), lit(1)))
          .as("n_unseen"),
        LangModel.gridSum(col("r")).as("__rs"))
      .select(col(tsCol), col(idCol), col("n_tokens"), col("n_unseen"),
        when(col("n_tokens") > 0,
          LangModel.gridMean(col("__rs"), col("n_tokens")))
          .otherwise(lit(0.5)).as("score"))
      .withColumn("predicted", col("score") >= lit(0.5))
  }

  /** Keyed record for streaming dedup. */
  final case class Doc(fp: String, id: Long, text: String)

  /** Document with a precomputed MinHash signature (one row per doc;
    * attach signatures at ingestion with
    * [[graft.dedup.Dedup.minhashSignatures]] — one projection, so it runs
    * on the stream with no stateful aggregation).
    */
  final case class SigDoc(id: Long, sig: Seq[Long])
  /** One doc occurrence in one LSH band bucket. */
  final case class BandedDoc(bucket: Long, id: Long, sig: Seq[Long])
  /** Per-bucket state: the first-arrived (minimum-id) member. */
  final case class BucketRep(id: Long, sig: Seq[Long])
  /** Per-(doc, bucket) verdict: `dup` = the bucket's representative has
    * estimated similarity ≥ τ with this doc.
    */
  final case class NearDupVote(id: Long, bucket: Long, dup: Boolean)

  /** Pack (band, 32-bit hash of the band's slots) into one long state
    * key, collision-free across bands by construction. The batch
    * [[graft.dedup.Dedup.minhashCandidates]] keys on the exact band
    * slots instead; here a within-band hash collision only adds one
    * est-sim comparison against another bucket's representative.
    */
  private def bandBuckets(bands: Int, r: Int) =
    transform(sequence(lit(0), lit(bands - 1)),
      b => b.cast("long") * lit(4294967296L) +
        (hash(concat_ws(",", slice(col("sig"), b * r + 1, lit(r)))).cast("long") +
          lit(2147483648L)))

  /** Online LSH near-dup detection over an unbounded corpus — the
    * streaming twin of the batch MinHash+LSH dedup. Each doc's signature
    * is split into `bands` band buckets; per bucket, keyed state holds
    * the FIRST-arrived member's signature as the bucket representative,
    * and every later arrival gets a vote: dup iff the fraction of equal
    * signature components vs the rep is ≥ `tau`. Votes resolve to a
    * drop decision with [[resolveVotes]] (stateless any-vote reduce —
    * run it in the sink / next stage; a doc is dropped iff ANY of its
    * buckets votes dup, the standard online-LSH ingestion-dedup shape).
    *
    * Arrival contract: ids are the ingestion sequence — non-decreasing
    * across micro-batches (within a batch any order; the handler sorts
    * its group). Under that contract the emitted votes are EXACTLY
    * [[nearDupVotesBatch]]'s on the same rows, whatever the batch
    * boundaries — StreamingSpec pins stream ≡ batch equality.
    *
    * Scale: state is one signature per non-empty bucket, sharded by the
    * bucket key (the same 8-byte-key sharding as batch LSH — text never
    * enters the shuffle); a hot boilerplate bucket costs one rep
    * comparison per arrival, never a quadratic bucket join.
    */
  def nearDupVotes(docs: Dataset[SigDoc], bands: Int, numHashes: Int,
                   tau: Double): Dataset[NearDupVote] = {
    import docs.sparkSession.implicits._
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val banded = docs.toDF()
      .select(col("id"), col("sig"), explode(bandBuckets(bands, r)).as("bucket"))
      .select(col("bucket"), col("id"), col("sig")).as[BandedDoc]
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketRep, NearDupVote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: Long, rows: Iterator[BandedDoc], state: GroupState[BucketRep]) =>
          val sorted = rows.toArray.sortBy(_.id)
          var rep = state.getOption
          val out = sorted.map { d =>
            rep match {
              case Some(rp) =>
                val eq = rp.sig.iterator.zip(d.sig.iterator).count(t => t._1 == t._2)
                NearDupVote(d.id, bucket, eq.toDouble / numHashes >= tau)
              case None =>
                rep = Some(BucketRep(d.id, d.sig))
                NearDupVote(d.id, bucket, dup = false)
            }
          }
          rep.foreach(state.update)
          out.iterator
      }
  }

  /** Batch twin of [[nearDupVotes]]: bucket representative = the
    * minimum-id member (one map-side-combined `min_by` aggregate per
    * bucket, broadcast-joined back), vote = est-sim vs rep ≥ τ. Same
    * bucket keys, same comparison — the contract both sides share.
    */
  def nearDupVotesBatch(docs: DataFrame, bands: Int, numHashes: Int,
                        tau: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val banded = docs
      .select(col("id"), col("sig"), explode(bandBuckets(bands, r)).as("bucket"))
    val reps = banded.groupBy("bucket")
      .agg(min_by(struct(col("id"), col("sig")), col("id")).as("rep"))
    val eq = size(filter(zip_with(col("sig"), col("rep.sig"),
      (x, y) => x === y), b => b))
    banded.join(reps, "bucket")
      .select(col("id"), col("bucket"),
        (col("id") =!= col("rep.id") &&
          eq.cast("double") / lit(numHashes.toDouble) >= lit(tau)).as("dup"))
  }

  /** Stateless vote resolution: a doc drops iff any bucket voted dup. */
  def resolveVotes(votes: DataFrame): DataFrame =
    votes.groupBy("id").agg(max(col("dup")).as("dropped"))

  /** Emit only the FIRST document seen per fingerprint; subsequent
    * duplicates are swallowed. Append-mode compatible (state = one
    * boolean per key, no timeout — bound it with a TTL timeout in
    * deployments where fingerprints churn).
    */
  def dedupByKey(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, Doc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Doc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }
  }

  /** One CDC change-log entry (the [[graft.ops.Merge.latestWins]] row
    * shape over a document corpus: key, total-ordering version, op with
    * 'D' tombstones, payload).
    */
  final case class Change(key: Long, version: Long, op: String,
                          fp: Option[String], lang: Option[String])

  /** Streaming twin of [[graft.ops.Merge.latestWins]]: fold an
    * unbounded change log into per-key latest-winner state with
    * `mapGroupsWithState`, emitting each key's CURRENT winner whenever
    * a micro-batch touches it (Update mode — the natural sink is an
    * upsert store). Tombstone winners are emitted too, op intact, so a
    * downstream materializer can delete the row — swallowing them here
    * would leave stale documents live at the sink.
    *
    * Contract matches the batch operator: `version` must totally order
    * each key's changes; a version tie orders next by `op` (binary
    * string order — the same explicit 'U' > 'D' rule as the batch
    * `max(struct(version, op, …))`, so a same-version upsert beats a
    * tombstone in BOTH engines). Only the residual tie (same key,
    * version AND op) is engine-specific: batch falls to payload struct
    * order, this stream keeps the first arrival — guarantee distinct
    * versions for strict semantics. Late/out-of-order changes are
    * handled by construction: a lower-(version, op) arrival after a
    * higher one updates nothing.
    *
    * State contract: one Change per key, hash-partitioned by key — the
    * same sharding a batch latestWins shuffle uses; checkpointed state
    * survives restarts like the online near-dup state. By default state
    * is retained FOREVER, including tombstoned keys: a 'D' winner must
    * stay resident to beat stale lower-version late arrivals, so under
    * a delete-heavy change log state grows with the number of
    * ever-seen keys, not live ones. When the deployment can bound late
    * arrival (a CDC log with ordered delivery, a crawl with a known
    * re-fetch horizon), pass `tombstoneTtl` (e.g. "24 hours"): a key
    * whose CURRENT winner is a delete expires `tombstoneTtl` of
    * processing time after its last update and its state is freed — a
    * late pre-delete change arriving after that resurrects the row
    * (the documented trade-off of bounding state). Live (non-delete)
    * winners never expire. When a TTL is set, ALWAYS pair the query
    * with a real trigger interval (e.g.
    * `Trigger.ProcessingTime("1 minute")`): ProcessingTimeTimeout makes
    * the engine schedule micro-batches even with no incoming data —
    * that is how timeouts fire — and the default 0 ms trigger
    * busy-loops empty checkpointing batches.
    */
  def latestWinsStream(changes: Dataset[Change],
                       tombstoneTtl: Option[String] = None,
                       deleteOp: String = "D"): Dataset[Change] = {
    import changes.sparkSession.implicits._
    val timeoutConf =
      if (tombstoneTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    changes.groupByKey(_.key)
      .flatMapGroupsWithState[Change, Change](
        OutputMode.Update(), timeoutConf) {
        (_: Long, rows: Iterator[Change], state: GroupState[Change]) =>
          if (state.hasTimedOut) {
            // only tombstone winners ever arm the timeout: free the slot
            state.remove()
            Iterator.empty
          } else {
            val best = (state.getOption.iterator ++ rows)
              .maxBy(c => (c.version, c.op))
            state.update(best)
            tombstoneTtl.foreach { ttl =>
              if (best.op == deleteOp) state.setTimeoutDuration(ttl)
            }
            Iterator.single(best)
          }
      }
  }

  /** Input record for [[incrementalDedupStream]]: a fingerprinted
    * document, either a corpus seed row (`fromCorpus = true` — the
    * existing-fp table replayed once at stream start) or an arriving
    * batch document to classify.
    */
  final case class IncDoc(fp: String, docId: Long, fromCorpus: Boolean)

  /** Classification emitted per arriving (non-corpus) document. */
  final case class IncStatus(docId: Long, fp: String, status: String)

  /** Per-fingerprint classifier state: corpus membership + the first
    * batch doc that claimed this fp (its id, for the dup-batch rule).
    */
  final case class FpState(inCorpus: Boolean, firstBatch: Option[Long])

  /** Streaming twin of [[graft.dedup.Dedup.incrementalDedup]] (q126):
    * classify an unbounded document stream against a corpus — per
    * arriving doc, `dup_corpus` (fp already in the corpus),
    * `dup_batch` (an earlier stream doc claimed the fp), or `new` —
    * with one small `FpState` per distinct fingerprint
    * (`flatMapGroupsWithState`, Append mode). The corpus fp set is
    * replayed into the same stream as `fromCorpus` rows (typically one
    * seed micro-batch); corpus rows update state and emit nothing.
    *
    * Parity with the batch operator: within one invocation, rows apply
    * corpus-first then ascending docId — so when a fingerprint's batch
    * members share a micro-batch, the smallest id wins `new` exactly
    * like the batch window tie-break. Across micro-batches the
    * first-arriving claimant wins (a stream cannot see the future);
    * feed id-ordered micro-batches for bit-parity with batch. State is
    * one fp → (bool, long) entry, hash-partitioned by fp — the same
    * 16-byte-key sharding as the batch distinct/window shuffles, text
    * never enters state.
    */
  def incrementalDedupStream(docs: Dataset[IncDoc]): Dataset[IncStatus] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState[FpState, IncStatus](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: String, rows: Iterator[IncDoc], state: GroupState[FpState]) =>
          var st = state.getOption.getOrElse(FpState(false, None))
          val out = Vector.newBuilder[IncStatus]
          // corpus rows first, then batch rows in id order (parity with
          // the batch operator's smallest-id-wins window)
          rows.toSeq.sortBy(r => (!r.fromCorpus, r.docId)).foreach { r =>
            if (r.fromCorpus) st = st.copy(inCorpus = true)
            else {
              val status =
                if (st.inCorpus) "dup_corpus"
                else if (st.firstBatch.isDefined) "dup_batch"
                else "new"
              if (!st.inCorpus && st.firstBatch.isEmpty)
                st = st.copy(firstBatch = Some(r.docId))
              out += IncStatus(r.docId, fp, status)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** [[annTopKStream]]'s IVF sibling: a query-vector stream served
    * against the persisted [[graft.sim.Similarity.IvfIndex]] layout
    * (cells table bucketed by id + bounded centroid frame + corpus
    * table). Simpler state story than sign-LSH: every corpus row lives
    * in exactly ONE cell and a query probes `nProbe` DISTINCT cells,
    * so candidate pairs are unique by construction — no dedup
    * operator; the only streaming state is the per-(event-time, query)
    * [[graft.ops.VecTopKAgg]] buffer, watermark-evicted. The probe set
    * is a stateless projection against the driver-collected centroids
    * (bounded by the IvfIndex contract), exactly the batch
    * [[graft.sim.Similarity.ivfCandidatesFromIndex]] rule, and scoring
    * is the shared [[servedExactTopK]] two-stage tail (double
    * prefilter in the aggregate, exact-decimal re-rank over the ≤ k+ε
    * survivors) — bit-equal to
    * [[graft.sim.Similarity.ivfTopKFromIndex]] per micro-batch
    * (StreamingSpec pins it). Ids must be LongType.
    *
    * Output: (tsCol, query_id, rnk, neighbor_id, cosine).
    */
  def ivfTopKStream(queries: DataFrame, tsCol: String, idCol: String,
                    vecCol: String, cells: DataFrame, centroids: DataFrame,
                    corpus: DataFrame, k: Int, nProbe: Int = 4,
                    watermark: String = "10 minutes"): DataFrame = {
    import graft.sim.Similarity
    // the ONE probe rule, shared with the batch path (ADVICE r15: a
    // copy-pasted udf here could drift and silently break the
    // stream-equals-batch bit-equality StreamingSpec pins)
    val nearestCells = Similarity.nearestCellsUdf(centroids, nProbe)
    val qb = queries
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(nearestCells(col(vecCol).cast("array<double>"))).as("cell"))
    val ce = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("cnD"))
    val cands = qb.join(cells, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(ce, Seq("neighbor_id"))
    servedExactTopK(cands, tsCol, k)
  }

  /** [[ivfTopKStream]]'s IVFPQ upgrade (VERDICT r17 item 1) — the
    * FAISS IVFADC serving composition over the persisted
    * [[graft.sim.Similarity.IvfPqIndex]] layout: candidates are scored
    * from their STORED PQ codes inside the probe join's projection (the
    * direct [[graft.functions.PqAdcScore]] form — bit-identical to the
    * batch path's table lookups, shaped for a join whose stream-side
    * fields are copied per candidate row), a first stateful aggregate
    * keeps the ≤ rerank+ε
    * ADC-margin survivor IDS per query, and only those survivors
    * re-attach true vectors (a stateless stream-static join against
    * the id-bucketed corpus) for the shared [[servedExactTopK]] exact
    * re-rank. The flat-IVF stream ships every probe candidate's full
    * 64-double vector into the aggregate — the measured ~59 q/s
    * candidate-mass ceiling at 1M/256 q/s (SCALE.md round 17); here a
    * candidate row crossing the join is (ids + m codes + one double).
    *
    * SINGLE-WATERMARK-PASS topology (round 20 — VERDICT r19 item 1):
    * one stateful aggregate (the ADC prefilter), then a stateless
    * survivor-vector attach and an IMMEDIATE-emission
    * flatMapGroupsWithState assembly feeding the stateless exact
    * re-rank — results for a query emit in the SAME trigger as the
    * ADC aggregate's watermark emission, so end-to-end latency
    * matches the single-agg streams (the round-19 two-aggregate
    * layout paid the watermark TWICE — measured +6–8 s at a 10 s
    * watermark; see the inline comment at the assembly for why zero
    * state is correct). Per-micro-batch outputs are bit-equal to
    * [[graft.sim.Similarity.ivfPqTopKFromIndex]] at the same
    * (nProbe, rerank) — same probe rule, same ADC lookup projection,
    * same margin retention, same exact re-rank (StreamingSpec pins
    * it). Ids must be LongType. Checkpoints are NOT compatible with
    * the flat [[ivfTopKStream]]'s NOR with the round-19 two-aggregate
    * layout (different stateful-operator set — the round-17 upgrade
    * note applies here by construction).
    *
    * Output: (tsCol, query_id, rnk, neighbor_id, cosine) — true exact
    * cosine, not the quantized ADC (the IVFADC re-rank contract).
    */
  def ivfPqTopKStream(queries: DataFrame, tsCol: String, idCol: String,
                      vecCol: String, cells: DataFrame,
                      centroids: DataFrame, codebook: DataFrame,
                      corpus: DataFrame, k: Int, m: Int, dim: Int,
                      nProbe: Int = 16, rerank: Int = 64,
                      watermark: String = "10 minutes"): DataFrame = {
    import graft.sim.Similarity
    import org.apache.spark.sql.graft.Bridge
    // the shared probe rule (no-drift principle: batch and stream
    // compute bit-identical probes). Scoring uses the DIRECT form —
    // PqAdcScore(qv, codes), bit-identical to the batch path's table
    // lookups — because a stream side cannot broadcast: its rows ride
    // a stream-static sort-merge join that copies every stream field
    // into each joined candidate row, and a m×k-double table column
    // there measured 70 s micro-batches at a 50 k corpus (the
    // PqAdcScore scaladoc's 92 GB row-copy trap). The stream row
    // carries only (ts, id, qv, cell).
    val nearestCells = Similarity.nearestCellsUdf(centroids, nProbe)
    val qb = queries
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(nearestCells(col(vecCol).cast("array<double>"))).as("cell"))
    // RESIDUAL ADC scoring INSIDE the join projection: the candidate's
    // stored codes describe x − centroid(cell), so the query re-bases
    // into the candidate's cell — the native triple form computes
    // ((q−cc)−cen)² on the fly (no per-candidate residual allocation,
    // no table column riding the stream side); only
    // (ts, query_id, qv, neighbor_id, dcos) survives the projection
    val dscored = qb.join(cells, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col(tsCol), col("query_id"), col("qv"), col("neighbor_id"),
        (-Similarity.ivfPqAdcScoreCol(centroids, codebook, m, dim,
          col("qv"), col("codes"), col("cell"))).as("dcos"))
    // stateful agg 1: margin-top-rerank survivor ids by negated ADC —
    // the batch marginSurvivors retention verbatim (the native
    // aggregate with a zero-length vector payload: id-only buffering)
    val topIds = Bridge.column(graft.functions.VecTopKNative(
      Bridge.expression(col("dcos")),
      Bridge.expression(col("neighbor_id")),
      Bridge.expression(array().cast("array<double>")),
      rerank, Similarity.RerankMargin).toAggregateExpression())
    val surv = dscored
      .groupBy(col(tsCol), col("query_id"))
      .agg(first(col("qv")).as("qv"), topIds.as("__surv"))
      .select(col(tsCol), col("query_id"), col("qv"),
        explode(col("__surv")).as("__t"))
      .select(col(tsCol), col("query_id"), col("qv"),
        col("__t._2").as("neighbor_id"))
    // stateless stream-static attach: ≤ rerank+ε survivor rows per
    // query fetch true vectors — the only place vectors enter the plan
    val ce = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val joined = surv.join(ce, Seq("neighbor_id"))
      .select(col(tsCol).as("ts"), col("query_id"),
        col("qv").cast("array<double>").as("qv"),
        col("neighbor_id"), col("cv"))
    // SINGLE-PASS re-rank (round 20, VERDICT r19 item 1): the second
    // stateful aggregate this topology used to end with made results
    // wait for the watermark to pass a query's event time TWICE
    // (measured +6–8 s of query-to-answer latency at a 10 s watermark,
    // SCALE.md round 19). But agg1 emits a query's survivors
    // ATOMICALLY — one append-mode emission, exploded and joined
    // inside the SAME micro-batch — so the group arriving at this
    // point is complete-in-batch by construction, and a stateful
    // buffer that waits for a second watermark pass buys nothing. The
    // flatMapGroupsWithState below assembles each (ts, query) group's
    // survivor rows back into one array row and emits IMMEDIATELY,
    // keeping NO state (the GroupState is never set), so emission
    // happens in the same trigger as agg1's — e2e latency back to the
    // single-aggregate families' one watermark pass. The exact
    // re-rank itself stays in Catalyst (the shared [[exactRerankTail]]
    // native-decimal projection — bit-equal to the batch operator; it
    // re-ranks all ≤ rerank+ε survivors instead of double-prefiltering
    // to k+ε first, which by the RerankMargin superset argument
    // selects the identical top-k). Checkpoints are NOT compatible
    // with the round-19 two-aggregate layout (different stateful
    // operator set — the round-17 upgrade note applies again).
    val spark = queries.sparkSession
    import spark.implicits._
    val grouped = joined.as[IvfPqSurvRow]
      .groupByKey(r => (r.ts.getTime, r.query_id))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), rows: Iterator[IvfPqSurvRow],
         state: GroupState[Boolean]) =>
          val rs = rows.toVector
          if (rs.isEmpty) Iterator.empty
          else Iterator(IvfPqSurvGroup(rs.head.ts, key._2, rs.head.qv,
            rs.map(r => (0.0, r.neighbor_id, r.cv))))
      }
    exactRerankTail(
      grouped.toDF().select(col("ts").as(tsCol), col("query_id"),
        col("qv"), col("cands").as("__surv")),
      tsCol, k)
  }

  /** Row/group shapes of [[ivfPqTopKStream]]'s single-pass assembly
    * (encoders need object-level case classes). `cands` mirrors the
    * [[graft.ops.VecTopKAgg]] (_1 score, _2 id, _3 vector) struct
    * layout [[exactRerankTail]] consumes; the score slot is unused.
    */
  private[streaming] final case class IvfPqSurvRow(
      ts: java.sql.Timestamp, query_id: Long, qv: Seq[Double],
      neighbor_id: Long, cv: Seq[Double])
  private[streaming] final case class IvfPqSurvGroup(
      ts: java.sql.Timestamp, query_id: Long, qv: Seq[Double],
      cands: Seq[(Double, Long, Seq[Double])])

  /** The shared two-stage scoring tail of [[annTopKStream]] and
    * [[ivfTopKStream]]: a DOUBLE-cosine margin-top-k prefilter as the
    * ONE stateful aggregation (the [[graft.ops.VecTopKAgg]] buffer —
    * each survivor carries its corpus vector), then a STATELESS
    * in-row exact-decimal re-rank over the ≤ k+ε survivors
    * (transform + comparator array_sort + strict-k slice). This is
    * the batch `rerankCandidates` double-prefilter contract verbatim —
    * same [[graft.sim.Similarity.RerankMargin]] retention rule, same
    * exact-decimal cosine, same (cosine desc, neighbor_id) strict-k
    * tie order — so per-micro-batch outputs remain bit-equal to the
    * batch operators (StreamingSpec pins it), while decimal cost
    * drops from O(candidates) to O(k·|queries|): the round-17 serve
    * measurement found the old score-everything-exactly tail made a
    * 1M-corpus IVF batch (~125k candidates/query) miss any reasonable
    * trigger entirely.
    *
    * `cands` must carry (tsCol, query_id, qv, neighbor_id, cv, cnD):
    * one row per candidate, `cnD` the double corpus norm.
    */
  private def servedExactTopK(cands: DataFrame, tsCol: String,
                              k: Int): DataFrame = {
    import graft.sim.Similarity
    val dscored = cands.select(col(tsCol), col("query_id"), col("qv"),
      col("neighbor_id"), col("cv").cast("array<double>").as("cvd"),
      (Similarity.dot(col("qv"), col("cv"))
        / (sqrt(Similarity.dot(col("qv"), col("qv"))) * col("cnD")))
        .as("dcos"))
    // the NATIVE aggregate, not the typed udaf: the udaf's encoder
    // deserializes every candidate row's vector into a boxed Seq
    // before reduce can reject it (~20 µs/row — the measured serve
    // throughput floor); the native form copies a vector only on
    // actual insert (VecTopKNativeSpec equates the two)
    import org.apache.spark.sql.graft.Bridge
    val vecTopK = Bridge.column(graft.functions.VecTopKNative(
      Bridge.expression(col("dcos")), Bridge.expression(col("neighbor_id")),
      Bridge.expression(col("cvd")), k, Similarity.RerankMargin)
      .toAggregateExpression())
    val surv = dscored
      .groupBy(col(tsCol), col("query_id"))
      .agg(first(col("qv")).as("qv"), vecTopK.as("__surv"))
    exactRerankTail(surv, tsCol, k)
  }

  /** The STATELESS exact-rerank tail shared by [[servedExactTopK]] and
    * the single-pass [[ivfPqTopKStream]] assembly: input carries one
    * row per (tsCol, query_id) with `qv` and a `__surv` array of
    * (_1 score, _2 neighbor_id, _3 vector) structs (the
    * [[graft.ops.VecTopKAgg]] buffer layout; _1 is ignored here — the
    * ranking below is the exact-decimal cosine); output is the final
    * (tsCol, query_id, rnk, neighbor_id, cosine) contract.
    */
  private def exactRerankTail(surv0: DataFrame, tsCol: String,
                              k: Int): DataFrame = {
    import graft.sim.Similarity
    // per-row constants lifted OUT of the per-element lambda (the
    // documented HOF re-evaluation trap)
    val surv = surv0.withColumn("__qn", Similarity.normExact(col("qv")))
    val rescored = surv.withColumn("__scored",
      transform(col("__surv"), s =>
        struct(
          (Similarity.dotExact(col("qv"), s.getField("_3"))
            / (col("__qn") * Similarity.normExact(s.getField("_3"))))
            .as("cosine"),
          s.getField("_2").as("neighbor_id"))))
    // exact strict-k order: (cosine desc, neighbor_id asc) — the batch
    // window's row_number rule — as a comparator sort over ≤ k+ε rows.
    // NaN gets explicit DEFENSIVE branches (ADVICE r17): `>`/`<` are
    // both false on NaN, so the bare comparator returned 0 and ordered
    // NaN cosines by buffer arrival instead of the batch window's
    // NaN-largest desc rule (Double.compare semantics). Chasing the
    // repro showed a NaN exact cosine is UNREACHABLE end to end —
    // a zero-norm vector's 0-divisor division throws DIVIDE_BY_ZERO
    // under default ANSI (null-dropped with ANSI off), and a NaN
    // component throws in the exact-decimal capture, both loudly, in
    // stream and batch alike (StreamingSpec pins the loud-failure
    // parity) — but the branches keep the comparator a faithful
    // Double.compare should a future score path admit NaN.
    val sorted = array_sort(col("__scored"), (l, r) => {
      val (lcos, rcos) = (l.getField("cosine"), r.getField("cosine"))
      val idCmp =
        when(l.getField("neighbor_id") < r.getField("neighbor_id"), lit(-1))
          .when(l.getField("neighbor_id") > r.getField("neighbor_id"), lit(1))
          .otherwise(lit(0))
      when(isnan(lcos) && isnan(rcos), idCmp)
        .when(isnan(lcos), lit(-1))
        .when(isnan(rcos), lit(1))
        .when(lcos > rcos, lit(-1))
        .when(lcos < rcos, lit(1))
        .otherwise(idCmp)
    })
    rescored
      .select(col(tsCol), col("query_id"),
        posexplode(slice(sorted, 1, k)).as(Seq("__pos", "__t")))
      .select(col(tsCol), col("query_id"),
        (col("__pos") + 1).cast("long").as("rnk"),
        col("__t.neighbor_id").as("neighbor_id"),
        col("__t.cosine").as("cosine"))
  }

  /** Online ANN serving — the streaming twin of
    * [[graft.sim.Similarity.signLshTopKFromIndex]]: a STREAM of query
    * vectors served against the STATIC persisted corpus layout (the
    * round-15 deployment shape — the sign-LSH index table bucketed by
    * its (t, b) join key, the corpus table bucketed by id; both
    * written once, amortized across every arriving query).
    *
    * Per arriving query: bucket ids are a stateless projection (the
    * same seeded [[graft.sim.Similarity.lshBucket]] hyperplanes as the
    * index build — (dim, bits, tables, seed) MUST match it); candidates
    * come from a STREAM-STATIC equi-join on (t, b) against the index;
    * multi-table bucket collisions (the batch path's `distinct()`) are
    * absorbed INSIDE the aggregate — [[graft.ops.VecTopKAgg]]'s insert
    * is duplicate-idempotent on the bit-identical (score, id) a
    * collision re-presents, which replaced the earlier dropDuplicates
    * operator whose per-candidate-pair state was the measured
    * per-batch state-commit wall (1.7M rows/batch at a 1M corpus);
    * vectors re-attach by id from the static corpus (never through
    * streaming state); and the per-query top-k is that ONE aggregation
    * keyed by (event-time, query) so the watermark evicts it. Scoring
    * is the shared [[servedExactTopK]] two-stage tail — double-cosine
    * margin prefilter in the aggregate, exact-decimal re-rank over the
    * ≤ k+ε survivors, ranked (cosine desc, neighbor_id), exactly the
    * batch window's order: output rows are bit-identical to the batch
    * operator per micro-batch (StreamingSpec pins it). Ids must be
    * LongType (the typed aggregator contract).
    *
    * CHECKPOINT COMPATIBILITY (ADVICE r17): round 17 replaced the
    * typed-udaf aggregate with [[graft.functions.VecTopKNative]] and
    * removed the dropDuplicates operator, changing both the streaming
    * state schema and the stateful-operator layout — a checkpoint
    * written by a pre-round-17 build of this stream (or of
    * [[ivfTopKStream]]) fails LOUDLY on restart with a
    * state-schema/operator mismatch, never silent corruption. A serve
    * deployment upgrading across that boundary must restart from a
    * fresh checkpoint (the streams are stateless across queries once
    * the watermark closes, so the loss is only in-flight queries).
    *
    * Output: (tsCol, query_id, rnk, neighbor_id, cosine).
    */
  def annTopKStream(queries: DataFrame, tsCol: String, idCol: String,
                    vecCol: String, index: DataFrame, corpus: DataFrame,
                    k: Int, dim: Int, bits: Int = 12, tables: Int = 4,
                    seed: Long = 42L,
                    watermark: String = "10 minutes"): DataFrame = {
    import graft.sim.Similarity
    val buckets = array((0 until tables).map(t =>
      struct(lit(t).as("t"),
        Similarity.lshBucket(col(vecCol), dim, bits, t, seed).as("b"))): _*)
    val qb = queries
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(buckets).as("tb"))
      .select(col(tsCol), col("query_id"), col("qv"),
        col("tb.t").as("t"), col("tb.b").as("b"))
    val cands = qb.join(index, Seq("t", "b"))
      .filter(col("neighbor_id") =!= col("query_id"))
    val ce = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("cnD"))
    servedExactTopK(cands.join(ce, Seq("neighbor_id")), tsCol, k)
  }
}
