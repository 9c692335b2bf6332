package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the fast plans the engine relies on at
  * scale, asserted on the actual physical plans at sf0.001. A failure
  * here usually means a refactor silently dropped a pushdown, a
  * broadcast, or re-derived a pinned subtree — the classes of regression
  * a row-count test cannot see.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("filter+project scan pushes predicates into the parquet reader (q02)") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(!p.contains("PushedFilters: []"), s"empty pushdown in:\n$p")
  }

  test("dimension joins broadcast the small side (q07)") {
    val p = plan("q07_join_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"no broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join shuffled both sides:\n$p")
  }

  test("cosine top-k ranks on ids + one double, not vectors (q41)") {
    val p = plan("q41_cosine_topk")
    // the stage-1 exchange that feeds the ranking window must carry only
    // (query_id, neighbor_id, dcos) — vectors re-attach after the filter
    val exchanges = p.split("Exchange hashpartitioning\\(query_id")
    assert(exchanges.length >= 2, s"no per-query exchange in:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed into window:\n$p")
  }

  test("bucketed corpus makes the ANN re-rank vector attach exchange-free (VERDICT r13 item 1)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the round-13 ANN decade isolated the family's dominant remaining
    // shuffle as the re-rank's corpus-vector re-attach; the named lever
    // is a corpus bucketed by id. Proof obligation: with the corpus
    // read from a bucketed table, NO shuffle exchange carries a vector
    // column — only candidate ids move. AQE and auto-broadcast are off
    // so the attach join cannot be rescued by a broadcast (at 10M
    // vectors the candidate side is far past any threshold anyway).
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    def vectorExchanges(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.output.exists(a =>
            a.name == "cv" || a.name == "qv" || a.name == "embedding") =>
          e.output.map(_.name).mkString(",")
      }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // un-bucketed twin first: the same plan MUST ship vectors through
      // the attach exchange — otherwise this test proves nothing
      val qs0 = emb.filter(col("vec_id") < 3)
      val plain = graft.sim.Similarity.signLshTopK(emb, qs0,
        "vec_id", "embedding", 5, dim = 64, bits = 2, tables = 2)
      assert(vectorExchanges(plain).nonEmpty,
        "un-bucketed corpus should exchange vectors in the attach join")
      graft.sources.Csv.bucketedSink(emb, "plan_spec_ann_corpus",
        Seq("vec_id"), buckets = 8)
      val bucketedCorpus = spark.table("plan_spec_ann_corpus")
      val qs = bucketedCorpus.filter(col("vec_id") < 3)
      val bucketed = graft.sim.Similarity.signLshTopK(bucketedCorpus, qs,
        "vec_id", "embedding", 5, dim = 64, bits = 2, tables = 2)
      val leaks = vectorExchanges(bucketed)
      assert(leaks.isEmpty,
        s"bucketed corpus still exchanged vector columns: $leaks")
      // and the results agree row-for-row with the un-bucketed plan
      val a = plain.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val b = bucketed.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(a === b)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS plan_spec_ann_corpus")
    }
  }

  test("persisted LSH index joins exchange-free on the index side (VERDICT r14 item 1)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the last unmeasured "one-time amortized pass" in the ANN family:
    // the sign-LSH (neighbor_id, t, b) index build. Persisted bucketed
    // by its (t, b) join key, the candidate equi-join must need NO
    // shuffle exchange anywhere above the index scan — the per-batch
    // corpus-side cost (bucket dots + the capBuckets window's full
    // membership exchange) is pre-paid by the layout. AQE/auto-broadcast
    // off so a broadcast of the tiny query side can't mask a regression
    // on the index side's partitioning.
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 3)
    // a PRE-JOIN membership exchange above the index scan: its output
    // still carries the (t, b) bucket keys. The post-join candidate-id
    // distinct ((query_id, neighbor_id) — the intended per-batch
    // shuffle) also has the scan in its subtree and must NOT count.
    def exchangesAboveScan(df: org.apache.spark.sql.DataFrame,
                           table: String): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if Seq("t", "b").forall(n => e.output.exists(_.name == n)) &&
            e.child.exists {
              case s: FileSourceScanExec =>
                s.tableIdentifier.exists(_.table == table)
              case _ => false
            } => e.output.map(_.name).mkString(",")
      }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // detector control: the INLINE index build must show a (t, b)
      // membership exchange (the capBuckets window) — otherwise this
      // test could pass vacuously against a renamed column
      val inline = graft.sim.Similarity.signLshCandidates(emb, qs,
        "vec_id", "embedding", dim = 64, bits = 2, tables = 2)
      val inlineMembership = inline.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if Seq("t", "b").forall(n => e.output.exists(_.name == n)) =>
          e.output.map(_.name).mkString(",")
      }
      assert(inlineMembership.nonEmpty,
        "inline LSH should exchange (t, b) membership rows — detector broken?")
      graft.sources.Csv.bucketedSink(
        graft.sim.Similarity.signLshIndex(emb, "vec_id", "embedding",
          dim = 64, bits = 2, tables = 2),
        "plan_spec_lsh_index", Seq("t", "b"), buckets = 4)
      val idx = spark.table("plan_spec_lsh_index")
      val cands = graft.sim.Similarity.signLshCandidatesFromIndex(
        idx, qs, "vec_id", "embedding", dim = 64, bits = 2, tables = 2)
      val leaks = exchangesAboveScan(cands, "plan_spec_lsh_index")
      assert(leaks.isEmpty,
        s"persisted LSH index still exchanges above its scan: $leaks")
      // and the indexed path is row-equal to the inline-index path
      val a = inline
        .orderBy("query_id", "neighbor_id").collect().map(_.toSeq).toSeq
      val b = cands
        .orderBy("query_id", "neighbor_id").collect().map(_.toSeq).toSeq
      assert(a === b)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS plan_spec_lsh_index")
    }
  }

  test("persisted IVF cells: candidates inherit id partitioning to the attach (round 15)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the IVF layout lesson (SCALE.md round 15): the cells table must
    // be bucketed by NEIGHBOR_ID, not the probe key — the bounded
    // query batch broadcasts into the probe join, and with no distinct
    // between probe and attach the candidate frame then inherits
    // HashPartitioning(neighbor_id) straight through to the re-rank
    // attach. The machine invariant: in the full top-k plan, NO
    // shuffle exchange above the cells scan sits below the first
    // aggregate — i.e. the corpus-sized candidate frame never
    // re-exchanges; the first exchange above the index is the
    // map-side-combined margin-top-k's k-buffer exchange. (Bucketing
    // by `cell` instead measured 556 MB/batch at 10M vectors — the
    // whole candidate frame re-keyed for the attach.) AQE and
    // auto-broadcast off so test-scale sizes can't rescue either
    // layout; the probe join still broadcasts through its explicit
    // bounded-query-batch hint — which is part of the production
    // shape being proven (a shuffled probe would re-key the scan).
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 3)
    def scanOf(table: String): SparkPlan => Boolean = {
      case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == table)
      case _ => false
    }
    def preAggExchangesAbove(df: org.apache.spark.sql.DataFrame,
                             table: String): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.child.exists(scanOf(table)) &&
            !e.child.exists(_.isInstanceOf[BaseAggregateExec]) =>
          e.output.map(_.name).mkString(",")
      }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = graft.sim.Similarity.ivfIndex(emb, "vec_id", "embedding",
        nCells = 4)
      graft.sources.Csv.bucketedSink(idx.cells, "plan_spec_ivf_cells",
        Seq("neighbor_id"), buckets = 4)
      // detector control: the MIS-bucketed layout (by the probe key)
      // must show a pre-aggregation candidate exchange
      graft.sources.Csv.bucketedSink(idx.cells, "plan_spec_ivf_bad",
        Seq("cell"), buckets = 4)
      def topk(cellsTable: String) =
        graft.sim.Similarity.ivfTopKFromIndex(
          spark.table(cellsTable), idx.centroids, emb, qs,
          "vec_id", "embedding", k = 5, nProbe = 2)
      assert(preAggExchangesAbove(topk("plan_spec_ivf_bad"),
          "plan_spec_ivf_bad").nonEmpty,
        "probe-key bucketing should re-exchange candidates — detector broken?")
      val leaks = preAggExchangesAbove(topk("plan_spec_ivf_cells"),
        "plan_spec_ivf_cells")
      assert(leaks.isEmpty,
        s"id-bucketed IVF cells still re-exchange candidates: $leaks")
      // and the indexed path is row-equal to the inline operator (same
      // seeded train over the same corpus → identical centroids)
      val a = graft.sim.Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
          k = 5, nCells = 4, nProbe = 2)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val b = topk("plan_spec_ivf_cells")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(a === b)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS plan_spec_ivf_cells")
      spark.sql("DROP TABLE IF EXISTS plan_spec_ivf_bad")
    }
  }

  test("repetition stats run shuffle-free inside the scan projection (q103)") {
    val p = plan("q103_repetition_stats")
    // the only exchange allowed is the final ORDER BY's range partition;
    // a hash exchange would mean the per-doc count regressed to an
    // explode+groupBy that ships every gram string
    assert(!p.contains("Exchange hashpartitioning"),
      s"gram shuffle crept back into:\n$p")
  }

  test("tokenize-pack-shard capstone never ships text through a shuffle (q148)") {
    val p = plan("q148_tokenize_pack_shard")
    // the corpus streams once through the broadcast vocab join; the only
    // hash exchanges carry (doc_id, counts, bucket) — a text column in
    // any exchange means a stage regressed to shuffling the corpus
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"vocab join stopped broadcasting in:\n$p")
    assert(!"Exchange (hash|range)partitioning[^\\n]*text#".r.findFirstIn(p).isDefined,
      s"document text entered a shuffle in:\n$p")
  }

  test("Gopher filter runs shuffle-free inside the scan projection (q149)") {
    val p = plan("q149_gopher_filter")
    // all seven rules are HOF column math over the scanned text — a hash
    // exchange would mean a rule regressed to an explode+groupBy
    assert(!p.contains("Exchange hashpartitioning"),
      s"token/line shuffle crept into the Gopher rules:\n$p")
  }

  test("hash split is a pure scan projection (q150)") {
    val p = plan("q150_hash_split")
    // assignment must need no count() pre-pass, no window, no exchange
    // beyond the final ORDER BY's range partition
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash split stopped being a scan projection:\n$p")
    assert(!p.contains("Window"), s"window crept into hash split:\n$p")
  }

  test("global fill plans no unpartitioned window (W4 via globalFill)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 100).map(i =>
      (i, if (i % 5 == 0) java.lang.Double.valueOf(i.toDouble) else null))
      .toDF("i", "v")
    val out = graft.ops.Fills.globalFill(df, Seq("v"), Seq(col("i")),
      backward = true)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"window exec in the scan path:\n$p")
    // the fill waves live in the RDD lineage: one range shuffle feeding
    // narrow mapPartitions — never a single-partition coalesce
    val lineage = out.rdd.toDebugString
    assert(lineage.contains("ShuffledRowRDD"), s"no range shuffle in:\n$lineage")
    assert(!lineage.contains("CoalescedRDD"), s"single-partition funnel in:\n$lineage")
  }

  test("decontamination broadcasts the eval gram set, never shuffles text (q107)") {
    val p = plan("q107_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval gram set not broadcast in:\n$p")
    // what enters the only hash exchange is the overlap count's partial
    // aggregate output — it must be (doc_id, count), never document
    // text. (Exchange plan lines print partitioning expressions, not
    // payload columns, so grep the feeding operator like the q39 guard.)
    val partialOut = "partial_count[^\\n]*output=\\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1))
    assert(partialOut.isDefined, s"no partial count before the shuffle in:\n$p")
    assert(!partialOut.get.contains("text#"),
      s"document text crosses the shuffle: ${partialOut.get}")
  }

  test("stratified sample runs the two-stage top-k (q104)") {
    val p = plan("q104_stratified_sample")
    // stage 1 ranks within (group, input partition) — its window key
    // carries spark_partition_id; stage 2 is the tiny global rank
    assert(p.contains("SPARK_PARTITION_ID") || p.contains("spark_partition_id"),
      s"no partition-local first stage in:\n$p")
    // two window STAGES (the current plan shows 2 Window execs and 4
    // WindowGroupLimit nodes — a single rank-filter stage emits one
    // Window and a Partial+Final WindowGroupLimit pair)
    val windows = "\\n[^\\n]*Window \\[".r.findAllIn(p).length
    val wgl = "WindowGroupLimit".r.findAllIn(p).length
    assert(windows >= 2 && wgl >= 3,
      s"missing two-stage windows (Window=$windows, WindowGroupLimit=$wgl) in:\n$p")
  }

  test("exact dedup shuffles fingerprints, never text (q39)") {
    val p = plan("q39_exact_dedup")
    // what crosses the shuffle is the map-side partial aggregate's output
    // row — it must be (fingerprint, partials), never the document text
    val partialOut = "partial_min[^\\n]*output=\\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1))
    assert(partialOut.isDefined, s"no partial aggregate before the shuffle in:\n$p")
    assert(!partialOut.get.contains("text#"),
      s"document text crosses the shuffle: ${partialOut.get}")
  }

  test("dup-span dedup: text never crosses any shuffle (q121)") {
    val p = plan("q121_dup_spans")
    // single-pass shape: ONE gram-stream exchange (the gh count window),
    // then doc-keyed island/stat stages — no exchange anywhere may carry
    // the document text; everything in flight is (doc_id, pos, hash)
    assert("Exchange hashpartitioning\\(gh".r.findFirstIn(p).isDefined,
      s"no gram-hash exchange (count window) in:\n$p")
    assert(!"Exchange hashpartitioning[^\\n]*text#".r.findFirstIn(p).isDefined,
      s"document text crosses a shuffle in:\n$p")
  }

  test("semantic decon: one scan, eval broadcast, one integer-key shuffle (q123)") {
    val p = plan("q123_semantic_decon")
    assert(p.contains("BroadcastExchange"), s"eval set not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"training side re-attached through a shuffle join:\n$p")
    // the ONLY hash exchange is the final stats groupBy on train_id —
    // vectors live exclusively inside the scan stage
    val hashEx = "Exchange hashpartitioning\\(([^\\n]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.length == 1 && hashEx.head.contains("train_id"),
      s"expected exactly one train_id exchange, got $hashEx in:\n$p")
    assert(!hashEx.exists(_.contains("embedding#")),
      s"embedding vectors cross a shuffle in:\n$p")
  }

  test("prefix Jaccard: broadcast candidate generation, pair-id shuffle only (q128)") {
    val p = plan("q128_prefix_jaccard")
    // the prefix-shingle equi-join and both shingle-set re-attachments
    // broadcast — a SortMergeJoin would ship the shingle stream
    assert(!p.contains("SortMergeJoin"), s"prefix join shuffled a side:\n$p")
    assert("BroadcastHashJoin \\[shh#".r.findFirstIn(p).isDefined,
      s"prefix candidates not generated by a broadcast shingle-hash join:\n$p")
    // the only hash exchange is the candidate-pair dedup on (id_a, id_b)
    // — two longs per surviving candidate, never shingle arrays or text
    val hashEx = "Exchange hashpartitioning\\(([^\\n]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.length == 1 && hashEx.head.contains("id_a"),
      s"expected exactly one (id_a,id_b) exchange, got $hashEx in:\n$p")
    assert(!hashEx.exists(e => e.contains("text#") || e.contains("shs")),
      s"shingle payload crosses a shuffle in:\n$p")
  }

  test("KMV aggregator combines map-side before the group shuffle (q136)") {
    val p = plan("q136_kmv_agg_distinct")
    // the partial_agg row that crosses the lang exchange is the bounded
    // KMV buffer (<=k longs) + a count — never token strings
    val partial = "partial_agg\\(h#[^\\n]*output=\\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1))
    assert(partial.isDefined, s"no map-side partial KMV aggregate in:\n$p")
    assert(!partial.get.contains("tok#"),
      s"token strings cross the aggregator shuffle: ${partial.get}")
    assert(!"Exchange hashpartitioning\\([^\\n]*tok#".r.findFirstIn(p).isDefined,
      s"token strings key an exchange in:\n$p")
  }

  test("CMS scoring broadcasts estimates; only count rows shuffle (q137)") {
    val p = plan("q137_cms_rare_ratio")
    // the per-distinct-gram estimates broadcast back onto the occurrence
    // stream — never a shuffle join keyed on gram strings
    assert("BroadcastHashJoin \\[bg#".r.findFirstIn(p).isDefined,
      s"estimates not broadcast onto occurrences in:\n$p")
    // the per-doc score aggregate combines map-side: what crosses the
    // doc_id exchange is (doc_id, two counts), never bigram strings
    val partialOut =
      "partial_count\\(1\\), partial_count\\(CASE[^\\n]*output=\\[([^\\]]*)\\]".r
        .findFirstMatchIn(p).map(_.group(1))
    assert(partialOut.isDefined, s"no map-side partial score counts in:\n$p")
    assert(!partialOut.get.contains("bg#") && !partialOut.get.contains("text#"),
      s"gram payload crosses the score shuffle: ${partialOut.get}")
  }

  test("triangle counting: edge-iterator with broadcast adjacency, no shuffle joins (q139)") {
    val p = plan("q139_triangle_count")
    // the closing check must be the per-edge intersection of broadcast
    // out-lists — a SortMergeJoin anywhere means either the adjacency
    // attachment or the readout regressed to shuffling the edge stream.
    // q139's ids are longs, so the intersection is the native sorted merge.
    assert(p.contains("sorted_long_intersect"),
      s"edge-iterator intersection gone from:\n$p")
    assert(!p.contains("SortMergeJoin"), s"shuffle join crept into:\n$p")
    // the degree-attachment joins sit above the Pin and don't print in
    // the final executed plan; the visible two are the adjacency join
    // and the per-node readout, and every join in the plan is broadcast
    assert(!p.contains("ShuffledHashJoin"), s"shuffle join crept into:\n$p")
    val joins = "(BroadcastHashJoin|BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct) ".r
      .findAllIn(p).length
    val bhj = "BroadcastHashJoin ".r.findAllIn(p).length
    assert(bhj === joins && bhj >= 2,
      s"adjacency/readout frames not broadcast ($bhj of $joins joins) in:\n$p")
  }

  test("sequence packing: one bucket exchange, no doc text in flight (q110)") {
    val p = plan("q110_pack_sequences")
    // exactly one hash exchange (the bucket repartition) may move data;
    // the fill-ratio window repartitions on the bounded (bucket, seq)
    // key — anything beyond those two means the greedy scan or the
    // tokenizer grew a shuffle it does not need
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(exchanges <= 2, s"expected <=2 hash exchanges (bucket + window), got $exchanges in:\n$p")
    // the packed rows that shuffle carry counts and ids, never the text
    assert(!"Exchange hashpartitioning[^\\n]*text#".r.findFirstIn(p).isDefined,
      s"document text crosses a shuffle in:\n$p")
  }

  test("weather capstone broadcasts stations twice, never sort-merges (q155)") {
    val p = plan("q155_weather_capstone")
    // both station joins (polygon semi-filter, location attach) ride
    // broadcasts — the .dly fact side must never co-shuffle with the
    // tiny station dim
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 2,
      s"station joins stopped broadcasting in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a station join shuffled both sides:\n$p")
  }

  test("balance capstone plans zero window operators (q156)") {
    val p = plan("q156_balance_capstone")
    // the global backward fill is globalFill's two-wave mapPartitions
    // protocol; the only exchanges are range partitions (its ordering +
    // the final ORDER BY). Any Window here means the fill regressed to
    // the single-partition form
    assert(!p.contains("Window"), s"window crept into the balance capstone:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash exchange in:\n$p")
  }

  test("deterministic masking is a pure scan projection (q163)") {
    val p = plan("q163_deterministic_masking")
    // tokenize/mask/count/rejoin all live in per-row HOFs — a hash
    // exchange means the masking regressed to the oracle's explode+
    // regroup algorithm (fine for DuckDB, wrong at 100 TB)
    assert(!p.contains("Exchange hashpartitioning"),
      s"masking stopped being a scan projection:\n$p")
    assert(!p.contains("Window"), s"window crept into masking:\n$p")
  }

  test("semantic dedup broadcasts centroids and confines the quadratic (q164)") {
    val p = plan("q164_semantic_dedup")
    // centroids reach every row via broadcast (k rows), never a shuffled
    // cross product; candidate pairs come from the within-cell equi-join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid table stopped broadcasting in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"all-pairs cross product crept into semantic dedup:\n$p")
    // the id filter reaches the parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,600)]"),
      s"vec_id bound not pushed to the scan in:\n$p")
    // the keeper window is partitioned by group — never a global frame
    assert(!"Window \\[[^\\n]*windowspecdefinition\\(dcent".r.findFirstIn(p).isDefined,
      s"unpartitioned keeper window in:\n$p")
  }

  test("RAG chunking is a pure scan projection + generator (q168)") {
    val p = plan("q168_rag_chunking")
    // windows derive per row (HOF + explode); a hash exchange means the
    // chunker regressed to an explode+regroup algorithm
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking stopped being a scan projection:\n$p")
    assert(!p.contains("Window"), s"window crept into chunking:\n$p")
  }

  test("funnel plans as chained aggregates — no windows, no event collection (q176)") {
    val p = plan("q176_funnel")
    assert(!p.contains("Window"), s"window crept into the funnel:\n$p")
    assert(!p.contains("collect_list") && !p.contains("CollectList"),
      s"per-user event collection crept into the funnel:\n$p")
  }

  test("corpus merge pre-aggregates the change log map-side (q159)") {
    val p = plan("q159_corpus_merge")
    // latestWins must plan partial max(struct) before its ONE exchange
    // and never sort change groups through a window keeper
    assert(p.contains("partial_max") || p.contains("partial max")
        || "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      s"no map-side combine before the merge exchange:\n$p")
    assert(!p.contains("Window"), s"window keeper crept into latestWins:\n$p")
  }
}
