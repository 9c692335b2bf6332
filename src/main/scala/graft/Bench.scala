package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line of per-query seconds. Execution is forced through
  * the noop sink — a `count()` would let Catalyst prune projections and
  * drop sorts, under-measuring projection-heavy queries.
  *
  * Bench-line schema (the one stdout JSON line):
  *  - `"value"` (headline total): sum of per-query medians over every
  *    registered query EXCEPT the [[AuditQueries]] tier — the headline
  *    measures plans the engine would actually schedule at scale.
  *  - `"audit"`: the audit tier's own sum — a NUMBER on unfiltered runs,
  *    the literal `null` on BENCH_ONLY-filtered iteration runs (a
  *    partial sum would be indistinguishable from the real one).
  *  - `"build"` (round 19): the [[BuildQueries]] index-lifecycle tier's
  *    own sum — same number-or-null convention. These queries re-train
  *    and re-write persisted index tables every run; their from-index
  *    QUERY halves stay in the headline as q210–q212.
  *  - `"core100"`: sum over the pinned [[CoreQueries]] — same
  *    number-or-null convention as `"audit"`; frozen membership, so it
  *    still INCLUDES q77 (membership never drifts, even into tiers).
  *  - `"queries"`: positional array of ALL registered queries' medians
  *    in registration order (audit/build members included at their
  *    index), or a name-keyed object on filtered runs. Values are
  *    integer DECISECONDS since round 19 (the budget tightening step);
  *    exact 2-decimal seconds travel by name in BENCH_DETAIL.json.
  *  - `"calib_cpu_ms"` / `"calib_query_ms"`: fixed-cost slow-box probes
  *    (median-of-3 after a discarded JIT warm-up, run once before
  *    rep 1) — a single-thread busy loop and one pinned 25-row query;
  *    see the in-method comment and the BASELINE.md protocol sentence.
  *  - `"calib_post"` (round 19): ALL FOUR probes repeated after the
  *    last rep, as one array in probe order [cpu, query, par, bw] —
  *    the pre/post pairs bracket the whole run, so a box that degrades
  *    mid-suite shows as an in-band pre + blown-out post, and a
  *    contended instant that CLEARS mid-suite (round 18's run 5) shows
  *    the reverse (ADVICE r16; VERDICT r18 item 4). BENCH_DETAIL.json
  *    carries the same values under full `calib_*_ms_post` names.
  *  - `"calib_par_ms"` / `"calib_bw_ms"` (round 18): the busy loop on
  *    `cpus` threads at once, and a 256 MB array streamed on `cpus`
  *    threads — the PARALLEL-ALU and MEMORY-BANDWIDTH discriminators
  *    the single-thread probes cannot provide: host contention that
  *    only bites when all cores are busy (SMT/steal) or when the
  *    memory controller saturates reads flat on calib_cpu/calib_query
  *    but inflates these together with the 32-thread heavy queries.
  *  - `"qorder_md5"`: 8-hex digest of the registration-order name list —
  *    two rounds' positional arrays are joinable iff these match; the
  *    full name→median map is in `BENCH_DETAIL.json`'s `by_name`.
  */
object Bench {
  /** Pinned 100-query core (the suite's first 100 registration-order
    * names as of round 9): `core100` sums THESE queries' medians only,
    * so rounds compare like-for-like as the registry grows — the
    * headline total moves with every added query, this metric moves
    * only with the engine. Membership is frozen by name; never extend
    * it (define core200 if a bigger pinned set is ever wanted).
    */
  val CoreQueries: Set[String] = Set(
    "q01_pricing_summary",
    "q02_filter_project",
    "q03_isin",
    "q04_contains",
    "q05_null_sentinel",
    "q06_coverage_stats",
    "q07_join_broadcast",
    "q08_semi_join",
    "q09_anti_join",
    "q11_union_align",
    "q12_unpivot",
    "q13_pivot_first",
    "q14_distinct",
    "q15_stats",
    "q16_quantile",
    "q18_dates",
    "q19_strings",
    "q20_case_when",
    "q21_round_cast",
    "q22_window_topk",
    "q32_rowwise_mean",
    "q58_dropna_rows",
    "q59_to_date_format",
    "q73_range_join",
    "q93_csv_roundtrip",
    "q94_perfile_sink_glob",
    "q122_jsonl_roundtrip",
    "q95_skip_preamble",
    "q96_csv_parse_dates",
    "q97_fixed_width_dly",
    "q98_fixed_width_stations",
    "q99_geo_filter",
    "q92_projection_ops",
    "q89_salted_join",
    "q74_rollup",
    "q75_transpose",
    "q76_drop_allnull_cols",
    "q60_argmin",
    "q131_coorder_pagerank",
    "q139_triangle_count",
    "q132_bloom_semi_join",
    "q133_zorder_codes",
    "q143_json_extract",
    "q142_sample_quantiles",
    "q23_ffill_limit",
    "q24_month_ffill",
    "q25_lags_diff",
    "q26_sliding_mean",
    "q144_rolling_anomaly",
    "q145_holt_forecast",
    "q146_cusum_alarms",
    "q27_blocked_cv",
    "q28_split",
    "q29_seasonal",
    "q33_forecast_metrics",
    "q34_resample_minmax",
    "q35_monthend_mean",
    "q30_disaggregate",
    "q51_seasonal_by_series",
    "q64_sequences",
    "q65_positional_join",
    "q71_asof_join",
    "q72_sessionize",
    "q127_salted_join",
    "q152_global_fill",
    "q176_funnel",
    "q177_retention_cohorts",
    "q36_doc_stats",
    "q37_lang_id",
    "q38_quality_score",
    "q39_exact_dedup",
    "q40_lang_token_totals",
    "q41_cosine_topk",
    "q42_embedding_norms",
    "q43_simhash",
    "q77_jaccard_pairs",
    "q79_minhash_sigs",
    "q80_lsh_neardups",
    "q44_minhash_neardup_stats",
    "q86_simhash_neardups",
    "q45_ann_topk",
    "q69_top_terms",
    "q66_ivf_ann",
    "q78_ivf_full_probe",
    "q85_lsh_full_coverage",
    "q67_cosine_neardup_stats",
    "q87_cosine_neardup_full",
    "q46_multimodal_meta",
    "q47_multimodal_features",
    "q90_frame_sample",
    "q91_resize_blobs",
    "q113_image_codec",
    "q114_audio_codec",
    "q115_video_demux",
    "q116_bpe_merges",
    "q147_bpe_tokenize",
    "q117_dsir_selection",
    "q118_data_mixing",
    "q119_bm25_search",
    "q120_pq_ann")
  /** Deliberately-exhaustive audit baselines (VERDICT r12 item 2): the
    * two registered O(n²) all-pairs plans the engine itself documents a
    * 100 TB run would never schedule — q77's exact Jaccard cross
    * product (ground truth for q194's Bernoulli-sampled twin and
    * q128's prefix-filter) and q170's LSH recall audit (exact all-pairs
    * ground truth + the full LSH chain in one plan). They still RUN
    * every bench (their timings stay in the positional array, their
    * CORRECTNESS rows come from Verify which is untouched, and q77
    * stays inside the frozen core100 sum), but the HEADLINE total
    * excludes them and reports their sum as the separate `"audit"`
    * field — the headline should measure plans the engine would
    * schedule, the audit tier measures the ground-truth machinery.
    */
  val AuditQueries: Set[String] = Set(
    "q77_jaccard_pairs",
    "q170_lsh_recall_audit")
  /** Index-LIFECYCLE certifications (VERDICT r18 item 2, the audit-tier
    * precedent): q202–q209 each re-train and re-write persisted index
    * tables every run — legitimate build+append+read certification, but
    * ~22 s of the round-18 judge headline was index BUILD cost that
    * grows mechanically with every index family, eroding the 2× band
    * without any engine change. They still RUN every bench (timings in
    * the positional array, CORRECTNESS rows from Verify untouched) but
    * the HEADLINE total excludes them and reports their sum as the
    * separate `"build"` field; the from-index QUERY halves stay in the
    * headline as the read-only twins q210–q212, which read the tables
    * these builders wrote and run only the serving query.
    */
  val BuildQueries: Set[String] = Set(
    "q202_lsh_bucketed_corpus",
    "q203_lsh_persisted_index",
    "q204_ivf_persisted_index",
    "q205_ivf_appended_index",
    "q206_lsh_appended_index",
    "q207_pq_persisted_index",
    "q208_ivfpq_persisted_index",
    "q209_ivfpq_adc_rerank",
    // round 20: the delete-from-index certifications re-train an
    // IVF/IVFPQ model and re-write four to five bucketed tables every
    // run before the post-delete serving query — the q205/q206
    // appended-index pattern exactly, registered by the interrupted
    // round-20 build work WITHOUT the tier membership the precedent
    // established (VERDICT r18 item 2 / r19 item 2). Their ~7 s is
    // index BUILD cost, not a plan the engine would schedule per query
    // at scale; correctness rows come from Verify, untouched.
    "q215_ivf_deleted_index",
    "q216_ivfpq_tombstoned_index")
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.build(cpus)
    val runner = new Runner(spark)
    // Warm the session (JVM, codegen, shuffle machinery, parquet footer
    // cache, noop sink) so the first measured query reflects the query,
    // not startup. The bounded pipeline touches every engine surface the
    // suite leans on — scan, decimal-exact agg, window, broadcast join —
    // so their one-time costs (codegen templates, broadcast infra, window
    // exec classes) stop landing on whichever query runs first.
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(5000)
      val agg = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), graft.ops.Exact.dsum(col("l_quantity")).as("s"))
      val w = Window.partitionBy("l_returnflag").orderBy("n")
      agg.withColumn("rnk", row_number().over(w))
        .join(broadcast(agg.select(col("l_returnflag"), col("n").as("n2"))),
          "l_returnflag")
        .write.format("noop").mode("overwrite").save()
    }
    // Slow-box calibration probes (VERDICT r15 item 2): `ambient_suspect`
    // catches load SPIKES, but a uniformly slow box passes it and has
    // been diagnosed in BASELINE.md prose three rounds running (the
    // 212.51 and 205.05 runs). Pin two fixed-cost probes before rep 1
    // and record them in the artifact, so a slow-box run is an
    // ARTIFACT-provable state: (a) a single-thread busy loop — pure CPU,
    // no Spark — whose only variables are clock speed, steal time, and
    // scheduler pressure; (b) one tiny pinned query (25-row nation agg
    // through the noop sink) — the fixed per-query scheduling cost every
    // suite member pays. Median-of-3 each; a run whose calib_cpu_ms sits
    // >25% above the record window's is slow-box by artifact, not
    // argument (protocol sentence in BASELINE.md).
    def medianD(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    var calibSink = 0L
    def busyProbeMs(): Double = {
      var h = 0x811c9dc5L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 200000000) { h = (h ^ i) * 0x100000001b3L; i += 1 }
      calibSink ^= h
      (System.nanoTime() - t0) / 1e6
    }
    def queryProbeMs(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    // PARALLEL throughput probe (round 18): the single-thread busy loop
    // and the pinned query both read FLAT across a run pair whose
    // 32-thread-parallel heavy queries diverged 20% (293.6 vs 351.7 s
    // same-code back-to-back — BASELINE.md round-18 note). Neither
    // existing probe can see host-level SMT/steal contention that only
    // bites when all cores are busy, so this one runs the SAME busy
    // loop on `cpus` threads at once and reports the wall — on an
    // uncontended box it reads ≈ the single-thread number (each thread
    // does the same work in parallel); above it, sibling pressure.
    def parProbeMs(): Double = {
      val n = cpus
      val t0 = System.nanoTime()
      val ts = (0 until n).map { i =>
        val t = new Thread(() => {
          var h = 0x811c9dc5L ^ i
          var j = 0
          while (j < 200000000) { h = (h ^ j) * 0x100000001b3L; j += 1 }
          calibSink ^= h
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    // MEMORY-BANDWIDTH probe (round 18, with calib_par): the round-18
    // epoch read 293.6 / 351.7 / 351.4 s same-code back-to-back while
    // calib_cpu sat flat at 253-259 and calib_par at ~1.15× of it —
    // single-thread AND parallel ALU both quiet, yet the heavy
    // shuffle/scan queries ran 40-70% over the record. Those queries
    // are memory-bandwidth-bound, and every existing probe fits in
    // registers/L1 — blind to a host co-tenant saturating the memory
    // controller. This probe streams a 256 MB long array on `cpus`
    // threads (disjoint slices, sum into the sink) and reports the
    // wall: the aggregate-bandwidth number that moves with exactly the
    // queries the ALU probes cannot explain.
    // The 256 MB probe array is SCOPED to each measurement (allocated,
    // filled, probed, released): the round-18 form kept it reachable
    // via the probe closure for the whole bench run, permanently
    // inflating old-gen during every measured query (ADVICE r18) — and
    // the post-run bracket below needs a fresh measurement anyway.
    def measureBwMs(): Double = {
      val bwArr = new Array[Long](32 * 1024 * 1024) // 256 MB
      java.util.Arrays.fill(bwArr, 0x9E3779B97F4A7C15L)
      def bwProbeMs(): Double = {
        val n = cpus
        val slice = bwArr.length / n
        val t0 = System.nanoTime()
        val ts = (0 until n).map { i =>
          val t = new Thread(() => {
            var h = 0L
            var pass = 0
            while (pass < 4) {
              var j = i * slice
              val end = j + slice
              while (j < end) { h += bwArr(j); j += 1 }
              pass += 1
            }
            calibSink ^= h
          })
          t.start(); t
        }
        ts.foreach(_.join())
        (System.nanoTime() - t0) / 1e6
      }
      bwProbeMs() // page-fault + JIT warm-up, discarded
      medianD((1 to 3).map(_ => bwProbeMs()))
    }
    // One discarded warm-up iteration first: the probe loop's own JIT
    // compilation otherwise lands inside the first measured iteration
    // and inflates the median on a quiet box (ADVICE r16).
    busyProbeMs()
    // RETRY-UNTIL-QUIET (round 20, VERDICT r19 item 6): three
    // consecutive driver artifacts (r17 391 / r18 391 / r19 423
    // calib_query) came from non-qualifying windows, and each burned a
    // full judge bench on adjudication. If the PRE anchors read blown,
    // sleep and re-probe (bounded attempts) before starting the suite —
    // contended instants on this box are usually epochs of minutes
    // (BASELINE.md round-19 ledger: runs 1/3 blown-pre/clean-post), so
    // a 45 s backoff often lands the suite in a quiet window. Every
    // attempt's anchors are recorded in the artifact
    // (`calib_attempts`), so a run that started anyway after exhausting
    // retries is slow-box by artifact. Thresholds are the BASELINE.md
    // quiet-band ceilings (cpu ≤ 360, query ≤ 420, par ≤ 500,
    // bw ≤ 45 ms — generous vs the 253/316/294/15 record anchors, so
    // only clearly-blown windows retry); override with
    // `SPARK_GRAFT_CALIB_MAX=cpu,query,par,bw`, disable with
    // `SPARK_GRAFT_BENCH_RETRY=0`.
    val retryMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "2").toInt
    val calibMax = sys.env.getOrElse("SPARK_GRAFT_CALIB_MAX",
      "360,420,500,45").split(",").map(_.trim.toDouble)
    require(calibMax.length == 4,
      "SPARK_GRAFT_CALIB_MAX must be cpu,query,par,bw")
    def probeAll(): Array[Double] = Array(
      medianD((1 to 3).map(_ => busyProbeMs())),
      medianD((1 to 3).map(_ => queryProbeMs())),
      medianD((1 to 3).map(_ => parProbeMs())),
      measureBwMs())
    val calibAttempts =
      scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var calibArr = probeAll()
    calibAttempts += calibArr
    var calibTries = 0
    while (calibTries < retryMax &&
        calibArr.zip(calibMax).exists { case (v, m) => v > m }) {
      System.err.println(s"[bench] pre-anchors blown " +
        s"(${calibArr.map(_.round).mkString(",")} vs max " +
        s"${calibMax.map(_.round).mkString(",")}) — retry " +
        s"${calibTries + 1}/$retryMax after 45 s")
      Thread.sleep(45000)
      calibArr = probeAll()
      calibAttempts += calibArr
      calibTries += 1
    }
    val calibCpuMs = calibArr(0)
    val calibQueryMs = calibArr(1)
    val calibParMs = calibArr(2)
    val calibBwMs = calibArr(3)
    val calibAttemptsJson = calibAttempts
      .map(_.map(_.round).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    if (calibSink == 42L) System.err.println("") // keep the loop live
    // Optional comma-separated name filter for local iteration; the
    // driver never sets it, so the recorded bench always covers everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.registry.filter(q => names(q.name))
      case None        => SparkEntry.registry
    }
    // Median-of-N per query (SPARK_GRAFT_BENCH_REPS, default 3): this
    // box's ambient drift is ±25% on single shots (SCALE.md variance
    // record — same-code totals observed 105.7-134.3s), so a one-shot
    // record whipsaws round-over-round. The median absorbs a single
    // slow rep; set reps=1 for quick local iteration.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // Ambient-load markers (VERDICT r10 item 3): round 10's driver bench
    // ran 205.6 s against a same-HEAD quiet-box 162.7 s, and attributing
    // the 26% gap to box load took a name-aligned per-query diff. Record
    // /proc/loadavg + MemAvailable around every rep so the artifact
    // itself carries the evidence: a loaded box shows up as load1 >> 32
    // alongside uniformly inflated cheap queries.
    def loadAvg1: Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def memAvailMb: Long =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/meminfo")).stream()
          .filter(_.startsWith("MemAvailable:")).findFirst().orElse("")
        line.split("\\s+") match {
          case a if a.length >= 2 => a(1).toLong / 1024L
          case _                  => -1L
        }
      } catch { case _: Throwable => -1L }
    // Per-query: median over successful reps; a rep that throws counts as
    // an ERROR, never as a timing. Round 7 recorded 22 broken queries'
    // time-to-exception (~0.1 s each) as if they ran, silently deflating
    // the suite total by ~25 s — errors must be visible, not fast.
    // Alongside timings, capture (load1, memMB) before each rep plus once
    // after the last — reps+1 ambience snapshots per query in the detail.
    val results: Seq[(String, Seq[Double], Int, Seq[(Double, Long)])] = selected.map { q =>
      var errReps = 0
      val ambience = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      val times = (1 to reps).flatMap { _ =>
        ambience += ((loadAvg1, memAvailMb))
        val run = runner(q.impl(spark, sfDir).write.format("noop").mode("overwrite").save())
        run.result match {
          case Right(_) => Some(run.seconds)
          case Left(e) =>
            errReps += 1
            System.err.println(s"[bench] ${q.name}: $e")
            None
        }
      }
      ambience += ((loadAvg1, memAvailMb))
      (q.name, times, errReps, ambience.toSeq)
    }
    // Re-run ALL FOUR probes AFTER the last rep: the pre-run snapshots
    // only certify the box at rep-1 time, so a box that degrades (or
    // clears) mid-suite read as quiet (or slow) — round 18's run 5
    // fired its probes into a contended instant that cleared mid-suite
    // and carried alarming anchors on a quiet suite (BASELINE.md run-5
    // note; VERDICT r18 item 4). The pre/post bracket bounds the run:
    // all in-band means the whole window was quiet; a one-sided blowout
    // names the drift and its direction.
    val calibCpuMsPost = medianD((1 to 3).map(_ => busyProbeMs()))
    val calibQueryMsPost = medianD((1 to 3).map(_ => queryProbeMs()))
    val calibParMsPost = medianD((1 to 3).map(_ => parProbeMs()))
    val calibBwMsPost = measureBwMs()
    // The driver captures a bounded 2000-char tail of the output, so the
    // line must stay well inside it (rounds 2 and 3 overflowed and
    // recorded parsed=null). Per-query times are a positional ARRAY in
    // registration order (index i ↔ SparkEntry.registry(i).name — the
    // same order CORRECTNESS lists, minus sorting): at 160 queries the
    // old `"qNN":t` object format could not fit, the array version stays
    // under ~1200 chars (EntrySmokeSpec guards the arithmetic). A value
    // of -1 marks a query whose every rep errored; partially-errored
    // queries keep their successful-rep median and appear in "errors"
    // (short name → failed-rep count), which is {} on a clean run.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // STDOUT-line per-query values are integer DECISECONDS since round
    // 19 (the EntrySmokeSpec budget guard's documented next tightening
    // step, taken when q210–q212 + the build/calib_post fields pushed
    // the worst case past the window; round 16 had dropped to 1
    // decimal): ambient drift is ±25%, and exact 2-decimal SECOND
    // medians travel by NAME in BENCH_DETAIL.json's `by_name` on every
    // unfiltered run — per-query forensics and cross-round diffs should
    // read that committed artifact, not the positional stdout array.
    def fmtQ(v: Double): String =
      if (v < 0) "-1" else math.round(v * 10).toString
    // full centisecond precision for the detail-file fields
    def fmtQ2(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.2f", v)
    def med(r: (String, Seq[Double], Int, Seq[(Double, Long)])): Double =
      if (r._2.nonEmpty) median(r._2) else -1.0
    // a BENCH_ONLY-filtered run breaks the positional index↔registry
    // mapping, so emit the old name-keyed object format there (the char
    // budget only binds on the unfiltered full run the driver records)
    val qs =
      if (only.isDefined)
        results.map(r => "\"" + r._1 + "\":" + fmtQ(med(r))).mkString("{", ",", "}")
      else results.map(r => fmtQ(med(r))).mkString("[", ",", "]")
    val errs = results.filter(_._3 > 0).map { case (n, _, e, _) =>
      "\"" + n.takeWhile(_ != '_') + "\":" + e
    }.mkString("{", ",", "}")
    // headline total excludes the audit AND build tiers (schema note in
    // the object Scaladoc); each tier's own sum travels as its separate
    // field — same number-or-null convention
    val total = results.filterNot(r => AuditQueries(r._1) || BuildQueries(r._1))
      .map(med).filter(_ >= 0).sum
    val auditTotal = results.filter(r => AuditQueries(r._1))
      .map(med).filter(_ >= 0).sum
    val auditField = if (only.isDefined) "null" else fmt(auditTotal)
    val buildTotal = results.filter(r => BuildQueries(r._1))
      .map(med).filter(_ >= 0).sum
    val buildField = if (only.isDefined) "null" else fmt(buildTotal)
    // suite-growth-stable metric: sum of medians over the pinned
    // CoreQueries only. Meaningful ONLY on the unfiltered full run: a
    // BENCH_ONLY iteration sums whichever core members it happened to
    // run, which is indistinguishable in the output from the real
    // metric — so emit null there instead of a bogus partial sum
    // (ADVICE r10). Stdout-line schema note for parsers: "core100" is
    // therefore number-OR-NULL — a number on every unfiltered run (the
    // only runs the driver records as BENCH_r*.json), the literal null
    // on BENCH_ONLY-filtered iteration runs (ADVICE r11).
    val coreTotal = results.filter(r => CoreQueries(r._1))
      .map(med).filter(_ >= 0).sum
    val coreField = if (only.isDefined) "null" else fmt(coreTotal)
    // Noisy-run self-flag (VERDICT r14 item 6): round 14's +8.9% driver
    // drift took a per-query forensic diff against commit history to
    // dismiss as ambient; the run's own load1 snapshots already held the
    // answer (54 of 792 above 6, peak 9.7). Flag it in the artifact:
    // suspect when ANY snapshot's load1 exceeds 8 or more than 5% of
    // snapshots exceed 6 (the committed-run profile that round). A
    // suspect run's total should not be adopted as a BASELINE.md record.
    val allLoads = results.flatMap(_._4.map(_._1)).filter(_ >= 0)
    val ambientSuspect = allLoads.exists(_ > 8.0) ||
      (allLoads.nonEmpty && allLoads.count(_ > 6.0) > allLoads.length * 0.05)
    // Full per-query dispersion goes to a FILE (the stdout line is
    // capture-bounded): one JSON object per query with min/median/max
    // over successful reps, so docs can cite run-to-run spread from the
    // artifact instead of session memory (VERDICT r8: BASELINE.md's
    // q131 "4.6-7.8 s" claim contradicted the recorded 12.07 s — range
    // claims must come from a recorded artifact).
    // Never from a BENCH_ONLY-filtered iteration run, which would
    // silently clobber the committed full-suite artifact with a subset.
    // Positional arrays self-identify their ordering (VERDICT r15 item
    // 8): r15 inserted q202–q204 mid-registry, silently misaligning
    // positional diffs against r14. The full {name: median} map cannot
    // ride the stdout line (the driver's capture is a bounded ~2000-char
    // tail; the 201-entry positional array already uses ~1.2k of it), so
    // the line carries an 8-hex md5 of the registration-order name list
    // instead — two rounds' BENCH_r*.json arrays are positionally
    // joinable iff their qorder_md5 match — and the by-NAME map travels
    // in BENCH_DETAIL.json (committed every round), which has no budget.
    val qorderMd5 = {
      val names = SparkEntry.registry.map(_.name).mkString(",")
      java.security.MessageDigest.getInstance("MD5")
        .digest(names.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    if (only.isEmpty) {
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
      // "idx" = registry position, so positional BENCH_r*.json arrays
      // are mechanically joinable to names across rounds even after
      // registrations shift (VERDICT r9 next-round item 8)
      val detail = results.zipWithIndex.map { case ((n, ts, e, amb), i) =>
        val s = ts.sorted
        val (mn, md, mx) =
          if (s.isEmpty) (-1.0, -1.0, -1.0) else (s.head, median(s), s.last)
        // ambience: (load1, memAvailMB) captured before each rep and once
        // after the last — reps+1 snapshots bracketing every timed region
        val load = amb.map(a => fmtQ2(a._1)).mkString("[", ",", "]")
        val mem = amb.map(_._2).mkString("[", ",", "]")
        s"""{"idx":$i,"name":"$n","min":${fmtQ2(mn)},"median":${fmtQ2(md)},"max":${fmtQ2(mx)},"err_reps":$e,"load1":$load,"mem_avail_mb":$mem}"""
      }.mkString("[\n", ",\n", "\n]")
      // name-keyed medians: the cross-round join artifact (never depends
      // on a QORDER snapshot matching — VERDICT r15 item 8)
      val byName = results
        .map(r => "\"" + r._1 + "\":" + fmtQ2(med(r))).mkString("{", ",", "}")
      val detailJson =
        s"""{"reps":$reps,"sf":"$sfDir","cpus":$cpus,"total_median":${fmt(total)},"core100_median":${fmt(coreTotal)},"audit_median":${fmt(auditTotal)},"build_median":${fmt(buildTotal)},"ambient_suspect":$ambientSuspect,"calib_cpu_ms":${calibCpuMs.round},"calib_cpu_ms_post":${calibCpuMsPost.round},"calib_query_ms":${calibQueryMs.round},"calib_query_ms_post":${calibQueryMsPost.round},"calib_par_ms":${calibParMs.round},"calib_par_ms_post":${calibParMsPost.round},"calib_bw_ms":${calibBwMs.round},"calib_bw_ms_post":${calibBwMsPost.round},"qorder_md5":"$qorderMd5","by_name":$byName,"queries":$detail}\n"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(detailPath), detailJson)
      // per-cpu-count twin (VERDICT r20 item 6): the driver's low-core
      // scaling run writes the SAME default path, clobbering the
      // 32-core detail in the working tree — a two-run day then leaves
      // only the last run's per-query map. Keep a cpu-suffixed copy so
      // both survive (the unsuffixed file stays the primary artifact).
      val suffixed = detailPath.replaceAll("\\.json$", "") + s"_c$cpus.json"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(suffixed), detailJson)
      // index↔name registry map as a machine-readable artifact (VERDICT
      // r10 item 7): BENCH_r*.json's positional "queries" array joins to
      // names through this file instead of a hand-run `runMain QOrder`.
      val qorderPath = sys.env.getOrElse("SPARK_GRAFT_QORDER", "QORDER.json")
      val qorder = SparkEntry.registry.map(_.name).zipWithIndex
        .map { case (n, i) => s"""{"idx":$i,"name":"$n"}""" }
        .mkString("[\n", ",\n", "\n]\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(qorderPath), qorder)
    }
    // stdout keeps the post brackets COMPACT — one array in probe order
    // [cpu, query, par, bw] — because the driver's capture window is the
    // budget EntrySmokeSpec guards; the detail file carries them under
    // full names.
    val calibPost = Seq(calibCpuMsPost, calibQueryMsPost, calibParMsPost,
      calibBwMsPost).map(_.round).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"core100":$coreField,"audit":$auditField,"build":$buildField,"ambient_suspect":$ambientSuspect,"calib_cpu_ms":${calibCpuMs.round},"calib_query_ms":${calibQueryMs.round},"calib_par_ms":${calibParMs.round},"calib_bw_ms":${calibBwMs.round},"calib_post":$calibPost,"calib_attempts":$calibAttemptsJson,"qorder_md5":"$qorderMd5","errors":$errs,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
