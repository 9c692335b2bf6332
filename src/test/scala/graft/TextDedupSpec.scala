package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.functions.MinHashFamily
import graft.sim.Similarity
import graft.text.TextOps
import graft.multimodal.Multimodal

/** Self-consistency tests for the hash-seeded (oracle-less) text/dedup/
  * similarity paths: planted near-duplicates must be recalled, approximate
  * results must agree with the exact baseline, and everything must be
  * deterministic across runs.
  */
class TextDedupSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def mkDoc(seed: Int, n: Int): String = {
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy",
      "dog", "data", "spark", "table", "query", "join", "scan", "sort")
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
  }

  /** q44's near-dup DAG: xxhash64 family, 64 hashes, 16 bands, cap 1000. */
  private def xxNearDups(docs: org.apache.spark.sql.DataFrame,
                         driverLimit: Int = Dedup.DriverLimit) =
    Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.XxHash64,
      nHashes = 64, bands = 16, maxBucketSize = 1000, driverLimit = driverLimit)

  /** minhashNearDups' gate at its default (the driver route for these
    * fixtures) and at 0 (the distributed route).
    */
  private val routes = Seq(Dedup.DriverLimit, 0)

  test("dupGroups closes components: clique, chain, isolated pair (both paths)") {
    // clique {1,2,3}, a 5-node CHAIN 10-11-12-13-14 (diameter 4 — needs
    // several propagation rounds), and pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L)).toDF("id_a", "id_b")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L)
    // driver union-find path (under threshold) and the distributed
    // label-propagation path (threshold forced to 0) must agree
    for (threshold <- Seq(100000L, 0L)) {
      val got = Dedup.dupGroups(pairs, driverThreshold = threshold).collect()
        .map(r => r.getLong(1) -> r.getLong(0)).toMap
      assert(got === want, s"threshold=$threshold")
    }
  }

  test("dupGroups driver path survives a threshold-sized descending chain (no recursion)") {
    // Adversarial shape for the driver union-find: a single 100k-edge
    // chain with edges arriving in DESCENDING order builds the deepest
    // possible parent chain (each union hangs the new max off a
    // just-linked node). A recursive `find` overflows the driver stack
    // exactly at the in-envelope input the 100k-pair driverThreshold
    // permits; the iterative path-halving find must close it.
    val n = 100000
    val pairs = spark.range(1, n.toLong + 1)
      .select((lit(n.toLong + 1) - col("id")).as("id_a"),
              (lit(n.toLong) - col("id")).as("id_b"))
      .filter(col("id_b") >= 0L)
    val groups = Dedup.dupGroups(pairs, driverThreshold = n.toLong).collect()
    assert(groups.length === n + 1)
    assert(groups.forall(_.getLong(0) == 0L),
      "every chain node must resolve to the minimum id 0")
  }

  test("dupGroups propagates min label against the edge direction (both paths)") {
    // min id sits at the END of the chain: label must flow 'backwards'
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("id_a", "id_b")
    for (threshold <- Seq(100000L, 0L)) {
      val got = Dedup.dupGroups(pairs, driverThreshold = threshold)
        .collect().map(_.getLong(0)).distinct
      assert(got.toSeq === Seq(1L), s"threshold=$threshold")
    }
  }

  test("dupGroups: driver and distributed paths agree exactly at the threshold boundary") {
    // nPairs == driverThreshold takes the driver union-find (<=), and
    // driverThreshold = nPairs - 1 flips the SAME input to distributed
    // label propagation — the two paths must produce identical groups on
    // every shape: a pure chain (worst diameter), a pure clique (worst
    // redundancy), and seeded mixed graphs.
    // maxIter = 80 lets min-label propagation close the diameter-64
    // chain; production long-diameter graphs take dupGroupsAltStar
    // (O(log n) rounds) — equality, not round count, is under test here
    def groupsOf(pairs: org.apache.spark.sql.DataFrame, threshold: Long) =
      Dedup.dupGroups(pairs, maxIter = 80, driverThreshold = threshold).collect()
        .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val chain = (0L until 64L).map(i => (i + 1, i))
    val clique = (for (a <- 0 until 12; b <- a + 1 until 12) yield
      (a.toLong, b.toLong)).take(64)
    val mixed = Seq(42, 77).map { seed =>
      val rnd = new scala.util.Random(seed)
      (0 until 64).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40) + 40L))
    }
    for ((edges, tag) <- (Seq(chain -> "chain", clique -> "clique") ++
           mixed.zipWithIndex.map { case (e, i) => e -> s"mixed$i" })) {
      val pairs = edges.toDF("id_a", "id_b")
      val n = pairs.count()
      val atBoundary = groupsOf(pairs, n)      // driver path (nPairs <= T)
      val overBoundary = groupsOf(pairs, n - 1) // distributed path
      assert(atBoundary === overBoundary,
        s"$tag: paths disagree across the driverThreshold boundary at n=$n")
    }
  }

  test("dupGroupsAltStar agrees with union-find; chains close in O(log n) rounds") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) { parent(x) = parent.getOrElse(parent(x), parent(x)); x = parent(x) }
        x
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
    }
    // seeded random graph: several components of mixed shape
    val rnd = new scala.util.Random(77)
    val rand = (0 until 120).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    // a 200-node chain: diameter 199 — label propagation would need 199
    // rounds; alternating stars must contract it geometrically
    val chain = (1L until 200L).map(i => (i + 1000L, i + 999L))
    for ((edges, tag) <- Seq((rand, "random"), (chain, "chain"))) {
      val want = unionFind(edges)
      val (df, rounds) = Dedup.altStarImpl(edges.toDF("id_a", "id_b"), maxIter = 30)
      val got = df.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      assert(got === want, s"$tag: alt-star disagrees with union-find")
      assert(rounds <= 12, s"$tag: took $rounds rounds — not logarithmic")
    }
    // parity with the production dupGroups on the random graph
    val viaProp = Dedup.dupGroups(rand.toDF("id_a", "id_b"), driverThreshold = 0L)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val viaStar = Dedup.dupGroupsAltStar(rand.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(viaProp === viaStar)
  }

  test("repetitionStats: exact fractions on planted repetition") {
    // doc 1: "a b a b a" -> bigrams (a b, b a, a b, b a): top 2/4, dup 4/4
    // doc 2: all-distinct bigrams -> top 1/3, dup 0
    // doc 3: single word -> one whole-doc gram, top 1/1
    val df = Seq(
      (1L, "a b a b a"),
      (2L, "w x y z"),
      (3L, "solo")).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(df, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got(0) === ((1L, 4L, 0.5, 1.0)))
    assert(got(1) === ((2L, 3L, 1.0 / 3.0, 0.0)))
    assert(got(2) === ((3L, 1L, 1.0, 0.0)))
  }

  test("UDF tokenizers match the column tokenizer on whitespace-framed text") {
    // Spark's trim strips 0x20 only; Java String.trim also eats
    // tabs/newlines — these inputs catch any regression to Java trim
    // (leading tab => leading '' token => different grams).
    val tricky = Seq(
      (1L, "\tfoo bar foo bar\n"),
      (2L, "  spaced   out  "),
      (3L, "plain words here"),
      (4L, "UPPER Case MiX")).toDF("doc_id", "text")
    val viaUdf = TextOps.distinctWordNgrams(col("text"), 2)
    val viaCols = array_distinct(TextOps.wordNgrams(col("text"), 2))
    val rows = tricky.select(viaUdf.as("u"), viaCols.as("c")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0).sorted === r.getSeq[String](1).sorted,
        s"UDF grams ${r.getSeq[String](0)} != column grams ${r.getSeq[String](1)}")
    }
  }

  test("contamination flags planted n-gram overlap, skips clean docs") {
    val evalSet = Seq((100L, "the secret eval question about spark tables")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "something about the secret eval question copied here"), // 4 shared 3-grams
      (2L, "entirely different words with no overlap whatsoever"),
      (3L, "spark tables appear here but only as a two gram")) // no shared 3-gram
      .toDF("doc_id", "text")
    val got = Dedup.contamination(train, evalSet, "doc_id", "text",
      n = 3, minShared = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L))
    assert(got(1L) >= 2L)
  }

  test("redactPii counts and replaces emails/phones, leaves clean text") {
    val df = Seq(
      (1L, "mail a@b.io and c.d+x@e-f.org, call 555-123-4567"),
      (2L, "totally clean")).toDF("doc_id", "text")
    val got = TextOps.redactPii(df, "text").orderBy("doc_id")
      .select("n_emails", "n_phones", "redacted").collect()
    assert(got(0).getLong(0) === 2L)
    assert(got(0).getLong(1) === 1L)
    assert(got(0).getString(2) === "mail <EMAIL> and <EMAIL>, call <PHONE>")
    assert(got(1).getLong(0) === 0L)
    assert(got(1).getString(2) === "totally clean")
  }

  test("c4Clean keeps punctuated >=5-word lines, drops lorem/brace/thin pages") {
    val df = Seq(
      (1L, "a good line with five words.\nshort.\nno end punctuation on this line\n" +
        "javascript should kill this otherwise fine line.\nanother good long line ends here!\n" +
        "a third good line finishes the page, yes?"),
      (2L, "lorem ipsum dolor sit amet drops the page.\nfine line with enough words here.\n" +
        "another fine line with enough words too."),
      (3L, "brace { page is dropped despite good lines here.\nsecond decent line with words enough.\n" +
        "third decent line with words enough, ok."),
      (4L, "only one good line exists on this page.")).toDF("doc_id", "text")
    val got = TextOps.c4Clean(df, "doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got === Seq(
      (1L, 6L, 3L, true),   // 3 of 6 lines survive -> kept page
      (2L, 3L, 3L, false),  // lorem ipsum kills the page
      (3L, 3L, 3L, false),  // curly brace kills the page
      (4L, 1L, 1L, false))) // fewer than 3 surviving lines
  }

  test("native Md5Hash64 expression ≡ declarative hex composition") {
    val rnd = new scala.util.Random(23)
    val strs = (1 to 500).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString) :+
      "" :+ "exact" :+ "é世界" // empty, ascii, multi-byte UTF-8
    val df = strs.toDF("s")
    val rows = df.select(
        Dedup.md5Hash64(col("s")).as("fast"),
        ReferenceForms.md5Hash64Ref(col("s")).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // and the interpreted (non-codegen) path agrees too
    val interp = df.selectExpr("s").filter(
      Dedup.md5Hash64(col("s")) =!= ReferenceForms.md5Hash64Ref(col("s"))).count()
    assert(interp === 0L)
  }

  test("gopherQuality: each rule flips keep_doc on its planted violation") {
    val df = Seq(
      (1L, "the quick brown fox jumps over a lazy dog of june and that nearby have with style " +
        "plain word filler text goes here " * 6),         // keeper
      (2L, "just ten small words live inside this tiny doc here"),      // too short
      (3L, "incomprehensibilities " * 48 + "of the and that have with"), // mean len > 10
      (4L, "the of and that have with " + "tag#one " * 46),             // symbol ratio
      (5L, "- item the of and filler words here\n" * 10),               // bullet lines
      (6L, "a plain line with the of and words\n" * 6 +
        "this line trails off with and the...\n" * 4),                  // ellipsis lines
      (7L, "the of and that have with " + "12345 " * 46),               // alpha ratio
      (8L, "plain filler words appear here again " * 9)                 // no stopwords
    ).toDF("doc_id", "text")
    val got = TextOps.gopherQuality(df, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(8)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false, 7L -> false, 8L -> false))
    // and the per-rule metric that fails is the intended one
    val rows = TextOps.gopherQuality(df, "doc_id", "text").orderBy("doc_id").collect()
    assert(rows(1).getLong(1) < 50L)                      // n_words
    assert(rows(2).getDouble(2) > 10.0)                   // mean_word_len
    assert(rows(3).getDouble(3) > 0.1)                    // symbol_ratio
    assert(rows(4).getDouble(4) > 0.9)                    // bullet_ratio
    assert(rows(5).getDouble(5) > 0.3)                    // ellipsis_ratio
    assert(rows(6).getDouble(6) < 0.8)                    // alpha_ratio
    assert(rows(7).getLong(7) < 2L)                       // n_stopwords
  }

  test("exact dedup groups and keeps min id per canonical text") {
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "unique one"),
      (4L, "HELLO WORLD "), (5L, "unique two")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    assert(groups.length === 3)
    val g = groups.find(_.getAs[Long]("n_docs") == 3L).get
    assert(g.getAs[Long]("keep_id") === 1L)
    val kept = Dedup.dropExactDups(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L, 5L))
  }

  test("keepBest keeps the highest-quality dup, ties to the smaller id") {
    val df = Seq(
      (1L, "Hello   World", 0.3),   // same canonical group as 2 and 4
      (2L, "hello world", 0.9),     // best quality -> kept
      (4L, "HELLO WORLD ", 0.9),    // tie on score -> id 2 wins
      (3L, "unique one", 0.5),
      (5L, "unique two", 0.1)).toDF("doc_id", "text", "q")
    val groups = Dedup.keepBestGroups(df, "doc_id", "text", "q").collect()
    val g = groups.find(_.getAs[Long]("n_docs") == 3L).get
    assert(g.getAs[Long]("keep_id") === 2L)
    assert(g.getAs[Double]("best_score") === 0.9)
    val kept = ReferenceForms.keepBest(df, "doc_id", "text", "q")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 3L, 5L))
  }

  test("minhash LSH recalls planted near-duplicates, skips unrelated docs") {
    val base = mkDoc(7, 120)
    val nearDup = base.split(" ").updated(5, "changed").mkString(" ")
    val docs = (Seq((0L, base), (1L, nearDup)) ++
      (2L to 9L).map(i => (i, mkDoc(100 + i.toInt, 120)))).toDF("doc_id", "text")
    val dups = xxNearDups(docs).filter(col("jaccard") >= 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(dups.contains((0L, 1L)), "planted near-dup pair not recalled")
    assert(!dups.exists(p => p._1 >= 2L), s"false-positive pairs: $dups")
  }

  test("minhash near-dup final plan reads pinned intermediates, not re-derived shingles") {
    // Distributed route (gate 0): banding and candidates are
    // localCheckpoint-pinned in minhashCandidates and verifyJaccard
    // shingles only candidate docs into another pinned table — so the
    // FINAL plan must be joins over materialized RDD scans with no
    // shingle/hash re-derivation left in it (the pre-round-4 plan re-ran
    // those subtrees once per reference). The driver route's final plan
    // is one local relation.
    val base = mkDoc(7, 120)
    val nearDup = base.split(" ").updated(5, "changed").mkString(" ")
    val docs = (Seq((0L, base), (1L, nearDup)) ++
      (2L to 9L).map(i => (i, mkDoc(100 + i.toInt, 120)))).toDF("doc_id", "text")
    val out = xxNearDups(docs, driverLimit = 0).filter(col("jaccard") >= 0.7)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("posexplode"), s"shingle generation re-derived:\n$plan")
    assert(!plan.contains("xxhash64"), s"shingle hashing re-derived:\n$plan")
    assert("LogicalRDD".r.findAllMatchIn(plan).size >= 2,
      s"expected pinned RDD scans in:\n$plan")
    val local = xxNearDups(docs).filter(col("jaccard") >= 0.7).queryExecution.optimizedPlan
    assert(local.collectLeaves().forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]), s"driver route plan:\n$local")
  }

  test("minhash est-sim is an unbiased Jaccard estimator, not min-shingle-correlated") {
    // Statistical regression guard for the round-9 family fix: the old
    // affine family ((a·h+b) mod 2^61−1 over 31-bit h) almost never
    // wrapped the modulus, so ~half its "permutations" were monotone in
    // h and every component picked the SAME min shingle — measured
    // est-sim on J≈0.85 pairs came out 1.0 or 0.125. A sound family's
    // per-component match probability is J, so over 128 components the
    // estimate must sit within ~4σ ≈ 4·sqrt(J(1−J)/128) of true J.
    import graft.dedup.Dedup
    val rnd = new scala.util.Random(5)
    def doc(n: Int) = (0 until n).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")
    val pairs = (0 until 6).map { _ =>
      val a = doc(150).split(" ")
      // overwrite a random 10-35% span with fresh words
      val k = 15 + rnd.nextInt(38)
      val start = rnd.nextInt(a.length - k)
      val b = a.zipWithIndex.map { case (w, i) =>
        if (i >= start && i < start + k) s"m${rnd.nextInt(5000)}" else w }
      (a.mkString(" "), b.mkString(" "))
    }
    val df = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i.toLong * 2, a), (i.toLong * 2 + 1, b)) }.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", MinHashFamily.XxHash64, 128)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val shs = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.indices.foreach { i =>
      val (x, y) = (i.toLong * 2, i.toLong * 2 + 1)
      val j = (shs(x) & shs(y)).size.toDouble / (shs(x) | shs(y)).size
      val est = sigs(x).zip(sigs(y)).count(t => t._1 == t._2) / 128.0
      val tol = 4 * math.sqrt(j * (1 - j) / 128.0)
      assert(math.abs(est - j) <= tol,
        s"pair $i: est-sim $est vs true Jaccard $j (tolerance $tol) — " +
          "the signature family is correlated again")
    }
  }

  // Edge-case corpus for the md5 MinHash family (q79/q80 and every
  // md5-family consumer of minhashNearDups): null, empty and whitespace-only text
  // ("  \t " trims to a tab, two empty tokens, shingle " "), a doc under
  // 3 tokens, a doc that repeats shingles (7 has 6's shingle SET), non-
  // ASCII text (9 lowercases to 8; 10 changes 8's last token), and a
  // 40-token base with 10 (J = 26/50) and 11 (J = 25/51) tokens
  // replaced: three LSH candidates around the 0.5 threshold.
  private lazy val md5Corpus = {
    val rnd = new scala.util.Random(1005)
    val base = (0 until 40).map(_ => s"t5x${rnd.nextInt(100000)}")
    def swap(k: Int, tag: String) = base.zipWithIndex
      .map { case (w, i) => if (i >= 15 && i < 15 + k) s"r5$tag$i" else w }.mkString(" ")
    val uni = "Größe straße café naïve 日本語 テキスト école ﬀ 😀 fin"
    Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "   "), (4L, "  \t "), (5L, "Hello World"),
      (6L, "x y z x y z x y z w"), (7L, "x y z x y z w"),
      (8L, uni), (9L, uni.replace("café", "CAFÉ").replace("école", "ÉCOLE")),
      (10L, uni.replace("fin", "ende")),
      (11L, base.mkString(" ")), (12L, swap(10, "a")), (13L, swap(11, "b")))
      .toDF("doc_id", "text")
  }

  test("md5 MinHash table and near-dup rows are pinned bit-exactly") {
    val table = Dedup.minhashTableMd5(md5Corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) "-" else f"${r.getLong(2)}%016x")).toMap
    val gotTable = table.keys.map(_._1).toSeq.sorted.map(id =>
      s"#$id " + (0L until 16L).map(i => table((id, i))).mkString(" ")).mkString("\n")
    assert(table.size === 13 * 16)
    val wantTable = md5TablePin.stripMargin.trim.split("\\s+#").map(_.stripPrefix("#"))
      .map(rec => "#" + rec.split("\\s+").mkString(" ")).mkString("\n")
    assert(gotTable === wantTable)
    for (limit <- routes) {
      def pairs(threshold: Double) =
        Dedup.minhashNearDups(md5Corpus, "doc_id", "text", MinHashFamily.Md5, 16, bands = 4,
            driverLimit = limit)
          .filter(col("jaccard") >= threshold)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).sorted.toSeq
      val at05 = pairs(0.5)
      assert(at05 === md5PairsPin, s"driverLimit = $limit")
      // 12-13 and 11-13 (J = 25/51) are candidates the threshold drops
      assert(pairs(0.45).diff(at05) === Seq(
        (11L, 13L, 25L, java.lang.Double.doubleToLongBits(25.0 / 51)),
        (12L, 13L, 25L, java.lang.Double.doubleToLongBits(25.0 / 51))), s"driverLimit = $limit")
    }
  }

  test("md5 MinHash signatures are bit-identical over repartition(7) input") {
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df, "doc_id", "text", MinHashFamily.Md5, 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val a = sigs(md5Corpus)
    assert(a.size === 12 && a.values.forall(_.length == 16))
    assert(sigs(md5Corpus.repartition(7)) === a)
  }

  test("md5 MinHash signature stage is one projection over the scan") {
    // the pins inside minhashNearDups and q158 hide this stage from
    // their final plans, so it is checked on its own: no shingle explode,
    // no lead window, no shuffle and no per-hash min aggregate
    val path = java.nio.file.Files.createTempDirectory("graft_md5sig").resolve("docs").toString
    md5Corpus.write.parquet(path)
    val p = Dedup.minhashSignatures(spark.read.parquet(path), "doc_id", "text",
        MinHashFamily.Md5, 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("shingle_minhash_md5") && p.contains("FileScan"),
      s"native signature projection missing from:\n$p")
    for (node <- Seq("Exchange", "Window", "Generate", "Aggregate"))
      assert(!p.contains(node), s"$node in the signature stage:\n$p")
    // and the long form evaluates each signature once: no inferred
    // filter re-derives it below the projection
    val t = Dedup.minhashTableMd5(spark.read.parquet(path), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert("shingle_minhash_md5".r.findAllIn(t).length === 1,
      s"signature evaluated more than once in:\n$t")
  }

  test("xxhash64 MinHash signature stage is one projection over the scan") {
    // same check as the md5 family's: q44's signatures are one native
    // projection, with no shingle explode, lead window, shuffle or
    // per-hash min aggregate
    val path = java.nio.file.Files.createTempDirectory("graft_xxsig").resolve("docs").toString
    md5Corpus.write.parquet(path)
    val p = Dedup.minhashSignatures(spark.read.parquet(path), "doc_id", "text",
        MinHashFamily.XxHash64, 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("shingle_minhash_xxhash64") && p.contains("FileScan"),
      s"native signature projection missing from:\n$p")
    for (node <- Seq("Exchange", "Window", "Generate", "Aggregate"))
      assert(!p.contains(node), s"$node in the signature stage:\n$p")
  }

  test("null text gets no MinHash signature and is never a candidate") {
    for (family <- Seq(MinHashFamily.Md5, MinHashFamily.XxHash64)) {
      val ids = Dedup.minhashSignatures(md5Corpus, "doc_id", "text", family, 16)
        .select("id").as[Long].collect().toSet
      assert(ids === (2L to 13L).toSet, s"family ${family.name}")
    }
    // doc 1 (null) is not read as "": it pairs with no doc, not even the
    // empty doc 2, and every other candidate row is unchanged
    for (limit <- routes) {
      val got = xxNearDups(md5Corpus, limit)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).sorted.toSeq
      assert(got === xxPairsPin, s"driverLimit = $limit")
    }
  }

  // (id_a, id_b, n_common, doubleToLongBits(jaccard)): 1.0, 7/9 and 26/50
  private val md5PairsPin: Seq[(Long, Long, Long, Long)] = Seq(
    (2L, 3L, 1L, 4607182418800017408L), (6L, 7L, 4L, 4607182418800017408L),
    (8L, 9L, 8L, 4607182418800017408L), (8L, 10L, 7L, 4605180818965630521L),
    (9L, 10L, 7L, 4605180818965630521L), (11L, 12L, 26L, 4602858963157741732L))

  private val md5TablePin = """
    |#1 - - - - - - - - - - - - - - - -
    |#2
    |  5455a71889db2d90 aee06bbf842ae344 d50c3198ddd13061 5df143fd58396470
    |  54542e32b4b37d48 08720590915cc044 36ceb74ddf85008b 1e1679f6a7cb04c4
    |  5affe35cc4393d97 ca847924bfdfb773 acf49f661621111d efec1910af26eaf9
    |  c2dd21fd1aa38a57 ef4560765611bc6e 782440221f65fd28 4f6262fc9ef495d1
    |#3
    |  5455a71889db2d90 aee06bbf842ae344 d50c3198ddd13061 5df143fd58396470
    |  54542e32b4b37d48 08720590915cc044 36ceb74ddf85008b 1e1679f6a7cb04c4
    |  5affe35cc4393d97 ca847924bfdfb773 acf49f661621111d efec1910af26eaf9
    |  c2dd21fd1aa38a57 ef4560765611bc6e 782440221f65fd28 4f6262fc9ef495d1
    |#4
    |  f25dc55d7b465dbd 08e809fa76b79369 730453dd2f4c404c fbf921b8aaa4145d
    |  f25c4c77462e0d65 ae7a67d563c1b069 90c6d5082d1870a6 b81e1bb3555674e9
    |  fcf7811936a44dba 6c8c1b614d42c75e 0afcfd23e4bc6130 49e47b555dbb9ad4
    |  64d543b8e83efa7a 494d0233a48ccc43 de2c2267edf88d05 e96a00b96c69e5fc
    |#5
    |  defe107ae6c57144 244bdcddeb34bf90 5fa786fab2cf6cb5 d75af49f372738a4
    |  deff9950dbad219c 82d9b2f2fe429c90 bc65002fb09b5c5f 94bdce94c8d55810
    |  d054543eab276143 402fce46d0c1eba7 265f2804793f4dc9 6547ae72c038b62d
    |  4876969f75bdd683 65eed714390fe0ba f28ff740707ba1fc c5c9d59ef1eac905
    |#6
    |  8a085da1ec6edaff da6af85a14e88589 92cb7972b7d49881 83acb9443d8c931f
    |  8a09d48bd1068a27 d62fff29f4e9372b cf8d166f54701deb c04b834fc27ef3ab
    |  84a219e5a18ccaf8 8d4331ced5da1f93 d87e0c8386e377d0 9b668af53fe48c34
    |  851a691770a622b7 9bcff393c6d3daa3 8167e1009490e048 913f9845fb4162be
    |#7
    |  8a085da1ec6edaff da6af85a14e88589 92cb7972b7d49881 83acb9443d8c931f
    |  8a09d48bd1068a27 d62fff29f4e9372b cf8d166f54701deb c04b834fc27ef3ab
    |  84a219e5a18ccaf8 8d4331ced5da1f93 d87e0c8386e377d0 9b668af53fe48c34
    |  851a691770a622b7 9bcff393c6d3daa3 8167e1009490e048 913f9845fb4162be
    |#8
    |  a9b579c37fa37c87 b3d61980d1013fd5 a1d1d2ba808aa131 a0119d26ae413567
    |  a9b4f0e942cb2c5f a4757b125bd3fb94 9ac9c9cf150a3b5b b21107746d443f14
    |  a71f3d8732416c80 a8628884711cf181 b1c2ed59430acd8c 8d0ae8b061e5ac0b
    |  a03bd05dd460cca5 8da391d698d2fa9c 85c49ef9e91dac3f a274df036c489636
    |#9
    |  a9b579c37fa37c87 b3d61980d1013fd5 a1d1d2ba808aa131 a0119d26ae413567
    |  a9b4f0e942cb2c5f a4757b125bd3fb94 9ac9c9cf150a3b5b b21107746d443f14
    |  a71f3d8732416c80 a8628884711cf181 b1c2ed59430acd8c 8d0ae8b061e5ac0b
    |  a03bd05dd460cca5 8da391d698d2fa9c 85c49ef9e91dac3f a274df036c489636
    |#10
    |  a9b579c37fa37c87 93c5f8ead17519e0 a861bacf24e9f574 a0119d26ae413567
    |  a9b4f0e942cb2c5f a4757b125bd3fb94 9ac9c9cf150a3b5b b21107746d443f14
    |  a71f3d8732416c80 a8628884711cf181 91d10c33437eebb9 8d0ae8b061e5ac0b
    |  a03bd05dd460cca5 8da391d698d2fa9c 85c49ef9e91dac3f a274df036c489636
    |#11
    |  82a3f3521a7b61a6 80b6d8e289a3c1fd 80ac9f0d4e6897da 800a4564e6c33860
    |  82a27a782713317e 82c6cf5641f7c250 99b948c557e8f857 85fd6c5b3134b16b
    |  8704e5c57ac36187 856ffb9d7d32b59a 82a22c3b1ba833a4 8397cc52a1f9a4c3
    |  8d36a344d84e88be 833eb53458cef254 90c34ab5c380651a 8afb6247d5d00aa1
    |#12
    |  82a3f3521a7b61a6 83ceb1e53524f196 80ac9f0d4e6897da 800a4564e6c33860
    |  82a27a782713317e 82c6cf5641f7c250 99b948c557e8f857 85fd6c5b3134b16b
    |  8704e5c57ac36187 81b2adb6a52aa6f2 81da453ca72f03cf 8e21e4a2134795ea
    |  89ebf56f00569bd6 8e889dc4ea70c37d 8007ccce67523db6 8147f64cce8877c2
    |#13
    |  82a3f3521a7b61a6 8a70f74bde8fbbe4 80ac31e836b4cd10 800a4564e6c33860
    |  82a27a782713317e 82c6cf5641f7c250 99b948c557e8f857 85fd6c5b3134b16b
    |  8704e5c57ac36187 856ffb9d7d32b59a 886403924c8449bd 82cda3b87a8bd9b3
    |  8d36a344d84e88be 8264dade83bc8f24 8ae7ca4014b5e254 890add54ac7da764"""

  test("minhash signatures are deterministic and length numHashes") {
    val docs = (0L to 4L).map(i => (i, mkDoc(i.toInt, 50))).toDF("doc_id", "text")
    val a = Dedup.minhashSignatures(docs, "doc_id", "text", MinHashFamily.XxHash64, 32)
      .orderBy("id").collect().map(_.getSeq[Long](1))
    val b = Dedup.minhashSignatures(docs.repartition(7), "doc_id", "text",
        MinHashFamily.XxHash64, 32)
      .orderBy("id").collect().map(_.getSeq[Long](1))
    assert(a.forall(_.length == 32))
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
      "signatures changed under repartitioning")
  }

  // The xxhash64 family's edge cases: md5Corpus without its null-text doc
  // (empty, whitespace-only, under 3 tokens, repeated shingles, non-ASCII,
  // and the J ≈ 0.5 pairs around 11).
  private lazy val xxCorpus = md5Corpus.where(col("doc_id") =!= 1L)

  /** md5 of a signature's longs (big-endian): one bit-exact token per doc. */
  private def sigDigest(sig: Seq[Long]): String = {
    val b = java.nio.ByteBuffer.allocate(8 * sig.length)
    sig.foreach(b.putLong)
    java.security.MessageDigest.getInstance("MD5").digest(b.array)
      .map(x => f"$x%02x").mkString
  }

  test("xxhash64 MinHash signatures and q44's candidate rows are pinned bit-exactly") {
    for ((numHashes, want) <- Seq(64 -> xxSig64Pin, 128 -> xxSig128Pin)) {
      val got = Dedup.minhashSignatures(xxCorpus, "doc_id", "text",
          MinHashFamily.XxHash64, numHashes)
        .collect().map(r => r.getLong(0) -> sigDigest(r.getSeq[Long](1))).toMap
      assert(got === want, s"numHashes = $numHashes")
    }
    // q44's DAG: 64 hashes, 16 bands, bucket cap 1000, every candidate
    for (limit <- routes) {
      val got = xxNearDups(xxCorpus, limit)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).sorted.toSeq
      assert(got === xxPairsPin, s"driverLimit = $limit")
    }
  }

  /** Every row of minhashNearDups (md5 family, 16 hashes, 4 bands), sorted,
    * with its jaccard as bits.
    */
  private def md5Rows(docs: org.apache.spark.sql.DataFrame, cap: Int, limit: Int) =
    Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5, 16, bands = 4,
        maxBucketSize = cap, driverLimit = limit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).sorted.toSeq

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("a binding bucket cap keeps the same smallest ids on both routes; null ids never pair") {
    // six copies of one text share every bucket, with a null-id copy
    // that sorts first and takes a cap slot; 20 and 21 are a near-dup
    // pair with different band keys in some bands
    val base = mkDoc(11, 60)
    val near = mkDoc(7, 120)
    val docs = (Seq[(Option[Long], String)]((None, base)) ++
        (1L to 6L).map(i => (Some(i), base)) ++
        Seq((Some(20L), near),
          (Some(21L), near.split(" ").updated(5, "changed").mkString(" ")),
          (Some(30L), mkDoc(12, 60)), (None, mkDoc(13, 60))))
      .toDF("doc_id", "text")
    val byRoute = routes.map(limit => md5Rows(docs, cap = 3, limit))
    assert(byRoute.distinct.size === 1, s"routes differ: $byRoute")
    // cap 3 keeps (null, 1, 2) of the copies' buckets: one pair, not 15
    val copies = byRoute.head.filter(_._2 <= 6L)
    assert(copies.map(p => (p._1, p._2)) === Seq((1L, 2L)), s"capped rows: $copies")
    assert(byRoute.head.exists(p => p._1 == 20L && p._2 == 21L), s"rows: ${byRoute.head}")
    assert(md5Rows(docs, Int.MaxValue, Dedup.DriverLimit).count(_._2 <= 6L) === 15)
  }

  test("a corpus over the pair-count gate runs the distributed route, with the same rows") {
    // 30 copies of one text: 4 bands × C(30, 2) = 1740 bucket pairs,
    // 30 signatures
    val docs = (1L to 30L).map(i => (i, mkDoc(14, 40))).toDF("doc_id", "text")
    def out(limit: Int) = Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5,
      16, bands = 4, driverLimit = limit)
    assert(!isLocal(out(1000)), "1740 bucket pairs > 1000 must leave the driver route")
    assert(isLocal(out(1740)), "1740 bucket pairs <= 1740 stay on the driver")
    val want = md5Rows(docs, Int.MaxValue, 0)
    assert(want.size === 435)
    for (limit <- Seq(1000, 1740)) assert(md5Rows(docs, Int.MaxValue, limit) === want)
  }

  test("the gate counts the input's source rows, below its semi-joins") {
    val all = (1L to 30L).map(i => (i, mkDoc(if (i > 28) 1 else i.toInt, 40)))
      .toDF("doc_id", "text")
    // 20 rows survive the semi-join, out of a 30-row source
    val docs = all.join((1L to 30L).filter(_ % 3 != 0).toDF("doc_id"), Seq("doc_id"),
      "left_semi")
    assert(docs.count() === 20)
    assert(!isLocal(Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5, 16,
      bands = 4, driverLimit = 29)), "a 30-row source > 29 must leave the driver route")
    assert(isLocal(Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5, 16,
      bands = 4, driverLimit = 30)), "a 30-row source <= 30 stays on the driver")
    assert(md5Rows(docs, Int.MaxValue, 29) === md5Rows(docs, Int.MaxValue, 30))
    assert(md5Rows(docs, Int.MaxValue, 30).exists(p => p._1 == 1L && p._2 == 29L))
  }

  test("the driver route's row bound shrinks with the hash count: 64 hashes get a quarter of the rows") {
    // 30 docs of 64 hashes: 1920 minhashes, the 16-hash shape of 120 rows;
    // docs 29 and 30 copy doc 1, so the 16 bands hold at least 48 pairs
    val docs = (1L to 30L).map(i => (i, mkDoc(if (i > 28) 1 else i.toInt, 40)))
      .toDF("doc_id", "text")
    def rows(limit: Int) = xxNearDups(docs, limit).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(!isLocal(xxNearDups(docs, 119)), "1920 minhashes > 16 × 119 must leave the driver route")
    assert(isLocal(xxNearDups(docs, 120)), "1920 minhashes <= 16 × 120 stay on the driver")
    assert(rows(119) === rows(120))
    assert(rows(120).nonEmpty)
  }

  test("q158 runs at least 6 fewer jobs on the driver route than on the distributed one (sf0.001)") {
    import org.apache.spark.graft.JobCount
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def run(limit: Int) = JobCount(spark.sparkContext)(
      graft.queries.Text.curationCapstone(docs, limit).collect().toSeq)
    val (distRows, distJobs) = run(0)
    val (rows, jobs) = run(Dedup.DriverLimit)
    assert(rows === distRows)
    assert(jobs <= distJobs - 6, s"driver route $jobs jobs, distributed $distJobs")
  }

  private val xxSig64Pin: Map[Long, String] = Map(
    2L -> "a6bfc927cc00cc61815f5b9ab233ce5c", 3L -> "a6bfc927cc00cc61815f5b9ab233ce5c",
    4L -> "b12b6945c93e0948b6579e973b9bce2f", 5L -> "f053bacf41fa5ed289a86db93b704858",
    6L -> "469b8e22ddda4d5f9768f1f39e576666", 7L -> "469b8e22ddda4d5f9768f1f39e576666",
    8L -> "16310950310d516e2e241e2ef5debbe0", 9L -> "16310950310d516e2e241e2ef5debbe0",
    10L -> "a73e55628800d64f9a964d02d50e27dc", 11L -> "89aa0c28734bd52466a6826b1500b58b",
    12L -> "74580cb65f8f739401b35c1b11eb8b43", 13L -> "9cc8e6b605283c99da498097eaf651bf")
  private val xxSig128Pin: Map[Long, String] = Map(
    2L -> "11538ddf266d2c5e503a7e248e290c27", 3L -> "11538ddf266d2c5e503a7e248e290c27",
    4L -> "ee1284719ec3e5cdd97236053ff1ce5b", 5L -> "9a4cb457bcdb71b7348ff75870da55fe",
    6L -> "4b21f0d4503ea81f5e15556c6f561dc2", 7L -> "4b21f0d4503ea81f5e15556c6f561dc2",
    8L -> "d8d34efbfa9e6dcfbe3ff87f54e628d1", 9L -> "d8d34efbfa9e6dcfbe3ff87f54e628d1",
    10L -> "d34e54e3b40db5eb1c3e7b6ed85f474f", 11L -> "56d3cee076297f310fb48eee80323b9b",
    12L -> "8ad27aa945336c3ae041f79f10de3096", 13L -> "6528ac96998eac87faeccc897e72dd18")
  // (id_a, id_b, doubleToLongBits(jaccard)): 1.0, 7/9 and 26/50
  private val xxPairsPin: Seq[(Long, Long, Long)] = Seq(
    (2L, 3L, 4607182418800017408L), (6L, 7L, 4607182418800017408L),
    (8L, 9L, 4607182418800017408L), (8L, 10L, 4605180818965630521L),
    (9L, 10L, 4605180818965630521L), (11L, 12L, 4602858963157741732L))

  test("simhash near-dups: hamming<=maxDist pairs found via chunk pigeonhole") {
    val base = mkDoc(3, 200)
    val nearDup = base.split(" ").updated(10, "tweak").mkString(" ")
    val docs = (Seq((0L, base), (1L, nearDup)) ++
      (2L to 7L).map(i => (i, mkDoc(500 + i.toInt, 200)))).toDF("doc_id", "text")
    val withSh = Dedup.withSimhash(docs, "text", "sh")
    val shs = withSh.orderBy("doc_id").select("sh").as[Long].collect()
    val trueDist = java.lang.Long.bitCount(shs(0) ^ shs(1))
    val found = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 16)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    if (trueDist <= 16)
      assert(found.contains((0L, 1L, trueDist)),
        s"pair with hamming=$trueDist not found (pigeonhole guarantees <=3; 16 covers it only if chunks collide) found=$found")
    // pigeonhole guarantee holds unconditionally at <=3
    val close = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect()
    assert(close.forall(_.getInt(2) <= 3))
  }

  test("sign-LSH ANN top-k overlaps exact cosine top-k on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.signLshTopK(emb, queries, "vec_id", "embedding",
      k = 10, dim = 64, bits = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // every ANN hit must be a real corpus pair; recall should be non-trivial
    val overlap = exact.intersect(approx).size.toDouble / exact.size
    assert(approx.nonEmpty)
    assert(overlap > 0.2, s"ANN recall too low: $overlap")
  }

  test("cosineTopK guards the combiner's typed contract: string ids fall back, null vectors drop (ADVICE r13)") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding").limit(60)
    val queries = emb.filter(col("vec_id") < 3)
    val long = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
      .select(col("query_id").cast("string"), col("rnk"),
        col("neighbor_id").cast("string"), col("cosine"))
      .as[(String, Long, String, Double)].collect().toSet
    // non-long ids have no combiner contract — the windowed fallback
    // must produce the identical ranking (cosines here are tie-free, so
    // the long-vs-string tie-break order difference never bites)
    val s = emb.select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
    val sq = queries.select(col("vec_id").cast("string").as("vec_id"), col("embedding"))
    val str = Similarity.cosineTopK(s, sq, "vec_id", "embedding", 5)
      .as[(String, Long, String, Double)].collect().toSet
    assert(str === long, "windowed fallback must match the combiner path")
    // a null embedding yields a null cosine — not a neighbor, not a crash
    val withNull = emb.unionByName(
      Seq((9999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val guarded = Similarity.cosineTopK(withNull, queries, "vec_id", "embedding", 5)
      .select(col("query_id").cast("string"), col("rnk"),
        col("neighbor_id").cast("string"), col("cosine"))
      .as[(String, Long, String, Double)].collect().toSet
    assert(guarded === long, "null-vector corpus rows must be ignored")
  }

  test("langId picks marker language; und for unknown scripts") {
    val df = Seq(
      (1L, "the cat and the dog is a friend of mine"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "el perro y la casa de los amigos es que si"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(got(1L) === "en"); assert(got(2L) === "de")
    assert(got(3L) === "es"); assert(got(4L) === "und")
  }

  test("quality score stays in [0,1] and rewards stopword-rich prose") {
    val df = Seq(
      (1L, "the quick brown fox is one of the best dogs and a friend to all of us here"),
      (2L, "@#$% ^&* !!! ### $$$ %%%")).toDF("doc_id", "text")
    val s = df.select(col("doc_id"),
      TextOps.qualityScore(col("text"), graft.queries.Text.stops).as("q"))
      .orderBy("doc_id").as[(Long, Double)].collect().toMap
    assert(s.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(1L) > s(2L))
  }

  test("multimodal resize + frame sampling keep the batch contract") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).limit(20)
    val blobs = Multimodal.withBlob(docs, "text", "blob")
    val resized = Multimodal.resizeBlobs(blobs, "doc_id", "blob", 8, 4,
        resample = Multimodal.fakeResize)
      .orderBy("doc_id").collect()
    assert(resized.forall(_.getAs[Array[Byte]]("resized").length == 32))
    // idempotent under repartitioning
    val resized2 = Multimodal.resizeBlobs(blobs.repartition(3), "doc_id", "blob", 8, 4,
        resample = Multimodal.fakeResize)
      .orderBy("doc_id").collect()
    assert(resized.map(_.getAs[Array[Byte]]("resized").toSeq).toSeq ===
      resized2.map(_.getAs[Array[Byte]]("resized").toSeq).toSeq)
    val frames = Multimodal.sampleFrames(blobs, "doc_id", "blob",
      stride = 2, demux = Multimodal.fixedFrames(16)).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 16))
    assert(frames.forall(_.getInt(1) % 2 == 0), "only every stride-th frame kept")
  }

  test("multimodal extractFeatures is deterministic, dim-stable, partition-invariant") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).limit(50)
    val blobs = Multimodal.withBlob(docs, "text", "blob")
    val a = Multimodal.extractFeatures(blobs, "doc_id", "blob", 16,
        decode = Multimodal.fakeDecode)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b = Multimodal.extractFeatures(blobs.repartition(5), "doc_id", "blob", 16,
        decode = Multimodal.fakeDecode)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(a.forall(_._2.length == 16))
    assert(a.map { case (i, v) => (i, v.toSeq) }.toSeq ===
      b.map { case (i, v) => (i, v.toSeq) }.toSeq)
  }

  test("dupSpans: hand-computed spans, merge of overlap+adjacency, stats consistency") {
    // With n=3, minOccur=2:
    //  doc 1: "a b c d e f g h"  — shares grams with doc 2
    //  doc 2: "a b c d x y z a b c d e"
    //    corpus grams "a b c" (3×: d1@1, d2@1, d2@8), "b c d" (3×),
    //    "c d e" (2×: d1@3, d2@10) mark d1 positions 1,2,3 →
    //    one merged span [1,5]; d2 positions 1,2 → [1,4] and 8,9,10 →
    //    [8,12] ([1,4] and [8,12] stay separate: 8 > 4+1)
    //  doc 3: "p q r s t u v w" — no shared grams, no output row
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z a b c d e"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id", "s")
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans === Seq((1L, 1L, 5L), (2L, 1L, 4L), (2L, 8L, 12L)))

    val st = Dedup.dupSpanStats(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(st.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val byDoc = st.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byDoc(1L) === ((8L, 1L, 5L, 3L)))   // 8 tokens, 1 span, 5 dup, 3 kept
    assert(byDoc(2L) === ((12L, 2L, 9L, 3L)))  // 12 tokens, 2 spans, 9 dup, 3 kept

    val cleaned = ReferenceForms.removeDupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(cleaned(1L) === "f g h")
    assert(cleaned(2L) === "x y z")
    assert(cleaned(3L) === "p q r s t u v w") // untouched doc passes through
  }

  test("dupSpans: cleaned token count equals kept_tokens on real docs (sf0.001)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val stats = Dedup.dupSpanStats(docs, "doc_id", "text", n = 4)
    val cleaned = ReferenceForms.removeDupSpans(docs, "doc_id", "text", n = 4)
      .select(col("doc_id"),
        when(col("cleaned") === "", 0L)
          .otherwise(size(split(col("cleaned"), " ")).cast("long"))
          .as("n_clean"))
    // every flagged doc: tokens surviving the rewrite == kept_tokens;
    // spans must also be disjoint and ordered (dup_tokens == sum of
    // span lengths is already how stats are built, so compare against
    // the independent rewrite path instead)
    val bad = stats.join(cleaned, "doc_id")
      .filter(col("n_clean") =!= col("kept_tokens")).count()
    assert(bad === 0L)
    assert(stats.count() > 0, "sf0.001 corpus should contain dup 4-grams")
  }

  test("incrementalDedup classifies corpus-dup, batch-dup (earlier id wins), new") {
    val existing = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "  Alpha   beta GAMMA "), // canonical copy of corpus doc 1
      (11L, "fresh content one"),
      (12L, "repeated in batch"),
      (13L, "repeated  in   batch"),  // same canonical text as 12
      (14L, "fresh content two")).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(incoming, existing, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got === Map(10L -> "dup_corpus", 11L -> "new", 12L -> "new",
      13L -> "dup_batch", 14L -> "new"))
  }

  test("domainCap keeps the cap best per group, ties to smaller id") {
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.5), ("a", 3L, 0.9), ("a", 4L, 0.7),
      ("b", 5L, 0.1)).toDF("src", "id", "score")
    val got = TextOps.domainCap(df, "src", "id", "score", cap = 2)
      .select("src", "cap_rank", "id").orderBy("src", "cap_rank")
      .as[(String, Long, Long)].collect().toSeq
    // group a: 0.9 tie between ids 1 and 3 -> 1 first, then 3; 0.7/0.5 cut
    assert(got === Seq(("a", 1L, 1L), ("a", 2L, 3L), ("b", 1L, 5L)))
  }

  test("datasheet cube: marginals match direct groupBys, flags mark rollups") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ds = TextOps.datasheet(docs, Seq("lang", "source"), "text",
      graft.queries.Text.stops).collect()
    val total = docs.count()
    // grand total row: both dims rolled up
    val grand = ds.filter(r => r.getLong(2) == 1L && r.getLong(3) == 1L)
    assert(grand.length === 1 && grand.head.getLong(4) === total)
    // per-lang marginal equals a direct groupBy
    val direct = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perLang = ds.filter(r => r.getLong(2) == 0L && r.getLong(3) == 1L)
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(perLang === direct)
    // cell counts sum to the total within each slice
    val cells = ds.filter(r => r.getLong(2) == 0L && r.getLong(3) == 0L)
    assert(cells.map(_.getLong(4)).sum === total)
  }

  test("semanticContamination: planted copy flags at cos 1.0, orthogonal stays clean") {
    val ev = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f)),   // colinear with eval 100 -> cos 1.0
      (2L, Array(0.0f, 0.0f, 5.0f)),   // orthogonal to both -> clean
      (3L, Array(1.0f, 1.0f, 0.0f)))   // cos ~0.707 to BOTH evals -> 2 hits
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(train, ev, "vec_id",
        "embedding", minCos = 0.5)
      .orderBy("train_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(1L, 3L))
    val m = got.map(r => r._1 -> r).toMap
    assert(m(1L)._2 === 1L && m(1L)._3 === 100L && m(1L)._4 === 1.0)
    // two equal-cosine hits: best ties to the SMALLER eval id
    assert(m(3L)._2 === 2L && m(3L)._3 === 100L)
    assert(math.abs(m(3L)._4 - math.sqrt(0.5)) < 1e-15)
  }
}

/** Native exact_dot expression: bit-parity with the declarative HOF form,
  * SQL registration via GraftExtensions, codegen path.
  */
class ExactDotSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark // carries GraftExtensions
  import org.apache.spark.sql.functions._

  test("native exact_dot matches the HOF decimal fold bit-for-bit") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
    val both = emb.select(
      graft.sim.Similarity.dotExact(col("embedding"), col("embedding")).as("native"),
      ReferenceForms.dotExactHof(col("embedding"), col("embedding")).as("hof"))
    val bad = both.filter(col("native") =!= col("hof")).count()
    assert(bad === 0L, "native and HOF dot products must be identical")
  }

  test("native double_dot matches the HOF double fold bit-for-bit") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
    val both = emb.select(
      graft.sim.Similarity.dot(col("embedding"), col("embedding")).as("native"),
      ReferenceForms.dotHof(col("embedding"), col("embedding")).as("hof"))
    val bad = both.filter(col("native") =!= col("hof")).count()
    assert(bad === 0L, "native and HOF double dots must be identical")
  }

  test("exact_dot is SQL-registered through GraftExtensions") {
    val r = spark.sql("SELECT exact_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT)))").head().getDouble(0)
    assert(r === 4.0)
  }

  test("md5hash64 is SQL-registered through GraftExtensions") {
    val viaSql = spark.sql(
      "SELECT md5hash64(CAST('exact' AS BINARY))").head().getLong(0)
    val viaColumn = spark.sql("SELECT 'exact' AS s")
      .select(graft.dedup.Dedup.md5Hash64(org.apache.spark.sql.functions.col("s")))
      .head().getLong(0)
    assert(viaSql === viaColumn)
  }

  test("nfc matches java.text.Normalizer, codegen and interpreted") {
    import spark.implicits._
    val cases = Seq(
      "café",          // e + combining acute → é
      "Ångström", // ring + diaeresis
      "already composed é Å",
      "plain ascii", "", "Á̧")
    val df = cases.toDF("s")
      .withColumn("n", graft.text.TextOps.nfc(col("s")))
    val want = cases.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    assert(df.select("n").collect().map(_.getString(0)).toSeq === want)
    // interpreted path (no codegen) must agree
    val interp = cases.map(s => graft.functions.NfcNormalize.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString)
    assert(interp === want)
    // SQL registration
    assert(spark.sql("SELECT nfc('café')").head().getString(0)
      === "café")
  }

  test("cleanText is idempotent and normalizes ws/control/NFD exactly once") {
    import spark.implicits._
    val dirty = Seq(
      "  ab  c\td\n\nef  ",
      "café   x",
      "", " \t ", "clean").toDF("s")
    val once = dirty.select(graft.text.TextOps.cleanText(col("s")).as("c"))
    val twice = once.select(graft.text.TextOps.cleanText(col("c")).as("c"))
    assert(once.collect().map(_.getString(0)).toSeq ===
      twice.collect().map(_.getString(0)).toSeq)
    assert(once.collect().map(_.getString(0)).toSeq ===
      Seq("ab c d e f", "café x", "", "", "clean"))
  }
}

/** IVF ANN and salted-join correctness. */
class IvfSkewSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("IVF top-k overlaps exact cosine top-k; full probe = exact (scale path)") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = graft.sim.Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = graft.sim.Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCells = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    assert(exact.intersect(ivf).size.toDouble / exact.size > 0.3,
      "IVF recall too low at nProbe=3/8")
    val full = graft.sim.Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCells = 8, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === exact, "probing every cell must equal exact search")
  }

  test("salted join equals plain join (deterministic salt) under hot keys") {
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 50}", i))
      .toDF("key", "v")
    val dim = (0 until 50).map(i => (s"k$i", i * 1.0)).toDF("key", "w")
      .union(Seq(("hot", 99.0)).toDF("key", "w"))
    val plain = fact.join(dim, "key").agg(count(lit(1)), sum("v"), sum("w")).head()
    val salted = graft.ops.Skew.saltedJoin(fact, dim, "key", salts = 8,
      saltExpr = Some(col("v"))).agg(count(lit(1)), sum("v"), sum("w")).head()
    assert(plain === salted)
  }

  test("keySkewReport: counts, shares, hot ratio and salt plan on a skewed key") {
    // a: 120 rows, b: 30, c: 10 → total 160 over 3 keys (mean 53.33)
    val df = (Seq.fill(120)("a") ++ Seq.fill(30)("b") ++ Seq.fill(10)("c"))
      .toDF("k").repartition(7) // report must be partitioning-invariant
    val r = graft.ops.Skew.keySkewReport(df, "k", targetPerTask = 50, topK = 2)
      .orderBy("rank").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getDouble(3),
        x.getDouble(4), x.getLong(5)))
    assert(r.length === 2, "topK bounds the report")
    // hot key: 75% share, 2.25x the mean, needs ceil(120/50) = 3 salts
    assert(r(0) === ((1L, "a", 120L, 0.75, 2.25, 3L)))
    // warm key fits one task: salts = 1 (no salting)
    assert(r(1) === ((2L, "b", 30L, 0.1875, 0.5625, 1L)))
  }

  test("prefixJaccardPairs = jaccardPairs exactly, incl. boilerplate-heavy corpus") {
    // Fixture engineered so the prefix filter MUST prune: "copyright
    // footer boilerplate trailer" shingles appear in every doc (highest
    // frequency → suffix, never joined), while each near-dup pair shares
    // rare content shingles that land in the prefix. Pairs straddle the
    // 0.5 threshold, and one doc is shorter than the shingle size.
    val boiler = "copyright footer boilerplate trailer all rights reserved"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (2L, s"alpha beta gamma delta epsilon zeta $boiler"), // exact dup of 1
      (3L, s"alpha beta gamma delta epsilon eta $boiler"),  // near dup of 1/2
      (4L, s"one two three four five six seven $boiler"),   // unrelated + boiler
      (5L, s"one two three four nine ten eleven $boiler"),  // partial overlap w/ 4
      (6L, "tiny doc"),                                     // < shingle size
      (7L, "tiny doc")                                      // dup of the short one
    ).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      val pref = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      assert(pref === exact, s"threshold $t")
      assert(exact.nonEmpty, s"threshold $t fixture must produce pairs")
    }
    // the boilerplate-only overlap between unrelated docs stays below 0.5
    val at05 = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at05.contains((1L, 2L)) && at05.contains((6L, 7L)))
    assert(!at05.exists { case (a, b) => (a <= 3 && b >= 4 && b <= 5) })
  }

  test("prefixJaccardPairs prefix prune: hot shingle generates no candidates") {
    // Every doc shares ONE hot shingle; contents are otherwise disjoint.
    // The plain equi-join would emit n^2/2 candidate rows through the hot
    // key; the prefix path must emit zero pairs (nothing qualifies) —
    // and, structurally, the hot shingle must fall outside every prefix.
    val hot = "shared hot shingle"
    val docs = (1 to 40).map(i =>
      (i.toLong, s"$hot u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"))
      .toDF("doc_id", "text")
    assert(Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.5).count() === 0L)
    // cross-check vs exact on a corpus where only the hot key overlaps
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).count() === 0L)
  }

  test("chunkWindows: hand-computed windows, overlap, clamped tail, degenerate doc") {
    import spark.implicits._
    // 10 tokens, window 4, overlap 2 (stride 2): starts 0,2,4,6 →
    // nch = floor((10-4+1)/2)+1 = 4 — the tail window [6..9] is full;
    // with 11 tokens a 5th clamped window [8..10] appears
    val doc10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val doc11 = (1 to 11).map(i => s"w$i").mkString(" ")
    val out = Seq((10L, doc10), (11L, doc11), (12L, "a b"), (13L, "solo"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(TextOps.chunkWindows(col("text"), 4, 2)).as("c"))
      .select(col("doc_id"), col("c.idx"), col("c.chunk"), col("c.n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val by = out.groupBy(_._1)
    assert(by(10L).sortBy(_._2).map(_._3).toSeq === Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(by(11L).sortBy(_._2).map(t => (t._3, t._4)).toSeq === Seq(
      ("w1 w2 w3 w4", 4L), ("w3 w4 w5 w6", 4L), ("w5 w6 w7 w8", 4L),
      ("w7 w8 w9 w10", 4L), ("w9 w10 w11", 3L)))
    // shorter than one window: exactly one chunk, the whole doc
    assert(by(12L).toSeq === Seq((12L, 0L, "a b", 2L)))
    assert(by(13L).toSeq === Seq((13L, 0L, "solo", 1L)))
    // coverage: consecutive windows overlap by exactly `overlap` tokens
    val c10 = by(10L).sortBy(_._2).map(_._3.split(" ").toSeq).toSeq
    c10.sliding(2).foreach { w =>
      assert(w(0).takeRight(2) === w(1).take(2),
        "adjacent chunks must overlap by 2")
    }
  }

  test("htmlToText: script/style drop with contents, entities, decode-last &amp;") {
    val cases = Seq(
      "<p>a</p><p>b</p>" -> "a b",
      "<script>ignore me <b>fully</b></script>kept" -> "kept",
      "<STYLE media=x>p{}</STYLE>kept" -> "kept",
      "x &amp;lt; y" -> "x &lt; y",          // pre-escaped survives one decode
      "5 &lt; 10 &amp; 2 &gt; 1" -> "5 < 10 & 2 > 1",
      "it&#39;s &quot;q&quot;&nbsp;!" -> "it's \"q\" !",
      "no markup" -> "no markup",
      // truncated crawl: unclosed script drops to end-of-input, not leak
      "kept<script src=x>var leak=1; <b>y" -> "kept",
      "kept<style>p{}" -> "kept",
      // anchored tag name: <scripty> is a generic tag, not a script
      "<scripty>shown</scripty> tail" -> "shown tail")
    val got = cases.map(_._1).toDF("t")
      .select(graft.text.TextOps.cleanText(
        graft.text.TextOps.htmlToText(col("t"))).as("p"))
      .collect().map(_.getString(0)).toSeq
    assert(got === cases.map(_._2))
  }

  test("containmentPairs: subset docs score 1.0 where jaccard stays low") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),     // 8 shingles
      (2L, "a b c d e"),               // 3 shingles, all inside doc 1
      (3L, "x y z w v"),               // disjoint
      (4L, "a b c d e f g h i j"))     // exact dup of 1
      .toDF("doc_id", "text")
    val got = ReferenceForms.containmentPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    // (1,2): containment 3/3 = 1.0 but jaccard 3/8 — found here, invisible
    // to jaccardPairs at 0.5; (1,4): both metrics 1.0; nothing touches 3
    assert(got === Set((1L, 2L, 1.0), (1L, 4L, 1.0), (2L, 4L, 1.0)))
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)), "symmetric jaccard must miss the subset pair")
    assert(jac.contains((1L, 4L)))
  }

  test("prefixContainmentPairs = containmentPairs exactly, incl. subset + boilerplate") {
    // Union of the containment fixture (subset pair (1,2), exact dup
    // (1,4)) and the boilerplate corpus from the prefixJaccardPairs
    // test: the hot boilerplate shingles sort to the suffix and must
    // never generate candidates, while subset pairs — whose jaccard
    // the symmetric prefix bound would discard — must survive the
    // asymmetric small-side prefix. Thresholds bracket the boundary,
    // including t where t·nsh is an inexact binary double (0.8·5).
    val boiler = "copyright footer boilerplate trailer all rights reserved"
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e"), // 3 shingles, all inside doc 1: containment 1.0
      (3L, "x y z w v"),
      (4L, "a b c d e f g h i j"), // exact dup of 1
      (11L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (12L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (13L, s"alpha beta gamma delta epsilon eta $boiler"),
      (14L, s"one two three four five six seven $boiler"),
      (15L, s"one two three four nine ten eleven $boiler"),
      (16L, "tiny doc"),
      (17L, "tiny doc")).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))
    for (t <- Seq(0.5, 0.8, 0.9, 1.0)) {
      val exact = ReferenceForms.containmentPairs(docs, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      val pref = Dedup.prefixContainmentPairs(docs, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      assert(pref === exact, s"threshold $t")
      assert(exact.nonEmpty, s"threshold $t fixture must produce pairs")
    }
    // the subset pair survives the asymmetric prefix at t = 1.0
    val at1 = Dedup.prefixContainmentPairs(docs, "doc_id", "text", 3, 1.0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at1.contains((1L, 2L)) && at1.contains((1L, 4L)))
  }

  test("prefixContainmentPairs prefix prune: hot shingle generates no candidates") {
    // Every doc shares ONE hot shingle; contents otherwise disjoint and
    // equally sized, so no pair can reach containment 0.8. The plain
    // equi-join would push n²/2 candidate rows through the hot key; the
    // prefix path must emit zero pairs, with the hot shingle falling
    // outside every (equal-length ⇒ same prefix length) doc's prefix.
    val hot = "shared hot shingle"
    val docs = (1 to 40).map(i =>
      (i.toLong, s"$hot u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"))
      .toDF("doc_id", "text")
    assert(Dedup.prefixContainmentPairs(docs, "doc_id", "text", 3, 0.8)
      .count() === 0L)
    assert(ReferenceForms.containmentPairs(docs, "doc_id", "text", 3, 0.8)
      .count() === 0L)
  }

  // 3 planted duplicate families (tight cones around orthogonal axes)
  // plus isolated singletons; cosine within a family ≥ ~0.999, across
  // families ~0 — threshold 0.9 separates them cleanly.
  private def semFixture = {
    def v(axis: Int, eps: Float): Seq[Float] = {
      val a = Array.fill(8)(0.0f); a(axis) = 1.0f; a((axis + 1) % 8) = eps; a.toSeq
    }
    (Seq((1L, v(0, 0.00f)), (2L, v(0, 0.01f)), (3L, v(0, 0.02f)),
      (10L, v(2, 0.00f)), (11L, v(2, 0.01f)),
      (20L, v(4, 0.00f)), (21L, v(4, 0.015f)), (22L, v(4, 0.03f)),
      (30L, v(6, 0.0f)), (40L, v(7, 0.0f)))).toDF("vec_id", "embedding")
  }

  test("semDeDup at nCells=1 equals brute-force cosine components + keep rule") {
    val df = semFixture
    val got = Similarity.semDeDup(df, "vec_id", "embedding",
      nCells = 1, threshold = 0.9).collect()
    // independent brute-force replay: all-pairs exact cosine, components,
    // farthest-from-centroid keeper
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val ids = rows.map(_._1)
    val vecs = rows.toMap
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (i <- ids; j <- ids if i < j if cos(vecs(i), vecs(j)) >= 0.9 - 1e-12) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val comps = ids.groupBy(find).filter(_._2.length > 1)
    val wantMembers = comps.toSeq.flatMap { case (_, ms) =>
      ms.toSeq.map(m => m -> ms.min) }.toMap
    assert(got.map(r => r.getLong(0) -> r.getLong(2)).toMap === wantMembers)
    // exactly one kept per group; the keeper maximizes distance to the
    // single global centroid (nCells=1 ⇒ same centroid for every member)
    val keptPerGroup = got.groupBy(_.getLong(2))
      .map { case (g, rs) => g -> rs.count(_.getInt(4) == 1) }
    assert(keptPerGroup.values.forall(_ == 1))
    got.groupBy(_.getLong(2)).foreach { case (_, rs) =>
      val kept = rs.find(_.getInt(4) == 1).get
      val maxD = rs.map(_.getDouble(3)).max
      assert(kept.getDouble(3) == maxD,
        s"keeper must be farthest from centroid in group ${kept.getLong(2)}")
    }
  }

  test("semDeDup is invariant to input partitioning and row order") {
    val df = semFixture
    val base = Similarity.semDeDup(df, "vec_id", "embedding",
      nCells = 3, threshold = 0.9).collect().sortBy(_.getLong(0))
    val reparted = Similarity.semDeDup(
      df.repartition(7, col("vec_id")).sortWithinPartitions(col("vec_id").desc),
      "vec_id", "embedding", nCells = 3, threshold = 0.9)
      .collect().sortBy(_.getLong(0))
    assert(base.map(_.toString).toSeq === reparted.map(_.toString).toSeq)
    assert(base.nonEmpty)
  }

  test("semDeDup confines pairs to cells: nCells = n separates everything") {
    // one cell per vector ⇒ every cell is a singleton ⇒ no pairs at all,
    // regardless of similarity — the within-cell contract, explicitly
    val df = semFixture
    val got = Similarity.semDeDup(df, "vec_id", "embedding",
      nCells = 10, threshold = 0.9)
    assert(got.count() === 0L)
  }
}
