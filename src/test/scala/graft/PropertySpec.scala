package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{Fills, Lags, Reshape, Splits}

/** Seeded generator-driven properties for the order-sensitive combinators
  * (SURVEY.md §5.3: fill limits, diff inverses, union alignment, CV-split
  * coverage/disjointness). ScalaCheck generators are sampled under fixed
  * seeds (the scalatest-scalacheck bridge isn't in the offline cache), so
  * every run checks the same case set deterministically.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val seriesGen: Gen[List[Option[Double]]] =
    Gen.choose(8, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(
        Gen.const(Option.empty[Double]),
        Gen.choose(-100.0, 100.0).map(v => Some(math.rint(v * 100) / 100)))))

  test("ffill with limit never reaches past the limit, preserves non-nulls") {
    for (s <- 1 to 12) {
      val xs = sample(seriesGen, s)
      val limit = 1 + (s % 5)
      val df = xs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      val filled = df.withColumn("f",
        coalesce(col("v"), Fills.ffill(col("v"), Nil, Seq(col("i")), Some(limit))))
        .orderBy("i").select("f").collect().map(r =>
          if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      val arr = xs.toArray
      filled.zipWithIndex.foreach { case (got, i) =>
        val expected = arr(i).orElse {
          (1 to limit).map(i - _).find(j => j >= 0 && arr(j).isDefined)
            .flatMap(j => arr(j))
        }
        assert(got === expected, s"seed $s at row $i limit $limit")
      }
    }
  }

  test("d-th difference matches the binomial formula (diff/undiff contract)") {
    for (s <- 1 to 8) {
      val xs = sample(Gen.listOfN(25, Gen.choose(-50.0, 50.0)), 100 + s)
      val d = 1 + (s % 3)
      val df = xs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      val diffed = Lags.withDiff(df, "v", Seq("i"), d, "dv")
        .orderBy("i").select("dv").collect()
      val arr = xs.toArray
      def c(n: Int, k: Int): Long =
        (1 to k).foldLeft(1L)((a, i) => a * (n - i + 1) / i)
      for (t <- d until arr.length) {
        val expected = (0 to d).map(k => math.pow(-1, k) * c(d, k) * arr(t - k)).sum
        assert(math.abs(diffed(t).getDouble(0) - expected) < 1e-6,
          s"seed $s d=$d t=$t")
      }
      // warm-up rows are null
      (0 until d).foreach(t => assert(diffed(t).isNullAt(0)))
    }
  }

  test("unionAligned keeps every row and pads missing columns with null") {
    for (s <- 1 to 10) {
      val n1 = sample(Gen.choose(0, 10), 200 + s)
      val n2 = sample(Gen.choose(0, 10), 300 + s)
      val a = (0 until n1).map(i => (i, s"a$i")).toDF("id", "only_a")
      val b = (0 until n2).map(i => (i, i * 1.5)).toDF("id", "only_b")
      val u = Reshape.unionAligned(Seq(a, b))
      assert(u.count() === n1 + n2)
      assert(u.filter(col("only_a").isNotNull).count() === n1)
      assert(u.filter(col("only_b").isNotNull).count() === n2)
    }
  }

  test("dtwBounded: exact early abandon — equal below cutoff, +inf at/above") {
    import graft.ml.Clustering
    for (s <- 1 to 20) {
      val n = sample(Gen.choose(3, 40), 600 + s)
      val a = sample(Gen.listOfN(n, Gen.choose(-5.0, 5.0)), 700 + s).toArray
      val b = sample(Gen.listOfN(n, Gen.choose(-5.0, 5.0)), 800 + s).toArray
      val exact = Clustering.dtw(a, b)
      // cutoff above the true distance: identical result, bit for bit
      assert(Clustering.dtwBounded(a, b, exact * 1.01 + 1e-9) === exact)
      // cutoff at/below the true distance: the result must be unusable
      // for a best-so-far comparison — either an exact abandon (+inf)
      // or the completed exact value (which is >= the cutoff). Both are
      // correct: abandonment triggers only when a full DP row crosses
      // the bound.
      for (cut <- Seq(exact * 0.99, exact * 0.5, 0.0)) {
        val r = Clustering.dtwBounded(a, b, cut)
        assert(r === Double.PositiveInfinity || r === exact, s"seed $s cut $cut")
        assert(r >= cut, s"seed $s cut $cut")
      }
    }
  }

  test("dupGroups matches brute-force union-find on random graphs") {
    import graft.dedup.Dedup
    for (s <- 1 to 6) {
      val nNodes = sample(Gen.choose(4, 24), 900 + s)
      val nEdges = sample(Gen.choose(1, 30), 1000 + s)
      val edges = (0 until nEdges).map { e =>
        val a = sample(Gen.choose(0L, nNodes - 1L), 1100 + s * 100 + e)
        val b = sample(Gen.choose(0L, nNodes - 1L), 1200 + s * 100 + e)
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      if (edges.nonEmpty) {
        // brute-force union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(x => x -> find(x)).toMap
        for (threshold <- Seq(100000L, 0L)) {
          val got = Dedup.dupGroups(edges.toDF("id_a", "id_b"),
            driverThreshold = threshold).collect()
            .map(r => r.getLong(1) -> r.getLong(0)).toMap
          assert(got === expected, s"seed $s threshold=$threshold edges=$edges")
        }
      }
    }
  }

  // Random documents over a vocabulary whose UTF-8 byte order and UTF-16
  // order disagree ("ﬀ" U+FB00 vs "😀" U+1F600), with empty tokens from
  // tabs (trim strips spaces only), and 0..12 tokens, so every n sees
  // both the short-doc and the positional shingle forms.
  private def unicodeDocs = (1 to 60).map { s =>
    val vocab = Seq("a", "b", "The", "é", "ÉCOLE", "日本", "ﬀ", "😀", "x",
      "ß", "Ωmega")
    val toks = sample(Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))), 1500 + s)
    val sep = sample(Gen.oneOf(" ", "  ", "\t", " \t "), 1600 + s)
    val edge = sample(Gen.oneOf("", " ", "\t"), 1700 + s)
    (s.toLong, edge + toks.mkString(sep) + edge)
  }.toDF("doc_id", "text")

  private def shingleRef(n: Int) = {
    import graft.dedup.Dedup
    array_sort(Dedup.shingles(coalesce(col("text"), lit("")), n))
  }

  test("native shingle set ≡ array_sort(Dedup.shingles) on random Unicode docs") {
    import graft.text.TextOps
    import org.apache.spark.sql.graft.Bridge
    val docs = unicodeDocs
    for (n <- 1 to 4) {
      val toks = TextOps.tokens(coalesce(col("text"), lit("")))
      val rows = docs.select(toks.as("t"),
          Bridge.column(graft.functions.ShingleSet(Bridge.expression(toks), n)).as("got"),
          shingleRef(n).as("want"))
        .collect()
      rows.foreach { r =>
        val want = r.getSeq[String](2)
        assert(r.getSeq[String](1) === want, s"n=$n tokens=${r.getSeq[String](0)}")
        // interpreted path: the static compute on the same tokens
        val t = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          r.getSeq[String](0).map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
        val interp = graft.functions.ShingleSet.compute(t, n)
        assert((0 until interp.numElements()).map(interp.getUTF8String(_).toString) === want)
      }
    }
  }

  test("md5 MinHash signature ≡ driver-side min over Dedup.shingles, set merge ≡ set intersect") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.graft.Bridge
    val docs = unicodeDocs
    val consts = (0 until 16).map(i => Dedup.md5Const64(s"graft-minhash#$i"))
    for (n <- Seq(1, 3)) {
      val sets = docs.select(col("doc_id"), shingleRef(n).as("sh")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        graft.functions.MinHashFamily.Md5, 16, n).collect()
      assert(sigs.length === sets.size)
      sigs.foreach { r =>
        val sh = sets(r.getLong(0))
        assert(r.getSeq[Long](1) === consts.map(c => sh.map(Dedup.md5Const64(_) ^ c).min),
          s"n=$n doc ${r.getLong(0)}")
      }
      // pairwise merge count over the same sorted sets
      val pairs = docs.select(col("doc_id").as("a"), shingleRef(n).as("sa"))
        .crossJoin(docs.select(col("doc_id").as("b"), shingleRef(n).as("sb")))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"), Bridge.column(graft.functions.SortedStringIntersectSize(
          Bridge.expression(col("sa")), Bridge.expression(col("sb")))).as("k"))
        .collect()
      pairs.foreach(r => assert(r.getLong(2) ===
        (sets(r.getLong(0)).toSet & sets(r.getLong(1)).toSet).size, s"n=$n $r"))
    }
  }

  test("xxhash64 MinHash signature ≡ driver-side min over Spark's xxhash64 of Dedup.shingles") {
    import graft.dedup.Dedup
    val docs = unicodeDocs
    val consts = (0 until 64).map(i => Dedup.md5Const64(s"graft-minhash-xx/42#$i"))
    for (n <- Seq(1, 3)) {
      val hashes = docs.select(col("doc_id"), explode(shingleRef(n)).as("s"))
        .select(col("doc_id"), xxhash64(col("s"))).collect()
        .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)) }
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        graft.functions.MinHashFamily.XxHash64, 64, n).collect()
      assert(sigs.length === hashes.size)
      sigs.foreach { r =>
        val hs = hashes(r.getLong(0))
        assert(r.getSeq[Long](1) === consts.map(c => hs.map(_ ^ c).min),
          s"n=$n doc ${r.getLong(0)}")
      }
    }
  }

  test("wordNgrams: count and width invariants") {
    import graft.text.TextOps
    for (s <- 1 to 10) {
      val nTok = sample(Gen.choose(1, 15), 1300 + s)
      val n = sample(Gen.choose(2, 4), 1400 + s)
      val words = (0 until nTok).map(i => s"w$i")
      val df = Seq(Tuple1(words.mkString(" "))).toDF("text")
      val grams = df.select(TextOps.wordNgrams(col("text"), n).as("g"))
        .head().getSeq[String](0)
      if (nTok >= n) {
        assert(grams.length === nTok - n + 1)
        assert(grams.forall(_.split(" ").length === n))
        assert(grams.head === words.take(n).mkString(" "))
        assert(grams.last === words.takeRight(n).mkString(" "))
      } else {
        assert(grams === Seq(words.mkString(" ")))
      }
    }
  }

  test("shingleHashes set structure matches true-string shingles — random docs") {
    // Cross-validates the two independent shingle-identity builders —
    // the rotate-xor token-hash combine (shingleHashes, the round-13
    // let-bound form) against the true shingle STRINGS the readable
    // shingles() expression emits. The hash VALUES are a different
    // function by design; what must agree is the set STRUCTURE the
    // Jaccard/minhash chains consume: per-doc distinct cardinality and
    // every cross-doc intersection size (a combine collision or a
    // dropped/duplicated gram would break one of them; random small
    // vocab forces heavy cross-doc overlap so intersections are
    // non-trivial).
    import graft.dedup.Dedup
    val docGen = for {
      nTok <- Gen.choose(0, 40)
      toks <- Gen.listOfN(nTok, Gen.oneOf("alpha", "beta", "gamma",
        "delta", "x1", "y2", "Zz", "MiXeD"))
    } yield toks.mkString(" ")
    for (s <- 1 to 8) {
      val n = sample(Gen.choose(2, 4), 1700 + s)
      val txtA = sample(docGen, 1600 + s)
      val txtB = sample(docGen, 1650 + s)
      val df = Seq((txtA, txtB)).toDF("a", "b")
      val row = df.select(
        size(Dedup.shingleHashes(col("a"), n)).as("nh_a"),
        size(Dedup.shingles(col("a"), n)).as("ns_a"),
        size(Dedup.shingleHashes(col("b"), n)).as("nh_b"),
        size(Dedup.shingles(col("b"), n)).as("ns_b"),
        size(array_intersect(Dedup.shingleHashes(col("a"), n),
          Dedup.shingleHashes(col("b"), n))).as("ih"),
        size(array_intersect(Dedup.shingles(col("a"), n),
          Dedup.shingles(col("b"), n))).as("is"))
        .head()
      assert(row.getInt(0) === row.getInt(1),
        s"doc-a cardinality diverges on '$txtA' at n=$n")
      assert(row.getInt(2) === row.getInt(3),
        s"doc-b cardinality diverges on '$txtB' at n=$n")
      assert(row.getInt(4) === row.getInt(5),
        s"intersection diverges on '$txtA' ∩ '$txtB' at n=$n")
    }
  }

  test("Exact.dsum is bit-identical under any partitioning (vs sequential decimal)") {
    // the engine's exactness contract in one assertion: the distributed
    // decimal sum must equal a single-threaded BigDecimal fold for EVERY
    // partitioning — double sum would drift in the low bits
    for (s <- 1 to 8) {
      val xs = sample(Gen.listOfN(200,
        Gen.choose(-1e6, 1e6).map(v => math.rint(v * 100) / 100)), 1500 + s)
      val expected = xs.map(v =>
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val df = xs.toDF("v")
      for (parts <- Seq(1, 3, 7, 32)) {
        val got = df.repartition(parts)
          .agg(graft.ops.Exact.dsum(col("v"))).head().getDouble(0)
        assert(got === expected, s"seed $s parts=$parts")
      }
    }
  }

  test("blocked folds: total coverage, contiguity, val-suffix — any (n, k)") {
    for (s <- 1 to 10) {
      val n = sample(Gen.choose(10, 120), 400 + s)
      val k = sample(Gen.choose(2, 6), 500 + s)
      val df = (0 until n).map(i => (i, i * 2.0)).toDF("i", "v")
      val folds = Splits.blockedFolds(df, Seq("i"), k, 0.2)
        .select("i", "fold", "is_val").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2))).sortBy(_._1)
      assert(folds.length === n, s"n=$n k=$k: every row exactly once")
      assert(folds.map(_._2).distinct.sorted.toSeq === (0 until k))
      assert(folds.map(_._2).toSeq === folds.map(_._2).sorted.toSeq,
        "fold ids must be contiguous in row order")
      for (f <- 0 until k) {
        val block = folds.filter(_._2 == f)
        val firstVal = block.indexWhere(_._3)
        if (firstVal >= 0) assert(block.drop(firstVal).forall(_._3),
          s"n=$n k=$k fold $f: val rows must be a suffix")
      }
    }
  }

  test("cleanText: idempotent, no control chars, ws-collapsed — random strings") {
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '\r', '', '\f'),
      1 -> Gen.oneOf('', '', '', ''),
      1 -> Gen.oneOf('é', 'e', '́', 'Å', 'A', '̊'))
    val strGen = Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    for (s <- 1 to 20) {
      val raw = sample(strGen, s)
      val df = Seq(Tuple1(raw)).toDF("t")
      val once = df.select(graft.text.TextOps.cleanText(col("t")).as("c"))
        .head().getString(0)
      val twice = df.select(graft.text.TextOps.cleanText(
        graft.text.TextOps.cleanText(col("t"))).as("c")).head().getString(0)
      assert(once === twice, s"not idempotent on ${raw.map(_.toInt)}")
      assert(!once.exists(c => c < ' ' || c == ''),
        s"control char survived in ${once.map(_.toInt)}")
      assert(!once.contains("  "), s"double space survived: '$once'")
      assert(once == once.trim, s"untrimmed: '$once'")
      assert(java.text.Normalizer.isNormalized(once,
        java.text.Normalizer.Form.NFC), s"not NFC: ${once.map(_.toInt)}")
    }
  }

  test("chunkWindows: full coverage and exact reconstruction — random docs") {
    val docGen = Gen.choose(1, 120).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 999).map(i => s"t$i")).map(_.mkString(" ")))
    for (s <- 1 to 15) {
      val doc = sample(docGen, s)
      val toks = doc.split(" ").toSeq
      val (size, overlap) = (1 + s % 3 match {
        case 1 => (8, 3); case 2 => (16, 0); case _ => (5, 4)
      })
      val chunks = Seq(Tuple1(doc)).toDF("t")
        .select(explode(graft.text.TextOps.chunkWindows(col("t"), size, overlap)).as("c"))
        .select("c.idx", "c.chunk", "c.n_tokens").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      val stride = size - overlap
      // every window k covers tokens [k*stride, k*stride+size) clamped;
      // reconstructing from the windows yields the original token stream
      chunks.foreach { case (k, chunk, n) =>
        val want = toks.slice((k * stride).toInt, (k * stride).toInt + size)
        assert(chunk === want.mkString(" "), s"window $k mismatch")
        assert(n === want.length.toLong)
      }
      // coverage: the last window must reach the final token
      val (lastK, _, lastN) = chunks.last
      assert(lastK * stride + lastN >= toks.length.toLong,
        s"tail token uncovered: doc=${toks.length} size=$size ov=$overlap")
      // no fully-redundant window: each window past the first adds ≥1 new token
      assert(chunks.forall { case (k, _, n) => k == 0L || n > overlap || k * stride + n >= toks.length },
        "window adds no new tokens")
    }
  }

  test("lshBucket: exact-decimal and double-fold buckets agree on random vectors") {
    // the q185 audit buckets with exactPlaneDots = true so DuckDB can
    // replay the sign bits order-free; its recall numbers claim to be
    // representative of the double-fold hot path because a sign flip
    // needs |plane·v| < ~1e-13. Check the claim: on seeded random
    // vectors the two bucketings must be IDENTICAL (any mismatch here
    // means the audit measures a different structure than production).
    val vecGen = Gen.listOfN(64, Gen.choose(-1.0, 1.0).map(v => math.rint(v * 1e6) / 1e6))
    val vecs = (1 to 200).map(s => sample(vecGen, s.toLong).map(_.toFloat).toArray)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val both = (0 until 4).foldLeft(df) { (d, t) =>
      d.withColumn(s"bd_$t",
          graft.sim.Similarity.lshBucket(col("vec"), 64, 6, t, 42L))
        .withColumn(s"be_$t",
          graft.sim.Similarity.lshBucket(col("vec"), 64, 6, t, 42L,
            exactPlaneDots = true))
    }
    val mismatches = both.filter(
      (0 until 4).map(t => col(s"bd_$t") =!= col(s"be_$t")).reduce(_ || _))
      .count()
    assert(mismatches === 0L,
      "exact-decimal audit bucketing diverged from the double-fold hot path")
  }

  test("bigram fluency invariants on random corpora (incl. the empty model)") {
    import graft.text.LangModel
    for (s <- 1 to 6) {
      val nDocs = sample(Gen.choose(3, 12), 2000 + s)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      val docs = (1 to nDocs).map { i =>
        val len = sample(Gen.choose(0, 8), 2100 + s * 100 + i)
        val words = (0 until len).map(j =>
          vocab(sample(Gen.choose(0, vocab.size - 1), 2200 + s * 1000 + i * 10 + j)))
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      // mod-k train predicate; k = nDocs + 1 on the last seed selects
      // NOBODY -> the degenerate empty model must stay bounded (p = 1
      // per bigram via the greatest(V, 1) guard), not go Infinity
      val k = if (s == 6) nDocs + 1 else sample(Gen.choose(2, 4), 2300 + s)
      val isTrain = col("doc_id") % k === 0
      val trainIds = (1 to nDocs).filter(_ % k == 0).map(_.toLong).toSet
      val got = LangModel.bigramFluencyWithTrain(docs, "doc_id", "text", isTrain)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.length === nDocs)
      for ((id, n, nu, mean) <- got) {
        assert(nu <= n, s"seed $s doc $id: n_unseen $nu > n_bigrams $n")
        assert(mean >= 0.0 && mean <= 1.0,
          s"seed $s doc $id: mean_cond_p $mean out of [0,1]")
        if (n == 0) assert(mean === 0.0 && nu === 0L)
        if (trainIds(id)) assert(nu === 0L,
          s"seed $s train doc $id carries unseen bigrams")
        if (trainIds.isEmpty && n > 0)
          assert(nu === n && mean === 1.0,
            s"seed $s doc $id: empty model must score every bigram 1/(0+1)")
      }
    }
  }
}
