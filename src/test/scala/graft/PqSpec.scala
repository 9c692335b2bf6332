package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.Similarity

/** Product quantization: encode invariants, the ADC identity on
  * codebook members, full-coverage equivalence to exact search, and
  * repartition stability.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val dim = 16
  private val m = 4

  // deterministic synthetic embeddings, no two subvectors identical
  private def corpus(n: Int) = (0L until n.toLong).map { i =>
    (i, Array.tabulate(dim)(d =>
      (math.sin(i * 31 + d * 7) * 10 + d * 0.01 * i).toFloat))
  }.toDF("vec_id", "embedding")

  test("codes are m per vector, in [0, k); sampled vectors encode to themselves") {
    val df = corpus(40)
    val cb = Similarity.pqCodebook(df, "vec_id", "embedding", m, 8, dim)
    val codes = Similarity.pqEncode(df, "vec_id", "embedding", cb, m, dim)
    val rows = codes.collect()
    assert(rows.length === 40 * m)
    assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 8))
    // which ids were sampled, and with which code index?
    val sampledIds = df
      .orderBy(graft.dedup.Dedup.md5Hash64(col("vec_id").cast("string")), col("vec_id"))
      .limit(8).collect().map(_.getLong(0)).zipWithIndex.toMap
    rows.filter(r => sampledIds.contains(r.getLong(0))).foreach { r =>
      assert(r.getInt(2) === sampledIds(r.getLong(0)),
        s"sampled vec ${r.getLong(0)} must encode to its own centroid (dist 0)")
    }
  }

  test("production double encode agrees with the exact-decimal encode away from half-boundaries") {
    // the synthetic corpus has no two subvectors equidistant from two
    // centroids (sin-based components, per-id drift), so the argmin gap
    // always exceeds double rounding and the two encoders must agree
    // code-for-code — and the pqTopK(exactEncode=false) production path
    // must reproduce the audit path's full output
    val df = corpus(60)
    val cb = Similarity.pqCodebook(df, "vec_id", "embedding", m, 8, dim)
    val exact = Similarity.pqEncode(df, "vec_id", "embedding", cb, m, dim)
      .orderBy("vec_id", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val fast = Similarity.pqEncodeFast(df, "vec_id", "embedding", cb, m, dim)
      .orderBy("vec_id", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(fast === exact)
    val q = df.filter(col("vec_id") < 2)
    val a = Similarity.pqTopK(df, q, "vec_id", "embedding", m, 8, dim, 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val b = Similarity.pqTopK(df, q, "vec_id", "embedding", m, 8, dim, 5,
      exactEncode = false)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("ragged (short) vectors: native encode matches the exact-decimal encode") {
    // a short vector's missing elements drop their ENTIRE (x−c)² term in
    // the exact encoder (slice+ExactSqDist skips the overhang), and the
    // skipped residual Σ c_d² VARIES across centroids — the pre-fix
    // native argmin kept the full centroid norm and could assign a
    // different code silently (ADVICE r14). Codebook from the dense
    // corpus; encode rows whose vectors are truncated mid-subspace.
    val dense = corpus(40)
    val cb = Similarity.pqCodebook(dense, "vec_id", "embedding", m, 8, dim)
    val ragged = corpus(40)
      .select(col("vec_id"),
        // lengths 1..dim: every truncation point incl. mid-subspace cuts
        slice(col("embedding"), lit(1),
          (col("vec_id") % dim + 1).cast("int")).as("embedding"))
    val exact = Similarity.pqEncode(ragged, "vec_id", "embedding", cb, m, dim)
      .orderBy("vec_id", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val fast = Similarity.pqEncodeFast(ragged, "vec_id", "embedding", cb, m, dim)
      .orderBy("vec_id", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(fast === exact)
  }

  test("corpus smaller than k: packed ADC stride follows the actual code count") {
    // pqCodebook emits min(k, corpus rows) codes; with corpus = 6 < k = 8
    // the per-query flat table has stride 6, and a j·k-based lookup would
    // read wrong positions / nulls for j ≥ 1 (ADVICE r14). Equate the
    // packed path against the exploded windowed form on a string-id twin
    // (the non-long-id fallback), which never took the packed branch.
    val df = corpus(6)
    val q = df.filter(col("vec_id") < 2)
    val got = Similarity.pqTopK(df, q, "vec_id", "embedding", m, 8, dim, 3,
      exactEncode = false)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0).toString, r.getLong(1), r.getLong(2).toString,
        r.getDouble(3))).toSeq
    val dfs = df.select(col("vec_id").cast("string").as("vec_id"),
      col("embedding"))
    val qs = q.select(col("vec_id").cast("string").as("vec_id"),
      col("embedding"))
    val want = Similarity.pqTopK(dfs, qs, "vec_id", "embedding", m, 8, dim, 3,
      exactEncode = false)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq
    assert(got === want)
  }

  test("full-coverage codebook (k = n) makes ADC identical to exact search") {
    val df = corpus(20) // k = n = 20: every vector is its own centroid
    val queries = df.filter(col("vec_id") < 3)
    val pq = Similarity.pqTopK(df, queries, "vec_id", "embedding", m, 20, dim, 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact squared-L2 brute force
    val all = corpus(20).collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val want = (0L until 3L).flatMap { q =>
      all.keys.filter(_ != q).toSeq
        .map { x =>
          val d = all(q).zip(all(x)).map { case (a, b) =>
            val t = a.toDouble - b.toDouble; t * t
          }.sum
          (x, d)
        }
        .sortBy { case (x, d) => (d, x) }.take(5).zipWithIndex
        .map { case ((x, _), i) => (q, (i + 1).toLong, x) }
    }
    assert(pq.toSeq === want)
  }

  test("native exact_sqdist matches the declarative HOF bit-for-bit") {
    val df = corpus(25).select(
      col("embedding").as("a"),
      reverse(col("embedding")).as("b"))
    val got = df.select(
      Similarity.sqDistExact(col("a"), col("b")).as("n"),
      ReferenceForms.sqDistExactHof(col("a"), col("b")).as("h")).collect()
    got.foreach { r =>
      assert(r.getDecimal(0).compareTo(r.getDecimal(1)) === 0,
        s"native ${r.getDecimal(0)} != hof ${r.getDecimal(1)}")
    }
  }

  test("snap9Floor: exact at the decimal half boundary and in the (38,6) failure class") {
    // a DECIMAL(38,18)×DECIMAL(20,0) product would be rounded by Spark at
    // scale 6; values whose ·1e9 fractional part is in [0.4999995, 0.5)
    // would then snap UP instead of down — pin both sides of the boundary
    val cases = Seq(
      ("1.000000000500000000", 1.000000001), // exactly .5 -> up (floor(x+.5))
      ("1.000000000499999600", 1.0),         // the (38,6) failure class -> down
      ("1.000000000499999999", 1.0),
      ("2.123456789499999900", 2.123456789),
      ("2.123456789500000000", 2.12345679))
    import org.apache.spark.sql.types.DecimalType
    val df = cases.map(_._1).toDF("s")
      .select(col("s").cast(DecimalType(38, 18)).as("adc"))
    val got = df.select(Similarity.snap9Floor(col("adc")).as("v"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got === cases.map(_._2))
  }

  test("repartition-stable") {
    val df = corpus(30)
    val q = df.filter(col("vec_id") < 2)
    val a = Similarity.pqTopK(df.repartition(1), q, "vec_id", "embedding", m, 8, dim, 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val b = Similarity.pqTopK(df.repartition(7), q, "vec_id", "embedding", m, 8, dim, 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("SQ8: codes bounded, error within the grid bound, grid points exact") {
    import graft.sim.Quantize
    val df = corpus(50)
    val stats = Quantize.sq8Train(df, "embedding")
    assert(stats.length === dim)
    assert(stats.forall { case (mn, mx) => mn <= mx })
    val enc = Quantize.sq8(df, "embedding", stats).collect()
    val codes = enc.map(_.getSeq[Int](2))
    assert(codes.forall(cs => cs.length == dim && cs.forall(c => c >= 0 && c <= 255)))
    // per-dim quantization error ≤ half a grid step (+ float read-off
    // slack) ⇒ total squared error bounded by Σ (step_i/2 + eps)^2
    val bound = stats.map { case (mn, mx) =>
      val half = (mx - mn) / 255.0 / 2.0 + 1e-6; half * half }.sum
    val errs = enc.map(_.getDecimal(3).doubleValue())
    assert(errs.forall(e => e >= 0.0 && e <= bound),
      s"max err ${errs.max} exceeded grid bound $bound")
    // vectors sitting exactly on the reconstruction grid encode losslessly
    val grid = (0L until 4L).map { i =>
      (i, Array.tabulate(dim) { d =>
        val (mn, mx) = stats(d)
        (mn + (i * 85) / 255.0 * (mx - mn)).toFloat
      })
    }.toDF("vec_id", "embedding")
    // re-train on the grid corpus itself so min/max hit the grid ends
    val gStats = Quantize.sq8Train(grid, "embedding")
    val gErr = Quantize.sq8(grid, "embedding", gStats).collect()
      .map(_.getDecimal(3).doubleValue())
    assert(gErr.forall(_ <= 1e-10), s"grid corpus must round-trip, got ${gErr.max}")
  }

  test("SQ8 training and codes are partition-invariant") {
    import graft.sim.Quantize
    val df = corpus(60)
    val s1 = Quantize.sq8Train(df.repartition(1), "embedding")
    val s7 = Quantize.sq8Train(
      df.repartition(7).sortWithinPartitions(col("vec_id").desc), "embedding")
    assert(s1.toSeq === s7.toSeq)
    val e1 = Quantize.sq8(df.repartition(1), "embedding", s1)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Int](2)))
    val e7 = Quantize.sq8(df.repartition(7), "embedding", s7)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Int](2)))
    assert(e1.toSeq === e7.toSeq)
  }
}
