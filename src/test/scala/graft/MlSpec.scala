package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{Arimax, CvObjective, Forecast, RecursiveGbt}

/** Seeded fixture tests for the forecasting core. The reference's parity
  * contract (SURVEY.md §7.4): match forecast error within tolerance on
  * deterministic fixtures, not float trajectories of a foreign MLE.
  */
class MlSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("Ols.fit recovers exact coefficients on noiseless data") {
    import graft.ml.Ols
    val x = (1 to 50).map(i => Array(i.toDouble, math.sin(i * 0.3))).toArray
    val y = x.map(r => 2.5 * r(0) - 4.0 * r(1) + 7.0)
    val m = Ols.fit(x, y, ridge = 0.0)
    assert(math.abs(m.coefs(0) - 2.5) < 1e-9, m.coefs.mkString(","))
    assert(math.abs(m.coefs(1) + 4.0) < 1e-9)
    assert(math.abs(m.intercept - 7.0) < 1e-8)
    // row-order invariance of the exact moments
    val perm = new scala.util.Random(7L).shuffle(x.indices.toList).toArray
    val m2 = Ols.fit(perm.map(x), perm.map(y), ridge = 0.0)
    assert(m.coefs.toSeq === m2.coefs.toSeq)
    assert(m.intercept === m2.intercept)
    // ... and of the whole ARIMAX fit under any partitioning of its input
    val df = (0 until 120).map(i => (i, 50.0 + math.sin(i * 0.4) * 3 + i / 8.0, math.cos(i * 0.7)))
      .toDF("t", "y", "x")
    val a1 = Arimax.fit(df, "t", "y", Seq("x"), p = 2, d = 1, q = 1)
    val a7 = Arimax.fit(df.repartition(7), "t", "y", Seq("x"), p = 2, d = 1, q = 1)
    assert(modelBits(a1) === modelBits(a7))
  }

  /** Every fitted field as raw IEEE bits: phi, theta, beta, intercept,
    * lastDiffs, lastResiduals, diffState.
    */
  private def modelBits(m: graft.ml.ArimaxModel): Seq[Seq[Long]] =
    Seq(m.phi, m.theta, m.beta, Array(m.intercept), m.lastDiffs,
      m.lastResiduals, m.diffState).map(_.map(java.lang.Double.doubleToLongBits).toSeq)

  private def pinnedFits: Seq[(String, graft.ml.ArimaxModel)] = {
    import org.apache.spark.sql.functions.col
    val split = graft.ts.Pinned.splitLong
    val base = graft.ts.Pinned.arimaxSeries
    val ex = graft.ts.Pinned.exogSeries
    val plain = base.indices.map(i => (i, base(i))).toDF("day", "val")
      .filter(col("day") < split)
    val withX = base.indices.map(i => (i, base(i) + 2 * ex(i), ex(i)))
      .toDF("day", "val", "x1").filter(col("day") < split)
    // interior null and NaN in the target and the exog: pins the
    // differencing filter (null only), the na.drop rules (null or NaN)
    // and the moment sums skipping null and NaN terms
    val holes = base.indices.map { i =>
      val v = base(i) + 2 * ex(i)
      (i, if (i == 50) None else if (i == 90) Some(Double.NaN) else Some(v),
        if (i == 120) None else if (i == 130) Some(Double.NaN) else Some(ex(i)))
    }.toDF("day", "val", "x1").filter(col("day") < split)
    Seq(
      "q49 (2,1,1)" -> Arimax.fit(plain, "day", "val", Nil, p = 2, d = 1, q = 1),
      "(3,1,4)+exog" -> Arimax.fit(withX, "day", "val", Seq("x1"), p = 3, d = 1, q = 4),
      "d=2 (2,2,1)" -> Arimax.fit(plain, "day", "val", Nil, p = 2, d = 2, q = 1),
      // 12 points: stage 1 keeps 3 rows < max(p, q, d+1) = 4, the
      // short-series tail path
      "tiny (4,2,1)" -> Arimax.fit(plain.filter(col("day") < 12), "day", "val", Nil,
        p = 4, d = 2, q = 1),
      "holes (2,1,1)+exog" -> Arimax.fit(holes, "day", "val", Seq("x1"), p = 2, d = 1, q = 1),
      "holes (2,0,1)+exog" -> Arimax.fit(holes, "day", "val", Seq("x1"), p = 2, d = 0, q = 1))
  }

  /** Recorded from the window-and-aggregate Spark fit; any rewrite of the
    * fit must reproduce them bit for bit. Field order as in [[modelBits]].
    */
  private val pinnedBits: Map[String, Seq[Seq[Long]]] = Map(
    "q49 (2,1,1)" -> Seq(
      Seq(0x3fd8d1d46b555f53L, 0xbfc2908237edff9cL),
      Seq(0xbff2d97fc5d37ea3L),
      Seq(),
      Seq(0x3fa46631a11e617cL),
      Seq(0xbfee000000000000L, 0xc027600000000000L),
      Seq(0xc022abd1450097bcL),
      Seq(0x406e3e0000000000L, 0xc027600000000000L)),
    "(3,1,4)+exog" -> Seq(
      Seq(0x3fd40799eb32a237L, 0xbfdfd47262b8f319L, 0xbfc17f898f8f7eabL),
      Seq(0xbffe9979298b4b60L, 0x3ffcde7952dbbe05L, 0xbfdbf3582b25ec5cL, 0x3fa41528d964026aL),
      Seq(0x400935a1596c0d55L),
      Seq(0xc0277f3df73a75eaL),
      Seq(0xc017c00000000000L, 0xc017c00000000000L, 0xbff7000000000000L),
      Seq(0x40152fa146fbf22eL, 0x40000531d8f9d0d0L, 0x4009473dc3733938L, 0x3ff274f2b59d7ad4L),
      Seq(0x406ff60000000000L, 0xbff7000000000000L)),
    "d=2 (2,2,1)" -> Seq(
      Seq(0xbfcf0f37875fff50L, 0xbfbdbe7e2b64dc09L),
      Seq(0xbfe7bded4620b5d6L),
      Seq(),
      Seq(0x3fc200b10f7edc7cL),
      Seq(0x0000000000000000L, 0xc025800000000000L),
      Seq(0xc0383102aed55f74L),
      Seq(0x406e3e0000000000L, 0xc027600000000000L, 0xc025800000000000L)),
    "tiny (4,2,1)" -> Seq(
      Seq(0xbfc41dfbb0ab3830L, 0xbfa1d5f7ef09cc95L, 0x3fcd08f7c5e0b541L, 0xbfa1d5f6875ca763L),
      Seq(0x3ed5888c8d5120a3L),
      Seq(),
      Seq(0xc0283fffd6609690L),
      Seq(0x4041800000000000L, 0x4038400000000000L, 0xc038400000000000L, 0x0000000000000000L),
      Seq(0x3e199afe60000000L),
      Seq(0x406c6e0000000000L, 0xbfee000000000000L, 0x0000000000000000L)),
    "holes (2,1,1)+exog" -> Seq(
      Seq(0x3fdca7f439b19712L, 0x3f434caa482f5e5cL),
      Seq(0xbff58c3ab53a07cdL),
      Seq(0x400a79e5ee9444b2L),
      Seq(0xc02833c943e989acL),
      Seq(0xc017c00000000000L, 0xbff7000000000000L),
      Seq(0xbfdeb762ffc9d980L),
      Seq(0x406ff60000000000L, 0xbff7000000000000L)),
    "holes (2,0,1)+exog" -> Seq(
      Seq(0xbfc980ee99c26814L, 0xbfa149fc93a90929L),
      Seq(0x3fdf89c062926d57L),
      Seq(0x3ffa34b0e40289c9L),
      Seq(0x40726867eded1394L),
      Seq(0x4070120000000000L, 0x406ff60000000000L),
      Seq(0x40222977dc536090L),
      Seq(0x406ff60000000000L)))

  test("ARIMAX fit is pinned bit-exactly on fixed fixtures") {
    val fits = pinnedFits
    assert(fits.map(_._1).toSet === pinnedBits.keySet)
    fits.foreach { case (name, m) =>
      assert(modelBits(m) === pinnedBits(name), name)
    }
  }

  test("ARIMAX fit fails loudly when a moment term leaves decimal(38,12)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val df = (0 until 40).map(i => (i, 100.0 + (i * 37) % 11, i.toDouble)).toDF("t", "y", "x")
      .withColumn("x", when(col("t") === 30, lit(1e27)).otherwise(col("x")))
    intercept[ArithmeticException](Arimax.fit(df, "t", "y", Seq("x"), p = 1, d = 0, q = 0))
  }

  test("integrate() inverts differencing at d=1 and d=2") {
    // d=0: the prediction IS the level
    assert(Forecast.integrate(Array(0.0), 5.5) === 5.5)
    // d=1: next level = last level + predicted diff
    assert(Forecast.integrate(Array(21.0, 1.0), 4.0) === 25.0)
    // d=2 roundtrip: reconstruct the tail of a quadratic series
    val quad = (0 to 10).map(i => (i * i).toDouble).toArray
    val d1 = quad.sliding(2).map(p => p(1) - p(0)).toArray
    val d2 = d1.sliding(2).map(p => p(1) - p(0)).toArray
    val state = Array(quad.last, d1.last, d2.last)
    val next = Forecast.integrate(state, 2.0) // next 2nd diff of i^2 is constant 2
    assert(next === 121.0) // 11^2
  }

  test("ARIMAX recovers a noise-free AR(2)+exog process (M11)") {
    val n = 200
    val x = Array.tabulate(n + 10)(i => math.sin(i * 0.3) * 2.0)
    val y = new Array[Double](n + 10)
    y(0) = 10.0; y(1) = 10.5
    for (i <- 2 until n + 10)
      y(i) = 5.0 + 0.6 * y(i - 1) - 0.2 * y(i - 2) + 1.5 * x(i)
    val train = (0 until n).map(i => (i, y(i), x(i))).toDF("t", "y", "x")
    val model = Arimax.fit(train, "t", "y", Seq("x"), p = 2, d = 0, q = 0)
    val preds = model.forecast(10, (n until n + 10).map(i => Array(x(i))))
    val mae = preds.zip(y.slice(n, n + 10)).map { case (p, a) => math.abs(p - a) }.sum / 10
    assert(mae < 0.15, s"ARIMAX forecast MAE too high: $mae preds=${preds.toSeq}")
  }

  test("ARIMAX handles d=1 integration (M11)") {
    val n = 150
    // random-walk-with-drift-ish: first difference is AR(1), noise-free
    val diffs = new Array[Double](n + 8)
    diffs(0) = 1.0
    for (i <- 1 until n + 8) diffs(i) = 0.5 + 0.4 * diffs(i - 1)
    val y = diffs.scanLeft(100.0)(_ + _).drop(1)
    val train = (0 until n).map(i => (i, y(i))).toDF("t", "y")
    val model = Arimax.fit(train, "t", "y", Nil, p = 1, d = 1, q = 0)
    val preds = model.forecast(8, Nil)
    val mae = preds.zip(y.slice(n, n + 8)).map { case (p, a) => math.abs(p - a) }.sum / 8
    assert(mae < 0.5, s"ARIMAX d=1 forecast MAE too high: $mae")
  }

  test("ARIMAX at the reference's order (3,1,4)+exog on a 3.2k-point series (M11)") {
    // Reference fits statsmodels MLE at order (3,1,4) over ~3.2k points;
    // the engine fits Hannan-Rissanen + OLS (divergence pre-declared in
    // SURVEY §7.4.5). This fixture pins the gap to a number: on a planted
    // ARIMA(3,1,4)+exog process with noise σ = 2, the HR fit's blocked-CV
    // MAE must (a) stay in the planted-noise magnitude range and (b) beat
    // the naive flat-forecast baseline that ignores drift and structure.
    val n = 3200
    val sigma = 2.0
    val rnd = new scala.util.Random(414L)
    val e = Array.fill(n + 5)(rnd.nextGaussian() * sigma)
    val x = Array.tabulate(n)(i => ((i * 13) % 29) / 10.0)
    val d = new Array[Double](n)
    for (i <- 0 until n) {
      def dd(k: Int) = if (i - k >= 0) d(i - k) else 0.0
      d(i) = 0.5 + 0.45 * dd(1) - 0.15 * dd(2) + 0.1 * dd(3) +
        e(i + 4) + 0.3 * e(i + 3) - 0.2 * e(i + 2) + 0.1 * e(i + 1) +
        0.05 * e(i) + 0.8 * x(i)
    }
    val y = d.scanLeft(500.0)(_ + _).drop(1)
    val series = (0 until n).map(i => (i, y(i), x(i))).toDF("t", "y", "x")
    val maes = CvObjective.blockedCvMae(series, "t", "y", Seq("x"), 2, 0.15) {
      (train, steps, exogVal) =>
        Arimax.fit(train, "t", "y", Seq("x"), p = 3, d = 1, q = 4)
          .forecast(steps, exogVal)
    }
    val naive = CvObjective.blockedCvMae(series, "t", "y", Seq("x"), 2, 0.15) {
      (train, steps, _) =>
        val last = train.orderBy(org.apache.spark.sql.functions.col("t").desc)
          .select(org.apache.spark.sql.functions.col("y").cast("double"))
          .head.getDouble(0)
        Array.fill(steps)(last)
    }
    val (mean, _) = CvObjective.summary(maes)
    val (naiveMean, _) = CvObjective.summary(naive)
    assert(maes.forall(java.lang.Double.isFinite),
      s"non-finite fold MAE: $maes")
    // multi-step error on an integrated series grows ~σ·√h; h ≈ 240 here,
    // so σ·√h ≈ 31 — a broken fit (or a dropped drift term) lands far above
    assert(mean < sigma * math.sqrt(240) * 1.5,
      s"ARIMA(3,1,4) CV MAE out of planted-noise range: $mean")
    assert(mean < naiveMean,
      s"ARIMA(3,1,4) ($mean) should beat the flat baseline ($naiveMean)")
  }

  test("recursive GBT learns a periodic series (M12)") {
    val pattern = Array(10.0, 20.0, 30.0, 40.0)
    val n = 48
    val y = Array.tabulate(n + 8)(i => pattern(i % 4))
    val train = (0 until n).map(i => (i, y(i))).toDF("t", "y")
    val model = RecursiveGbt.fit(train, "t", "y", Nil, lags = Seq(4),
      d = 0, maxIter = 20, maxDepth = 3)
    val preds = model.forecast(8, Nil)
    val maxErr = preds.zip(y.slice(n, n + 8)).map { case (p, a) => math.abs(p - a) }.max
    assert(maxErr < 1.0, s"GBT periodic forecast off: ${preds.toSeq}")
  }

  test("blocked CV objective returns one finite MAE per fold (M19)") {
    val y = Array.tabulate(60)(i => 10.0 + (i % 4) * 5.0)
    val series = y.toSeq.zipWithIndex.map { case (v, i) => (i, v) }.toDF("t", "y")
    val maes = CvObjective.blockedCvMae(series, "t", "y", Nil, 3, 0.2) {
      (train, steps, _) =>
        RecursiveGbt.fit(train, "t", "y", Nil, Seq(4), 0, maxIter = 10, maxDepth = 3)
          .forecast(steps, Nil)
    }
    assert(maes.length === 3)
    assert(maes.forall(m => java.lang.Double.isFinite(m) && m >= 0))
    val (mean, std) = CvObjective.summary(maes)
    assert(java.lang.Double.isFinite(mean) && std >= 0)
  }
}
