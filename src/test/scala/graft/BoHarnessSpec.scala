package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{Arimax, Bo, Harness, RecursiveGbt}
import graft.ml.Bo.HpBound

/** Seeded tests for the BO search driver and the evaluation harnesses. */
class BoHarnessSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("cholesky solves a known SPD system") {
    val a = Array(Array(4.0, 2.0), Array(2.0, 3.0))
    val l = Bo.cholesky(a)
    // L L^T == A
    val rec = Array.tabulate(2, 2)((i, j) =>
      (0 until 2).map(k => l(i)(k) * l(j)(k)).sum)
    for (i <- 0 until 2; j <- 0 until 2)
      assert(math.abs(rec(i)(j) - a(i)(j)) < 1e-9)
  }

  test("BO minimizes a smooth 2-d objective and is deterministic (M15-M18)") {
    def run() = Bo.minimize(
      Seq(HpBound("x", -5, 5, isInt = false), HpBound("y", -5, 5, isInt = false)),
      nIters = 30, seed = 42L) { p =>
      val v = math.pow(p("x") - 3.0, 2) + math.pow(p("y") + 1.0, 2)
      (v, 0.0)
    }
    val r1 = run(); val r2 = run()
    assert(r1.bestMean < 1.0, s"BO did not converge: best=${r1.best} ${r1.bestMean}")
    assert(r1.best === r2.best, "seeded BO must be deterministic")
    assert(r1.history.nonEmpty && r1.history.length <= 30)
  }

  test("BO outlier rule drops blow-up objectives from the record") {
    var calls = 0
    val r = Bo.minimize(Seq(HpBound("x", 0, 1, isInt = false)), nIters = 10, seed = 1L) { p =>
      calls += 1
      if (calls == 3) (1e9, 0.0) else (p("x"), 0.0) // one blow-up
    }
    assert(!r.history.exists(_._2 > 1e8), "outlier objective must not be recorded")
  }

  test("grid search returns per-cell results and global argmin (M18/A13)") {
    val (all, best) = Bo.searchLagDiffGrid(
      Seq((Seq(1), 0), (Seq(1, 2), 0)), Seq(HpBound("x", 0, 1, isInt = false)),
      nIters = 5) { (lags, _, p) =>
      (p("x") + (if (lags.length == 2) 0.0 else 1.0), 0.0) // 2-lag cell strictly better
    }
    assert(all.size === 2)
    assert(best._1 === ((Seq(1, 2), 0)))
  }

  test("permutation importance ranks the load-bearing exog first (M20)") {
    val n = 120
    val x = Array.tabulate(n + 10)(i => math.sin(i * 0.35) * 3)
    val noise = Array.tabulate(n + 10)(i => math.cos(i * 1.1))
    val y = new Array[Double](n + 10)
    y(0) = 5.0
    for (i <- 1 until n + 10) y(i) = 0.5 * y(i - 1) + 2.0 * x(i)
    val train = (0 until n).map(i => (i, y(i), x(i), noise(i))).toDF("t", "y", "x", "z")
    val model = Arimax.fit(train, "t", "y", Seq("x", "z"), p = 1, d = 0, q = 0)
    val exogF = (n until n + 10).map(i => Array(x(i), noise(i)))
    val actual = y.slice(n, n + 10)
    val imp = Harness.permutationImportance(
      ex => model.forecast(10, ex), exogF, Seq("x", "z"), actual)
    assert(imp("x") > imp("z"), s"importances: $imp")
    assert(imp("x") > 0.1)
  }

  test("ablation: dropping the load-bearing exog hurts CV MAE (M21)") {
    val n = 150
    val x = Array.tabulate(n)(i => math.sin(i * 0.35) * 3)
    val y = new Array[Double](n)
    y(0) = 5.0
    for (i <- 1 until n) y(i) = 0.5 * y(i - 1) + 2.0 * x(i)
    val series = (0 until n).map(i => (i, y(i), x(i))).toDF("t", "y", "x")
    def fp(kept: Seq[String]) =
      (train: org.apache.spark.sql.DataFrame, steps: Int, ex: Seq[Array[Double]]) =>
        Arimax.fit(train, "t", "y", kept, 1, 0, 0).forecast(steps, ex)
    val res = Harness.ablation(series, "t", "y", Seq("x"),
      Map("none" -> Nil, "no_exog" -> Seq("x")), nSplits = 3, valSize = 0.2)(fp)
    assert(res("no_exog")._1 > res("none")._1, s"ablation: $res")
  }

  test("a two-group ablation pins one cache entry per fold, read by both groups") {
    val n = 120
    val series = (0 until n).map(i => (i, 10.0 + 2 * math.sin(i * 0.3) + (i % 5),
      math.sin(i * 0.3), (i % 5).toDouble)).toDF("t", "y", "x", "z")
    val trains = java.util.Collections.synchronizedSet(java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.sql.DataFrame, java.lang.Boolean]()))
    val uncachedFits = new java.util.concurrent.atomic.AtomicInteger()
    def fp(kept: Seq[String]) =
      (train: org.apache.spark.sql.DataFrame, steps: Int, ex: Seq[Array[Double]]) => {
        trains.add(train)
        if (train.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          uncachedFits.incrementAndGet()
        assert(ex.forall(_.length == kept.size), s"exog width for $kept")
        Arimax.fit(train, "t", "y", kept, 1, 0, 0).forecast(steps, ex)
      }
    val res = Harness.ablation(series, "t", "y", Seq("x", "z"),
      Map("none" -> Nil, "no_z" -> Seq("z")), nSplits = 3, valSize = 0.2)(fp)
    assert(trains.size === 3, "one pinned train frame per fold for both groups")
    assert(uncachedFits.get === 0, "a fit read a released train frame")
    // each group's slice scores as its own blocked CV does
    for ((name, kept) <- Seq("none" -> Seq("x", "z"), "no_z" -> Seq("x")))
      assert(res(name) === graft.ml.CvObjective.summary(graft.ml.CvObjective.blockedCvMae(
        series, "t", "y", kept, 3, 0.2)(fp(kept))), name)
  }

  test("learning curve returns one (mean, std) per fraction (M23)") {
    val y = Array.tabulate(100)(i => 10.0 + (i % 4) * 2.0)
    val series = y.toSeq.zipWithIndex.map { case (v, i) => (i, v) }.toDF("t", "y")
    val lc = Harness.learningCurve(series, "t", "y", Nil, Seq(0.5, 1.0), 2, 0.25) {
      (train, steps, _) =>
        RecursiveGbt.fit(train, "t", "y", Nil, Seq(4), 0, maxIter = 5, maxDepth = 3)
          .forecast(steps, Nil)
    }
    assert(lc.map(_._1) === Seq(0.5, 1.0))
    assert(lc.forall(t => java.lang.Double.isFinite(t._2) && t._3 >= 0))
  }

  test("sensitivity grid covers the clamped cube (M22)") {
    val y = new Array[Double](90)
    y(0) = 1.0
    for (i <- 1 until 90) y(i) = 0.6 * y(i - 1) + 1.0
    val series = y.toSeq.zipWithIndex.map { case (v, i) => (i, v) }.toDF("t", "y")
    val cells = Harness.sensitivityGrid(series, "t", "y", Nil,
      center = (1, 0, 0), delta = 1, nSplits = 2, valSize = 0.25)
    // p in {1,2} x d in {0,1} x q in {0,1} = 8 cells (p=0 clamped away)
    assert(cells.length === 8)
    assert(cells.forall(c => java.lang.Double.isFinite(c._4)))
  }
}

class ArtifactsSpec extends AnyFunSuite {
  test("ARIMAX model JSON round-trip preserves forecasts (K3/S9)") {
    val m = graft.ml.ArimaxModel(2, 1, 1,
      Array(0.5, -0.2), Array(0.1), Array(1.5, -0.7), 3.25,
      Array(1.0, 2.0), Array(0.05), Array(100.0, 2.0))
    val path = java.nio.file.Files.createTempDirectory("graft_art").toString + "/arimax.json"
    graft.ml.Artifacts.saveArimax(m, path)
    val back = graft.ml.Artifacts.loadArimax(path)
    val ex = (0 until 5).map(i => Array(i * 0.1, -i * 0.2))
    assert(back.forecast(5, ex).toSeq === m.forecast(5, ex).toSeq)
  }

  test("BO result JSON round-trip (K3/S9)") {
    val r = Bo.BoResult(Map("x" -> 1.5, "y" -> -2.0), 0.25, 0.01,
      Seq((Map("x" -> 1.0, "y" -> 0.0), 1.0, 0.1), (Map("x" -> 1.5, "y" -> -2.0), 0.25, 0.01)))
    val path = java.nio.file.Files.createTempDirectory("graft_art2").toString + "/bo.json"
    graft.ml.Artifacts.saveBoResult(r, path)
    assert(graft.ml.Artifacts.loadBoResult(path) === r)
  }
}
