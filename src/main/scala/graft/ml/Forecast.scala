package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Lags

/** Forecasting core re-expressing the reference's model layer Spark-first:
  *
  *  - [[Arimax]] — ARIMA(p,d,q) with exogenous regressors via the
  *    Hannan–Rissanen two-stage regression (reference: statsmodels ARIMA
  *    order (3,1,4) + exog, `supervised/evaluation.ipynb#9`, params
  *    `supervised/ARIMA_params.json:1`). Like the reference, it fits one
  *    bounded series in memory: one collect, then differencing, lags and
  *    the two exact [[Ols]] fits over driver arrays.
  *  - [[RecursiveGbt]] — skforecast-style recursive autoregression
  *    (`src/scripts/optimization.py:124-128`, `xgb.ipynb#10`): MLlib
  *    `GBTRegressor` over lag/diff features, multi-step forecast feeding
  *    predictions back through the lag buffer on the driver.
  *  - [[CvObjective]] — blocked time-series CV objective
  *    (`optimization.py:56-77`): per-fold fit+forecast MAE, mean/std.
  *
  * Scale notes: GBT fitting is distributed through MLlib; ARIMAX fits its
  * bounded series on the driver; the recursive forecast loop is
  * inherently sequential per series and runs on the driver over a bounded
  * state (lag buffer), never over the history.
  */
object Forecast {

  /** Difference `valueCol` d times over `order`; drops the d warm-up rows. */
  private[ml] def differenced(df: DataFrame, valueCol: String, order: Seq[String],
                              d: Int, outCol: String): DataFrame =
    if (d == 0) df.withColumn(outCol, col(valueCol).cast("double"))
    else Lags.withDiff(df, valueCol, order, d, outCol).filter(col(outCol).isNotNull)

  /** Integrate one step: given last levels of each difference order
    * (state(j) = latest value of the j-times-differenced series) and the
    * next d-th-difference prediction, roll the state forward and return
    * the new level.
    */
  def integrate(state: Array[Double], diffPred: Double): Double = {
    val d = state.length - 1
    var acc = diffPred
    var j = d - 1
    while (j >= 0) { acc += state(j); state(j) = acc; j -= 1 }
    state(d) = diffPred
    acc
  }

  /** Last `n` values of `valueCol` in `order` — bounded driver transfer. */
  private[ml] def tail(df: DataFrame, valueCol: String, order: Seq[String],
                       n: Int): Array[Double] =
    df.orderBy(order.map(c => col(c).desc): _*).select(col(valueCol).cast("double"))
      .limit(n).collect().map(_.getDouble(0)).reverse

  /** Collapse a single bounded series to one cached partition before the
    * iterative fit. A per-series model's input is small by contract (the
    * reference fits one daily series), but upstream it is usually an
    * aggregate spread over every shuffle partition — and an iterative
    * MLlib fit (trees × splits, IRLS steps) launches dozens of jobs whose
    * per-task scheduling overhead at 32+ partitions dwarfs the compute.
    * One shuffle to a single cached partition makes every fit job a
    * single task. Many-series scale-out is per-group fits (one such
    * bounded series per group), not a bigger single fit.
    *
    * Returns (pinned, owned): when the input is ALREADY a cached
    * single-partition frame (an evaluation grid's shared fold pin, see
    * `CvObjective.foldData`), it is reused as-is and `owned = false`
    * tells the fit not to unpersist what it does not own.
    */
  private[ml] def pinSmall(df: DataFrame): (DataFrame, Boolean) = {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
        df.rdd.getNumPartitions == 1) (df, false)
    else {
      val pinned = df.repartition(1).cache()
      pinned.count() // materialize once so fit jobs reuse the cache
      (pinned, true)
    }
  }
}

/** Fitted ARIMAX state: AR weights over p target lags, MA weights over q
  * innovation lags, exog betas, plus the forecast-time buffers.
  */
final case class ArimaxModel(
    p: Int, d: Int, q: Int,
    phi: Array[Double], theta: Array[Double], beta: Array[Double],
    intercept: Double,
    lastDiffs: Array[Double],   // last p values of the differenced series
    lastResiduals: Array[Double], // last q innovation estimates
    diffState: Array[Double]) { // last level of each difference order 0..d

  /** Iterative multi-step forecast; future innovations are zero (their
    * conditional expectation). `exogFuture` must have `steps` rows in
    * forecast order with the same exog columns used at fit time.
    */
  def forecast(steps: Int, exogFuture: Seq[Array[Double]]): Array[Double] = {
    require(exogFuture.length >= steps || beta.isEmpty,
      s"need $steps exog rows, got ${exogFuture.length}")
    val diffs = scala.collection.mutable.ArrayBuffer(lastDiffs.toSeq: _*)
    val resid = scala.collection.mutable.ArrayBuffer(lastResiduals.toSeq: _*)
    val state = diffState.clone()
    (0 until steps).map { s =>
      val ar = (0 until p).map(i => phi(i) * diffs(diffs.length - 1 - i)).sum
      val ma = (0 until q).map(i => theta(i) * resid(resid.length - 1 - i)).sum
      val ex = if (beta.isEmpty) 0.0
        else beta.zip(exogFuture(s)).map { case (b, x) => b * x }.sum
      val diffPred = intercept + ar + ma + ex
      diffs += diffPred
      resid += 0.0
      Forecast.integrate(state, diffPred)
    }.toArray
  }
}

object Arimax {

  /** Hannan–Rissanen fit: (1) long-AR regression estimates innovations as
    * residuals; (2) regression of the differenced target on p AR lags, q
    * innovation lags, and exog. Both stages are exact [[Ols]] fits.
    *
    * The input is ONE bounded series (the contract [[Forecast.pinSmall]]
    * states; per-group scale-out is out of scope here). It is collected
    * once and fit on the driver, following the window formulation: rows
    * ascending by `dateCol`, nulls first; target and exog as doubles;
    * differencing drops null (not NaN) differences; each stage drops rows
    * with a null or NaN target or lag; a null or NaN exog value only
    * drops out of the moment sums.
    */
  def fit(series: DataFrame, dateCol: String, targetCol: String,
          exogCols: Seq[String], p: Int, d: Int, q: Int): ArimaxModel = {
    require(p >= 1, "need p >= 1")
    val rows = series
      .select(col(dateCol) +: (targetCol +: exogCols).map(c => col(c).cast("double")): _*)
      .collect().sortBy(_.get(0))(ascNullsFirst)
    def dbl(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    // levels(j) = the j-th difference; None is null (only a null operand
    // makes a difference null)
    val levels = Iterator.iterate(rows.map(dbl(_, 1))) { x =>
      Array.tabulate(x.length)(i =>
        if (i == 0) None else for (a <- x(i); b <- x(i - 1)) yield a - b)
    }.take(d + 1).toArray
    val kept = levels(0).indices.filter(i => d == 0 || levels(d)(i).isDefined).toArray
    val y = kept.map(i => levels(d)(i).getOrElse(Double.NaN))
    def yLags(i: Int, k: Int) = Array.tabulate(k)(l => y(i - 1 - l))

    // ---- stage 1: long AR (order m) for innovation estimates ----
    val m = math.max(p + q, p) + 2
    val s1 = (m until y.length).filter(i => (i - m to i).forall(k => !y(k).isNaN)).toArray
    val m1 = Ols.fit(s1.map(yLags(_, m)), s1.map(y))
    val e = s1.map(i => y(i) - m1.predict(yLags(i, m)))

    // ---- stage 2: y ~ p AR lags + q innovation lags + exog ----
    val s2 = s1.indices.filter(s => s >= q && (1 to q).forall(k => !e(s - k).isNaN)).toArray
    val m2 = Ols.fit(
      s2.map { s =>
        val r = rows(kept(s1(s)))
        yLags(s1(s), p) ++ Array.tabulate(q)(k => e(s - 1 - k)) ++
          exogCols.indices.map(c => dbl(r, c + 2).getOrElse(Double.NaN))
      },
      s2.map(s => y(s1(s))))

    val w = m2.coefs
    val phi = w.slice(0, p)
    val theta = w.slice(p, p + q)
    val beta = w.slice(p + q, p + q + exogCols.length)

    // ---- bounded forecast state ----
    // The last-p diffs and the d+1 integration levels come from the series
    // tail; the last-q residuals from the stage-1 rows (their na.drop
    // removes only EARLY rows of a gap-free series).
    val lastDiffs = y.takeRight(p)
    val diffState = levels.map(_.flatten.last)
    ArimaxModel(p, d, q, phi, theta, beta, m2.intercept,
      lastDiffs, e.takeRight(q), diffState)
  }

  /** A window's ascending order: nulls first, then the values' natural
    * order (stable, so equal keys keep their collected order).
    */
  private val ascNullsFirst: Ordering[Any] = (a, b) =>
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)
}

/** Fitted recursive GBT forecaster (skforecast ForecasterAutoreg analog). */
final case class RecursiveGbtModel(
    model: GBTRegressionModel, lags: Seq[Int], d: Int,
    exogCols: Seq[String],
    lastDiffs: Array[Double],  // last max(lags) differenced values
    diffState: Array[Double]) {

  /** Recursive multi-step forecast: each step predicts the next
    * (differenced) value from the lag buffer + that step's exog row, then
    * feeds the prediction back. Sequential by construction; runs on the
    * driver over bounded state (single-instance model.predict).
    */
  def forecast(steps: Int, exogFuture: Seq[Array[Double]]): Array[Double] = {
    require(exogFuture.length >= steps || exogCols.isEmpty,
      s"need $steps exog rows, got ${exogFuture.length}")
    val buf = scala.collection.mutable.ArrayBuffer(lastDiffs.toSeq: _*)
    val state = diffState.clone()
    (0 until steps).map { s =>
      val lagVals = lags.map(k => buf(buf.length - k)).toArray
      val ex = if (exogCols.isEmpty) Array.empty[Double] else exogFuture(s)
      val diffPred = model.predict(Vectors.dense(lagVals ++ ex))
      buf += diffPred
      Forecast.integrate(state, diffPred)
    }.toArray
  }
}

object RecursiveGbt {

  /** Fit a GBT over lag features of the (optionally differenced) target
    * plus same-row exog columns (reference grid: lags ∈ {1..6, subsets},
    * differentiation ∈ {0..4}, `xgb.ipynb#10`).
    */
  def fit(series: DataFrame, dateCol: String, targetCol: String,
          exogCols: Seq[String], lags: Seq[Int], d: Int = 0,
          maxIter: Int = 20, maxDepth: Int = 5, seed: Long = 42L): RecursiveGbtModel = {
    require(lags.nonEmpty, "need at least one lag")
    val order = Seq(dateCol)
    val (pinned, ownPin) = Forecast.pinSmall(series)
    val diffed = Forecast.differenced(pinned, targetCol, order, d, "__y")
    val lagCols = lags.map(k => s"__y_lag$k")
    val feats = (lagCols ++ exogCols).toArray
    val train = Lags.withLags(diffed, "__y", order, lags)
      .na.drop(lagCols :+ "__y")
    require(train.limit(1).count() > 0,
      "no trainable rows after lagging/differencing — series too short for the lag grid")
    val asm = new VectorAssembler().setInputCols(feats).setOutputCol("__f")
    val gbt = new GBTRegressor().setFeaturesCol("__f").setLabelCol("__y")
      .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(seed)
    val model = gbt.fit(asm.transform(
      exogCols.foldLeft(train)((df, c) => df.withColumn(c, col(c).cast("double")))))

    val lastDiffs = Forecast.tail(diffed, "__y", order, lags.max)
    val diffState = new Array[Double](d + 1)
    diffState(0) = Forecast.tail(
      pinned.withColumn("__l0", col(targetCol).cast("double")), "__l0", order, 1).head
    for (j <- 1 to d) {
      val c = Lags.withDiff(pinned, targetCol, order, j, s"__l$j")
      diffState(j) = Forecast.tail(c.filter(col(s"__l$j").isNotNull), s"__l$j", order, 1).head
    }
    if (ownPin) pinned.unpersist()
    RecursiveGbtModel(model, lags, d, exogCols, lastDiffs, diffState)
  }
}

object CvObjective {

  /** Blocked time-series CV objective (`optimization.py:56-77`): split the
    * ordered series into `nSplits` contiguous blocks; per block, fit on
    * the first (1-valSize) rows, forecast the tail, score MAE. Returns
    * per-fold MAEs in fold order. `fitPredict(train, steps, exogVal)`
    * produces the fold's forecasts.
    */
  def blockedCvMae(series: DataFrame, dateCol: String, targetCol: String,
                   exogCols: Seq[String], nSplits: Int, valSize: Double)(
      fitPredict: (DataFrame, Int, Seq[Array[Double]]) => Array[Double]): Seq[Double] = {
    val folds = graft.ops.Splits.blockedFolds(series, Seq(dateCol), nSplits, valSize)
      .cache()
    try {
      // Materialize the cache once before fanning out, so concurrent fold
      // bodies read it instead of racing to compute the split subtree.
      folds.count()
      blockedCvMaeOnFolds(folds, dateCol, targetCol, exogCols, nSplits)(fitPredict)
    } finally folds.unpersist()
  }

  /** One fold's evaluation inputs, pinned once for a whole grid: a
    * cached single-partition train frame (which `Forecast.pinSmall`
    * recognizes and reuses without re-shuffling per fit) plus the
    * collected validation target/exog arrays.
    */
  final case class FoldData(train: DataFrame, actual: Array[Double],
                            exogVal: Seq[Array[Double]])

  /** Build every fold's [[FoldData]] from a cached `blockedFolds` frame.
    * Release with [[releaseFoldData]] when the grid is done. If any
    * fold's pin or collect fails, the folds already pinned are released
    * before the failure propagates — no partial cache leak.
    */
  def foldData(folds: DataFrame, dateCol: String, targetCol: String,
               exogCols: Seq[String], nSplits: Int): Seq[FoldData] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    try graft.ops.Par.map(0 until nSplits) { f =>
      val train = folds.filter(col("fold") === f && !col("is_val"))
        .drop("fold", "is_val")
        .repartition(1).cache()
      done.add(train)
      train.count()
      val valRows = folds.filter(col("fold") === f && col("is_val"))
        .orderBy(dateCol)
        .select((targetCol +: exogCols).map(c => col(c).cast("double")): _*)
        .collect()
      val actual = valRows.map(_.getDouble(0))
      val exogVal = valRows.map(r => exogCols.indices.map(i => r.getDouble(i + 1)).toArray).toSeq
      FoldData(train, actual, exogVal)
    } catch {
      case t: Throwable =>
        done.forEach(_.unpersist(blocking = true))
        throw t
    }
  }

  def releaseFoldData(fd: Seq[FoldData]): Unit =
    fd.foreach(_.train.unpersist(blocking = true))

  /** The CV objective over prebuilt [[FoldData]] — the per-cell body of
    * an evaluation grid, with zero per-cell Spark prep beyond the fits.
    */
  def blockedCvMaeOnFoldData(fd: Seq[FoldData])(
      fitPredict: (DataFrame, Int, Seq[Array[Double]]) => Array[Double]): Seq[Double] =
    graft.ops.Par.map(fd) { d =>
      val preds = fitPredict(d.train, d.actual.length, d.exogVal)
      preds.zip(d.actual).map { case (pd, a) => math.abs(pd - a) }.sum / d.actual.length
    }

  /** Same objective over a PREBUILT (cached, materialized) `blockedFolds`
    * frame — for evaluation grids where every cell shares the identical
    * split (sensitivity cube, ablation groups, BO iterations): the split
    * subtree runs once for the whole grid instead of once per cell.
    * Single-use form: pins fold data, evaluates, releases. Grids that
    * evaluate MANY cells over the same folds should build [[foldData]]
    * once and call [[blockedCvMaeOnFoldData]] per cell.
    */
  def blockedCvMaeOnFolds(folds: DataFrame, dateCol: String, targetCol: String,
                          exogCols: Seq[String], nSplits: Int)(
      fitPredict: (DataFrame, Int, Seq[Array[Double]]) => Array[Double]): Seq[Double] = {
    val fd = foldData(folds, dateCol, targetCol, exogCols, nSplits)
    try blockedCvMaeOnFoldData(fd)(fitPredict)
    finally releaseFoldData(fd)
  }

  /** Reference summary: (mean, population std) of the fold MAEs
    * (`np.mean`/`np.std`, `optimization.py:77`).
    */
  def summary(maes: Seq[Double]): (Double, Double) = {
    val mean = maes.sum / maes.length
    val variance = maes.map(x => (x - mean) * (x - mean)).sum / maes.length
    (mean, math.sqrt(variance))
  }
}
