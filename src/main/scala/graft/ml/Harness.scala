package graft.ml

import org.apache.spark.sql.DataFrame
import graft.ops.Splits

/** Evaluation harnesses around the forecasting core (SURVEY.md M20-M23):
  * driver orchestration where each loop body is distributed work (feature
  * prep + MLlib fits + CV folds as Spark jobs), mirroring the reference's
  * notebook loops (`supervised/evaluation.ipynb#20-39`).
  */
object Harness {

  /** M21 ablation (`evaluation.ipynb#24-26`): blocked-CV objective per
    * named feature-group drop. `fitPredict(keptExog)` builds the fold
    * fit/forecast closure for the surviving exog set.
    *
    * Every fold is pinned once for the whole ablation, with all exog
    * columns, and each group reads its kept columns' slice of the
    * validation exog. Pinning per group cached the same train plan once
    * per group, so the first group to finish released the entry the
    * others still read.
    */
  def ablation(series: DataFrame, dateCol: String, targetCol: String,
               exogCols: Seq[String], groups: Map[String, Seq[String]],
               nSplits: Int, valSize: Double)(
      fitPredict: Seq[String] => (DataFrame, Int, Seq[Array[Double]]) => Array[Double])
    : Map[String, (Double, Double)] =
    sharedFolds(series, dateCol, nSplits, valSize) { folds =>
      val fd = CvObjective.foldData(folds, dateCol, targetCol, exogCols, nSplits)
      try graft.ops.Par.map(groups.toSeq) { case (name, dropped) =>
        val keptIdx = exogCols.indices.filterNot(i => dropped.contains(exogCols(i)))
        val kept = keptIdx.map(exogCols)
        val sliced = fd.map(d => d.copy(exogVal = d.exogVal.map(row => keptIdx.map(row(_)).toArray)))
        val maes = CvObjective.blockedCvMaeOnFoldData(sliced)(fitPredict(kept))
        name -> CvObjective.summary(maes)
      }.toMap
      finally CvObjective.releaseFoldData(fd)
    }

  /** M20 permutation importance (declared replacement for the reference's
    * SHAP KernelExplainer, SURVEY §7.3): per exog column, MAE delta of the
    * fitted model's forecast when that column of the future exog matrix is
    * permuted (seeded). Positive delta = the model leans on the feature.
    */
  def permutationImportance(forecast: Seq[Array[Double]] => Array[Double],
                            exogFuture: Seq[Array[Double]], exogNames: Seq[String],
                            actual: Array[Double], repeats: Int = 3,
                            seed: Long = 42L): Map[String, Double] = {
    def mae(p: Array[Double]): Double =
      p.zip(actual).map { case (x, a) => math.abs(x - a) }.sum / actual.length
    val base = mae(forecast(exogFuture))
    exogNames.zipWithIndex.map { case (name, j) =>
      val deltas = (0 until repeats).map { r =>
        val rnd = new scala.util.Random(seed + 1000L * j + r)
        val perm = rnd.shuffle(exogFuture.map(_(j)).toIndexedSeq)
        val permuted = exogFuture.zipWithIndex.map { case (row, i) =>
          val c = row.clone(); c(j) = perm(i); c
        }
        mae(forecast(permuted)) - base
      }
      name -> deltas.sum / repeats
    }.toMap
  }

  /** M22 sensitivity grid (`evaluation.ipynb#27-36`): blocked-CV MAE for
    * every ARIMAX order in the ±delta cube around `center` (clamped to
    * valid orders). Returns (p, d, q, mean, std) rows.
    */
  def sensitivityGrid(series: DataFrame, dateCol: String, targetCol: String,
                      exogCols: Seq[String], center: (Int, Int, Int), delta: Int,
                      nSplits: Int, valSize: Double): Seq[(Int, Int, Int, Double, Double)] = {
    val (p0, d0, q0) = center
    val cells = for {
      p <- (p0 - delta) to (p0 + delta) if p >= 1
      d <- (d0 - delta) to (d0 + delta) if d >= 0
      q <- (q0 - delta) to (q0 + delta) if q >= 0
    } yield (p, d, q)
    sharedFolds(series, dateCol, nSplits, valSize) { folds =>
      // one pinned FoldData set for the whole cube — a per-cell pin
      // would re-shuffle and re-cache identical train frames cells×folds
      // times
      val fd = CvObjective.foldData(folds, dateCol, targetCol, exogCols, nSplits)
      try graft.ops.Par.map(cells) { case (p, d, q) =>
        val maes = CvObjective.blockedCvMaeOnFoldData(fd) { (train, steps, exogVal) =>
          Arimax.fit(train, dateCol, targetCol, exogCols, p, d, q)
            .forecast(steps, exogVal)
        }
        val (m, s) = CvObjective.summary(maes)
        (p, d, q, m, s)
      } finally CvObjective.releaseFoldData(fd)
    }
  }

  /** Build, cache, and materialize the blocked-CV fold frame once for a
    * whole evaluation grid — every cell shares the identical split, so
    * the split subtree should not re-run per cell.
    */
  private def sharedFolds[A](series: DataFrame, dateCol: String, nSplits: Int,
                             valSize: Double)(body: DataFrame => A): A = {
    val folds = Splits.blockedFolds(series, Seq(dateCol), nSplits, valSize).cache()
    try { folds.count(); body(folds) } finally folds.unpersist()
  }

  /** M23 learning curve (`evaluation.ipynb#37-39`): blocked-CV objective
    * over growing ordered prefixes of the series. Returns
    * (frac, mean, std) in `fracs` order.
    */
  def learningCurve(series: DataFrame, dateCol: String, targetCol: String,
                    exogCols: Seq[String], fracs: Seq[Double],
                    nSplits: Int, valSize: Double)(
      fitPredict: (DataFrame, Int, Seq[Array[Double]]) => Array[Double])
    : Seq[(Double, Double, Double)] =
    graft.ops.Par.map(fracs) { f =>
      val prefix = Splits.prefix(series, Seq(dateCol), f)
      val maes = CvObjective.blockedCvMae(prefix, dateCol, targetCol, exogCols,
        nSplits, valSize)(fitPredict)
      val (m, s) = CvObjective.summary(maes)
      (f, m, s)
    }
}
