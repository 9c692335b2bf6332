package graft.ml

import org.apache.spark.sql.types.Decimal

/** Exact ridge-OLS via the normal equations over driver arrays (the
  * bounded series [[Arimax.fit]] collects): decimal-exact sums of every
  * moment (X'X upper triangle, X'y, column sums, n), then a d×d solve
  * (d = feature count, bounded by the model — never by rows).
  *
  * Each moment term is cast to decimal(38,12) and summed with Spark's own
  * `Decimal`, the arithmetic of `sum(CAST(term AS DECIMAL(38, 12)))`, so
  * the coefficients are bit-identical under any row order (summing
  * doubles drifts in the low bits). A non-finite term (NaN regressor,
  * overflowed product) is skipped like that cast's null; a term or sum
  * outside decimal(38,12) throws, as under ANSI mode.
  *
  * Mirrors the reference's statsmodels/sklearn linear stages (SURVEY §2.9
  * M11 Hannan–Rissanen regressions) without per-fit MLlib overhead.
  */
object Ols {

  final case class Model(coefs: Array[Double], intercept: Double) {
    /** intercept + Σ x_i·b_i, added left to right. */
    def predict(x: Array[Double]): Double =
      coefs.indices.foldLeft(intercept)((acc, i) => acc + x(i) * coefs(i))
  }

  /** Fit y ~ x + intercept (x row-major: one row of d regressors per
    * observation; a missing regressor is NaN) with L2 penalty `ridge` on
    * the non-intercept coefficients (matching a small LinearRegression
    * regParam used purely for numerical stability).
    */
  def fit(x: Array[Array[Double]], y: Array[Double], ridge: Double = 1e-6): Model = {
    require(x.nonEmpty && x.length == y.length,
      s"need matching non-empty rows, got ${x.length} x and ${y.length} y")
    val d = x.head.length
    require(d >= 1, "need at least one feature")
    val n = x.length
    // Augmented system over [x_1..x_d, 1]
    val m = d + 1
    val a = Array.ofDim[Double](m, m)
    val b = new Array[Double](m)
    for (i <- 0 until d; j <- i until d) {
      val v = dsum(n)(r => x(r)(i) * x(r)(j)); a(i)(j) = v; a(j)(i) = v
    }
    for (i <- 0 until d) {
      a(i)(d) = dsum(n)(r => x(r)(i)); a(d)(i) = a(i)(d)
      b(i) = dsum(n)(r => x(r)(i) * y(r))
      a(i)(i) += ridge
    }
    a(d)(d) = n
    b(d) = dsum(n)(y(_))
    val sol = solve(a, b)
    Model(sol.take(d), sol(d))
  }

  /** Σ over rows 0 until n of `term` cast to decimal(38,12), as a double.
    * Scale 12 (vs Exact's scale-6 reporting grid): moment sums feed a
    * linear solve, where grid error amplifies through the inverse.
    */
  private def dsum(n: Int)(term: Int => Double): Double = {
    val terms = (0 until n).iterator.map(term)
      .filter(java.lang.Double.isFinite).map(v => dec38(Decimal(v)))
    require(terms.hasNext, "no finite term in a moment sum")
    dec38(terms.reduce(_ + _)).toDouble
  }

  private def dec38(v: Decimal): Decimal =
    if (v.changePrecision(38, 12)) v
    else throw new ArithmeticException(s"$v cannot be represented as decimal(38,12)")

  /** Gaussian elimination with partial pivoting (driver-side, m ≤ ~100s). */
  private[ml] def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val m = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (k <- 0 until m) {
      var piv = k
      for (i <- k + 1 until m) if (math.abs(a(i)(k)) > math.abs(a(piv)(k))) piv = i
      if (piv != k) { val t = a(k); a(k) = a(piv); a(piv) = t
        val tb = b(k); b(k) = b(piv); b(piv) = tb }
      require(math.abs(a(k)(k)) > 1e-300, s"singular system at pivot $k")
      for (i <- k + 1 until m) {
        val f = a(i)(k) / a(k)(k)
        if (f != 0.0) {
          var j = k; while (j < m) { a(i)(j) -= f * a(k)(j); j += 1 }
          b(i) -= f * b(k)
        }
      }
    }
    val x = new Array[Double](m)
    for (k <- m - 1 to 0 by -1) {
      var s = b(k)
      var j = k + 1; while (j < m) { s -= a(k)(j) * x(j); j += 1 }
      x(k) = s / a(k)(k)
    }
    x
  }
}
