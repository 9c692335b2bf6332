package graft.tools

/** Regenerates the golden VALUES literals for the pinned-fixture
  * driver-math queries (q61 STL, q62 wavelet) — see
  * [[graft.queries.Golden]]. Run with
  * `sbt "runMain graft.tools.GoldenGen"` and paste the printed blocks.
  *
  * Values are emitted as scaled BIGINTs k = round(x·10⁹) using the same
  * scala BigDecimal HALF_UP path Spark's `CAST(double AS DECIMAL(18,9))`
  * takes, so `CAST(k AS DOUBLE)/1e9` in DuckDB lands on exactly the
  * double Spark outputs (k < 2⁵³ converts exactly; the division is one
  * correctly-rounded operation in both engines).
  */
object GoldenGen {

  def k(x: Double): Long =
    scala.math.BigDecimal(x)
      .setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  def main(args: Array[String]): Unit = {
    val y = graft.ts.Pinned.series
    val r = graft.ts.Stl.decompose(y, period = 7, robust = true)
    println("-- q61 (i, vk, tk, sk, rk):")
    println(y.indices.map(i =>
      s"(${i}, ${k(y(i))}, ${k(r.trend(i))}, ${k(r.seasonal(i))}, ${k(r.resid(i))})")
      .mkString(", "))
    val den = graft.ts.Wavelet.denoise(y, levels = 2, dropLevels = 1)
    println("-- q62 (i, vk, dk):")
    println(y.indices.map(i => s"(${i}, ${k(y(i))}, ${k(den(i))})").mkString(", "))

    // Forecast-layer goldens run the registered (already-snapped) query
    // impls themselves, so the recorded values are exactly the engine's
    // output; the round-trip k = round(x·10⁹) is exact because the
    // snapped double is the correctly-rounded k/10⁹ and |x| ≪ 2⁴².
    val spark = graft.Session.build(graft.Session.cpus)
    def kd(x: Double): Long = Math.round(x * 1e9)
    val dir = "/root/testdata/sf0.001" // unused by pinned-fixture queries
    val q49 = graft.SparkEntry.queries("q49_arimax_forecast")(spark, dir)
      .orderBy("step").collect()
    println("-- q49 (step, pk):")
    println(q49.map(r => s"(${r.getInt(0)}, ${kd(r.getDouble(1))})").mkString(", "))
    val q68 = graft.SparkEntry.queries("q68_bo_search")(spark, dir)
      .orderBy("iter").collect()
    println("-- q68 (iter, p, mk, sk, best_p, bk):")
    println(q68.map(r => s"(${r.getInt(0)}, ${r.getInt(1)}, ${kd(r.getDouble(2))}, " +
      s"${kd(r.getDouble(3))}, ${r.getInt(4)}, ${kd(r.getDouble(5))})").mkString(", "))
    val q81 = graft.SparkEntry.queries("q81_permutation_importance")(spark, dir)
      .orderBy("feature").collect()
    println("-- q81 (feature, dk):")
    println(q81.map(r => s"('${r.getString(0)}', ${kd(r.getDouble(1))})").mkString(", "))
    val q82 = graft.SparkEntry.queries("q82_ablation")(spark, dir)
      .orderBy("group").collect()
    println("-- q82 (grp, mk, sk):")
    println(q82.map(r => s"('${r.getString(0)}', ${kd(r.getDouble(1))}, " +
      s"${kd(r.getDouble(2))})").mkString(", "))

    val q48 = graft.SparkEntry.queries("q48_gbt_forecast")(spark, dir)
      .orderBy("step").collect()
    println("-- q48 (step, pk):")
    println(q48.map(r => s"(${r.getInt(0)}, ${kd(r.getDouble(1))})").mkString(", "))

    val q50 = graft.SparkEntry.queries("q50_cv_objective")(spark, dir)
      .orderBy("fold").collect()
    println("-- q50 (fold, mk, mm, sk):")
    println(q50.map(r => s"(${r.getInt(0)}, ${kd(r.getDouble(1))}, " +
      s"${kd(r.getDouble(2))}, ${kd(r.getDouble(3))})").mkString(", "))

    val q54 = graft.SparkEntry.queries("q54_pca_loadings")(spark, dir)
      .orderBy("component", "pos").collect()
    println("-- q54 (component, pos, lk):")
    println(q54.map(r => s"(${r.getInt(0)}, ${r.getInt(1)}, " +
      s"${kd(r.getDouble(2))})").mkString(", "))

    val q63 = graft.SparkEntry.queries("q63_factor_loadings")(spark, dir)
      .orderBy("variable", "factor").collect()
    println("-- q63 (variable, factor, lk, rk):")
    println(q63.map(r => s"('${r.getString(0)}', ${r.getInt(1)}, " +
      s"${kd(r.getDouble(2))}, ${kd(r.getDouble(3))})").mkString(", "))

    val q101 = graft.SparkEntry.queries("q101_dtw_distance")(spark, dir)
      .orderBy("a", "b").collect()
    println("-- q101 (a, b, dk):")
    println(q101.map(r => s"(${r.getInt(0)}, ${r.getInt(1)}, " +
      s"${kd(r.getDouble(2))})").mkString(", "))

    val q106 = graft.SparkEntry.queries("q106_dtw_kmeans_pinned")(spark, dir)
      .orderBy("series").collect()
    println("-- q106 (series, cluster, dk):")
    println(q106.map(r => s"(${r.getInt(0)}, ${r.getInt(1)}, " +
      s"${kd(r.getDouble(2))})").mkString(", "))

    val q83 = graft.SparkEntry.queries("q83_sensitivity")(spark, dir)
      .orderBy("p", "d", "q").collect()
    println("-- q83 (p, d, q, mk, sk):")
    println(q83.map(r => s"(${r.getInt(0)}, ${r.getInt(1)}, ${r.getInt(2)}, " +
      s"${kd(r.getDouble(3))}, ${kd(r.getDouble(4))})").mkString(", "))

    val q84 = graft.SparkEntry.queries("q84_learning_curve")(spark, dir)
      .orderBy("frac").collect()
    println("-- q84 (fk, mk, sk):")
    println(q84.map(r => s"(${kd(r.getDouble(0))}, ${kd(r.getDouble(1))}, " +
      s"${kd(r.getDouble(2))})").mkString(", "))

    val q157 = graft.SparkEntry.queries("q157_reference_protocol")(spark, dir)
      .orderBy("fold").collect()
    println("-- q157 (fold, mk, mm, sk):")
    println(q157.map(r => s"(${r.getInt(0)}, ${kd(r.getDouble(1))}, " +
      s"${kd(r.getDouble(2))}, ${kd(r.getDouble(3))})").mkString(", "))
    spark.stop()
  }
}
