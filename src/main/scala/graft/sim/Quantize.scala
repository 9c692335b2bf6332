package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (the faiss `SQ8` scheme) — the standard 4×
  * compression for embedding stores: per dimension, map the corpus range
  * [min_i, max_i] onto the 8-bit grid, store one byte per dimension, and
  * reconstruct as min_i + code/255·(max_i−min_i). Coarser than product
  * quantization (q120) but decode is two FLOPs per dimension with no
  * codebook lookup — the right trade when vectors must stream back out
  * at read bandwidth (re-ranking, dedup re-scoring).
  *
  * Determinism: the trained state is per-dimension MIN/MAX — order-
  * invariant aggregates, so training is partition-layout-proof without
  * any decimal machinery; encode/decode are fixed associations of
  * correctly-rounded IEEE ops on engine-identical inputs, so codes and
  * reconstructions replay bit-for-bit cross-engine (q167).
  *
  * Scale shape: training is ONE map-side-combined groupBy over
  * (dimension, value) pairs — `dim` groups regardless of corpus size;
  * the stats ship back as two broadcast array literals and encode runs
  * in the scan projection (zero shuffles, the q163 pattern).
  */
object Quantize {

  /** Per-dimension (min, max) over the corpus, index-ordered. Bounded
    * driver collect: `dim` rows.
    */
  def sq8Train(df: DataFrame, vecCol: String): Array[(Double, Double)] =
    df.select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("i")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).map(t => (t._2, t._3))

  /** Encode + reconstruct + exact reconstruction error in one scan
    * projection. Output: input columns plus `codes` (array<int>, one
    * 0..255 code per dimension; a degenerate dimension with min = max
    * encodes 0), `err` (squared L2 reconstruction error — per-element
    * double arithmetic captured into the exact DECIMAL sum, the
    * `Similarity.sqDistExact` protocol; left as the exact decimal so consumers
    * choose their own readout snap).
    */
  def sq8(df: DataFrame, vecCol: String,
          stats: Array[(Double, Double)]): DataFrame = {
    val mnA: Column = array(stats.map(s => lit(s._1)): _*)
    val mxA: Column = array(stats.map(s => lit(s._2)): _*)
    def mn(i: Column) = element_at(mnA, i + 1)
    def mx(i: Column) = element_at(mxA, i + 1)
    def code(x: Column, i: Column): Column =
      when(mx(i) === mn(i), lit(0)).otherwise(
        round((x.cast("double") - mn(i)) / (mx(i) - mn(i)) * lit(255.0), 0)
          .cast("int"))
    def rec(c: Column, i: Column): Column =
      mn(i) + c.cast("double") / lit(255.0) * (mx(i) - mn(i))
    // precision 28 keeps the per-step `+` result at scale 18 (precision
    // 38 would silently demote the fold's scale — see Similarity.D)
    val D = org.apache.spark.sql.types.DecimalType(28, 18)
    df.withColumn("codes",
        transform(col(vecCol), (x, i) => code(x, i)))
      .withColumn("err",
        aggregate(
          transform(col(vecCol), (x, i) => {
            val d = x.cast("double") - rec(code(x, i), i)
            (d * d).cast(D)
          }),
          lit(java.math.BigDecimal.ZERO).cast(D),
          (acc, v) => (acc + v).cast(D)))
  }
}
