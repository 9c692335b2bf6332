package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Declarative reference forms of the engine's native expressions. Each
  * gives the same values bit-for-bit as its native twin, and the specs
  * pin that equality; they evaluate their lambdas interpreted per
  * element, so no query runs them.
  */
object ReferenceForms {

  /** Capture type of the exact folds: scale 18 keeps the full decimal
    * expansion that matters for the final double rounding; precision 28
    * leaves 10 integer digits of headroom so the per-step cast never
    * rounds. (Precision 38 would make Spark demote the fold's `+` result
    * to scale 17, silently rounding each step.)
    */
  private val D = DecimalType(28, 18)

  /** `Dedup.md5Hash64` composed from the hex md5: the first 16 hex chars
    * assembled via conv + shiftleft (shiftleft wraps, which bitwise ops
    * may do under ANSI).
    */
  def md5Hash64Ref(c: Column): Column = {
    val hex = md5(c.cast("binary"))
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** `Similarity.dotExact` as a decimal fold over `zip_with`. */
  def dotExactHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(D)),
      lit(java.math.BigDecimal.ZERO).cast(D),
      (acc, x) => (acc + x).cast(D)).cast("double")

  /** `Similarity.dot`: the same left-to-right IEEE addition. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** `Similarity.sqDistExact` as a decimal fold: equal on dense
    * equal-length arrays whose per-element squared differences stay under
    * DECIMAL(28,18)'s 10 integer digits (|x−y| < ~10⁵); beyond that this
    * form's element cast nulls out while the native form, accumulating at
    * precision 38, still returns the finite sum.
    */
  def sqDistExactHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        (d * d).cast(D)
      }),
      lit(java.math.BigDecimal.ZERO).cast(D),
      (acc, x) => (acc + x).cast(D))
}
