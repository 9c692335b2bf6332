package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-invariant (exact) floating aggregation.
  *
  * Distributed double summation is order-dependent: partial aggregation
  * across shuffle partitions makes `sum(double)` nondeterministic in the
  * low bits, which breaks bit-exact comparison against any single-threaded
  * oracle and makes repeated runs disagree. Summing in decimal is exact
  * (Spark decimals are 128-bit scaled integers), associative, and therefore
  * plan- and partitioning-independent; casting the exact decimal result to
  * double is a single IEEE-754 rounding, identical everywhere.
  *
  * The same trick in ANSI SQL: `CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)`.
  */
object Exact {
  /** Capture scale: 6 fractional digits is beyond the 2-decimal testdata
    * measures; 30 digits of precision leaves 14 integer digits of headroom
    * over a 10-digit row count — no overflow at 100 TB scale factors.
    */
  val CaptureType: DecimalType = DecimalType(30, 6)

  /** Exact sum of a double column, returned as a deterministic double. */
  def dsum(c: Column): Column = sum(c.cast(CaptureType)).cast("double")

  /** Deterministic mean: exact sum divided by non-null count (one double op). */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Windowed mean (e.g. moving averages over ordered frames). */
  def davgOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(CaptureType)).over(w).cast("double") / count(c).over(w)

  /** Grid-snapped exact aggregation for COMPUTED doubles.
    *
    * A direct double→decimal cast is only cross-engine stable for raw
    * decimal-grained data: Spark rounds the double's true binary
    * expansion (BigDecimal) while other engines round the double product
    * x·10^scale — and computed values (differences/means of decimal-ish
    * numbers) routinely land EXACTLY on the .5 grid boundary of the
    * product, where the two conventions disagree. Snapping in double
    * arithmetic first (`round(x*1e6)` — the product is the same IEEE
    * double everywhere, and both engines round doubles half-away-from-
    * zero) makes the captured integers identical by construction.
    *
    * ANSI form: `CAST(SUM(CAST(ROUND(x * 1000000.0, 0) AS DECIMAL(30,0)))
    * AS DOUBLE) / 1000000.0 [/ COUNT(x)]`. Valid for |x| < 2^53/1e6 ≈ 9e9.
    */
  private val Grid = 1000000.0

  def gsumOver(c: Column, w: WindowSpec): Column =
    sum(round(c * Grid, 0).cast(DecimalType(30, 0))).over(w).cast("double") / Grid

  def gavgOver(c: Column, w: WindowSpec): Column =
    sum(round(c * Grid, 0).cast(DecimalType(30, 0))).over(w).cast("double") / Grid /
      count(c).over(w)

  def gavg(c: Column): Column =
    sum(round(c * Grid, 0).cast(DecimalType(30, 0))).cast("double") / Grid / count(c)

  def gsum(c: Column): Column =
    sum(round(c * Grid, 0).cast(DecimalType(30, 0))).cast("double") / Grid
}
