package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** Row count plus an order-free hash of a frame's rows. */
final case class Digest(rows: Long, hash: String)

object Digest {

  /** Canonicalizes the way the oracle compare does (columns by name, rows
    * as a multiset): each row hashes its columns in name order, and the
    * row hashes are added up exactly, so neither row order nor
    * partitioning can change the result.
    */
  def of(df: DataFrame): Digest = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Digest(r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}
