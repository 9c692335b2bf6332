package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.dedup.Dedup
import graft.text.TextOps

/** Declarative reference forms of the engine's native expressions. Each
  * gives the same values bit-for-bit as its native twin, and the specs
  * pin that equality; they evaluate their lambdas interpreted per
  * element, so no query runs them.
  *
  * Below them sit the plain set-level forms the dedup specs use as
  * oracles for the engine's scale paths; no query runs these either.
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

  /** The kept rows of `Dedup.keepBestGroups`: full input rows whose id
    * won its group, by a semi-join on ids.
    */
  def keepBest(df: DataFrame, idCol: String, textCol: String,
               scoreCol: String): DataFrame =
    df.join(Dedup.keepBestGroups(df, idCol, textCol, scoreCol)
      .select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")

  /** Broder containment n_common / min(n_a, n_b) over the full shingle
    * equi-join of `Dedup.jaccardPairs` at threshold 0 (containment > 0
    * already needs a shared shingle, so the candidate set is the same):
    * the oracle of `Dedup.prefixContainmentPairs`. Pairs keep
    * id_a < id_b.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3,
                       threshold: Double = 0.8): DataFrame =
    Dedup.jaccardPairs(df, idCol, textCol, shingleSize, threshold = 0.0)
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment")

  /** The documents rewritten without their `Dedup.dupSpans` spans: tokens
    * inside any merged span are dropped, the rest re-join with single
    * spaces, one row per input document. The rewrite's token count is an
    * independent check of `Dedup.dupSpanStats`' `kept_tokens`.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int, minOccur: Int = 2): DataFrame = {
    val spans = Dedup.dupSpans(df, idCol, textCol, n, minOccur)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("s"), col("e"))))
        .as("__spans"))
    val base = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("__toks"))
    base.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(col("__toks"), (t, i) =>
          !exists(coalesce(col("__spans"),
              array().cast("array<struct<s:bigint,e:bigint>>")),
            sp => sp("s") <= i + 1 && i + 1 <= sp("e"))), " ")
          .as("cleaned"))
  }
}
