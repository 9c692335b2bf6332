package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reshaping combinators: schema-aligning unions, melt/pivot, transpose,
  * bulk renames (reference SURVEY.md §2.7).
  */
object Reshape {

  /** Schema-aligning vertical concat (reference `_check_columns` +
    * `pd.concat`, `src/scripts/ETL.py:38-54,69,86`): ragged frames padded
    * with nulls to the union schema. `unionByName(allowMissingColumns)`
    * is the exact one-line Spark semantic match.
    */
  def unionAligned(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Melt: wide value columns → long (variable, value) rows (reference
    * VALUE1..VALUE31 melt, `ETL.py:209`). Thin wrapper over the built-in
    * unpivot (a Generate node — no shuffle, streams row-by-row).
    */
  def melt(df: DataFrame, ids: Seq[String], values: Seq[String],
           varName: String, valName: String): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)

  /** Long → wide pivot with deterministic "first" (reference
    * `pivot_table(aggfunc="first")`, `ETL.py:211-217`). pandas "first"
    * depends on physical input order; we pin it to the value carried by the
    * minimum `orderCol` (min_by), which is order- and partitioning-
    * independent. Passing `knownValues` keeps the plan single-pass (no
    * distinct-values pre-job).
    */
  def pivotFirst(df: DataFrame, groupBy: Seq[String], pivotCol: String,
                 valueCol: String, orderCol: String,
                 knownValues: Seq[String] = Nil): DataFrame = {
    val g = df.groupBy(groupBy.map(col): _*)
    val p = if (knownValues.nonEmpty) g.pivot(pivotCol, knownValues) else g.pivot(pivotCol)
    p.agg(min_by(col(valueCol), col(orderCol)))
  }

  /** Transpose a provably-tiny table (reference EIA consumption export,
    * `normalization.ipynb#6`: ~10 rows × ~280 columns). No relational
    * equivalent exists; collect on the driver and rebuild. The `headerCol`
    * values become the new column names; remaining column names become the
    * rows of `idOutCol`. All transposed cells are read as strings (the
    * caller casts).
    */
  def transposeSmall(df: DataFrame, headerCol: String,
                     idOutCol: String = "column"): DataFrame = {
    val spark = df.sparkSession
    val others = df.columns.filterNot(_ == headerCol)
    // take(10001) bounds the driver transfer BEFORE materialization; a
    // collect-then-require would OOM on exactly the tables the guard exists for.
    // orderBy pins the output column order — take() on an unordered plan can
    // permute with partitioning, and row order here becomes column order.
    val rows = df.select((headerCol +: others.toSeq).map(col): _*)
      .orderBy(col(headerCol)).take(10001)
    require(rows.length <= 10000, s"transposeSmall on >10000 rows — not a driver-side table")
    val newCols = rows.map(_.get(0).toString)
    val out = others.zipWithIndex.map { case (c, i) =>
      Row.fromSeq(c +: rows.map(r => Option(r.get(i + 1)).map(_.toString).orNull).toSeq)
    }
    val schema = StructType(
      StructField(idOutCol, StringType) +: newCols.map(StructField(_, StringType)).toSeq)
    spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq), schema)
  }

  /** Bulk regex rename (reference snake_case rename, `ETL.py:81-87`):
    * driver-side metadata only — schemas are not data.
    */
  def renameByRegex(df: DataFrame, pattern: String, replacement: String): DataFrame =
    df.toDF(df.columns.map(_.replaceAll(pattern, replacement)).toSeq: _*)

  /** Row-wise mean across columns, null-aware (reference `df.mean(axis=1)`,
    * `unsupervised/ts_kmeans_base.ipynb#71`): sum of non-null values over
    * count of non-null values, null if all null.
    */
  def rowMean(cols: Seq[Column]): Column = {
    val vals = array(cols.map(_.cast("double")): _*)
    val nn = filter(vals, _.isNotNull)
    when(size(nn) > 0,
      aggregate(nn, lit(0.0), (acc, x) => acc + x) / size(nn))
  }
}
