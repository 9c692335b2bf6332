package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Coverage, Fills, Lags, Reshape, Splits}

/** Shared local session for all suites (one JVM per sbt test run): the
  * harness configuration at `local[4]`, with a temporary warehouse so
  * specs that persist bucketed tables (PlanSpec) drop no spark-warehouse
  * dir into the repo tree.
  */
object TestSession {
  lazy val spark: SparkSession = Session.build(4,
    Some(java.nio.file.Files.createTempDirectory("graft_test_wh").toString))
}

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("ffill respects limit (W1: ETL.py:228-242 semantics)") {
    // gaps of length 2 (fillable with limit 2) and 4 (only partially)
    val df = Seq[(Int, java.lang.Double)](
      (1, 10.0), (2, null), (3, null), (4, 40.0),
      (5, null), (6, null), (7, null), (8, null), (9, 90.0)
    ).toDF("i", "v")
    val got = df.select($"i",
        Fills.ffill($"v", Nil, Seq($"i"), Some(2)).as("f"))
      .orderBy("i").as[(Int, Option[Double])].collect()
    assert(got.map(_._2) === Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0),
      Some(40.0), Some(40.0), None, None, Some(90.0)))
  }

  test("bfill respects limit (W2)") {
    val df = Seq[(Int, java.lang.Double)](
      (1, null), (2, null), (3, 30.0), (4, null)
    ).toDF("i", "v")
    val got = df.select($"i",
        Fills.bfill($"v", Nil, Seq($"i"), Some(1)).as("f"))
      .orderBy("i").as[(Int, Option[Double])].collect()
    assert(got.map(_._2) === Seq(None, Some(30.0), Some(30.0), None))
  }

  test("globalFill matches the unpartitioned window on cross-partition gaps (W4)") {
    // 200 rows over 4 shuffle partitions with null runs that SPAN range
    // partition boundaries — the two-wave scan must carry fills across
    // partitions exactly like the single-window form, both directions,
    // on two columns at once.
    val df = (1 to 200).map { i =>
      (i,
        if (i % 7 == 0) java.lang.Double.valueOf(i.toDouble) else null,
        if (i % 53 == 0) java.lang.Double.valueOf(i * 2.0) else null)
    }.toDF("i", "v", "w")
    for (backward <- Seq(false, true)) {
      val scan = Fills.globalFill(df, Seq("v", "w"), Seq($"i"), backward)
        .orderBy("i").as[(Int, Option[Double], Option[Double])].collect()
      val fill = if (backward) Fills.bfill _ else Fills.ffill _
      val window = df.select($"i",
          fill($"v", Nil, Seq($"i"), None).as("v"),
          fill($"w", Nil, Seq($"i"), None).as("w"))
        .orderBy("i").as[(Int, Option[Double], Option[Double])].collect()
      assert(scan.toSeq === window.toSeq, s"backward=$backward")
    }
  }

  test("fills are per-partition (no bleed across keys)") {
    val df = Seq[(String, Int, java.lang.Double)](
      ("a", 1, 1.0), ("a", 2, null), ("b", 1, null), ("b", 2, 2.0)
    ).toDF("k", "i", "v")
    val got = df.select($"k", $"i",
        Fills.ffill($"v", Seq($"k"), Seq($"i"), None).as("f"))
      .orderBy("k", "i").as[(String, Int, Option[Double])].collect()
    assert(got.map(_._3) === Seq(Some(1.0), Some(1.0), None, Some(2.0)))
  }

  test("coverage prune drops low-coverage columns (R3: ETL.py:91)") {
    val df = Seq[(Int, java.lang.Double, java.lang.Double)](
      (1, 1.0, null), (2, 2.0, null), (3, null, 3.0), (4, 4.0, null)
    ).toDF("id", "mostly", "rarely")
    val pruned = Coverage.dropBelow(df, 0.5)
    assert(pruned.columns.toSeq === Seq("id", "mostly"))
    val stats = Coverage.stats(df).orderBy("col_name").collect()
    assert(stats.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("id", 4L), ("mostly", 3L), ("rarely", 1L)))
  }

  test("blocked CV folds are contiguous, disjoint, cover everything (W8: utils.py:8-23)") {
    val df = (0 until 103).map(i => (i, i.toDouble)).toDF("i", "v")
    val folds = Splits.blockedFolds(df, Seq("i"), 5, 0.2)
      .select("i", "fold", "is_val").as[(Int, Int, Boolean)].collect().sortBy(_._1)
    assert(folds.length === 103)
    // fold ids non-decreasing in order, all 5 present
    assert(folds.map(_._2).toSeq === folds.map(_._2).sorted.toSeq)
    assert(folds.map(_._2).distinct.sorted.toSeq === Seq(0, 1, 2, 3, 4))
    // within each fold, val rows are exactly the tail ~20%
    for (f <- 0 to 4) {
      val block = folds.filter(_._2 == f)
      val nVal = block.count(_._3)
      assert(nVal === math.ceil(block.length * 0.2).toInt)
      val firstVal = block.indexWhere(_._3)
      assert(block.drop(firstVal).forall(_._3), s"val rows not a suffix in fold $f")
    }
  }

  test("positional split takes first frac rows (W9)") {
    val df = (1 to 20).map(i => (i, s"r$i")).toDF("i", "s")
    val sp = Splits.positionalSplit(df, Seq("i"), 0.85)
      .filter($"is_train").agg(max($"i")).head().getInt(0)
    assert(sp === 17)
  }

  test("hashSplit: deterministic, growth-stable, roughly proportional") {
    val df = (1L to 2000L).toDF("id")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Splits.hashSplit(df, "id", "#s", fr)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // every id assigned exactly once to a declared split
    assert(a.size === 2000 && a.values.toSet === Set("train", "val", "test"))
    // rerun + repartition: identical assignment
    val b = Splits.hashSplit(df.repartition(7), "id", "#s", fr)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(b === a)
    // corpus growth: the original ids keep their assignment
    val grown = Splits.hashSplit((1L to 4000L).toDF("id"), "id", "#s", fr)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.forall { case (k, v) => grown(k) == v })
    // proportions within 3 sigma of the md5-uniform expectation
    val n = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(n("train") - 1600) < 3 * math.sqrt(2000 * 0.8 * 0.2))
    assert(math.abs(n("val") - 200) < 3 * math.sqrt(2000 * 0.1 * 0.9))
    // a different salt reshuffles assignments
    val c = Splits.hashSplit(df, "id", "#other", fr)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(c !== a)
    // a NULL id surfaces as a NULL split, never pollutes the last split
    val withNull = Seq[java.lang.Long](1L, null).toDF("id")
    val nd = Splits.hashSplit(withNull, "id", "#s", fr).collect()
      .map(r => Option(r.get(0)) -> Option(r.getString(2))).toMap
    assert(nd(None) === None && nd(Some(1L)).isDefined)
  }

  test("unionAligned pads missing columns with nulls (T2: ETL.py:38-54)") {
    val a = Seq((1, "x")).toDF("id", "only_a")
    val b = Seq((2, 9.9)).toDF("id", "only_b")
    val u = Reshape.unionAligned(Seq(a, b)).orderBy("id")
    assert(u.columns.toSet === Set("id", "only_a", "only_b"))
    val rows = u.collect()
    assert(rows(0).getString(1) === "x" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) === 9.9)
  }

  test("melt/pivotFirst round-trip with deterministic first (T3/A3)") {
    val df = Seq((1, 10.0, 100.0), (2, 20.0, 200.0)).toDF("id", "a", "b")
    val long = Reshape.melt(df, Seq("id"), Seq("a", "b"), "k", "v")
    assert(long.count() === 4)
    val wide = Reshape.pivotFirst(long.withColumn("ord", $"id"),
      Seq("id"), "k", "v", "ord", Seq("a", "b")).orderBy("id").collect()
    assert(wide(0).getDouble(1) === 10.0 && wide(1).getDouble(2) === 200.0)
  }

  test("pivotFirst picks min-order value under duplicates (A3 determinism)") {
    val dup = Seq((1, "k", 5.0, 2), (1, "k", 7.0, 1)).toDF("id", "k", "v", "ord")
    val w = Reshape.pivotFirst(dup, Seq("id"), "k", "v", "ord", Seq("k")).collect()
    assert(w(0).getDouble(1) === 7.0) // ord=1 wins regardless of input order
  }

  test("transposeSmall flips a tiny frame (T5: normalization.ipynb#6)") {
    val df = Seq(("r1", "10", "20"), ("r2", "30", "40")).toDF("name", "jan", "feb")
    val t = Reshape.transposeSmall(df, "name").orderBy("column")
    assert(t.columns.toSeq === Seq("column", "r1", "r2"))
    val rows = t.collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("feb", "jan"))
    assert(rows(1).getString(1) === "10" && rows(0).getString(2) === "40")
  }

  test("withDiff d=2 equals manual second difference (W6)") {
    val df = Seq((1, 1.0), (2, 4.0), (3, 9.0), (4, 16.0)).toDF("i", "v")
    val got = Lags.withDiff(df, "v", Seq("i"), 2, "d2")
      .orderBy("i").select("d2").as[Option[Double]].collect()
    assert(got === Seq(None, None, Some(2.0), Some(2.0)))
  }

  test("rowMean is null-aware (A7)") {
    val df = Seq[(java.lang.Double, java.lang.Double)]((1.0, 3.0), (null, 5.0), (null, null))
      .toDF("a", "b")
    val got = df.select(Reshape.rowMean(Seq($"a", $"b")).as("m"))
      .as[Option[Double]].collect()
    assert(got === Seq(Some(2.0), Some(5.0), None))
  }

  test("latestWins: upsert, tombstone, delete-then-reinsert, partition-invariant") {
    // key 1: plain insert; key 2: insert→update; key 3: insert→delete;
    // key 4: insert→delete→reinsert; key 5: out-of-order arrival (v3
    // before v1 in the log — order must not matter)
    val log = Seq(
      (1L, 1L, "U", "a1"),
      (2L, 1L, "U", "b1"), (2L, 2L, "U", "b2"),
      (3L, 1L, "U", "c1"), (3L, 2L, "D", null),
      (4L, 1L, "U", "d1"), (4L, 2L, "D", null), (4L, 3L, "U", "d3"),
      (5L, 3L, "U", "e3"), (5L, 1L, "U", "e1")
    ).toDF("id", "version", "op", "payload")
    val want = Set((1L, 1L, "a1"), (2L, 2L, "b2"), (4L, 3L, "d3"), (5L, 3L, "e3"))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Merge.latestWins(df, "id", "version", "op")
        .select("id", "version", "payload")
        .as[(Long, Long, String)].collect().toSet
    assert(run(log) === want)
    assert(run(log.repartition(7)) === want)
    assert(run(log.orderBy($"version".desc)) === want)
  }

  test("withGlobalPrefixSumCols: exclusive offsets = sequential fold, any layout") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, ((i * 37) % 11 + 1).toLong))
      .toDF("id", "v")
    for (laid <- Seq(df, df.repartition(7),
        df.repartition(3).sortWithinPartitions($"id".desc))) {
      val (out, total) = Splits.withGlobalPrefixSumCols(
        laid, Seq(col("id")), "v", "off")
      val rows = out.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      var acc = 0L
      rows.foreach { case (id, v, off) =>
        assert(off === acc, s"offset of id=$id"); acc += v
      }
      assert(total === acc)
    }
    // zero-value rows take the current offset without advancing it
    val z = Seq((1L, 0L), (2L, 5L), (3L, 0L), (4L, 2L)).toDF("id", "v")
    val (zo, zt) = Splits.withGlobalPrefixSumCols(z, Seq(col("id")), "v", "off")
    assert(zo.orderBy("id").collect().map(_.getLong(2)).toSeq
      === Seq(0L, 0L, 5L, 5L))
    assert(zt === 7L)
  }
}
