package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ArithmeticSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs) == Some((90.0, 90.0)))
    // exactly ten samples lie above the reported value
    val Some((_, v)) = Stats.tail((1 to 37).map(_.toDouble))
    assert((1 to 37).count(_ > v) == 10)
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((100.0 / 11, 1.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time: span minus the union of overlapping child intervals") {
    // children overlap each other and one sticks out of the span
    assert(Stats.selfTime(0, 100, Seq((10, 30), (20, 40), (90, 120))) == 60)
    assert(Stats.selfTime(0, 100, Seq((10, 20), (10, 20))) == 90)
    assert(Stats.selfTime(0, 100, Seq((-5, 200))) == 0)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    // nested children count once
    assert(Stats.selfTime(0, 100, Seq((0, 50), (10, 20), (45, 60))) == 40)
  }

  test("seeded orders are repeatable and keep builders ahead of readers") {
    // index builders and the read-only twins that read their tables
    val index = Seq(
      Member("q210_lsh_index_read", Read, Seq("q203_lsh_persisted_index")),
      Member("q211_ivf_index_read", Read, Seq("q204_ivf_persisted_index")),
      Member("q213_ivf_filtered_topk", Read, Seq("q204_ivf_persisted_index")),
      Member("q203_lsh_persisted_index", Write),
      Member("q204_ivf_persisted_index", Write),
      Member("q158_curation_capstone", Read))
    (Workloads.all.map(_.members) :+ index).foreach { ms =>
      (0L until 200L).foreach { seed =>
        val o = Workloads.order(ms, seed)
        assert(o == Workloads.order(ms, seed))
        assert(o.map(_.name).sorted == ms.map(_.name).sorted)
        val pos = o.map(_.name).zipWithIndex.toMap
        o.foreach(m => m.after.foreach(b => assert(pos(b) < pos(m.name), s"$b before ${m.name}")))
      }
    }
    // the seed does permute the order, also between nearby seeds
    assert((0L until 50L).map(s => Workloads.order(index, s).map(_.name)).distinct.size > 10)
    val two = Workloads("curation_composites").members
    assert((101L to 106L).map(s => Workloads.order(two, s)).distinct.size == 2)
    assert(Workloads.all.forall(w => w.members.exists(_.op == Read) && w.members.exists(_.op == Write)))
  }

  test("a digest is the same for the same rows under two partitionings") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rows = (1 to 500).map(i => (i % 7, s"v$i", i * 0.5, if (i % 5 == 0) None else Some(i.toLong)))
      val df = rows.toDF("k", "s", "d", "n")
      val a = Digest.of(df.repartition(1))
      val b = Digest.of(df.repartition(13, $"s").select("n", "d", "s", "k"))
      assert(a == b)
      assert(a.rows == 500)
      assert(Digest.of(df.filter($"k" =!= 3)) != a)
      assert(Digest.of(df.withColumn("d", $"d" + 1)) != a)
    } finally spark.stop()
  }
}
