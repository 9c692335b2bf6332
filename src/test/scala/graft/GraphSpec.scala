package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.Graph

/** Hand-checked PageRank semantics + co-occurrence construction + the
  * determinism the oracle compare relies on.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("coOccurrenceEdges: symmetric distinct pairs within groups only") {
    val df = Seq((1, "a"), (1, "b"), (1, "b"), (1, "c"),
      (2, "c"), (2, "d"), (3, "e")).toDF("g", "i")
    val e = Graph.coOccurrenceEdges(df, "g", "i")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = Set(("a","b"),("a","c"),("b","c"),("c","d")) // within groups
    assert(e === want.map(identity) ++ want.map(_.swap))
    assert(!e.exists { case (a, b) => a == b })     // no self loops
    assert(!e.contains(("a","d")) && !e.contains(("d","e"))) // no cross-group
  }

  test("triangleCounts: hand-computed counts, clustering, input-form invariance") {
    // two triangles sharing edge (b,c): {a,b,c} and {b,c,d}, plus a
    // pendant e hanging off a. Degrees: a=3 b=3 c=3 d=2 e=1.
    // n_tri: a=1 b=2 c=2 d=1 e=0. clustering: a = 1/C(3,2) = 1/3,
    // b = c = 2/3, d = 1/C(2,2)... = 1/1 = 1.0, e = 0.
    val pairs = Seq(("a","b"),("a","c"),("b","c"),("b","d"),("c","d"),("a","e"))
      .toDF("src","dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val got = asMap(Graph.triangleCounts(pairs))
    assert(got === Map(
      "a" -> (3L, 1L, 1.0 / 3.0), "b" -> (3L, 2L, 2.0 / 3.0),
      "c" -> (3L, 2L, 2.0 / 3.0), "d" -> (2L, 1L, 1.0),
      "e" -> (1L, 0L, 0.0)))
    // symmetric input, duplicated edges, reversed pairs — same answer
    val sym = pairs.unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
    assert(asMap(Graph.triangleCounts(sym.unionAll(sym))) === got)
  }

  test("triangleCounts long-id fast path ≡ generic path (round 21)") {
    // string ids take the generic array_intersect branch; LONG ids take
    // the sorted-merge native intersection (SortedLongIntersect). Same
    // graph under an order-preserving relabeling a..e -> 1..5 must give
    // identical (deg, n_tri, clustering) per node — this is the pin
    // that the round-21 wedge-stage rewrite computes the same triangles.
    val longPairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(longPairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got === Map(
      1L -> (3L, 1L, 1.0 / 3.0), 2L -> (3L, 2L, 2.0 / 3.0),
      3L -> (3L, 2L, 2.0 / 3.0), 4L -> (2L, 1L, 1.0),
      5L -> (1L, 0L, 0.0)))
    // and the broadcast-suppressed (shuffle-join) branch agrees on longs
    val gotShuffle = Graph.triangleCounts(longPairs,
        broadcastDeg = Some(false), broadcastAdj = Some(false)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(gotShuffle === got)
  }

  test("pageRank: hand-computed 1-iteration values on a fixed graph") {
    // star: a -> {b, c}; b -> a. Normalized, d = 0.5, 1 iteration:
    // rank(a) = 0.5 + 0.5 * (1/1)   [from b, outdeg 1]   = 1.0
    // rank(b) = 0.5 + 0.5 * (1/2)   [from a, outdeg 2]   = 0.75
    // rank(c) = 0.5 + 0.5 * (1/2)                        = 0.75
    val e = Seq(("a","b"),("a","c"),("b","a")).toDF("src","dst")
    val r = Graph.pageRank(e, damping = 0.5, iters = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r === Map("a" -> 1.0, "b" -> 0.75, "c" -> 0.75))
  }

  test("pageRank: dangling node contributes nothing; no-inbound keeps teleport") {
    // a -> b; b dangles (no out-edges). 2 iterations, d = 0.5:
    // it1: a = 0.5 (no inbound), b = 0.5 + 0.5*1 = 1.0
    // it2: a = 0.5,              b = 0.5 + 0.5*0.5 = 0.75
    val e = Seq(("a","b")).toDF("src","dst")
    val r = Graph.pageRank(e, damping = 0.5, iters = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r === Map("a" -> 0.5, "b" -> 0.75))
  }

  test("pageRank is deterministic under repartition and edge duplication") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val base = Graph.pageRank(edges, 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val again = Graph.pageRank(edges.union(edges).repartition(13), 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again === base)
  }

  test("pageRank adjacency form and row-form fallback produce identical ranks") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 400).map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val adjForm = Graph.pageRank(edges, 0.85, 3, adjacencyForm = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rowForm = Graph.pageRank(edges, 0.85, 3, adjacencyForm = false)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(adjForm === rowForm)
  }

  test("pageRank broadcast auto-gate: forced, suppressed, and gated-off paths agree") {
    // VERDICT r11 item 2: broadcastRanks must not force a broadcast of
    // an unbounded rank vector. The auto-gate counts the pinned node
    // frame; broadcastNodeLimit = 0 proves the gated-OFF path (shuffle
    // join) produces bit-identical ranks to the forced-broadcast path —
    // the exact-decimal gsum makes the comparison exact, not approximate.
    val rnd = new scala.util.Random(23)
    val edges = (1 to 400).map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    def ranks(br: Option[Boolean], limit: Long) =
      Graph.pageRank(edges, 0.85, 3, broadcastRanks = br,
          broadcastNodeLimit = limit)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val forced = ranks(Some(true), Graph.BroadcastNodeLimit)
    val suppressed = ranks(Some(false), Graph.BroadcastNodeLimit)
    val gatedOff = ranks(None, 0L)    // 40 nodes > 0 → auto picks shuffle
    val gatedOn = ranks(None, Graph.BroadcastNodeLimit)
    assert(suppressed === forced)
    assert(gatedOff === forced)
    assert(gatedOn === forced)
  }

  test("fused coOccurrenceAdjacency pageRank ≡ edge-list pageRank (round 20)") {
    // the q131 shape: grouped baskets → co-occurrence ranks. The fused
    // group-set → adjacency build must produce bit-identical ranks to
    // the materialized-pair-rows path it replaces (exact-decimal gsum
    // makes the compare exact), including duplicate (g, i) rows and
    // multi-group overlap.
    val rnd = new scala.util.Random(31)
    val baskets = (1 to 600).map(_ => (rnd.nextInt(80), s"p${rnd.nextInt(50)}"))
      .toDF("g", "i")
    val viaEdges = Graph.pageRank(
        Graph.coOccurrenceEdges(baskets, "g", "i", distinctPairs = false),
        0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val fused = Graph.pageRankFromAdjacency(
        Graph.coOccurrenceAdjacency(baskets, "g", "i"), 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fused === viaEdges)
    // an item that only ever appears alone in its groups must be ABSENT
    // (the pair-explode form never emits it; an empty-adj row would
    // also be an outdeg-0 division in the rank iteration)
    val lone = Seq((1, "x"), (2, "y"), (2, "z")).toDF("g", "i")
    val adjOnly = Graph.coOccurrenceAdjacency(lone, "g", "i")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(adjOnly === Map("y" -> Set("z"), "z" -> Set("y")))
  }

  test("triangleCounts pairsCanonical skips the re-distinct but keeps the answer (round 20)") {
    val pairs = Seq(("a","b"),("a","c"),("b","c"),("b","d"),("c","d"),("a","e"))
      .toDF("src","dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(asMap(Graph.triangleCounts(pairs, pairsCanonical = true)) ===
      asMap(Graph.triangleCounts(pairs)))
  }

  test("triangleCounts broadcast auto-gate: both paths agree") {
    val pairs = Seq(("a","b"),("a","c"),("b","c"),("b","d"),("c","d"),("a","e"))
      .toDF("src","dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val bcast = asMap(Graph.triangleCounts(pairs,
      broadcastDeg = Some(true), broadcastAdj = Some(true)))
    val shuffled = asMap(Graph.triangleCounts(pairs,
      broadcastDeg = Some(false), broadcastAdj = Some(false)))
    val gatedOff = asMap(Graph.triangleCounts(pairs,
      broadcastNodeLimit = 0L, broadcastEdgeLimit = 0L))
    assert(shuffled === bcast)
    assert(gatedOff === bcast)
  }

  test("coOccurrencePairs returns exactly its own canonical form (the pairsCanonical contract)") {
    // triangleCounts(pairsCanonical = true), as q139 calls it, skips the
    // src < dst filter and the distinct: the producer must already be both
    def canonical(pairs: org.apache.spark.sql.DataFrame) =
      pairs.filter(col("src") < col("dst")).distinct()
    def assertCanonical(pairs: org.apache.spark.sql.DataFrame): Unit = {
      val rows = pairs.collect().toSeq
      assert(rows.nonEmpty)
      assert(rows.sortBy(_.toString) === canonical(pairs).collect().toSeq.sortBy(_.toString))
    }
    // repeated pairs, reversed pairs and self-pairs across groups
    val fixture = Seq((1, 3L), (1, 1L), (1, 3L), (1, 2L), (2, 3L), (2, 1L),
      (3, 2L), (3, 2L), (4, 5L), (5, 9L), (6, 7L), (6, 6L)).toDF("g", "i")
    assertCanonical(Graph.coOccurrencePairs(fixture, "g", "i"))
    assertCanonical(Graph.coOccurrencePairs(
      Tables.lineitem(spark, "perfbench/data/sf0.01"), "l_orderkey", "l_partkey"))
  }
}
