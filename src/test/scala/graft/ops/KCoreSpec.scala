package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KCoreSpec extends SparkSpec {

  private def run(edges: Seq[(Long, Long)], k: Int, maxRounds: Int = 30,
      broadcastNodesUpTo: Long = Fixpoint.BroadcastNodesUpTo)
      : Map[Long, Long] = {
    import spark.implicits._
    KCore.kCore(edges.toDF("src", "dst").repartition(3),
        col("src"), col("dst"), k = k, maxRounds = maxRounds,
        broadcastNodesUpTo = broadcastNodesUpTo)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Reference peel: sequential, sets, until fixed point or rounds. */
  private def brute(edges: Seq[(Long, Long)], k: Int,
      rounds: Int = 1000): Map[Long, Long] = {
    var und = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a, b), (b, a))
    }.distinct
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      r += 1
      val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter(e => keep(e._1) && keep(e._2))
      stable = next.size == und.size
      und = next
    }
    und.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
  }

  // pendant chain into a triangle into a K4: the 2-core strips the
  // chain, the 3-core strips the triangle too — multi-round peeling
  // (removing the chain drops the triangle's anchor degree)
  private val fixture = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), // chain, 4 anchors the triangle
    (4L, 5L), (5L, 6L), (6L, 4L), // triangle 4-5-6, 6 anchors the K4
    (6L, 7L), (7L, 8L), (7L, 9L), (8L, 9L), (8L, 10L), (9L, 10L),
    (10L, 7L),                    // K4 on 7-10
    (2L, 1L), (1L, 1L))           // reversed-dup + self-loop noise

  test("kCore equals a sequential reference peel for k=2 and k=3 on a " +
      "chain+triangle+clique graph (multi-round cascade), " +
      "self-loops and duplicate orientations normalized away") {
    for (k <- Seq(2, 3)) {
      val got = run(fixture, k)
      val want = brute(fixture, k)
      assert(got == want, s"k=$k")
    }
    // shape sanity: the 3-core is exactly the K4, every degree 3
    assert(run(fixture, 3) == Map(7L -> 3L, 8L -> 3L, 9L -> 3L, 10L -> 3L))
  }

  test("maxRounds truncation: one round of k=3 peeling keeps nodes the " +
      "full peel later removes, and matches the reference at the same " +
      "round budget") {
    val oneRound = run(fixture, 3, maxRounds = 1)
    assert(oneRound == brute(fixture, 3, rounds = 1))
    // the cascade is real: the fixed point is a strict subset of the
    // one-round survivors
    val fixedPoint = run(fixture, 3)
    assert(fixedPoint.keySet.subsetOf(oneRound.keySet))
    assert(oneRound.size > fixedPoint.size)
  }

  test("broadcast and shuffle semi-join arms are result-identical") {
    val bcast = run(fixture, 2)
    val shuffle = run(fixture, 2, broadcastNodesUpTo = 0L)
    assert(bcast == shuffle)
  }

  test("a graph with no k-core peels to empty") {
    assert(run(Seq((1L, 2L), (2L, 3L)), 2) == Map.empty)
  }
}
