package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HitsSpec extends SparkSpec {

  /** In-memory replay of the documented fixed-point loop. */
  private def ref(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val S = Hits.Scale
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var h = nodes.map(_ -> S).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val ar = nodes.map(n =>
        n -> edges.filter(_._2 == n).map(e => h(e._1)).sum).toMap
      val at = ar.values.sum
      a = nodes.map(n =>
        n -> (if (at > 0) ar(n) * S / at else 0L)).toMap
      val hr = nodes.map(n =>
        n -> edges.filter(_._1 == n).map(e => a(e._2)).sum).toMap
      val ht = hr.values.sum
      h = nodes.map(n =>
        n -> (if (ht > 0) hr(n) * S / ht else 0L)).toMap
    }
    nodes.map(n => n -> ((h(n), a(n)))).toMap
  }

  private def run(
      edges: Seq[(Long, Long)], iters: Int,
      gate: Long = Fixpoint.BroadcastNodesUpTo)
      : Map[Long, (Long, Long)] = {
    import spark.implicits._
    Hits.hits(edges.toDF("s", "d"), col("s"), col("d"), iters,
        broadcastNodesUpTo = gate)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("matches the fixed-point replay on a small directed graph") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L), (3L, 1L))
    assert(run(edges, 1) == ref(edges, 1))
    assert(run(edges, 3) == ref(edges, 3))
  }

  test("bipartite graph: sources are pure hubs, sinks pure authorities") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L))
    val got = run(edges, 2)
    assert(got == ref(edges, 2))
    // sinks never appear as src → hub 0; sources never as dst → auth 0
    assert(Seq(10L, 11L, 12L).forall(got(_)._1 == 0L))
    assert(Seq(1L, 2L, 3L).forall(got(_)._2 == 0L))
    // node 10 has two in-edges, 12 one → strictly higher authority
    assert(got(10L)._2 > got(12L)._2)
  }

  test("broadcast and shuffle arms agree") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(30).toLong, 100L + rnd.nextInt(30)))
    assert(run(edges, 2) == run(edges, 2, gate = 0L))
    assert(run(edges, 2) == ref(edges, 2))
  }

  test("guards: empty graph and bad iters") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Hits.hits(Seq.empty[(Long, Long)].toDF("s", "d"),
        col("s"), col("d"), 1).collect()
    }
    intercept[IllegalArgumentException] {
      Hits.hits(Seq((1L, 2L)).toDF("s", "d"), col("s"), col("d"), 0)
    }
  }
}
