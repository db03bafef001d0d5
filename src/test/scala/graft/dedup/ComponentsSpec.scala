package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected components over pair lists: the cluster step after pairwise
  * dedup. Component label = min id (deterministic representative).
  */
class ComponentsSpec extends SparkSpec {

  private def comps(pairs: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(pairs.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a chain, a separate pair and transitive closure resolve to " +
      "min-id components") {
    // {1,2,3} chained without the closing 1-3 edge; {10,11} separate
    val out = comps((1L, 2L), (2L, 3L), (10L, 11L))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a cycle and a long path both converge") {
    val cycle = comps((1L, 2L), (2L, 3L), (3L, 1L))
    assert(cycle.values.toSet == Set(1L))
    // path 0-1-2-...-10: diameter 10, well within default maxIter
    val path = comps((0L until 10L).map(i => (i, i + 1)): _*)
    assert(path.values.toSet == Set(0L))
    assert(path.size == 11)
  }

  test("maxIter below the needed rounds fails loudly, not partially") {
    import spark.implicits._
    // pointer doubling reaches ~2^r in r rounds; a 300-path cannot
    // finish (and detect convergence) in 3
    val longPath = (0L until 300L).map(i => (i, i + 1)).toDF("id1", "id2")
    assertThrows[IllegalStateException] {
      Components.connectedComponents(longPath, maxIter = 3,
        maxDriverEdges = 0L).collect()
    }
  }

  test("pointer doubling converges a 100-path within O(log d) rounds") {
    import spark.implicits._
    val path = (0L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
    // without doubling this needs 100 rounds, far over maxIter = 12
    val out = Components
      .connectedComponents(path, maxIter = 12, pointerDoubling = true,
        maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 101 && out.values.toSet == Set(0L))
    // plain propagation: same labels, just more rounds
    val plain = Components.connectedComponents(path, maxIter = 110,
      maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == out)
  }

  test("driver union-find fast path == distributed label propagation " +
      "on random graphs (both orders of the same fixed point)") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // mixed shapes: random edges + a chain + an isolated pair
    val edges = ((1 to 150).map(_ =>
        (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter { case (a, b) => a != b } ++
      (100L until 130L).map(i => (i, i + 1)) :+ ((500L, 501L))).toSeq
    val df = rng.shuffle(edges).toDF("id1", "id2")
    val fast = Components.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Components
      .connectedComponents(df, maxIter = 60, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
  }

  test("fast path over duplicated and reversed pair rows runs at most " +
      "two jobs and gives the distributed path's components") {
    import spark.implicits._
    var calls = 0
    def jobsAndResult(pairs: org.apache.spark.sql.DataFrame,
        maxDriverEdges: Long): (Int, Set[(Any, Any)]) = {
      calls += 1
      val group = s"graft-components-fast-path-$calls"
      spark.sparkContext.setJobGroup(group, "components job probe")
      try {
        val out = Components.connectedComponents(pairs,
          maxDriverEdges = maxDriverEdges)
        val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
        (jobs.length, out.collect().map(r => (r.get(0), r.get(1))).toSet)
      } finally spark.sparkContext.clearJobGroup()
    }
    val longs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L),
      (7L, 8L), (8L, 7L), (8L, 7L)).toDF("id1", "id2")
    val strings = Seq(("b", "a"), ("a", "b"), ("b", "c"), ("c", "b"),
      ("\uD83D\uDE00", "\uE000"), ("\uE000", "\uD83D\uDE00"))
      .toDF("id1", "id2")
    for (pairs <- Seq(longs, strings)) {
      val (jobs, fast) = jobsAndResult(pairs, 1000000L)
      assert(jobs <= 2, s"fast path ran $jobs jobs")
      val (_, dist) = jobsAndResult(pairs, 0L)
      assert(fast == dist && fast.nonEmpty)
    }
    // String ids keep Spark's byte order for the component label
    val (_, s) = jobsAndResult(strings, 1000000L)
    assert(s.contains(("\uD83D\uDE00", "\uE000")))
  }

  test("empty pair list yields empty components") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Components.connectedComponents(empty).isEmpty)
  }

  test("keepOnePerCluster keeps the min-id representative and all " +
      "unpaired rows") {
    import spark.implicits._
    val corpus = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // cluster {1,2,3} via chain, cluster {4,5}; 6 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val kept = Components.keepOnePerCluster(corpus, col("doc_id"), pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 6L))
  }

  test("extra columns on the pair table (jaccard etc.) are ignored") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.4)).toDF("id1", "id2", "jaccard")
    val out = Components.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
