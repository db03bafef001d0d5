package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {

  /** Sequential reference with the same fixed-point floors. */
  private def ref(
      edges: Seq[(Long, Long)], iters: Int,
      num: Long = 85, den: Long = 100): Map[Long, Long] = {
    val S = PageRank.Scale
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (den - num) * S / (den * n)
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (u, v) => v -> r(u) / deg(u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map(id => id -> (base + num * contrib.getOrElse(id, 0L) / den))
        .toMap
    }
    r
  }

  test("matches the fixed-point reference on a small directed graph") {
    import spark.implicits._
    // a hub (1 -> everyone), a cycle (2->3->4->2), a dangling sink (5)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 3L), (3L, 4L), (4L, 2L))
    val got = PageRank.pageRank(edges.toDF("s", "d"), col("s"), col("d"),
        iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref(edges, 4))
    // the cycle members accumulate more than the rank source
    assert(got(2L) > got(1L) && got(5L) < got(2L))
  }

  test("bit-identical across partitionings and iteration-monotone " +
      "node set") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    def run(parts: Int) = PageRank.pageRank(
        edges.toDF("s", "d").repartition(parts), col("s"), col("d"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(2)
    assert(a == run(9))
    assert(a == ref(edges, 3))
  }

  test("broadcast and shuffle join arms emit identical ranks, and the " +
      "gated arm really broadcasts") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val df = edges.toDF("s", "d")
    val bcast = PageRank.pageRank(df, col("s"), col("d"), 3)
    val shuf = PageRank.pageRank(df, col("s"), col("d"), 3,
      broadcastNodesUpTo = 0L)
    val toMap = (r: org.apache.spark.sql.DataFrame) =>
      r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(toMap(bcast) == toMap(shuf))
    assert(toMap(bcast) == ref(edges, 3))
    // plan shape: the gated arm broadcasts the rank side of the edge
    // join; the fallback must not (localCheckpoint hides the iteration
    // plans, so inspect one un-checkpointed contribution round instead)
    val e = df.select(col("s").cast("long").as("u"),
      col("d").cast("long").as("v"))
    val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
    val rank0 = e.select(col("u").as("id")).distinct()
      .withColumn("r", lit(1048576L / 40))
      .withColumnRenamed("id", "u")
    def round(r: org.apache.spark.sql.DataFrame) = e.join(deg, Seq("u"))
      .join(r, Seq("u"))
      .select(col("v"), expr("r div d").as("c"))
    assert(round(broadcast(rank0)).queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("deep loop (iters=25, five lineage cuts) stays bit-identical " +
      "to the sequential reference") {
    import spark.implicits._
    // 25 rounds crosses the Fixpoint.CutEvery=5 boundary five times; the
    // eager localCheckpoints must be semantically invisible — the only
    // ground truth needed is the same sequential model the shallow
    // tests pin (checkpointing just materializes the identical table).
    val rnd = new scala.util.Random(19)
    val edges = (1 to 500).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val got = PageRank.pageRank(edges.toDF("s", "d"), col("s"), col("d"),
        iters = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref(edges, 25))
  }

  test("guards: empty graph and bad damping") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      PageRank.pageRank(Seq((1L, 2L)).toDF("s", "d"), col("s"), col("d"),
        iters = 2, dampingNum = 101)
    }
    intercept[IllegalArgumentException] {
      PageRank.pageRank(
        Seq.empty[(Long, Long)].toDF("s", "d"), col("s"), col("d"), 1)
    }
  }

  test("trustRank matches a plain-Scala fixed-point model; zero trust " +
      "off the seeds' reach; seeds-everywhere degenerates to pageRank " +
      "bit-for-bit; absent seeds are ignored and no-seed is loud") {
    import spark.implicits._
    // seeds {1}: 1 -> 2 -> 3, and an unreachable island 8 <-> 9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (8L, 9L), (9L, 8L))
      .toDF("s", "d")
    def seedsOf(ids: Long*) = ids.toDF("sid")
    val out = PageRank.trustRank(edges, col("s"), col("d"),
        seedsOf(1L), col("sid"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact model replay
    val S = 1L << 20
    val adj = Map(1L -> Seq(2L), 2L -> Seq(3L), 3L -> Seq(1L),
      8L -> Seq(9L), 9L -> Seq(8L))
    val nodes = Seq(1L, 2L, 3L, 8L, 9L)
    val seedSet = Set(1L)
    val m = 1L
    var r = nodes.map(v => v -> (if (seedSet(v)) S / m else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = nodes.map { v =>
        v -> adj.toSeq.collect {
          case (u, outs) if outs.contains(v) => r(u) / outs.length
        }.sum
      }.toMap
      r = nodes.map { v =>
        val base = if (seedSet(v)) 15L * S / (100L * m) else 0L
        v -> (base + 85L * contrib(v) / 100L)
      }.toMap
    }
    assert(out == r)
    assert(out(8L) == 0L && out(9L) == 0L) // unreachable: exactly zero
    assert(out(1L) > 0L && out(2L) > 0L && out(3L) > 0L)
    // seeds = every node degenerates to pageRank exactly
    val pr = PageRank.pageRank(edges, col("s"), col("d"), iters = 3)
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    val trAll = PageRank.trustRank(edges, col("s"), col("d"),
        seedsOf(1L, 2L, 3L, 8L, 9L), col("sid"), iters = 3)
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(trAll == pr)
    // seed ids not in the graph are ignored (99 contributes nothing,
    // m stays 1 -> identical to the {1}-seed run)
    val withGhost = PageRank.trustRank(edges, col("s"), col("d"),
        seedsOf(1L, 99L), col("sid"), iters = 3)
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(withGhost == out)
    // no seed present in the graph: loud
    intercept[IllegalArgumentException] {
      PageRank.trustRank(edges, col("s"), col("d"),
        seedsOf(99L), col("sid"), iters = 1)
    }
  }

  // ---- weightedPageRank ----------------------------------------------

  /** Sequential weighted reference with the same floors. */
  private def refW(
      edges: Seq[(Long, Long, Long)], iters: Int,
      num: Long = 85, den: Long = 100): Map[Long, Long] = {
    val S = PageRank.Scale
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val sw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val base = (den - num) * S / (den * n)
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (u, v, w) => v -> r(u) * w / sw(u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map(id => id -> (base + num * contrib.getOrElse(id, 0L) / den))
        .toMap
    }
    r
  }

  test("weightedPageRank matches the sequential weighted reference; a " +
      "heavy edge pulls rank toward its target vs the uniform split; " +
      "weight=1 everywhere equals pageRank on a distinct-edge graph") {
    import spark.implicits._
    // node 1 splits 9:1 between 2 and 3; cycle keeps mass circulating
    val wEdges = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 3L, 2L),
      (3L, 1L, 5L), (4L, 1L, 1L))
    val got = PageRank.weightedPageRank(
        wEdges.toDF("s", "d", "w").repartition(3),
        col("s"), col("d"), col("w"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refW(wEdges, 4))
    // the 9:1 split shows: 2 outranks 3's direct share from node 1
    val uni = wEdges.map { case (u, v, _) => (u, v) }
    val gotUni = PageRank.pageRank(uni.toDF("s", "d"), col("s"),
        col("d"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) > gotUni(2L))
    // weight 1 everywhere ≡ the uniform operator (distinct edges)
    val ones = uni.map { case (u, v) => (u, v, 1L) }
    val gotOnes = PageRank.weightedPageRank(ones.toDF("s", "d", "w"),
        col("s"), col("d"), col("w"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotOnes == gotUni)
  }

  test("weightedPageRank arms are identical, and non-positive weights " +
      "fail loudly") {
    import spark.implicits._
    val wEdges = Seq((1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 2L))
    val df = wEdges.toDF("s", "d", "w")
    val a = PageRank.weightedPageRank(df, col("s"), col("d"), col("w"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = PageRank.weightedPageRank(df, col("s"), col("d"), col("w"), 3,
        broadcastNodesUpTo = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    val bad = Seq((1L, 2L, 0L)).toDF("s", "d", "w")
    intercept[Exception](PageRank.weightedPageRank(bad, col("s"),
      col("d"), col("w"), 1).collect())
  }
}
