package graft.ops

import graft.SparkSpec
import graft.dedup.Components
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What the iterative operators leave in the session and how many jobs
  * they run: every loop goes through `Fixpoint`, which releases the
  * tables a loop persists on every exit path and leaves the result on
  * cut leaves. */
class FixpointSpec extends SparkSpec {

  // a triangle hung on a K4 by a chain, plus a second component: every
  // loop runs more than one round on it
  private val fixture = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 6L), (6L, 7L), (6L, 8L), (7L, 8L), (7L, 9L), (8L, 9L),
    (9L, 6L), (20L, 21L), (21L, 22L))

  private def graph: DataFrame = {
    import spark.implicits._
    fixture.toDF("s", "d")
  }

  private def pairs: DataFrame =
    graph.select(col("s").as("id1"), col("d").as("id2"))

  /** Each loop operator over `g`, with the round counts the job pin
    * uses; connectedComponents skips its driver fast path. */
  private def loops(g: DataFrame): Seq[(String, () => DataFrame)] = {
    import spark.implicits._
    Seq(
      "pageRank" -> (() => PageRank.pageRank(g, col("s"), col("d"), 7)),
      "weightedPageRank" -> (() => PageRank.weightedPageRank(
        g.withColumn("w", col("s") % 3 + 1), col("s"), col("d"), col("w"),
        7)),
      "trustRank" -> (() => PageRank.trustRank(g, col("s"), col("d"),
        Seq(1L, 20L).toDF("seed"), col("seed"), 7)),
      "hits" -> (() => Hits.hits(g, col("s"), col("d"), 2)),
      "labelPropagation" -> (() =>
        LabelProp.labelPropagation(g, col("s"), col("d"), 3)),
      "kCore" -> (() => KCore.kCore(g, col("s"), col("d"), k = 2)),
      "connectedComponents" -> (() => Components.connectedComponents(
        g.select(col("s").as("id1"), col("d").as("id2")),
        maxDriverEdges = 0L)))
  }

  /** Persisted RDDs made after RDD id `marker` that are not cut blocks:
    * the column buffers of cache-manager entries, and plain RDD
    * persists. The persistent-RDD map holds its values weakly, so an
    * earlier suite's unreferenced persist can vanish mid-test: count
    * only what is newer than the marker, not the map's size. */
  private def heldSince(marker: Int): Seq[String] =
    spark.sparkContext.getPersistentRDDs.toSeq.collect {
      case (id, rdd) if id > marker && !rdd.isCheckpointed =>
        s"rdd $id ${Option(rdd.name).getOrElse("").take(80)}"
    }

  private def marker(): Int = spark.sparkContext.emptyRDD[Int].id

  test("each loop operator leaves no cached table once its result is " +
      "collected") {
    for ((name, run) <- loops(graph)) {
      val m = marker()
      assert(run().collect().nonEmpty, name)
      val held = heldSince(m)
      assert(held.isEmpty, s"$name left $held")
    }
  }

  test("each loop operator leaves no cached table when its guard " +
      "throws") {
    import spark.implicits._
    val empty = graph.filter(lit(false))
    val guarded: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => PageRank.pageRank(empty, col("s"), col("d"), 3)),
      "weightedPageRank" -> (() => PageRank.weightedPageRank(
        graph.withColumn("w", lit(0L)), col("s"), col("d"), col("w"), 3)),
      "trustRank" -> (() => PageRank.trustRank(graph, col("s"), col("d"),
        Seq(99L).toDF("seed"), col("seed"), 3)),
      "hits" -> (() => Hits.hits(empty, col("s"), col("d"), 2)),
      "labelPropagation" -> (() =>
        LabelProp.labelPropagation(empty, col("s"), col("d"), 2)),
      "kCore" -> (() => KCore.kCore(graph, col("s"), col("d"), k = 0)),
      // the 1..3 path needs two rounds to settle
      "connectedComponents" -> (() => Components.connectedComponents(
        pairs, maxIter = 1, maxDriverEdges = 0L)))
    for ((name, run) <- guarded) {
      val m = marker()
      intercept[Exception](run().collect())
      val held = heldSince(m)
      assert(held.isEmpty, s"$name left $held")
    }
  }

  /** Jobs that `run` (the operator call and the collect of its result)
    * starts, read once a later fence job shows the status store has
    * seen every job before it. */
  private def jobs(group: String)(run: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "loop job count")
    try run finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-fence", "status fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-fence").isEmpty) {
      assert(System.nanoTime() < deadline, "status store never saw the fence")
      Thread.sleep(10)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("job counts: moving the loops into one driver adds no job") {
    // the counts of the hand-rolled loops, but kCore's: its rounds off
    // the old cut cadence persisted each edge set and then counted it,
    // and cutting every round instead runs fewer jobs (18 -> 14 here)
    val want = Map("pageRank" -> 37, "hits" -> 24, "labelPropagation" -> 23,
      "kCore" -> 14, "connectedComponents" -> 24)
    val got = loops(graph).collect { case (name, run) if want.contains(name) =>
      name -> jobs(s"graft-fixpoint-jobs-$name")(run().collect())
    }.toMap
    assert(got == want)
  }
}
