package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration synchronous label propagation (Raghavan et al.
  * 2007) over an edge table — community detection for the graphs a
  * pipeline actually has (co-occurrence, link, dup-pair graphs). The
  * graph-family companion to [[PageRank]]/[[Hits]]: where
  * [[graft.dedup.Components]] finds CONNECTIVITY, label propagation
  * finds DENSITY — nodes adopt the label most common among their
  * in-neighbors, so tightly-knit regions converge to one label even
  * inside a single connected component.
  *
  * Deliberately deterministic where the published algorithm is not:
  * SYNCHRONOUS rounds (all nodes update from the previous round's
  * labels — no update-order dependence), exactly `iters` rounds, and a
  * total tie-break (highest count, then SMALLEST label). Labels start
  * as the node's own id. A node with no in-edges keeps its label.
  * Feed both edge directions for undirected semantics (the [[PageRank]]
  * convention). Synchronous LPA can oscillate on bipartite regions —
  * that is a property of the fixed-point definition, not
  * nondeterminism; pick odd/even `iters` consistently when comparing.
  *
  * Scale shape: edges persisted once; each round is one join of the
  * N-row label table into the edge table (through [[Fixpoint]]'s
  * broadcast gate on the node count — under it the edge table never
  * shuffles), a map-side-combined (node, label) count, and a
  * struct-min argmax. Each round's label table is cut from its lineage
  * ([[Fixpoint.cut]]) — the round reads the previous table TWICE (vote
  * join + keep-own-label fallback), so without truncation the logical
  * plan doubles per round.
  */
object LabelProp {

  def labelPropagation(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      iters: Int,
      broadcastNodesUpTo: Long = Fixpoint.BroadcastNodesUpTo)
      : DataFrame = {
    require(iters >= 1, "iters must be positive")
    Fixpoint.holding { held =>
      val e = held.persist(Fixpoint.edgeTable(edges, srcCol, dstCol))
      val labels0 = Fixpoint.cut(
        Fixpoint.nodeIds(e).withColumn("lbl", col("id")))
      // shuffle arm (Gate.hashed): a pre-partitioned persisted edge copy
      // was measured and REJECTED — extra cache materialization exchange
      // outweighed the saved join exchanges at x30, flat at x100; NOTES
      // round 10.
      val (_, gate) = Fixpoint.sized(labels0, broadcastNodesUpTo)
      Fixpoint.rounds(labels0, iters) { (labels, _) =>
        // (count desc, label asc) argmax as a single struct-min: counts
        // are positive, so min over (-count, label) orders correctly
        val votes = e.join(
          gate.hashed(labels.withColumnRenamed("id", "u")), Seq("u"))
          .groupBy(col("v").as("id"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        val best = votes.groupBy("id")
          .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
          .select(col("id"), col("m.lbl").as("new_lbl"))
        Some(Fixpoint.cut(labels.join(best, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("new_lbl"), col("lbl")).as("lbl"))))
      }.select(col("id"), col("lbl").as("label"))
    }
  }
}
