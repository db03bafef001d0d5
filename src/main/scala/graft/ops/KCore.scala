package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-core decomposition by iterated peeling (Seidman 1983) — the
  * standard "dense backbone" extractor for the graphs a data pipeline
  * actually has (co-occurrence graphs, dup-pair graphs, link graphs):
  * repeatedly delete every node of degree < k until none remains; the
  * survivors are the k-core, the unique maximal subgraph where every
  * node keeps ≥ k neighbors. Downstream uses: seed sets for trust
  * propagation (feed [[PageRank.trustRank]]), spam-farm pruning (spam
  * rings are high-core), and picking the "stable" vocabulary/entity
  * subgraph before expensive per-node work.
  *
  * Deliberately FIXED-ROUND and integer-only like the rest of the graph
  * family ([[PageRank]], [[Hits]], [[LabelProp]]): a peel round is a
  * pure function of the edge set, so `min(converged, maxRounds)` rounds
  * are bit-identically replayable by an oracle that unrolls the rounds
  * — and peeling past the fixed point is a no-op, so an oracle unrolling
  * exactly `maxRounds` rounds matches an early-stopped run.
  *
  * Semantics: the input is treated as UNDIRECTED — both orientations
  * are generated and deduplicated, self-loops dropped — so `deg(v)` is
  * the distinct-neighbor count. Each round keeps nodes with deg ≥ k and
  * induces the subgraph on them. Output = every node of the final edge
  * set with its degree inside that subgraph (all ≥ k iff converged).
  *
  * Scale shape: each round is ONE map-side-combined degree groupBy plus
  * two semi-joins of the (shrinking) edge table against the ≤N-row keep
  * set — the keep set is the small side and goes through [[Fixpoint]]'s
  * broadcast gate, so under it the edge table never shuffles.
  * Convergence is detected from the keep-set count, read from the keep
  * set's own cut job (keep ⊆ previous keep, so equal cardinality ⇒
  * equal sets ⇒ fixed point) — no extra job. Driver state: the loop
  * counter and one long per round. Both the keep set and each round's
  * (already shrunken) edge set are cut from their lineage, so the plan
  * never grows and the result reads only cut leaves.
  */
object KCore {

  /** @param edges edge table; undirected semantics (see above).
    * @param k minimum degree to survive a peel round (≥ 1).
    * @param maxRounds peel-round budget: the loop stops at the fixed
    *   point or after `maxRounds` peels, whichever is first. An oracle
    *   unrolling exactly `maxRounds` rounds matches either way.
    * @param broadcastNodesUpTo keep sets up to this size broadcast into
    *   the semi-joins (default [[Fixpoint.BroadcastNodesUpTo]]); above
    *   it both semi-joins fall back to shuffles (result-identical).
    * @return (node long, deg long) for every node of the peeled graph.
    */
  def kCore(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      k: Int,
      maxRounds: Int = 30,
      broadcastNodesUpTo: Long = Fixpoint.BroadcastNodesUpTo): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    Fixpoint.holding { held =>
      val e0 = Fixpoint.edgeTable(edges, srcCol, dstCol)
        .filter(col("u") =!= col("v"))
      val sym = held.persist(
        e0.union(e0.select(col("v").as("u"), col("u").as("v"))).distinct())
      // state: the current edge set and the previous round's |keep|
      val (core, _) = Fixpoint.rounds((sym, -1L), maxRounds) {
        case ((cur, prevKeep), round) =>
          val deg = cur.groupBy("u").agg(count(lit(1)).as("d"))
          // The keep set MUST be a plan LEAF (a cut of ≤N id rows), not
          // a cached subtree: `next` references cur once directly and
          // twice through keep, so a keep that still carries cur's
          // logical plan makes the round-r plan hold 3^r copies of the
          // edge build — the first 7-round peel OOM'd the driver in
          // generateTreeString before any task ran.
          val (keep, kept) = Fixpoint.cutObserved(
            deg.filter(col("d") >= k).select(col("u").as("id")),
            s"graft.kcore_keep_$round", count(lit(1)).as("n"))
          val nKeep = kept.getLong(0)
          // keep ⊆ previous keep and |keep| = |previous keep| ⇒ the sets
          // are equal ⇒ this round's semi-joins would keep every edge —
          // fixed point, skip the no-op induce.
          if (nKeep == prevKeep) None
          else {
            val gate = Fixpoint.gate(nKeep, broadcastNodesUpTo)
            // two independent aliases of the keep set — the same
            // DataFrame object on both sides of back-to-back joins trips
            // Spark's ambiguous-self-join detection
            val next = cur
              .join(gate(keep).withColumnRenamed("id", "__ku"),
                col("u") === col("__ku"), "left_semi")
              .join(gate(keep).withColumnRenamed("id", "__kv"),
                col("v") === col("__kv"), "left_semi")
            val table = Fixpoint.cut(next)
            held.release(cur) // round 1 reads the persisted sym
            // keep's and cur's cut blocks are released by the
            // ContextCleaner when the round's plans go out of scope
            Some((table, nKeep))
          }
      }
      core.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
        .select(col("node"), col("deg"))
    }
  }
}
