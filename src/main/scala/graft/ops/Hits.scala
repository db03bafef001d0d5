package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration HITS (Kleinberg hubs & authorities) over an edge
  * table — the companion to [[PageRank]] for bipartite-flavored link
  * analysis (which suppliers anchor many parts vs which parts are
  * anchored by good suppliers; in a corpus, which pages point at
  * authorities vs are pointed at). Same determinism contract as
  * PageRank: 2^20 fixed point, integer floors only, exactly `iters`
  * rounds, so an oracle can replay the loop bit-for-bit.
  *
  * Semantics per round (all integer):
  *   a_raw(v) = Σ over edges u→v of h(u);  a(v) = a_raw(v)·S // Σa_raw
  *   h_raw(u) = Σ over edges u→v of a(v);  h(u) = h_raw(u)·S // Σh_raw
  * starting from h ≡ S. Sum-normalization (not the float L2 of the
  * original paper) keeps the arithmetic exact; scores are comparable
  * within a run. Nodes with no in-edges have authority 0 and stay in
  * the output; likewise hub 0 for sink nodes.
  *
  * Overflow bound: Σa_raw ≤ S·|E|, and a_raw·S ≤ 2^40·|E| — safe for
  * |E| < 2^22 per the raw product, so the normalizing division runs on
  * the SUM-scaled values as `a_raw·S // tot` with a_raw ≤ S·maxdeg;
  * require maxdeg·S·S < 2^63 ⇒ in-degree < 2^23 (~8.4 M). Beyond that,
  * pre-aggregate duplicate edges or shift scales down.
  *
  * Scale shape: edges persisted once; each half-round is one join of
  * the (N-row) score table into the edge table plus a map-side-combined
  * groupBy, through [[Fixpoint]]'s broadcast gate on the node count —
  * under it the edge table never shuffles. Each half-round's raw
  * score table is cut with [[Fixpoint.cutObserved]]: the normalizing
  * total rides the cut's job as an observed metric and enters the plan
  * as a literal divisor — no extra aggregation job, no crossJoin.
  */
object Hits {

  val Scale: Long = 1L << 20

  def hits(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      iters: Int,
      broadcastNodesUpTo: Long = Fixpoint.BroadcastNodesUpTo)
      : DataFrame = {
    require(iters >= 1, "iters must be positive")
    Fixpoint.holding { held =>
      val e = held.persist(Fixpoint.edgeTable(edges, srcCol, dstCol))
      val nodes = held.persist(Fixpoint.nodeIds(e))
      // shuffle arm (Gate.hashed): pre-partitioned persisted edge copies
      // per join key were measured and REJECTED — the extra cache
      // materialization exchanges cost more at x30 than the saved join
      // exchanges, and x100 was flat (NOTES round 10).
      val (_, gate) = Fixpoint.sized(nodes, broadcastNodesUpTo)

      // the cut's job also sums the raw scores, and the total lands in
      // the plan as a literal divisor
      def normalize(raw: DataFrame, c: String, halfRound: Int)
          : DataFrame = {
        val (table, totRow) = Fixpoint.cutObserved(raw,
          s"graft.hits_tot_$halfRound", sum(col(c)).as("tot"))
        val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
        if (tot > 0)
          table.select(col("id"), expr(s"($c * ${Scale}L) div ${tot}L").as(c))
        else table.select(col("id"), lit(0L).as(c))
      }

      // Zero-score nodes are restored ONCE at the end, not per
      // half-round (round 12): a node absent from a score table is
      // exactly a node whose score is 0, and a 0 score contributes
      // nothing to the next half-round's edge-join sums or to the
      // normalizing total — so dropping the per-half-round
      // `nodes LEFT JOIN raw` restore (two N-row joins per round)
      // changes no emitted value. The loop's tables shrink to the
      // nonzero-degree nodes; the full node set reappears in the
      // final left joins below, coalesced to 0 — bit-identical to
      // the restore-every-half-round loop (oracle + spec pin it).
      // The state is (hub, auth); round 1 sets auth.
      val (hub, auth) = Fixpoint.rounds(
          (nodes.withColumn("h", lit(Scale)), null: DataFrame), iters) {
        case ((hub, _), round) =>
          val aRaw = e.join(
            gate.hashed(hub.withColumnRenamed("id", "u")), Seq("u"))
            .groupBy(col("v").as("id")).agg(sum(col("h")).as("a"))
          val auth = normalize(aRaw, "a", 2 * round - 1)
          val hRaw = e.join(
            gate.hashed(auth.withColumnRenamed("id", "v")), Seq("v"))
            .groupBy(col("u").as("id")).agg(sum(col("a")).as("h"))
          Some((normalize(hRaw, "h", 2 * round), auth))
      }
      Fixpoint.cut(nodes
        .join(hub, Seq("id"), "left")
        .join(auth, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("h"), lit(0L)).as("hub_fp"),
          coalesce(col("a"), lit(0L)).as("auth_fp")))
    }
  }
}
