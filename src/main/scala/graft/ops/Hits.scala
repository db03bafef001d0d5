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
  * groupBy, with the same broadcast gate as PageRank — below
  * `broadcastNodesUpTo` nodes the edge table never shuffles. The
  * normalizing total rides the half-round's lineage-cut job as an
  * observed metric (Σraw accumulates during the checkpoint
  * materialization) and enters the plan as a literal divisor — no
  * extra aggregation job, no crossJoin; half-rounds between cuts
  * (cutEveryHalfRounds > 1) fall back to the 1-row-aggregate
  * broadcast crossJoin, bit-identically.
  */
object Hits {

  val Scale: Long = 1L << 20

  /** @param cutEveryHalfRounds lineage-cut cadence for the per-half-round
    *   score tables: 1 (default) checkpoints every normalize — the
    *   round-11 discipline; k>1 checkpoints every k-th half-round,
    *   letting the in-between raws recompute (~2× one join+agg, since
    *   normalize reads its input twice) in exchange for k−1 fewer N-row
    *   materializations per k half-rounds. Output is bit-identical for
    *   any k — the cut changes WHERE work happens, not what is computed
    *   (HitsSpec pins k=1 ≡ k=2). Probe lever for the x300 residual
    *   attribution; the default stays 1 unless measurement says move it. */
  def hits(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      iters: Int,
      broadcastNodesUpTo: Long = PageRank.DefaultBroadcastNodesUpTo,
      cutEveryHalfRounds: Int = 1)
      : DataFrame = {
    require(iters >= 1, "iters must be positive")
    require(cutEveryHalfRounds >= 1, "cutEveryHalfRounds must be positive")
    val e = edges.select(srcCol.cast("long").as("u"),
      dstCol.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .persist()
    try {
      val nodes = e.select(col("u").as("id"))
        .union(e.select(col("v").as("id"))).distinct().persist()
      val n = nodes.count()
      require(n > 0, "empty graph")
      val gate = n <= broadcastNodesUpTo
      // shuffle arm: hash-build the N-row score side (~16 B/row,
      // N/partitions per task) so no side of the per-round join is
      // ever SORTED — the edge exchange itself is the algorithm's
      // message pass and stays. (Pre-partitioned persisted edge
      // copies per join key were measured and REJECTED: the extra
      // cache materialization exchanges cost more at x30 than the
      // saved join exchanges, and x100 was flat — NOTES round 10.)
      def maybeB(df: DataFrame): DataFrame =
        if (gate) broadcast(df) else df.hint("shuffle_hash")

      // Each half-round's score table (N rows of two longs) is cut off
      // from its lineage with an eager localCheckpoint: normalize reads
      // its input TWICE (total + crossJoin arm), so without truncation
      // the logical plan doubles per half-round and planning + recompute
      // explode (measured 15.8 s for iters=2 vs 2.7 s for iters=1 at
      // sf0.1; checkpointing makes iters=2 ~3 s). The materialized table
      // is tiny at any scale — this is the same discipline PageRank's
      // scaladoc prescribes for deep loops, made unconditional because
      // of the double consumption.
      var halfRound = 0
      def normalize(raw0: DataFrame, c: String): DataFrame = {
        halfRound += 1
        if (halfRound % cutEveryHalfRounds == 0) {
          // The cut's eager materialization doubles as the totals
          // pass: Σc rides the SAME job as an observed metric
          // (CollectMetrics accumulates during the checkpoint
          // count), so the normalizing total costs no extra job and
          // no crossJoin — it lands in the plan as a LITERAL divisor,
          // the identical integer math (round-17; spec pins the
          // literal-vs-crossJoin arms bit-equal via k=1 ≡ k=2).
          // EXACTNESS CAVEAT (round-17 ADVICE): the observed total is
          // load-bearing (it enters the plan as the literal divisor).
          // CollectMetrics can over-count under task retries /
          // speculation — exact only in this engine's local-mode,
          // maxFailures=1 regime; a cluster port with retries must
          // fall back to the crossJoin form below unconditionally.
          val obsName = s"graft.hits_tot_$halfRound"
          val observed = raw0.observe(obsName, sum(col(c)).as("tot"))
          val raw = observed.localCheckpoint()
          val totRow = graft.util.Observed.metric(observed, obsName)
          val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
          if (tot > 0)
            raw.select(col("id"),
              expr(s"($c * ${Scale}L) div ${tot}L").as(c))
          else raw.select(col("id"), lit(0L).as(c))
        } else {
          // un-cut half-rounds have no action to observe on — the
          // 1-row aggregate broadcast-crossJoins back (Classifier.v1
          // idiom), no driver round-trip
          val tot = broadcast(raw0.agg(sum(col(c)).as("tot")))
          raw0.crossJoin(tot)
            .select(col("id"),
              when(col("tot") > 0, expr(s"($c * ${Scale}L) div tot"))
                .otherwise(0L).as(c))
        }
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
      var hub = nodes.withColumn("h", lit(Scale))
      var auth: DataFrame = null
      for (_ <- 1 to iters) {
        val aRaw = e.join(
          maybeB(hub.withColumnRenamed("id", "u")), Seq("u"))
          .groupBy(col("v").as("id")).agg(sum(col("h")).as("a"))
        auth = normalize(aRaw, "a")
        val hRaw = e.join(
          maybeB(auth.withColumnRenamed("id", "v")), Seq("v"))
          .groupBy(col("u").as("id")).agg(sum(col("a")).as("h"))
        hub = normalize(hRaw, "h")
      }
      val out = nodes
        .join(hub, Seq("id"), "left")
        .join(auth, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("h"), lit(0L)).as("hub_fp"),
          coalesce(col("a"), lit(0L)).as("auth_fp"))
        .localCheckpoint()
      nodes.unpersist()
      out
    } finally {
      e.unpersist()
    }
  }
}
