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
  * set — the keep set is the small side and is broadcast under the same
  * node gate as PageRank's rank table, so past the first round the edge
  * table never shuffles. Convergence is detected from the keep-set
  * count the sizing already needs (keep ⊆ previous keep, so equal
  * cardinality ⇒ equal sets ⇒ fixed point) — no extra job. Driver
  * state: the loop counter and one long per round. Deep peels
  * self-truncate lineage every [[PageRank.LineageCutEvery]] rounds
  * (eager localCheckpoint of the current — already shrunken — edge
  * set); semantically transparent, spec-pinned against a cut-free run.
  */
object KCore {

  /** @param edges edge table; undirected semantics (see above).
    * @param k minimum degree to survive a peel round (≥ 1).
    * @param maxRounds peel-round budget: the loop stops at the fixed
    *   point or after `maxRounds` peels, whichever is first. An oracle
    *   unrolling exactly `maxRounds` rounds matches either way.
    * @param broadcastNodesUpTo keep sets up to this size broadcast into
    *   the semi-joins (default shares [[PageRank.DefaultBroadcastNodesUpTo]]);
    *   above it both semi-joins fall back to shuffles (result-identical).
    * @return (node long, deg long) for every node of the peeled graph.
    */
  def kCore(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      k: Int,
      maxRounds: Int = 30,
      broadcastNodesUpTo: Long = PageRank.DefaultBroadcastNodesUpTo,
      lineageCutEvery: Int = PageRank.LineageCutEvery): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(lineageCutEvery >= 1, "lineageCutEvery must be positive")
    val e0 = edges.select(srcCol.cast("long").as("u"),
        dstCol.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    var cur = sym.persist()
    var prevKeep = -1L
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val deg = cur.groupBy("u").agg(count(lit(1)).as("d"))
      // The keep set MUST become a plan LEAF (eager localCheckpoint of
      // ≤N id rows), not a cached subtree: `next` references cur once
      // directly and twice through keep, so a keep that still carries
      // cur's logical plan makes the round-r plan hold 3^r copies of
      // the edge build — the first 7-round peel OOM'd the driver in
      // generateTreeString before any task ran. As a leaf, plan depth
      // grows one join layer per round (and the every-lineageCutEvery
      // edge checkpoint resets even that).
      // |keep| rides the checkpoint job as an observed metric (the
      // Hits normalize idiom) instead of a separate count() job —
      // CollectMetrics accumulates during the eager materialization.
      val obsName = s"graft.kcore_keep_$round"
      val observed = deg.filter(col("d") >= k).select(col("u").as("id"))
        .observe(obsName, count(lit(1)).as("n"))
      val keep = observed.localCheckpoint(true)
      // EXACTNESS CAVEAT (round-17 ADVICE): this metric's exact value
      // is load-bearing (the nKeep == prevKeep fixed-point test).
      // CollectMetrics accumulators below a shuffle boundary can
      // OVER-count under task retries/speculation; that regime never
      // happens in this engine's local-mode, maxFailures=1 deployment,
      // but a cluster port with retries must replace this with a
      // separate count() (or read only zero-vs-nonzero, the
      // Components pattern, which stays exact).
      val nKeep = graft.util.Observed.metric(observed, obsName).getLong(0)
      if (nKeep == prevKeep) {
        // keep ⊆ previous keep and |keep| = |previous keep| ⇒ the sets
        // are equal ⇒ this round's semi-joins would keep every edge —
        // fixed point, skip the no-op induce.
        converged = true
      } else {
        prevKeep = nKeep
        val gate = nKeep <= broadcastNodesUpTo
        // two independent aliases of the keep set — the same DataFrame
        // object on both sides of back-to-back joins trips Spark's
        // ambiguous-self-join detection
        val keepU = (if (gate) broadcast(keep) else keep)
          .withColumnRenamed("id", "__ku")
        val keepV = (if (gate) broadcast(keep) else keep)
          .withColumnRenamed("id", "__kv")
        var next = cur
          .join(keepU, col("u") === col("__ku"), "left_semi")
          .join(keepV, col("v") === col("__kv"), "left_semi")
        if (round % lineageCutEvery == 0) {
          // the eager checkpoint IS a materialized stable leaf — a
          // persist on top would only re-scan it into a second copy
          next = next.localCheckpoint(true)
        } else {
          next = next.persist()
          next.count() // materialize before dropping the parent cache
        }
        cur.unpersist()
        // keep's checkpoint blocks (≤ N longs per round) are released
        // by the ContextCleaner when the round's plans go out of scope
        cur = next
      }
    }
    cur.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .select(col("node"), col("deg"))
  }
}
