package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge table — entity importance for
  * graphs a pipeline actually has (co-occurrence graphs, link graphs,
  * dup-pair graphs). Deliberately FIXED-POINT and FIXED-ITERATION:
  * ranks are 2^20-scaled longs, every per-step division is an integer
  * floor, and the loop runs exactly `iters` times — so results are
  * bit-identical across engines, partitionings, and runs, and an
  * independent oracle can replay the iterations (the
  * convergence-thresholded float formulation is none of those).
  *
  * Semantics: `r0(v) = floor(S / N)`;
  * `r_{t+1}(v) = floor((den-num)·S / (den·N))
  *              + floor(num · Σ_{u→v} floor(r_t(u) / outdeg(u)) / den)`
  * with damping `num/den` (default 85/100) and S = 2^20. Dangling-node
  * mass is dropped, not redistributed (the usual simplification; feed
  * bidirectional edges if every node should keep outflow). Ranks are
  * comparable WITHIN a run — the dropped mass means totals are not
  * conserved.
  *
  * Scale shape: degrees are joined into the edge table ONCE and the
  * result persisted — each iteration is then a single rank⋈edges join
  * plus the contributions groupBy (partial-agg'd map-side, ≤ N rows
  * shuffled). The rank table (N rows of two longs) goes through
  * [[Fixpoint]]'s broadcast gate on the node count, so under it the
  * edge table is never shuffled at all; above it the round is a
  * shuffle join (same results — pinned by spec). Driver holds only the
  * loop counter. Deep loops self-truncate: the rank table is cut from
  * its lineage every [[Fixpoint.CutEvery]] iterations — results are
  * bit-identical (spec pins iters=25 against the sequential model).
  *
  * [[weightedPageRank]] and [[trustRank]] run the same loop; a variant
  * fixes only its edge weight, its out-weight aggregate, its
  * contribution expression and its seed/base rank.
  */
object PageRank {

  val Scale: Long = 1L << 20

  /** @param edges (srcCol, dstCol) directed edge table; duplicate
    *   edges count twice (pre-`distinct` if that is not intended).
    * @return (id, rank_fp long) for every node appearing as src or dst.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      iters: Int,
      dampingNum: Int = 85,
      dampingDen: Int = 100,
      broadcastNodesUpTo: Long = Fixpoint.BroadcastNodesUpTo): DataFrame = {
    checkArgs(iters, dampingNum, dampingDen)
    Fixpoint.holding { held =>
      val e = held.persist(Fixpoint.edgeTable(edges, srcCol, dstCol))
      val nodes = held.persist(Fixpoint.nodeIds(e))
      val (n, gate) = Fixpoint.sized(nodes, broadcastNodesUpTo)
      propagate(held, e, nodes, gate, count(lit(1)).as("d"),
        expr("r div d"), lit(Scale / n),
        lit((dampingDen - dampingNum) * Scale / (dampingDen * n)),
        iters, dampingNum, dampingDen, "rank_fp")
    }
  }

  /** Weighted PageRank — [[pageRank]] with per-edge weights: node u
    * forwards `floor(r_t(u)·w_e / sw_u)` along edge e instead of an
    * equal split, with `sw_u = Σ w` over u's out-edges — importance
    * propagation that respects tie strength (co-occurrence counts,
    * link multiplicities, similarity scores quantized to longs). Same
    * fixed-point/fixed-iteration discipline as the rest of the family:
    * 2^20-scaled longs, integer floors, exactly `iters` rounds,
    * bit-identical across engines; `weight = 1` everywhere reproduces
    * pageRank's per-edge forward exactly when out-edges are distinct.
    *
    * Weights must be POSITIVE longs (loud per-row error otherwise —
    * a zero/negative weight silently swallowing rank mass is a data
    * bug); per-step products r·w stay inside a long for w < 2^42
    * (ranks are ≤ 2^20-scaled mass; ANSI arithmetic makes an overflow
    * loud, never silent). Duplicate (u,v) edges each carry their own
    * weight — pre-aggregate if that is not intended.
    *
    * Scale shape identical to [[pageRank]]: the Σw join is done ONCE
    * and persisted with the edges.
    */
  def weightedPageRank(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      weightCol: Column,
      iters: Int,
      dampingNum: Int = 85,
      dampingDen: Int = 100,
      broadcastNodesUpTo: Long = Fixpoint.BroadcastNodesUpTo): DataFrame = {
    checkArgs(iters, dampingNum, dampingDen)
    Fixpoint.holding { held =>
      val e = held.persist(Fixpoint.edgeTable(edges, srcCol, dstCol,
          weightCol.cast("long").as("w"))
        .withColumn("w", when(col("w") > 0, col("w"))
          .otherwise(raise_error(concat(
            lit("weightedPageRank weights must be positive, got "),
            col("w"))))))
      val nodes = held.persist(Fixpoint.nodeIds(e))
      val (n, gate) = Fixpoint.sized(nodes, broadcastNodesUpTo)
      propagate(held, e, nodes, gate, sum(col("w")).as("sw"),
        expr("(r * w) div sw"), lit(Scale / n),
        lit((dampingDen - dampingNum) * Scale / (dampingDen * n)),
        iters, dampingNum, dampingDen, "rank_fp")
    }
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004) — personalized
    * PageRank whose teleport mass goes ONLY to a trusted seed set: the
    * classic "propagate trust from hand-vetted pages, spam drifts to
    * zero" crawl-curation stage. Same fixed-point, fixed-iteration
    * discipline as [[pageRank]] (2^20-scaled longs, integer floors,
    * exactly `iters` rounds — bit-identical across engines and runs):
    *
    *   r0(v)    = floor(S/m) if v ∈ seeds else 0
    *   r_{t+1}(v) = [v ∈ seeds] · floor((den−num)·S/(den·m))
    *                + floor(num · Σ_{u→v} floor(r_t(u)/outdeg(u)) / den)
    *
    * with m = |seeds ∩ graph nodes| (seed ids absent from the graph
    * are ignored — they can neither receive nor forward trust; m = 0
    * is a loud error). Unlike uniform PageRank, mass leaks at danglers
    * AND at nodes unreachable from seeds (their trust is exactly 0) —
    * scores are a trust ORDERING, not a distribution.
    *
    * Scale shape identical to [[pageRank]]. The seed flag rides the
    * persisted node table — no per-iteration seed join.
    *
    * @param seeds one column of trusted node ids (deduplicated here)
    * @return (id, trust_fp long) for every node in the graph
    */
  def trustRank(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      seeds: DataFrame,
      seedCol: Column,
      iters: Int,
      dampingNum: Int = 85,
      dampingDen: Int = 100,
      broadcastNodesUpTo: Long = Fixpoint.BroadcastNodesUpTo): DataFrame = {
    checkArgs(iters, dampingNum, dampingDen)
    Fixpoint.holding { held =>
      val e = held.persist(Fixpoint.edgeTable(edges, srcCol, dstCol))
      val seedIds = seeds.select(seedCol.cast("long").as("id"))
        .filter(col("id").isNotNull).distinct()
      val nodes = held.persist(Fixpoint.nodeIds(e)
        .join(seedIds.withColumn("__s", lit(true)), Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(false)).as("seed")))
      val (_, gate) = Fixpoint.sized(nodes, broadcastNodesUpTo)
      val m = nodes.filter(col("seed")).count()
      require(m > 0,
        "trustRank needs at least one seed id present in the graph")
      def onSeeds(v: Long): Column =
        when(col("seed"), lit(v)).otherwise(lit(0L))
      propagate(held, e, nodes, gate, count(lit(1)).as("d"),
        expr("r div d"), onSeeds(Scale / m),
        onSeeds((dampingDen - dampingNum) * Scale / (dampingDen * m)),
        iters, dampingNum, dampingDen, "trust_fp")
    }
  }

  private def checkArgs(iters: Int, dampingNum: Int, dampingDen: Int)
      : Unit = {
    require(iters >= 1, "iters must be positive")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      s"damping must be a fraction in [0,1], got $dampingNum/$dampingDen")
  }

  /** The propagation loop of every variant, over persisted edge table
    * `e` (u, v[, w]) and node table `nodes` (id[, extra columns carried
    * through every round]). `outWeight` aggregates u's out-edges into
    * the column `contribution` divides by; `r0` is the first round's
    * rank and `base` each round's teleport mass, both over `nodes`.
    * Returns (id, `out`), cut.
    *
    * One out-weight join for the whole run, not one per iteration; the
    * aggregate has ≤ N rows, so the node gate covers broadcasting it
    * too — the gated arm never shuffles the edge table. In the shuffle
    * arm the join's own exchange already leaves the persisted table
    * hashpartitioned (and sorted) by u, and the cache preserves both —
    * so each round's join reuses it and only the N-row rank side moves.
    * No explicit repartition: adding one was measured at +20% on the
    * x100 rung (a redundant E-row exchange on every cache rebuild).
    */
  private def propagate(
      held: Fixpoint.Held,
      e: DataFrame,
      nodes: DataFrame,
      gate: Fixpoint.Gate,
      outWeight: Column,
      contribution: Column,
      r0: Column,
      base: Column,
      iters: Int,
      dampingNum: Int,
      dampingDen: Int,
      out: String): DataFrame = {
    val eOut = held.persist(e.join(gate(e.groupBy("u").agg(outWeight)),
      Seq("u")))
    val carried = nodes.columns.toSeq.map(col)
    val rank = Fixpoint.rounds(nodes.withColumn("r", r0), iters) {
      (rank, i) =>
        val contrib = eOut
          .join(gate.hashed(rank.select(col("id").as("u"), col("r"))),
            Seq("u"))
          .select(col("v").as("id"), contribution.as("c"))
          .groupBy("id").agg(sum("c").as("cs"))
        val next = nodes.join(contrib, Seq("id"), "left")
          .select(carried :+ (base + expr(
            s"($dampingNum * coalesce(cs, 0L)) div $dampingDen")).as("r"): _*)
        Some(Fixpoint.cutOnCadence(next, i, iters))
    }
    Fixpoint.cut(rank.select(col("id"), col("r").as(out)))
  }
}
