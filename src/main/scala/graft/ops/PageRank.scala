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
  * shuffled). When the node count is at most `broadcastNodesUpTo` the
  * rank table (N rows of two longs) is broadcast into that join, so
  * the edge table is never shuffled at all; above the gate it falls
  * back to a plain shuffle join (same results — pinned by spec).
  * Driver holds only the loop counter. Deep loops self-truncate:
  * every [[LineageCutEvery]] iterations the N-row rank table is cut
  * from its lineage with an eager localCheckpoint (otherwise the plan
  * grows one join+agg layer per round and optimizer time is
  * quadratic in depth) — results are bit-identical (spec pins
  * iters=25 against a cut-free run).
  */
object PageRank {

  val Scale: Long = 1L << 20

  /** Rank tables up to this many nodes are broadcast into the
    * per-iteration edge join (~16 B/row: 2 M ≈ tens of MB hashed).
    * Both arms are result-identical (pinned by spec); call sites pass
    * their own threshold to choose the shuffle arm. */
  val DefaultBroadcastNodesUpTo: Long = 2L * 1000 * 1000

  /** Rank-table lineage is cut (eager localCheckpoint of N rows of two
    * longs) every this-many iterations. 5 trades one extra tiny job
    * per 5 rounds against the quadratic planning growth of an uncut
    * loop; checkpointing is semantically transparent, so any value
    * yields bit-identical ranks (PageRankSpec pins iters=25 vs an
    * effectively-uncut run). */
  val LineageCutEvery: Int = 5

  /** @param edges (srcCol, dstCol) directed edge table; duplicate
    *   edges count twice (pre-`distinct` if that is not intended).
    * @param lineageCutEvery checkpoint cadence (see [[LineageCutEvery]]);
    *   semantically transparent at any value — a measurement lever.
    * @return (id, rank_fp long) for every node appearing as src or dst.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      iters: Int,
      dampingNum: Int = 85,
      dampingDen: Int = 100,
      broadcastNodesUpTo: Long = DefaultBroadcastNodesUpTo,
      lineageCutEvery: Int = LineageCutEvery): DataFrame = {
    require(lineageCutEvery >= 1, "lineageCutEvery must be positive")
    require(iters >= 1, "iters must be positive")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      s"damping must be a fraction in [0,1], got $dampingNum/$dampingDen")
    val e = edges.select(srcCol.cast("long").as("u"),
      dstCol.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .persist()
    val nodes = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct().persist()
    val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
    var eDeg: DataFrame = null
    try {
      val n = nodes.count()
      require(n > 0, "empty graph")
      val gate = n <= broadcastNodesUpTo
      // one degree join for the whole run, not one per iteration; deg
      // has ≤ N rows, so the node gate covers broadcasting it too —
      // the gated arm never shuffles the edge table.
      // SHUFFLE arm: the deg join's own exchange already leaves eDeg
      // hashpartitioned (and sorted) by u, and the CACHE preserves
      // both — so each round's join reuses it and only the N-row rank
      // side moves. No explicit repartition: adding one was measured
      // at +20% on the x100 rung (a redundant E-row exchange on every
      // cache rebuild). LabelProp/Hits DO repartition — their cached
      // edge table is a raw scan with no partitioning to reuse.
      eDeg = e.join(if (gate) broadcast(deg) else deg, Seq("u")).persist()
      val r0 = Scale / n
      val base = (dampingDen - dampingNum) * Scale / (dampingDen * n)
      var rank = nodes.withColumn("r", lit(r0))
      for (i <- 1 to iters) {
        val rankU = rank.withColumnRenamed("id", "u")
        // shuffle arm: hash-build the N-row rank side (~16 B/row —
        // N/partitions per task, no sort of the edge stream); the
        // no-spill build-side caveat is bounded by the NODE table,
        // not the edges, so partition count keeps it small anywhere
        val contrib = eDeg
          .join(if (gate) broadcast(rankU) else rankU.hint("shuffle_hash"),
            Seq("u"))
          .select(col("v").as("id"), expr("r div d").as("c"))
          .groupBy("id").agg(sum("c").as("cs"))
        rank = nodes.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr(
              s"($dampingNum * coalesce(cs, 0L)) div $dampingDen"))
              .as("r"))
        // deep-loop self-truncation (see LineageCutEvery): skip on the
        // final round — the tail localCheckpoint below covers it
        if (i % lineageCutEvery == 0 && i < iters)
          rank = rank.localCheckpoint()
      }
      // materialize before unpersisting the inputs the lineage reads
      rank = rank.select(col("id"), col("r").as("rank_fp")).localCheckpoint()
      rank
    } finally {
      e.unpersist(); nodes.unpersist()
      if (eDeg != null) eDeg.unpersist()
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
    * and persisted with the edges; each iteration is one
    * broadcast-gated rank⋈edges join + map-side-combined contribution
    * groupBy; lineage cut every [[LineageCutEvery]] rounds.
    */
  def weightedPageRank(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      weightCol: Column,
      iters: Int,
      dampingNum: Int = 85,
      dampingDen: Int = 100,
      broadcastNodesUpTo: Long = DefaultBroadcastNodesUpTo,
      lineageCutEvery: Int = LineageCutEvery): DataFrame = {
    require(lineageCutEvery >= 1, "lineageCutEvery must be positive")
    require(iters >= 1, "iters must be positive")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      s"damping must be a fraction in [0,1], got $dampingNum/$dampingDen")
    val e = edges.select(srcCol.cast("long").as("u"),
        dstCol.cast("long").as("v"), weightCol.cast("long").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .withColumn("w", when(col("w") > 0, col("w"))
        .otherwise(raise_error(concat(
          lit("weightedPageRank weights must be positive, got "),
          col("w")))))
      .persist()
    val nodes = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct().persist()
    val sw = e.groupBy("u").agg(sum(col("w")).as("sw"))
    var eW: DataFrame = null
    try {
      val n = nodes.count()
      require(n > 0, "empty graph")
      val gate = n <= broadcastNodesUpTo
      // one Σw join for the whole run (pageRank's eDeg discipline)
      eW = e.join(if (gate) broadcast(sw) else sw, Seq("u")).persist()
      val r0 = Scale / n
      val base = (dampingDen - dampingNum) * Scale / (dampingDen * n)
      var rank = nodes.withColumn("r", lit(r0))
      for (i <- 1 to iters) {
        val rankU = rank.withColumnRenamed("id", "u")
        val contrib = eW
          .join(if (gate) broadcast(rankU) else rankU.hint("shuffle_hash"),
            Seq("u"))
          .select(col("v").as("id"), expr("(r * w) div sw").as("c"))
          .groupBy("id").agg(sum("c").as("cs"))
        rank = nodes.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr(
              s"($dampingNum * coalesce(cs, 0L)) div $dampingDen"))
              .as("r"))
        if (i % lineageCutEvery == 0 && i < iters)
          rank = rank.localCheckpoint()
      }
      rank = rank.select(col("id"), col("r").as("rank_fp")).localCheckpoint()
      rank
    } finally {
      e.unpersist(); nodes.unpersist()
      if (eW != null) eW.unpersist()
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
    * Scale shape identical to [[pageRank]]: one degree join persisted
    * for the run, per-iteration rank⋈edges join broadcast-gated by
    * node count, map-side-combined contributions, lineage cut every
    * [[LineageCutEvery]] rounds. The seed flag rides the persisted
    * node table — no per-iteration seed join.
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
      broadcastNodesUpTo: Long = DefaultBroadcastNodesUpTo,
      lineageCutEvery: Int = LineageCutEvery): DataFrame = {
    require(lineageCutEvery >= 1, "lineageCutEvery must be positive")
    require(iters >= 1, "iters must be positive")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      s"damping must be a fraction in [0,1], got $dampingNum/$dampingDen")
    val e = edges.select(srcCol.cast("long").as("u"),
      dstCol.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .persist()
    val seedIds = seeds.select(seedCol.cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
    val nodes = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct()
      .join(seedIds.withColumn("__s", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), lit(false)).as("seed"))
      .persist()
    val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
    var eDeg: DataFrame = null
    try {
      val n = nodes.count()
      require(n > 0, "empty graph")
      val m = nodes.filter(col("seed")).count()
      require(m > 0,
        "trustRank needs at least one seed id present in the graph")
      val gate = n <= broadcastNodesUpTo
      eDeg = e.join(if (gate) broadcast(deg) else deg, Seq("u")).persist()
      val r0 = Scale / m
      val seedBase = (dampingDen - dampingNum) * Scale / (dampingDen * m)
      val baseCol = when(col("seed"), lit(seedBase)).otherwise(lit(0L))
      var rank = nodes.withColumn("r",
        when(col("seed"), lit(r0)).otherwise(lit(0L)))
      for (i <- 1 to iters) {
        val rankU = rank.select(col("id").as("u"), col("r"))
        val contrib = eDeg
          .join(if (gate) broadcast(rankU) else rankU.hint("shuffle_hash"),
            Seq("u"))
          .select(col("v").as("id"), expr("r div d").as("c"))
          .groupBy("id").agg(sum("c").as("cs"))
        rank = nodes.join(contrib, Seq("id"), "left")
          .select(col("id"), col("seed"),
            (baseCol + expr(
              s"($dampingNum * coalesce(cs, 0L)) div $dampingDen"))
              .as("r"))
        if (i % lineageCutEvery == 0 && i < iters)
          rank = rank.localCheckpoint()
      }
      rank = rank.select(col("id"), col("r").as("trust_fp"))
        .localCheckpoint()
      rank
    } finally {
      e.unpersist(); nodes.unpersist()
      if (eDeg != null) eDeg.unpersist()
    }
  }
}
