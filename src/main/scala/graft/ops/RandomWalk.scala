package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic random walks over an edge table — the node2vec/
  * DeepWalk precursor (walk corpora feed graph embeddings; walk
  * co-visitation is a similarity signal in its own right), made
  * REPLAYABLE: every "random" choice is the 52-bit md5 of
  * (walk id, step, salt) modulo the current node's out-degree, so a
  * walk is a pure function of (graph, start, salt) — bit-identical
  * across engines, partitionings, and reruns, like every sampler in
  * [[Sampling]].
  *
  * Per step: neighbors of the current node are ranked 1..deg by their
  * natural order (ids must be orderable — plan-time guard), and the
  * walk moves to rank `hash % deg + 1`. A node with no out-edges ends
  * the walk early (its last row is the final position); step 0 is the
  * start node itself.
  *
  * Scale shape: the ranked adjacency (edge-sized, built with ONE
  * per-node rank window whose partitions are node-keyed) is persisted
  * once; each step is a walks⋈adjacency join on (node, picked rank) —
  * walk-count-sized rows moving, edges never re-shuffled after the
  * build. `steps` is the fixed, caller-visible depth (the oracle
  * unrolls it), never a convergence loop.
  *
  * Not run through [[Fixpoint]]: the result is the union of every
  * step's frontier, not a last state, so the loop is an unroll of
  * `steps` independent tables rather than a fixpoint over one state.
  *
  * @param starts one column of start node ids; each start is one walk
  *               (walk_id = the start id; deduplicated here)
  * @return (walk_id, step 0.., node) — one row per visited position
  */
object RandomWalk {

  def walks(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      starts: DataFrame, startCol: Column,
      steps: Int, salt: String): DataFrame = {
    require(steps >= 1, s"steps must be positive, got $steps")
    import org.apache.spark.sql.expressions.Window
    val idType = edges.select(srcCol).schema.head.dataType
    graft.dedup.Dedup.requireOrderableId(idType, "RandomWalk.walks")
    val e = edges.select(srcCol.as("u"), dstCol.as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val adj = e
      .withColumn("rk",
        row_number().over(Window.partitionBy("u").orderBy("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node-sized, probed once per step: materialized ONCE instead of
    // re-aggregating the cached adjacency every step
    val degs = adj.groupBy("u").agg(max("rk").as("d")).localCheckpoint()
    val s0 = starts.select(startCol.as("walk_id"))
      .filter(col("walk_id").isNotNull).distinct()
      .select(col("walk_id"), lit(0L).as("step"),
        col("walk_id").as("node"))
    var frontier = s0
    var out = s0
    for (t <- 1 to steps) {
      // two equi-joins per step, both walk-count-sized on the probe
      // side: degrees first (1 row per walk) to compute the pick, then
      // the (node, rank) fetch — never a deg-wide explode-and-filter.
      // pick = md5("walk#t:salt") % deg + 1 — exact integer in any engine
      val picked = frontier
        .join(degs, col("node") === degs("u"))
        .select(col("walk_id"), col("node"),
          (pmod(
            conv(substring(md5(concat(col("walk_id").cast("string"),
              lit("#" + t + ":" + salt))), 1, 13), 16, 10).cast("long"),
            col("d")) + 1L).as("pick"))
      // EAGER cut per step (walk-count-sized rows): frontier t's
      // lineage otherwise chains through every earlier step, and the
      // final union re-executes step 1 `steps` times, step 2
      // `steps−1` times, … — O(steps²) joins in one plan (the q148
      // plan carried 83 Exchanges before this). Checkpointing makes
      // each step run exactly once and the union a plain scan of
      // `steps`+1 tiny tables.
      frontier = picked
        .join(adj, picked("node") === adj("u") &&
          picked("pick") === adj("rk"))
        .select(col("walk_id"), lit(t.toLong).as("step"),
          col("v").as("node"))
        .localCheckpoint()
      out = out.union(frontier)
    }
    // every frontier is materialized — the cached adjacency has no
    // remaining consumer, so the session carries no cache debt out
    adj.unpersist(false)
    out
  }
}
