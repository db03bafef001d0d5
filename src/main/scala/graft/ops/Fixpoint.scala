package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The mechanism every iterative graph operator shares ([[PageRank]],
  * [[Hits]], [[LabelProp]], [[KCore]], and the distributed label loop of
  * [[graft.dedup.Components]]): hadron's Controller loop over MR rounds,
  * written once.
  *
  *  - the long-typed `(u, v)` edge table and its node table;
  *  - the node count and the broadcast gate on it ([[Gate]]);
  *  - the tables a loop persists, released on every exit path
  *    ([[holding]]);
  *  - the round driver ([[rounds]]);
  *  - the lineage cut ([[cut]]) and its cadence ([[CutEvery]]), and the
  *    cut that also reads an aggregate over the rows it materializes
  *    ([[cutObserved]]).
  *
  * A loop's result stands on cut leaves: it reads no table the loop
  * persisted, so releasing those tables cannot make it recompute.
  */
object Fixpoint {

  /** Node (or keep-set) tables up to this many rows are broadcast into
    * each round's join (~16 B/row: 2 M ≈ tens of MB hashed); above it
    * the round falls back to a shuffle join. Both arms are
    * result-identical (each operator's spec pins them); callers pass
    * their own threshold to choose the shuffle arm. */
  val BroadcastNodesUpTo: Long = 2L * 1000 * 1000

  /** A loop whose round reads the previous state only once cuts it
    * every this-many rounds ([[cutOnCadence]]). An uncut loop grows its
    * plan one join+aggregate layer per round, so optimizer time is
    * quadratic in depth; 5 trades one small job per 5 rounds against
    * that growth. A cut is semantically transparent, so any cadence
    * yields bit-identical results (PageRankSpec's deep loop crosses it
    * five times). A round that reads its previous state twice cuts
    * every round instead: uncut, its plan doubles per round. */
  val CutEvery: Int = 5

  /** `edges` as a loop's edge table: `(u, v)` as longs, rows with a null
    * end dropped; `extra` columns ride along after them. */
  def edgeTable(
      edges: DataFrame, srcCol: Column, dstCol: Column, extra: Column*)
      : DataFrame =
    edges.select(Seq(srcCol.cast("long").as("u"),
        dstCol.cast("long").as("v")) ++ extra: _*)
      .filter(col("u").isNotNull && col("v").isNotNull)

  /** Every node of edge table `e` once, as `(id)`. */
  def nodeIds(e: DataFrame): DataFrame =
    e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .distinct()

  /** The broadcast gate: whether a loop's at-most-N-row side is broadcast
    * into its per-round joins. */
  final class Gate(val broadcasts: Boolean) {

    /** `df` broadcast under the gate; above it, left to Spark's join
      * selection. */
    def apply(df: DataFrame): DataFrame =
      if (broadcasts) broadcast(df) else df

    /** `df` broadcast under the gate; above it, the hash-built side of a
      * shuffle join, so no side of the per-round join is ever sorted
      * (the edge exchange itself is the round's message pass and
      * stays). The N-row side (~16 B/row) is hashed N/partitions rows
      * per task, so the no-spill build-side caveat is bounded by the
      * node table, not the edges. */
    def hashed(df: DataFrame): DataFrame =
      if (broadcasts) broadcast(df) else df.hint("shuffle_hash")
  }

  /** The gate on an `n`-row side. */
  def gate(n: Long, broadcastNodesUpTo: Long): Gate =
    new Gate(n <= broadcastNodesUpTo)

  /** The row count of node table `nodes` (one job) and the gate on it;
    * an empty graph fails. */
  def sized(nodes: DataFrame, broadcastNodesUpTo: Long): (Long, Gate) = {
    val n = nodes.count()
    require(n > 0, "empty graph")
    (n, gate(n, broadcastNodesUpTo))
  }

  /** The tables one loop persists. */
  final class Held private[Fixpoint] {
    private var tables = List.empty[DataFrame]

    /** `df`, persisted until the loop ends. */
    def persist(df: DataFrame): DataFrame = {
      tables ::= df
      df.persist()
    }

    /** Releases `df` now, if this loop persisted it. */
    def release(df: DataFrame): Unit =
      if (tables.exists(_ eq df)) {
        tables = tables.filterNot(_ eq df)
        df.unpersist()
      }

    private[Fixpoint] def releaseAll(): Unit = {
      tables.foreach(_.unpersist()) // newest first: dependents go first
      tables = Nil
    }
  }

  /** Runs loop `body`; every table it persisted through its [[Held]] is
    * released when it returns or throws. */
  def holding[A](body: Held => A): A = {
    val held = new Held
    try body(held) finally held.releaseAll()
  }

  /** Rounds 1 to `maxRounds` of `step` from state `s0`: round i maps the
    * state to the next one, or to None at a fixed point, which ends the
    * loop early. Returns the last state. */
  def rounds[S](s0: S, maxRounds: Int)(step: (S, Int) => Option[S]): S = {
    @annotation.tailrec
    def go(s: S, round: Int): S =
      if (round > maxRounds) s
      else step(s, round) match {
        case Some(next) => go(next, round + 1)
        case None => s
      }
    go(s0, 1)
  }

  /** `df` cut from its lineage: an eager local checkpoint, one job that
    * materializes it as a plan leaf. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `df`, the state after round `round` of a `last`-round loop, cut
    * every [[CutEvery]] rounds. The last round is not cut here: the
    * caller cuts its result. */
  def cutOnCadence(df: DataFrame, round: Int, last: Int): DataFrame =
    if (round % CutEvery == 0 && round < last) cut(df) else df

  /** `df` cut, with the aggregate `agg` over `df`'s rows read in the
    * same job as an observed metric named `name`: a count or total that
    * drives the loop costs no extra job. `cols`, when given, project
    * `df` between the observation and the cut, so the aggregate may read
    * a column the cut table drops. Returns the cut table and the metric
    * row (over no rows when adaptive execution dropped the node; see
    * [[graft.util.Observed.metric]]).
    *
    * EXACTNESS: a loop reads this value exactly (a normalizing divisor,
    * a fixed-point test). Observed metrics accumulate per task attempt,
    * so task retries or speculation could over-count them. That never
    * happens in this engine's local-mode, maxFailures=1 sessions; a port
    * to a cluster with retries must read the value with a separate
    * aggregate over the cut table instead, or read only zero vs
    * nonzero, which stays exact. */
  def cutObserved(df: DataFrame, name: String, agg: Column, cols: Column*)
      : (DataFrame, Row) = {
    val observed = df.observe(name, agg)
    val sel = if (cols.isEmpty) observed else observed.select(cols: _*)
    val table = cut(sel)
    (table, graft.util.Observed.metric(sel, name))
  }
}
