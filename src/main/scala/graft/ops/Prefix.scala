package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed running totals — the scale-correct form of
  * `Window.orderBy(...)` with no partition spec, which Spark executes by
  * MOVING EVERY ROW TO ONE PARTITION (it even warns), and of
  * `Window.partitionBy(g).orderBy(...)`, which sorts each group's whole
  * run inside one task. The classic two-pass prefix sum instead:
  *
  *   1. range-repartition on the (group, order) key (a range exchange —
  *      the same machinery a global `orderBy` uses, so partitions hold
  *      contiguous key ranges across the cluster, and a group larger
  *      than one partition spans several contiguous ones);
  *   2. per-partition summaries, plus one tiny driver collect (hadron's
  *      runOnce idiom — O(partitions × columns) longs, not data) whose
  *      scan gives each partition its starting offsets;
  *   3. per-partition local running totals from those offsets.
  *
  * ONE-SHUFFLE INVARIANT: both passes read ONE `queryExecution.toRdd` of
  * the range exchange, so they share one `ShuffleDependency` and one
  * `RangePartitioner`. The layout pass 1's offsets describe is the
  * layout pass 2 adds them to by construction: Spark skips the
  * already-written shuffle-map stage for pass 2 (and for every later
  * action on the result), and a lost map output is recomputed under
  * the same sampled bounds. A second exchange over the same input —
  * a re-planned `repartitionByRange` — would SAMPLE its bounds again
  * and could put the offsets on the wrong rows. Nothing but the
  * shuffle files is materialized, so nothing needs releasing: they
  * live as long as the returned DataFrame is referenced.
  *
  * Wall-clock is one exchange plus two narrow passes over its output
  * (pass 1 reads it unsorted; only pass 2 sorts within partitions);
  * the only driver state is O(partitions × columns).
  */
object Prefix {

  /** Append `outCol` = running total of `valueCol` in ascending
    * `orderCol` order (ties broken by the order column's full value —
    * supply a unique key like doc_id for determinism). Output rows keep
    * the range partitioning (sorted within partitions by `orderCol`).
    */
  def runningTotal(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String = "running_total"): DataFrame =
    runningTotals(df, orderCol, Seq(valueCol -> outCol))

  /** [[runningTotal]] over SEVERAL value columns in ONE range exchange
    * and one narrow pass — the shape for cumulative pairs (two-sample
    * CDFs, paired counters): chaining single-column calls would pay
    * one exchange + two passes PER column over the same ordered table.
    * Each `(valueCol, outCol)` appends one running total; all share
    * the single `orderCol` range partitioning and per-partition
    * offset vectors. The one-group case of [[runningTotalsByGroup]].
    */
  def runningTotals(
      df: DataFrame,
      orderCol: String,
      valueCols: Seq[(String, String)]): DataFrame =
    scan(df, None, orderCol, valueCols)

  /** PER-GROUP ranks through a (group, order) RANGE exchange — the
    * scale-correct form of `row_number() over (partition by g order by
    * v)`: rank = the per-group running total of 1 (see
    * [[runningTotalsByGroup]] for the scale shape).
    *
    * Rank is a per-group `row_number` ascending by `orderCol`, 1-based;
    * ties take arbitrary rank order, and may take a different one on
    * each action over the result (same contract as the window form
    * without a tiebreaker — callers needing tie determinism must make
    * `orderCol` unique, or select only tie-invariant outputs such as
    * the order value at a rank). NULL groups are the caller's to
    * filter (they'd range-sort first and rank like any other group).
    */
  def rankByGroup(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      outCol: String = "rank"): DataFrame =
    runningTotalsByGroup(df.withColumn("__rbg_one", lit(1L)),
      groupCol, orderCol, Seq("__rbg_one" -> outCol)).drop("__rbg_one")

  /** PER-GROUP running totals through a (group, order) RANGE exchange:
    * each `(valueCol, outCol)` appends that column's running sum in
    * ascending `orderCol` order WITHIN its group, resetting at every
    * group boundary. A group larger than one partition spans several
    * contiguous partitions, each summed in parallel, with
    * per-(partition, column) start offsets from one O(partitions ×
    * columns) driver boundary scan — never a
    * `partitionBy(g).orderBy(v)` window, whose single-task group runs
    * cap parallelism at the group count.
    *
    * Ties in `orderCol` accumulate in arbitrary order (the window
    * form without a tiebreaker); consumers selecting a CROSSING row
    * (first row where the running total passes a threshold) are
    * tie-safe when the selected OUTPUT is the order value itself —
    * the crossing lands somewhere in the tie run, and every row of
    * the run carries the same order value.
    */
  def runningTotalsByGroup(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      valueCols: Seq[(String, String)]): DataFrame =
    scan(df, Some(groupCol), orderCol, valueCols)

  /** The one two-pass engine. Without a group column every row is in
    * the one group, so the global forms are its one-group case.
    *
    * Both passes run on InternalRow (queryExecution.toRdd), NOT
    * Dataset.rdd: the external hop would re-box EVERY field of EVERY
    * row twice just to sum longs and append longs. The exchange and
    * sort buffers reuse their rows, so a group value RETAINED across
    * rows must be copied out (InternalRow.copyValue). NULL values sum
    * as 0 (the window-cumsum contract).
    */
  private def scan(
      df: DataFrame,
      groupCol: Option[String],
      orderCol: String,
      valueCols: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    require(valueCols.nonEmpty, "a running total needs >= 1 value column")
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    val schema = df.schema
    val keys = (groupCol.toSeq :+ orderCol).map(col)
    val gIdx = groupCol.fold(-1)(schema.fieldIndex)
    val gType = if (gIdx < 0) NullType else schema(gIdx).dataType
    val vIdxs = valueCols.map { case (v, _) => schema.fieldIndex(v) }.toArray
    val isLong = integralFlags(schema, valueCols.map(_._1))
    val k = vIdxs.length
    def addValues(sums: Array[Long], r: InternalRow): Unit = {
      var j = 0
      while (j < k) {
        val i = vIdxs(j)
        if (!r.isNullAt(i))
          sums(j) += (if (isLong(j)) r.getLong(i) else r.getInt(i).toLong)
        j += 1
      }
    }

    // the ONE range exchange both passes read (see the object doc)
    val exchanged = df.repartitionByRange(n, keys: _*).queryExecution.toRdd

    // pass 1, unsorted: per partition the least group, the greatest
    // group and that greatest group's sums. Sorted by (g, ord), a
    // group's rows are ONE contiguous run across partitions, so the
    // only cross-partition state is "the sums of the group straddling
    // this boundary so far". collect() returns them in partition order.
    val summaries: Array[Option[(Any, Any, Array[Long])]] = exchanged
      .mapPartitions { rows =>
        val cmp = groupCompare(gType)
        var firstG: Any = null
        var lastG: Any = null
        var lastSums = new Array[Long](k)
        var any = false
        rows.foreach { r =>
          val g = if (gIdx < 0) null else r.get(gIdx, gType)
          val c = if (any) cmp(g, lastG) else 1
          if (c > 0) {
            lastG = InternalRow.copyValue(g)
            lastSums = new Array[Long](k)
            if (!any) { firstG = lastG; any = true }
          } else if (c < 0 && cmp(g, firstG) < 0)
            firstG = InternalRow.copyValue(g)
          if (c >= 0) addValues(lastSums, r)
        }
        Iterator(if (any) Some((firstG, lastG, lastSums)) else None)
      }
      .collect()

    // driver scan in partition order: offsets(pid)(j) = the running
    // sum of column j that pid's first group carries in
    val cmp = groupCompare(gType)
    val offsets = Array.fill(summaries.length)(new Array[Long](k))
    var curG: Any = null
    var curSums = new Array[Long](k)
    var started = false
    summaries.zipWithIndex.foreach {
      case (Some((firstG, lastG, lastSums)), pid) =>
        val carried = started && cmp(firstG, curG) == 0
        if (carried) offsets(pid) = curSums.clone()
        if (carried && cmp(lastG, curG) == 0) {
          var j = 0 // whole partition continues the run
          while (j < k) { curSums(j) += lastSums(j); j += 1 }
        } else { curG = lastG; curSums = lastSums.clone() }
        started = true
      case (None, _) => // empty: state flows past
    }

    // pass 2: the same exchange output sorted within its partitions (a
    // local sort, no second exchange); local per-group accumulators,
    // the first group seeded with its offsets, every group change
    // resets to 0. Each output row is the input row joined to its k
    // running totals; RDDScanExec's UnsafeProjection flattens (and so
    // copies) the pair before the next row reuses either buffer.
    val sorted = org.apache.spark.sql.GraftRows
      .internalDataFrame(spark, exchanged, schema)
      .sortWithinPartitions(keys: _*).queryExecution.toRdd
    val outRdd = sorted.mapPartitionsWithIndex { (pid, rows) =>
      val cmp = groupCompare(gType)
      val run = offsets(pid).clone()
      val right = new GenericInternalRow(k)
      val joined = new JoinedRow()
      var prevG: Any = null
      var first = true
      rows.map { r =>
        val g = if (gIdx < 0) null else r.get(gIdx, gType)
        if (first) { prevG = InternalRow.copyValue(g); first = false }
        else if (cmp(g, prevG) != 0) {
          java.util.Arrays.fill(run, 0L)
          prevG = InternalRow.copyValue(g)
        }
        addValues(run, r)
        var j = 0
        while (j < k) { right.update(j, run(j)); j += 1 }
        joined(r, right): InternalRow
      }
    }
    val outSchema = valueCols.foldLeft(schema) { case (sc, (_, out)) =>
      sc.add(StructField(out, LongType, false))
    }
    org.apache.spark.sql.GraftRows.internalDataFrame(spark, outRdd, outSchema)
  }

  /** Group identity for both passes and the driver scan: the order the
    * range exchange sorts by (ascending, nulls first), so a group is
    * exactly one contiguous run of the sorted layout. Without a group
    * column (NullType) every value is null and every row one group. */
  private def groupCompare(
      gType: org.apache.spark.sql.types.DataType): (Any, Any) => Int = {
    val ord =
      if (gType == org.apache.spark.sql.types.NullType) null
      else org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(gType)
    (a, b) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else ord.compare(a, b)
  }

  /** Plan-time integral check for the prefix value columns: LongType →
    * true, IntegerType → false, anything else raises loudly (the same
    * "must be integral" contract the old per-row check enforced, now
    * before any job runs). */
  private def integralFlags(
      schema: org.apache.spark.sql.types.StructType,
      names: Seq[String]): Array[Boolean] = {
    import org.apache.spark.sql.types._
    names.map { v =>
      schema(v).dataType match {
        case LongType => true
        case IntegerType => false
        case other => throw new IllegalArgumentException(
          s"$v must be integral, got type $other")
      }
    }.toArray
  }

  /** Token-budget shard packing: documents in `orderCol` order are cut
    * into contiguous shards of roughly `budget` tokens. shard id =
    * which budget-multiple the document's token range STARTS in, so a
    * shard overflows its budget by at most one document (exact bin
    * packing is inherently sequential; this is the standard
    * sharding rule). A pure function of the running total — the
    * assignment is deterministic and engine-portable given a unique
    * `orderCol`. The "pack the corpus into ~N-token training shards"
    * step.
    */
  def packIntoShards(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      budget: Long,
      shardCol: String = "shard"): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    runningTotal(df, orderCol, tokenCol, "__run")
      .withColumn(shardCol,
        floor((col("__run") - col(tokenCol)) / budget).cast("long"))
      .drop("__run")
  }

  /** Concat-and-chop sequence packing — the training-batch layout step:
    * documents concatenated in `orderCol` order are cut into fixed
    * `seqLen`-token sequences, documents CHOPPED at sequence boundaries
    * (unlike `packIntoShards`, which lets a shard overflow to keep
    * documents whole). Every sequence except the last is exactly full —
    * zero padding waste, the standard LM pre-training layout.
    *
    * Each output row is one span: document `orderCol`'s tokens
    * [tok_from, tok_to) (0-based, exclusive end, in DOCUMENT coords)
    * land in sequence `seq_id` at offset `seq_off`. A document crossing
    * k boundaries emits k+1 rows; zero-token documents emit nothing.
    * All span arithmetic is integer (long `div`), a pure function of
    * the running total — deterministic and engine-portable given a
    * unique `orderCol`.
    *
    * Scale shape: `runningTotal`'s range exchange + O(partitions)
    * driver offsets, then map-only span math; per-doc fan-out is
    * ceil(tokens/seqLen)+1 rows, bounded. Nothing buffers a sequence's
    * documents together — materializing actual packed sequences is the
    * downstream writer's group-by, which this span table feeds with one
    * narrow (seq_id-keyed) shuffle.
    */
  def packSequences(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    runningTotal(df, orderCol, tokenCol, "__run")
      .filter(col(tokenCol) > 0)
      .withColumn("__s", col("__run") - col(tokenCol).cast("long"))
      .withColumn("seq_id", explode(sequence(
        expr(s"__s div ${seqLen}L"),
        expr(s"(__run - 1) div ${seqLen}L"))))
      .withColumn("tok_from",
        greatest(col("seq_id") * seqLen, col("__s")) - col("__s"))
      .withColumn("tok_to",
        least((col("seq_id") + 1) * seqLen, col("__run")) - col("__s"))
      .withColumn("seq_off",
        greatest(col("seq_id") * seqLen, col("__s")) - col("seq_id") * seqLen)
      .drop("__run", "__s")
  }

  /** First-fit-decreasing bin packing within content-addressed
    * segments — the low-waste alternative to [[packIntoShards]]'s
    * running-total cut: FFD places each document (largest first) into
    * the first bin that still fits it, padding waste ≤ ~22% of OPT
    * worst-case and typically a few percent, where the running-total
    * rule wastes whatever the budget boundary slices. The price is
    * sequential placement — so the corpus is segmented by the id's
    * 52-bit md5 hash (exact integer mod, engine-portable) and FFD runs
    * independently per segment: bins never span segments, and at any
    * corpus size the parallelism dial is `segments`, each segment's
    * walk an in-task loop over its own rows.
    *
    * Determinism: placement order is (tokens DESC, id ASC) within a
    * segment — a total order for unique orderable ids
    * ([[graft.dedup.Dedup.requireOrderableId]] at plan time). A
    * document larger than `budget` opens its own (overflowing) bin:
    * its remaining capacity goes negative and never fits anything
    * again — loud in the data (`fill > budget`), not an error, so one
    * giant document cannot kill a corpus job. NULL token counts pack
    * as 0.
    *
    * Scale shape: one hash exchange on the segment key + an in-task
    * sorted walk (the GroupReduce secondary-sort idiom: repartition by
    * segment, sortWithinPartitions, boundary-detecting pass — group
    * state is the bins' remaining capacities, O(bins), never the
    * rows). FFD's first-fit scan is O(bins) per row; size `segments`
    * so a segment's bin count stays task-sized (the caller's explicit
    * knob, like every cap in this repo).
    *
    * @return (segment, id, tok, bin 1.. within segment, rank 1.. =
    *         placement order within segment)
    */
  def packBinsFfd(
      df: DataFrame,
      idCol: Column,
      tokenCol: Column,
      budget: Long,
      segments: Int,
      salt: String): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(segments >= 1, s"segments must be >= 1, got $segments")
    import org.apache.spark.sql.types._
    val base = df.select(idCol.as("id"),
      coalesce(tokenCol.cast("long"), lit(0L)).as("tok"))
    graft.dedup.Dedup.requireOrderableId(base.schema("id").dataType,
      "packBinsFfd")
    val seg = pmod(
      conv(substring(md5(concat(col("id").cast("string"),
        lit(":" + salt))), 1, 13), 16, 10).cast("long"),
      lit(segments.toLong))
    val ranged = base.withColumn("segment", seg)
      .repartition(col("segment"))
      .sortWithinPartitions(col("segment"), col("tok").desc, col("id").asc)
    val schema = StructType(Seq(
      StructField("segment", LongType, false),
      ranged.schema("id"),
      StructField("tok", LongType, false),
      StructField("bin", LongType, false),
      StructField("rank", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    ranged.mapPartitions { rows =>
      var curSeg: Long = -1L
      var started = false
      val rem = new scala.collection.mutable.ArrayBuffer[Long]()
      var rank = 0L
      rows.map { r =>
        val s = r.getLong(2)
        if (!started || s != curSeg) {
          curSeg = s; started = true; rem.clear(); rank = 0L
        }
        val tok = r.getLong(1)
        var bin = -1
        var i = 0
        while (bin < 0 && i < rem.length) {
          if (rem(i) >= tok) bin = i
          i += 1
        }
        if (bin < 0) { rem += (budget - tok); bin = rem.length - 1 }
        else rem(bin) -= tok
        rank += 1L
        org.apache.spark.sql.Row(s, r.get(0), tok, bin + 1L, rank)
      }
    }(enc)
  }
}
