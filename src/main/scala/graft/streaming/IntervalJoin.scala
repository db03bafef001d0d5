package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.GroupState

/** The per-key reducer of [[Streaming.intervalJoin]], hadron's
  * `joinStep` with a buffer that outlives the batch: the key's state is
  * `(l, r)`, each a list of `(us, row)` — a buffered row and its event
  * time in micros. One call sees the key's new rows of one micro-batch
  * (or none, when its event-time timeout fires) and replays, per key,
  * what Spark's stream-stream join does per batch:
  *   1. new left rows pair with the buffered right rows;
  *   2. new left rows join the left buffer, and new right rows pair with
  *      it and join the right buffer;
  *   3. rows behind their side's state watermark are evicted.
  * Late rows never arrive here: `flatMapGroupsWithState` drops rows at
  * or behind the previous batch's watermark before the call, and the
  * eviction reads the current one — so a batch that follows a
  * watermark advance still pairs its new rows with each other, then
  * evicts them, as the join does (IntervalJoinSpec). On a batch
  * input (`streaming = false`) there is no watermark and no state: the
  * one call per key pairs all its left rows with all its right rows.
  *
  * @param nKeys   the number of key columns `__k<i>` leading each
  *                tagged row (then `__ts`, `__us`, `__l`, `__r`)
  * @param lower   the interval's lower bound in micros
  * @param upper   the interval's upper bound in micros
  */
private[streaming] final class IntervalJoin(
    nKeys: Int, lower: Long, upper: Long, streaming: Boolean)
    extends Serializable {
  import IntervalJoin._

  private val usAt = nKeys + 1
  private val leftAt = nKeys + 2
  private val rightAt = nKeys + 3

  def apply(key: Row, rows: Iterator[Row], state: GroupState[Row])
      : Iterator[Row] = {
    val (oldL, oldR) = state.getOption.fold(
      (Vector.empty[Buffered], Vector.empty[Buffered]))(s =>
      (unpack(s.getSeq[Row](0)), unpack(s.getSeq[Row](1))))
    val newL = Vector.newBuilder[Buffered]
    val newR = Vector.newBuilder[Buffered]
    rows.foreach { t =>
      if (t.isNullAt(leftAt)) newR += Buffered(t.getLong(usAt), t.getStruct(rightAt))
      else newL += Buffered(t.getLong(usAt), t.getStruct(leftAt))
    }
    val (inL, inR) = (newL.result(), newR.result())
    val out = Vector.newBuilder[Row]
    def pair(ls: Vector[Buffered], rs: Vector[Buffered]): Unit =
      if (ls.nonEmpty) rs.foreach { r =>
        ls.foreach { l =>
          if (r.us >= l.us + lower && r.us <= l.us + upper)
            out += Row.fromSeq(l.row.toSeq ++ r.row.toSeq)
        }
      }
    val allL = oldL ++ inL
    pair(inL, oldR)
    pair(allL, inR)
    if (streaming) {
      val wm = state.getCurrentWatermarkMs
      val keptL = allL.filter(_.us > leftDeadUs(wm, upper))
      val keptR = (oldR ++ inR).filter(_.us > rightDeadUs(wm, lower))
      if (keptL.isEmpty && keptR.isEmpty) { if (state.exists) state.remove() }
      else {
        if (!state.exists || inL.nonEmpty || inR.nonEmpty ||
            keptL.length < oldL.length || keptR.length < oldR.length)
          state.update(Row(pack(keptL), pack(keptR)))
        // wake once the watermark passes the earliest buffered row's end
        val next = math.min(
          keptL.iterator.map(b => Math.floorDiv(b.us + upper, 1000L))
            .minOption.getOrElse(Long.MaxValue),
          keptR.iterator.map(b => Math.floorDiv(b.us - lower, 1000L))
            .minOption.getOrElse(Long.MaxValue))
        state.setTimeoutTimestamp(math.max(math.max(next, wm), 1L))
      }
    }
    out.result().iterator
  }
}

private[streaming] object IntervalJoin {
  final case class Buffered(us: Long, row: Row)

  private def unpack(s: Seq[Row]): Vector[Buffered] =
    s.iterator.map(b => Buffered(b.getLong(0), b.getStruct(1))).toVector

  private def pack(bs: Vector[Buffered]): Seq[Row] =
    bs.map(b => Row(b.us, b.row))

  /** Spark's state watermark for the left rows of an interval join
    * (`StreamingJoinHelper.getStateValueWatermark` on
    * `r.ts <= l.ts + upper`): the other side's watermark substituted for
    * `r.ts`, computed in micros as a double, truncated to ms, less 1 ms
    * for the inclusive bound. A left row at or behind it (in micros)
    * can pair with no later row that is not late. */
  def leftDeadUs(wmMs: Long, upper: Long): Long =
    (((wmMs * 1000.0 - upper) / 1000.0).toLong - 1L) * 1000L

  /** The right rows' state watermark, from `r.ts >= l.ts + lower`. */
  def rightDeadUs(wmMs: Long, lower: Long): Long =
    (((wmMs * 1000.0 + lower) / 1000.0).toLong - 1L) * 1000L
}
