package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
import java.sql.Timestamp

/** Structured Streaming extension of the pipeline algebra.
  *
  * The reference is batch-only (SURVEY §2.8) — its conduits process
  * incrementally *within* a task but have no watermarks/event-time. This
  * module exposes the same keyed-aggregation algebra over unbounded input:
  * the `events` fixture schema (event_id, ts, user_id, event_type, value,
  * props) is the stream row type.
  */
object Streaming {

  /** Shared default for the per-key micro-batch buffer caps of the
    * flatMapGroupsWithState operators (`sessionize`/`sessionizeStream`
    * event buffers, `nearDupStream` per-bucket arrivals). Each
    * invocation holds ONE key's batch rows in task memory — the
    * standard flatMapGroupsWithState shape — so a pathological key
    * (bot user, boilerplate bucket) is one task's heap; the cap turns
    * that silent OOM into a loud per-key error naming the hot key.
    * One shared default instead of per-operator constants (round-10
    * verdict); call-site arguments override it per call. */
  val DefaultMaxBufferedPerKey: Int = 1 << 20

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionUpdate(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  final case class CusumPoint(
      key: Long, id: Long, ts: Timestamp, v: Long)

  final case class CusumAlarm(
      key: Long, id: Long, s_alarm: Long, alarm_seq: Long)

  /** Tumbling-window counts with a watermark — the canonical windowed agg.
    * Works identically on a batch DataFrame (Spark unifies the APIs), which
    * is how the oracle checks it.
    */
  def windowedCounts(events: DataFrame, window: String, watermark: String)
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window).as("w"),
        col("event_type"))
      // decimal-exact sum: partition-order-independent, engine-portable
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("total_value"))

  /** Stream-static dimension enrichment — the ingest-time join every
    * event pipeline runs (attach the user/customer/document attributes
    * to each arriving record). The static side is always broadcast:
    * each micro-batch then joins map-only, the stream side never
    * shuffles, and the dimension is re-resolved per batch (Spark
    * re-plans the static side each trigger, so a dim TABLE that changes
    * between triggers is picked up). Works identically on a batch
    * DataFrame — which is how the oracle checks it. A dimension too
    * large to hash calls for a stream-stream join with watermarks
    * instead.
    */
  def enrich(
      stream: DataFrame,
      dim: DataFrame,
      joinKeys: Seq[String]): DataFrame = {
    require(joinKeys.nonEmpty, "enrich needs at least one join key")
    stream.join(broadcast(dim), joinKeys)
  }

  /** Stream-stream interval join — match each left row to the right rows
    * with the same keys whose event time falls in
    * [left.ts + lowerMicros, left.ts + upperMicros] (the attribution
    * shape: purchases within an hour of a view). Output columns: left's
    * prefixed `l_`, right's prefixed `r_`, with their input types.
    *
    * LINEAGE: hadron's reduce-side join (`joinMR`/`joinStep`, SURVEY
    * §2.4, the batch form ported as [[graft.ops.MonoidJoin.joinStep]]):
    * tag each input, union, group on the join key, and pair the sides in
    * the reducer. Here the reducer is `flatMapGroupsWithState` and its
    * per-key `GroupState` buffers the key's unexpired left and right
    * rows, so a pair whose rows land in different micro-batches comes
    * from state. Each batch emits new-left × (buffered ∪ new) right and
    * buffered-left × new-right pairs. One code path serves batch and
    * stream inputs: on a batch DataFrame each key is reduced once with
    * empty state, which is the plain equi-join with the range filter
    * (how the oracle checks it). Both inputs must be streams, or both
    * batch; rows with a null key or a null event time never match.
    *
    * WATERMARK: each side keeps its own `withWatermark(watermark)` on
    * the shared event-time column, so the global watermark is the min of
    * the two sides, and the stateful operator drops a row at or behind
    * the previous batch's watermark as late — the rule Spark's
    * stream-stream join applies. A row behind a side's state watermark
    * (the other side's watermark substituted into the range condition,
    * truncated to ms, less 1 ms: [[IntervalJoin.leftDeadUs]]) is evicted
    * at the end of the batch — again the join's rule, so the output
    * multiset equals `left.join(right, cond)` on a stream for every
    * batching (IntervalJoinSpec). In short, a left row goes once
    * `l.ts + upper < watermark` and a right row once
    * `r.ts − lower < watermark`; a key that receives no rows is cleaned
    * by its event-time timeout. Size the delay for the pipeline's real
    * disorder: a row later than it past the frontier can be dropped
    * (an effectively-infinite delay pins batching-invariance).
    *
    * COST: one state row per key, rewritten in each batch where the key
    * receives rows, holding that key's rows within the watermark plus
    * the interval; the pairing is a per-key nested loop, as the join's
    * state scan is. The query plans ONE stateful operator with one
    * state store, where `StreamingSymmetricHashJoinExec` plans four per
    * partition and broadcasts the session's Hadoop configuration in its
    * constructor, so in every plan copy of itself: 27 broadcasts per
    * micro-batch against 3 here (StreamingSpec pins the bound; NOTES.md
    * has the JFR stacks).
    *
    * STATE FORMAT: a checkpoint written by the earlier
    * `StreamingSymmetricHashJoinExec` form of this operator cannot be
    * resumed by this one (different operator, different state schema);
    * restart such a query on a fresh checkpoint location. Catalog
    * queries checkpoint under a per-process directory deleted at exit
    * (`SparkEntry.streamCkptRoot`, also under
    * `SPARK_GRAFT_STREAM_CKPT_DIR`), so only a caller's own durable
    * `checkpointLocation` is affected. The output carries no
    * watermarked event-time column, so no event-time stateful operator
    * can follow it in the same query.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      lowerMicros: Long,
      upperMicros: Long,
      watermark: String): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one equi key")
    require(lowerMicros <= upperMicros,
      s"empty interval: [$lowerMicros, $upperMicros]")
    require(left.isStreaming == right.isStreaming,
      "intervalJoin joins two streams or two batch DataFrames")
    def q(c: String) = col("`" + c.replace("`", "``") + "`")
    val (lType, rType) = (left.schema, right.schema)
    // the tagged union row: keys __k<i>, the event time (watermarked per
    // side) and its micros, and the side's whole row in its own slot
    def tagged(side: DataFrame, ts: String, isLeft: Boolean): DataFrame = {
      val row = struct(side.columns.toSeq.map(q): _*)
      side.select(keys.zipWithIndex.map { case (k, i) => q(k).as(s"__k$i") } ++
          Seq(q(ts).as("__ts"), unix_micros(q(ts)).as("__us"),
            (if (isLeft) row else lit(null).cast(lType)).as("__l"),
            (if (isLeft) lit(null).cast(rType) else row).as("__r")): _*)
        .withWatermark("__ts", watermark)
        .filter(keys.indices.map(i => col(s"__k$i").isNotNull)
          .reduce(_ && _) && col("__ts").isNotNull)
    }
    val u = tagged(left, leftTs, isLeft = true)
      .union(tagged(right, rightTs, isLeft = false))
    def buffer(t: StructType) = ArrayType(new StructType()
      .add("us", LongType, nullable = false).add("row", t, nullable = false),
      containsNull = false)
    val stateType = new StructType()
      .add("l", buffer(lType), nullable = false)
      .add("r", buffer(rType), nullable = false)
    val outType = StructType(
      lType.fields.map(f => f.copy(name = "l_" + f.name)) ++
        rType.fields.map(f => f.copy(name = "r_" + f.name)))
    val step = new IntervalJoin(keys.length, lowerMicros, upperMicros,
      streaming = left.isStreaming)
    u.groupBy(keys.indices.map(i => col(s"__k$i")): _*)
      .as[Row, Row](Encoders.row(StructType(u.schema.fields.take(keys.length))),
        Encoders.row(u.schema))
      .flatMapGroupsWithState[Row, Row](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(step.apply)(
        Encoders.row(stateType), Encoders.row(outType))
      .toDF()
  }

  /** Session windows via custom state — `flatMapGroupsWithState`, the
    * Spark-native port target for hadron-style stateful per-key reducers
    * on unbounded data. Gap-based sessionization per user.
    *
    * MEMORY BOUND: each invocation sorts ONE user's events of ONE
    * micro-batch in executor memory — the standard
    * flatMapGroupsWithState shape, fine for human-scale per-user
    * cardinality but unbounded in principle (a bot key with millions of
    * events in a batch is one task's heap). `maxBufferedEvents`
    * (default [[DefaultMaxBufferedPerKey]], the shared knob) turns
    * that silent OOM into a loud per-key error naming the hot key; raise
    * it deliberately, or pre-aggregate/split pathological keys upstream
    * (the same salting answer as any skewed groupBy).
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long,
      maxBufferedEvents: Int = DefaultMaxBufferedPerKey)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Timestamp, Timestamp, Long, Double), SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[(Timestamp, Timestamp, Long, Double)]) =>
          // Batch-mode friendly: fold sorted events into gap-split sessions.
          val buf = evs.take(maxBufferedEvents + 1).toSeq
          require(buf.lengthCompare(maxBufferedEvents) <= 0,
            s"user $uid has > $maxBufferedEvents events in one batch; " +
              "raise maxBufferedEvents or split the key upstream")
          val sorted = buf.sortBy(_.ts.getTime)
          val sessions = scala.collection.mutable.ListBuffer.empty[SessionUpdate]
          var cur: Option[(Timestamp, Timestamp, Long, Double)] = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some((s, last, n, v)) if e.ts.getTime - last.getTime <= gapMs =>
                cur = Some((s, e.ts, n + 1, v + e.value))
              case Some((s, last, n, v)) =>
                sessions += SessionUpdate(uid, s, last, n, v)
                cur = Some((e.ts, e.ts, 1L, e.value))
              case None =>
                cur = Some((e.ts, e.ts, 1L, e.value))
            }
          }
          // close the final session in batch mode; in streaming, keep state.
          // cur is None only for a zero-event group — unreachable without
          // timeouts today, but the defensive form keeps a future
          // timeout refactor from NPE-ing here (matches sessionizeStream).
          cur.foreach { case c @ (s, last, n, v) =>
            sessions += SessionUpdate(uid, s, last, n, v)
            state.update(c)
          }
          sessions.iterator
      }
  }

  /** True-streaming sessionization: emits a session ONLY when it closes —
    * either a newer event arrives past the gap, or the event-time
    * watermark passes the open session's deadline (event-time timeout,
    * which also clears the state). `sessionize` above emits open
    * sessions too (the batch/oracle semantics); this variant is what an
    * unbounded deployment runs, where re-emitting an open session every
    * batch would duplicate output in append mode.
    */
  def sessionizeStream(
      events: Dataset[Event],
      gapMs: Long,
      watermark: String,
      maxBufferedEvents: Int = DefaultMaxBufferedPerKey)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Timestamp, Timestamp, Long, Double), SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, _, state) if state.hasTimedOut =>
          val out = state.getOption.map { case (s, last, n, v) =>
            SessionUpdate(uid, s, last, n, v)
          }
          state.remove()
          out.iterator
        case (uid, evs, state) =>
          // same per-key buffer bound as `sessionize` (see its scaladoc)
          val buf = evs.take(maxBufferedEvents + 1).toSeq
          require(buf.lengthCompare(maxBufferedEvents) <= 0,
            s"user $uid has > $maxBufferedEvents events in one batch; " +
              "raise maxBufferedEvents or split the key upstream")
          val sorted = buf.sortBy(_.ts.getTime)
          val closed = scala.collection.mutable.ListBuffer.empty[SessionUpdate]
          var cur: Option[(Timestamp, Timestamp, Long, Double)] = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some((s, last, n, v)) if e.ts.getTime - last.getTime <= gapMs =>
                cur = Some((s, e.ts, n + 1, v + e.value))
              case Some((s, last, n, v)) =>
                closed += SessionUpdate(uid, s, last, n, v)
                cur = Some((e.ts, e.ts, 1L, e.value))
              case None =>
                cur = Some((e.ts, e.ts, 1L, e.value))
            }
          }
          cur.foreach { c =>
            state.update(c)
            state.setTimeoutTimestamp(c._2.getTime + gapMs)
          }
          closed.iterator
      }
  }

  /** Streaming exact dedup: keep the FIRST occurrence of each content
    * hash, dropping re-arrivals — `Dedup.exact`'s semantics for an
    * ingestion stream. State is the 16-byte md5 key per distinct doc and
    * is BOUNDED by the watermark horizon
    * (`dropDuplicatesWithinWatermark`): once the watermark passes a
    * hash's event time the key is evicted, so state scales with the
    * horizon's arrival rate, not the corpus — a plain `dropDuplicates`
    * on an unbounded stream grows its state store forever. Duplicates
    * arriving later than the horizon re-admit (the standard at-scale
    * trade; widen the watermark or run a batch `Dedup.exact` pass
    * downstream for exactness beyond it).
    *
    * Hashing first keeps the state narrow: the store holds md5 keys,
    * never document text.
    */
  def dedupStream(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      watermark: String): DataFrame =
    docs
      .withColumn("__content_hash",
        md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  /** Windowed KMV distinct-count sketches on a stream — "distinct
    * users per window" maintained with BOUNDED state where streaming
    * `approx_count_distinct`-style exactness would hold every value:
    * per window the state is the k smallest unit hashes (the
    * [[graft.ops.Sketch.kmvDistinct]] sketch — same md5 unit hash,
    * same (u asc, value asc) total order, same (k−1)/u_k estimator),
    * so a window over a million distinct users costs k slots. The
    * aggregation is the SAME `topk_by` bounded aggregate the batch
    * sketch uses — Spark's unified API means the batch operator IS the
    * oracle (run this on a bounded DataFrame and it returns the batch
    * answer; the streaming query merges sketch partials per
    * micro-batch instead).
    *
    * Run in Complete output mode (the result table is windows ×
    * 3 columns — tiny); no watermark needed, late data folds into its
    * window's sketch whenever it arrives.
    *
    * @return (window_start string, n_kept, estimate) per window
    */
  def kmvWindowedDistinct(
      events: DataFrame,
      tsCol: String,
      valueCol: org.apache.spark.sql.Column,
      windowLen: String,
      k: Int = 1024,
      salt: String = "kmv"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    events
      .select(window(col(tsCol), windowLen).as("w"),
        valueCol.cast("string").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("score", -graft.ops.Sampling.unitHash(col("v"), salt))
      .groupBy(col("w"))
      .agg(call_function("topk_by", col("v"), col("score"), lit(k))
        .as("top"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start") +: graft.ops.Sketch.kmvEstimate(k): _*)
  }

  /** Streaming CUSUM changepoint alarms —
    * [[graft.ops.Anomaly.cusumAlarms]]' exact integer recurrence
    * (s ← max(0, s + v − target − slack); alarm and reset at
    * threshold) running forever on an unbounded stream: per-key state
    * is FIVE SCALARS (running sum, alarm count, and the last-fed
    * point's ts/id for the disorder guard below), so the state store
    * scales with key cardinality only — the drift monitor a pipeline
    * leaves on, with the batch operator as its exact replay oracle.
    * At high key cardinality run it on the RocksDB state store
    * (semantics are backend-independent — StateBackendProbe measured
    * hash-equal outputs, ~10× less state memory and at-par-or-better
    * wall clock at the 150k-key rung; see the README deployment
    * note).
    *
    * EXACTNESS CONTRACT: alarms are bit-identical to the batch
    * operator iff each key's points arrive in (ts, id) order ACROSS
    * micro-batches (within a batch this sorts — same per-key buffer
    * bound and loud overflow as [[sessionize]]). Out-of-order
    * cross-batch arrivals feed the recurrence out of order — CUSUM is
    * order-sensitive by definition, and unlike the windowed operators
    * there is no watermark that can repair a sequential recurrence.
    * Feed it a per-key-ordered source (e.g. a time-partitioned ingest
    * where batch boundaries respect event time, as q160 stages).
    *
    * The contract is GUARDED, not just documented (round 15): the
    * state carries the last-fed point's (ts, id), and a batch whose
    * earliest point for a key sorts BEFORE it fails the query loudly
    * under the default `failOnCrossBatchDisorder = true`
    * (StreamingSpec "late batch" case pins both modes). Opting out
    * accepts approximate alarms under disorder — the late points feed
    * the recurrence at arrival position, which is the only sequential
    * semantics an unbounded stream can offer.
    *
    * CHECKPOINT COMPATIBILITY: adding the disorder guard widened the
    * per-key GroupState encoder from `(Long, Long)` to the current
    * 5-tuple `(Long, Long, Long, Int, Long)`. Spark's state store does
    * not version user state schemas, so a query RESTARTED from a
    * checkpoint written by the pre-guard build fails state
    * deserialization at the first stateful task. Restarting across
    * this upgrade needs a fresh checkpoint directory (replay the
    * source from a save point, or seed from the batch operator's
    * output). Future state widenings here must bump this note — or
    * move to an explicitly versioned state case class. The same
    * applies to [[ewmaStream]], whose state has carried the guard
    * fields since its introduction.
    */
  def cusumStream(
      points: Dataset[CusumPoint],
      target: Long,
      slack: Long,
      threshold: Long,
      maxBufferedEvents: Int = DefaultMaxBufferedPerKey,
      failOnCrossBatchDisorder: Boolean = true)
      : Dataset[CusumAlarm] = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    require(slack >= 0, s"slack must be non-negative, got $slack")
    import points.sparkSession.implicits._
    val drop = target + slack
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Long, Int, Long), CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, pts, state: GroupState[(Long, Long, Long, Int, Long)]) =>
          val buf = pts.take(maxBufferedEvents + 1).toSeq
          require(buf.lengthCompare(maxBufferedEvents) <= 0,
            s"key $key has > $maxBufferedEvents points in one batch; " +
              "raise maxBufferedEvents or split the key upstream")
          // Full-precision order: getTime alone is millisecond-truncated,
          // but the batch operator (Anomaly.cusumAlarms) and the q156/q160
          // oracles order by the full microsecond timestamp — two events
          // inside one millisecond must feed the recurrence in (ts, id)
          // order, not (ms, id) order. getNanos carries the sub-ms part.
          val sorted = buf.sortBy(p => (p.ts.getTime, p.ts.getNanos, p.id))
          var (s, seq, lastMs, lastNs, lastId) =
            state.getOption.getOrElse((0L, 0L, Long.MinValue, 0, 0L))
          if (failOnCrossBatchDisorder && state.exists)
            sorted.headOption.foreach { h =>
              val late = Ordering[(Long, Int, Long)].lt(
                (h.ts.getTime, h.ts.getNanos, h.id), (lastMs, lastNs, lastId))
              require(!late,
                s"cusumStream: key $key received point (ts=${h.ts}, " +
                  s"id=${h.id}) AFTER already feeding a later point — " +
                  "cross-batch disorder breaks the sequential recurrence " +
                  "(no watermark can repair it). Stage batches in event-" +
                  "time order, or pass failOnCrossBatchDisorder = false " +
                  "to accept arrival-order (approximate) alarms.")
            }
          val alarms = scala.collection.mutable.ListBuffer.empty[CusumAlarm]
          sorted.foreach { p =>
            // same *Exact overflow discipline as the batch operator —
            // bit-identical includes identical failure behavior
            s = math.max(0L,
              Math.subtractExact(Math.addExact(s, p.v), drop))
            if (s >= threshold) {
              seq += 1
              alarms += CusumAlarm(key, p.id, s, seq)
              s = 0L
            }
          }
          sorted.lastOption.foreach { l =>
            lastMs = l.ts.getTime; lastNs = l.ts.getNanos; lastId = l.id
          }
          state.update((s, seq, lastMs, lastNs, lastId))
          alarms.iterator
      }
  }

  final case class EwmaPoint(key: Long, id: Long, ts: Timestamp, v: Long)
  final case class EwmaOut(key: Long, id: Long, v: Long, ewma_fx: Long)

  /** Streaming EWMA smoothing — [[graft.ops.Anomaly.ewmaSmooth]]'s
    * exact 2^8-fixed-point recurrence (s ← (α·v·2^8 + (16−α)·s) >> 4)
    * running forever on an unbounded stream: the denoised per-key
    * baseline a live drift dashboard plots, with the batch operator
    * as its exact replay oracle. Per-key state is the running smooth
    * plus the last-fed (ts, id) for the disorder guard — the state
    * store scales with key cardinality only, and every input row
    * emits one output row.
    *
    * Same contracts as [[cusumStream]], because the recurrence is the
    * same genuinely-sequential kind: in-batch points sort by the
    * full-precision (ms, nanos, id) key under the shared loud buffer
    * bound; cross-batch disorder fails loudly by default
    * (`failOnCrossBatchDisorder`, StreamingSpec pins both modes);
    * arithmetic is *Exact (no silent wrap); values must be
    * non-negative (>> is a floor only there — the batch operator's
    * guard, kept bit-identical).
    */
  def ewmaStream(
      points: Dataset[EwmaPoint],
      alpha: Int,
      maxBufferedEvents: Int = DefaultMaxBufferedPerKey,
      failOnCrossBatchDisorder: Boolean = true): Dataset[EwmaOut] = {
    require(alpha >= 1 && alpha <= 16, s"alpha must be in [1,16], got $alpha")
    import points.sparkSession.implicits._
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Int, Long), EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, pts, state: GroupState[(Long, Long, Int, Long)]) =>
          val buf = pts.take(maxBufferedEvents + 1).toSeq
          require(buf.lengthCompare(maxBufferedEvents) <= 0,
            s"key $key has > $maxBufferedEvents points in one batch; " +
              "raise maxBufferedEvents or split the key upstream")
          val sorted = buf.sortBy(p => (p.ts.getTime, p.ts.getNanos, p.id))
          // s < 0 = "no point fed yet" (the batch operator's sentinel —
          // legal because values are guarded non-negative)
          var (s, lastMs, lastNs, lastId) =
            state.getOption.getOrElse((-1L, Long.MinValue, 0, 0L))
          if (failOnCrossBatchDisorder && state.exists)
            sorted.headOption.foreach { h =>
              val late = Ordering[(Long, Int, Long)].lt(
                (h.ts.getTime, h.ts.getNanos, h.id), (lastMs, lastNs, lastId))
              require(!late,
                s"ewmaStream: key $key received point (ts=${h.ts}, " +
                  s"id=${h.id}) AFTER already feeding a later point — " +
                  "cross-batch disorder breaks the sequential recurrence. " +
                  "Stage batches in event-time order, or pass " +
                  "failOnCrossBatchDisorder = false for arrival-order " +
                  "(approximate) smoothing.")
            }
          val out = sorted.map { p =>
            require(p.v >= 0, s"ewmaStream values must be non-negative " +
              s"(>> is floor only there), got ${p.v} for key $key")
            val v256 = Math.multiplyExact(p.v, 256L)
            s = if (s < 0) v256
                else Math.addExact(
                  Math.multiplyExact(alpha.toLong, v256),
                  Math.multiplyExact((16 - alpha).toLong, s)) >> 4
            EwmaOut(key, p.id, p.v, s)
          }
          sorted.lastOption.foreach { l =>
            lastMs = l.ts.getTime; lastNs = l.ts.getNanos; lastId = l.id
          }
          state.update((s, lastMs, lastNs, lastId))
          out.iterator
      }
  }

  final case class NearDupCandidate(id1: Long, id2: Long, est_jaccard: Double)

  /** Streaming MinHash near-duplicate detection — `Dedup.minhashLsh`'s
    * semantics for an ingestion stream: every incoming document is
    * signature-hashed (identical shingle/permutation constants, so a
    * document gets the SAME signature here as in the batch operator),
    * LSH-banded, and matched against all prior documents sharing a band
    * bucket. Jaccard is estimated as the fraction of matching signature
    * components (the standard unbiased MinHash estimator) — exact
    * shingle sets never enter the state store.
    *
    * Emission contract: a pair (min id, max id) is emitted in the batch
    * its LATER member arrives, once per band bucket the two share —
    * run `.dropDuplicates("id1","id2")` per sink batch (or a downstream
    * batch pass) when exactly-once pairs matter. Within a batch,
    * documents pair in ascending-id order, so output is deterministic
    * for a given batching.
    *
    * State per bucket is a CAPPED list of (id, signature) —
    * 8 B + 8·numHashes B per doc; `maxBucketState` is a skew guard
    * like the batch bucket walk's cap (`graft.plans.BucketPairs`), with
    * its own rule: arrivals into a full bucket still pair against the
    * stored members (dup clusters keep surfacing) but are not stored,
    * bounding both state size and per-arrival work at
    * `maxBucketState` comparisons. Over-cap
    * arrivals ARE remembered by id (a capped 8·`maxBucketState`-entry
    * set, 8 B each), so a doc re-delivered in a later micro-batch does
    * not re-emit its pairs; only past that second cap can a re-arrival
    * repeat an emission. (One batch's
    * arrivals for one bucket do buffer in task memory before pairing —
    * the standard flatMapGroupsWithState shape; `maxBufferedPerBucket`,
    * default the shared [[DefaultMaxBufferedPerKey]] knob, fails the
    * task loudly past it, same as `sessionize`'s maxBufferedEvents.)
    *
    * State lifetime: by default NEVER expires (NoTimeout) — near-dup
    * detection wants the full horizon; bound the run by restarting per
    * corpus epoch, or dedup beyond the stream with the batch operator
    * (same trade as `dedupStream`'s watermark note). For an unbounded
    * deployment, OPT-IN event-time TTL: pass `stateTtlMs` > 0 plus the
    * event-time column (`tsCol`) and its `watermark` delay — a bucket
    * whose last arrival's event time falls `stateTtlMs` behind the
    * watermark is EVICTED wholesale (both the stored members and the
    * overflow-seen ids). The within-horizon contract is unchanged:
    * pairs whose members arrive within the TTL of each other are
    * emitted exactly as without it; beyond the horizon, a counterpart
    * is forgotten (pair lost — the same trade as `dedupStream`) and an
    * evicted doc re-delivered later RE-ADMITS (its pairs may re-emit)
    * — PROVIDED the re-delivery carries an event time still within the
    * watermark: with EventTimeTimeout Spark drops rows behind the
    * watermark BEFORE the state function runs, so replaying a doc with
    * its original (now-late) timestamp is silently discarded, never
    * re-admitted. Re-admission is for re-deliveries stamped with fresh
    * event times (the at-least-once shape), not for replays of old
    * data into a live TTL stream.
    * Each arrival slides its bucket's deadline FORWARD only: the
    * deadline is the running max event time ever seen (carried in
    * state) + TTL, so a late-but-admissible arrival (older ts than a
    * prior batch's max — possible with a nonzero watermark delay)
    * cannot pull the deadline backward and evict early. TTL is a
    * streaming-only lever (batch runs have no watermark); leave it 0
    * for batch-mode use.
    */
  def nearDupStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 8,
      numHashes: Int = 12,
      bands: Int = 3,
      threshold: Double = 0.5,
      maxBucketState: Int = 64,
      maxBufferedPerBucket: Int = DefaultMaxBufferedPerKey,
      tsCol: String = "",
      watermark: String = "10 minutes",
      stateTtlMs: Long = 0L): Dataset[NearDupCandidate] = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide into bands ($bands)")
    val ttlOn = stateTtlMs > 0
    require(!ttlOn || tsCol.nonEmpty,
      "stateTtlMs needs tsCol — the event-time column the watermark rides")
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = numHashes / bands

    val banded0: Dataset[(String, Long, Seq[Long], Timestamp)] = docs
      .select(col(idCol).cast("long"), col(textCol).cast("string"),
        (if (ttlOn) col(tsCol).cast("timestamp")
         else lit(null).cast("timestamp")).as("__ts"))
      .as[(Long, String, Timestamp)]
      .flatMap { case (id, text, t) =>
        if (text == null || text.length < shingleK) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          // the batch operator's own shingle hash, signature fold and
          // band-key format (MinhashKernels.shingleHashes,
          // Dedup.minhashSignature/bandKey) — shared code, not a copy,
          // so batch/stream bit-identity cannot drift
          val vms = graft.plans.MinhashKernels.shingleHashes(text, shingleK, md)
          val sig = graft.dedup.Dedup.minhashSignature(vms, numHashes)
          (0 until bands).iterator.map { b =>
            (graft.dedup.Dedup.bandKey(sig, b, rowsPerBand), id,
              sig.toSeq, t)
          }
        }
      }
    // the watermark must ride a column that REACHES the stateful
    // operator (a typed flatMap mints fresh attributes, dropping any
    // upstream watermark metadata) — so it attaches here, after banding
    val banded =
      if (ttlOn) banded0.withWatermark("_4", watermark) else banded0

    // state = (stored members, overflow-seen ids, running max event-time
    // ms) — the third slot exists so the TTL deadline is monotone: set
    // from only the CURRENT batch's max, a late-but-admissible arrival
    // would slide the deadline backward and evict earlier than
    // newest-arrival + TTL
    //
    // State-schema version 2 (the third slot was added after v1's
    // 2-tuple). Structured Streaming state encoders are positional:
    // a checkpoint written by the v1 shape cannot be restored by this
    // code (schema mismatch on restart) — redeploying across the
    // change requires starting from a fresh checkpoint location.
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Seq[(Long, Seq[Long])], Seq[Long], Long), NearDupCandidate](
        OutputMode.Append,
        if (ttlOn) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (_, rows,
         state: GroupState[(Seq[(Long, Seq[Long])], Seq[Long], Long)]) =>
          if (state.hasTimedOut) {
            // TTL expiry: evict the whole bucket — stored members AND
            // the overflow-seen ids (a later re-delivery re-admits)
            state.remove()
            Iterator.empty
          } else {
          val initial = state.getOption.getOrElse((Seq.empty, Seq.empty, 0L))
          var stored = initial._1
          // ids that arrived at a full bucket: remembered (capped) so a
          // re-delivery in a later batch does not re-emit its pairs
          var overflowSeen = initial._2
          val buf = rows.take(maxBufferedPerBucket + 1).toSeq
          require(buf.lengthCompare(maxBufferedPerBucket) <= 0,
            s"bucket has > $maxBufferedPerBucket arrivals in one batch; " +
              "raise maxBufferedPerBucket or pre-dedup upstream")
          val out = Vector.newBuilder[NearDupCandidate]
          buf.sortBy(_._2).foreach { case (_, id, sig, _) =>
            if (!stored.exists(_._1 == id) && !overflowSeen.contains(id)) {
              stored.foreach { case (oid, osig) =>
                var m = 0; var i = 0
                while (i < numHashes) {
                  if (sig(i) == osig(i)) m += 1
                  i += 1
                }
                val est = m.toDouble / numHashes
                if (est >= threshold)
                  out += NearDupCandidate(
                    math.min(id, oid), math.max(id, oid), est)
              }
              if (stored.size < maxBucketState) stored = stored :+ (id -> sig)
              else if (overflowSeen.size < maxBucketState * 8)
                overflowSeen = overflowSeen :+ id
            }
          }
          if (ttlOn) {
            // always update (a timeout can only be set on live state),
            // then slide the deadline to the RUNNING max event time +
            // TTL (monotone across batches — see the state comment
            // above) — clamped past the current watermark, which Spark
            // requires strictly below any timeout timestamp
            val maxTs = math.max(initial._3, buf.iterator
              .map(r => if (r._4 == null) 0L else r._4.getTime).max)
            state.update((stored, overflowSeen, maxTs))
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs + 1, maxTs + stateTtlMs))
          } else if (stored.size != initial._1.size ||
              overflowSeen.size != initial._2.size)
            state.update((stored, overflowSeen, initial._3))
          out.result().iterator
          }
      }
  }
}
