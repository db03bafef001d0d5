package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import Streaming._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("sessionize (batch mode) splits on the inactivity gap") {
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), 1L, "a", 1.0),
      Event(2, ts(5), 1L, "a", 2.0),
      // 40-min gap > 30-min session gap => new session
      Event(3, ts(45), 1L, "a", 3.0),
      Event(4, ts(10), 2L, "b", 5.0)).toDS()
    val sessions = Streaming.sessionize(events, gapMs = 30 * 60 * 1000L)
      .collect().toSeq.sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.map(s => (s.user_id, s.n_events, s.total_value)) ==
      Seq((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 5.0)))
  }

  test("sessionize fails loudly (naming the key) on a pathological user " +
      "past maxBufferedEvents instead of buffering unbounded") {
    import spark.implicits._
    val bot = (1 to 50).map(i =>
      Event(i.toLong, ts(i % 60), 99L, "bot", 0.0))
    val events = (bot :+ Event(100, ts(0), 1L, "a", 1.0)).toDS()
    // under the cap: fine
    assert(Streaming.sessionize(events, gapMs = 60 * 60 * 1000L,
      maxBufferedEvents = 1000).collect().nonEmpty)
    // over the cap: the task fails with the hot key in the message
    val e = intercept[Exception] {
      Streaming.sessionize(events, gapMs = 60 * 60 * 1000L,
        maxBufferedEvents = 10).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(m => m.contains("99") && m.contains("10"))))
  }

  test("sessionizeStream emits only closed sessions, via gap or watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionizeStream(
        mem.toDS(), gapMs = 30 * 60 * 1000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: an open session — nothing may be emitted yet
      mem.addData(Event(1, ts(0), 1L, "a", 1.0), Event(2, ts(5), 1L, "a", 2.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sess").count() == 0)

      // batch 2: an event past the gap closes session 1 in-stream
      mem.addData(Event(3, ts(50), 1L, "a", 3.0))
      q.processAllAvailable()
      val afterClose = spark.sql(
        "SELECT user_id, n_events, total_value FROM sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(afterClose == Seq((1L, 2L, 3.0)))

      // batch 3: advance the watermark past session 2's deadline -> timeout
      mem.addData(Event(4, ts(59), 2L, "b", 9.0))
      q.processAllAvailable()
      mem.addData(Event(5, Timestamp.valueOf("2024-01-01 12:00:00"), 3L, "c", 0.0))
      q.processAllAvailable()
      mem.addData(Event(6, Timestamp.valueOf("2024-01-01 12:00:01"), 3L, "c", 0.0))
      q.processAllAvailable()
      val users = spark.sql("SELECT user_id FROM sess").collect()
        .map(_.getLong(0)).toSet
      assert(users.contains(1L), "gap-closed session emitted")
      assert(users.contains(2L), "watermark-timeout session emitted")
    } finally q.stop()
  }

  test("windowedCounts over a MemoryStream emits tumbling-window aggregates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1L, "click", 1.0),
      Event(2, ts(1), 2L, "click", 2.0),
      Event(3, ts(16), 1L, "view", 4.0))
    val q = Streaming.windowedCounts(
      mem.toDF(), window = "15 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n, total_value FROM wc")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 4.0)))
    } finally q.stop()
  }

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)

  test("nearDupStream pairs a late near-duplicate against an earlier " +
      "batch's document; unrelated docs never pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " * 3
    val mem = MemoryStream[Doc]
    val q = Streaming.nearDupStream(
        mem.toDF(), idCol = "doc_id", textCol = "text",
        shingleK = 8, numHashes = 12, bands = 3, threshold = 0.5)
      .writeStream.format("memory").queryName("nd")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Doc(1, ts(0), base),
        Doc(2, ts(1), "an entirely different document about cabbages and kings"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM nd").count() == 0)

      // batch 2: a near-copy of doc 1 (small suffix change) + noise
      mem.addData(
        Doc(3, ts(10), base + "tail"),
        Doc(4, ts(11), "yet more unrelated text that shares no phrases at all"))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT id1, id2 FROM nd")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 3L)))
      val est = spark.sql("SELECT max(est_jaccard) FROM nd")
        .collect()(0).getDouble(0)
      assert(est >= 0.5 && est <= 1.0)
    } finally q.stop()
  }

  test("nearDupStream matches the batch operator's signatures: an exact " +
      "duplicate estimates jaccard 1.0, in-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = Streaming.nearDupStream(
        mem.toDF(), idCol = "doc_id", textCol = "text", threshold = 0.9)
      .writeStream.format("memory").queryName("nd2")
      .outputMode(OutputMode.Append()).start()
    try {
      val text = "identical content arriving twice in one micro-batch here"
      mem.addData(Doc(7, ts(0), text), Doc(9, ts(1), text))
      q.processAllAvailable()
      val rows = spark.sql("SELECT DISTINCT id1, id2, est_jaccard FROM nd2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((7L, 9L, 1.0)))
    } finally q.stop()
  }

  test("nearDupStream caps per-bucket state but still pairs arrivals " +
      "against the stored members") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the same boilerplate paragraph repeated across the corpus"
    val mem = MemoryStream[Doc]
    val q = Streaming.nearDupStream(
        mem.toDF(), idCol = "doc_id", textCol = "text",
        threshold = 0.9, maxBucketState = 2)
      .writeStream.format("memory").queryName("nd3")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L to 5L).map(i => Doc(i, ts(i.toInt), text)): _*)
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT id1, id2 FROM nd3")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // docs 1,2 stored; 3,4,5 each pair against BOTH stored members
      // (2 + 2 + 2 pairs) plus the in-batch (1,2) pair
      assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L),
        (2L, 4L), (1L, 5L), (2L, 5L)))
    } finally q.stop()
  }

  test("nearDupStream does not re-emit pairs when an over-cap document " +
      "is re-delivered in a later micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the same boilerplate paragraph repeated across the corpus"
    val mem = MemoryStream[Doc]
    val q = Streaming.nearDupStream(
        mem.toDF(), idCol = "doc_id", textCol = "text",
        threshold = 0.9, maxBucketState = 2)
      .writeStream.format("memory").queryName("nd4")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L to 4L).map(i => Doc(i, ts(i.toInt), text)): _*)
      q.processAllAvailable()
      val n1 = spark.sql("SELECT * FROM nd4").count()
      // doc 4 arrived at a full bucket (cap 2) and was not stored; a
      // re-delivery must be recognized from the overflow-seen set
      mem.addData(Doc(4, ts(10), text))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM nd4").count() == n1)
    } finally q.stop()
  }

  test("nearDupStream event-time TTL: inside-horizon pairs unchanged, " +
      "an expired bucket re-admits a re-delivered doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the same boilerplate paragraph repeated across the corpus"
    val mem = MemoryStream[Doc]
    val q = Streaming.nearDupStream(
        mem.toDF(), idCol = "doc_id", textCol = "text",
        threshold = 0.9,
        tsCol = "ts", watermark = "0 seconds",
        stateTtlMs = 5 * 60 * 1000L) // 5-minute horizon
      .writeStream.format("memory").queryName("nd5")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two dups inside the horizon — the pair emits exactly
      // as without TTL (the within-horizon contract)
      mem.addData(Doc(1, ts(0), text), Doc(2, ts(1), text))
      q.processAllAvailable()
      val p1 = spark.sql("SELECT DISTINCT id1, id2 FROM nd5")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p1 == Set((1L, 2L)))
      // batch 2: unrelated doc far past the horizon advances the
      // watermark to 10:30 — the bucket's deadline (10:01 + 5 min) is
      // now behind it
      mem.addData(Doc(3, ts(30),
        "an entirely different document about cabbages and kings"))
      q.processAllAvailable()
      // batch 3: no data for the stale bucket — its timeout fires and
      // the state (stored members AND overflow ids) is evicted
      mem.addData(Doc(4, ts(31),
        "yet more unrelated text that shares no phrases at all"))
      q.processAllAvailable()
      // batch 4: doc 1 re-delivered with a fresh dup. With live state
      // doc 9 would pair against BOTH 1 and 2; after eviction doc 1
      // re-admits and only (1,9) emits — 2's signature is forgotten
      mem.addData(Doc(1, ts(40), text), Doc(9, ts(41), text))
      q.processAllAvailable()
      val all = spark.sql("SELECT DISTINCT id1, id2 FROM nd5")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(all == Set((1L, 2L), (1L, 9L)))
    } finally q.stop()
  }

  test("nearDupStream TTL deadline is monotone: a late-but-admissible " +
      "arrival cannot slide it backward and evict early") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the same boilerplate paragraph repeated across the corpus"
    val mem = MemoryStream[Doc]
    // nonzero watermark delay makes an arrival OLDER than a prior
    // batch's max admissible; deadline must stay newest-ever + TTL
    val q = Streaming.nearDupStream(
        mem.toDF(), idCol = "doc_id", textCol = "text",
        threshold = 0.9,
        tsCol = "ts", watermark = "10 minutes",
        stateTtlMs = 5 * 60 * 1000L)
      .writeStream.format("memory").queryName("nd6")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: doc 1 at 10:20 → deadline 10:25, watermark 10:10
      mem.addData(Doc(1, ts(20), text))
      q.processAllAvailable()
      // batch 2: doc 2 at 10:12 — admissible (ahead of the 10:10
      // watermark) but OLDER than batch 1's max; a deadline set from
      // only this batch's max would slip back to 10:17
      mem.addData(Doc(2, ts(12), text))
      q.processAllAvailable()
      // batches 3-4: unrelated docs advance the watermark to 10:22,
      // then give the (buggy) 10:17 deadline a batch to fire; the
      // monotone 10:25 deadline stays ahead of the watermark
      mem.addData(Doc(3, ts(32),
        "an entirely different document about cabbages and kings"))
      q.processAllAvailable()
      mem.addData(Doc(4, ts(33),
        "yet more unrelated text that shares no phrases at all"))
      q.processAllAvailable()
      // batch 5: doc 9 joins the bucket — with the state alive it pairs
      // against BOTH stored members; early eviction would emit nothing
      mem.addData(Doc(9, ts(34), text))
      q.processAllAvailable()
      val all = spark.sql("SELECT DISTINCT id1, id2 FROM nd6")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(all == Set((1L, 2L), (1L, 9L), (2L, 9L)))
    } finally q.stop()
  }

  test("dedupStream keeps the first occurrence of each content hash " +
      "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = Streaming.dedupStream(
        mem.toDF(), tsCol = "ts", textCol = "text", watermark = "2 hours")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two distinct texts + an in-batch duplicate
      mem.addData(
        Doc(1, ts(0), "alpha"), Doc(2, ts(1), "beta"), Doc(3, ts(2), "alpha"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (state remembers "alpha") + new
      mem.addData(Doc(4, ts(10), "alpha"), Doc(5, ts(11), "gamma"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id, text FROM dedup")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // exactly one survivor per distinct text; the batch-1 "alpha"
      // survivor is whichever arrived first in its batch
      assert(kept.map(_._2) == Set("alpha", "beta", "gamma"))
      assert(kept.size == 3)
      assert(!kept.contains((4L, "alpha"))) // cross-batch dup dropped
      // schema passthrough: the helper hash column does not leak
      assert(spark.sql("SELECT * FROM dedup").columns.toSet ==
        Set("doc_id", "ts", "text"))
    } finally q.stop()
  }

  test("enrich joins each micro-batch against the broadcast dimension " +
      "and matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val q = Streaming.enrich(mem.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Event(1, ts(0), 1L, "a", 1.0), Event(2, ts(1), 3L, "b", 2.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(2), 2L, "c", 3.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, tier FROM enriched")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // inner join: user 3 has no dim row and is dropped; state-free,
      // so cross-batch arrivals enrich identically
      assert(got == Set((1L, "gold"), (3L, "silver")))
    } finally q.stop()
    // the static side carries the broadcast hint (map-only per batch)
    val batchPlan = Streaming.enrich(
      Seq(Event(1, ts(0), 1L, "a", 1.0)).toDF(), dim, Seq("user_id"))
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), batchPlan)
  }

  test("intervalJoin pairs right events inside the window across " +
      "micro-batches and matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = Streaming.intervalJoin(
      views.toDF(), buys.toDF(), Seq("user_id"), "ts", "ts",
      lowerMicros = 0L, upperMicros = 3600L * 1000000L,
      watermark = "3650 days")
    val q = joined.select(col("l_event_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(Event(1, ts(0), 1L, "view", 0.0))
      buys.addData(Event(10, ts(30), 1L, "purchase", 5.0)) // in window
      q.processAllAvailable()
      // batch 2: a purchase for the batch-1 view (cross-batch state),
      // one outside the window, one for a user with no view
      buys.addData(Event(11, ts(59), 1L, "purchase", 1.0),
        Event(12, Timestamp.valueOf("2024-01-01 12:00:00"), 1L, "p", 1.0),
        Event(13, ts(5), 2L, "purchase", 2.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM ij")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L), (1L, 11L)))
    } finally q.stop()
    // batch form (what the oracle runs) emits the same pairs
    val l = Seq(Event(1, ts(0), 1L, "view", 0.0)).toDF()
    val r = Seq(Event(10, ts(30), 1L, "purchase", 5.0),
      Event(12, Timestamp.valueOf("2024-01-01 12:00:00"), 1L, "p", 1.0),
      Event(13, ts(5), 2L, "purchase", 2.0)).toDF()
    val batch = Streaming.intervalJoin(l, r, Seq("user_id"), "ts", "ts",
      0L, 3600L * 1000000L, "3650 days")
      .select(col("l_event_id"), col("r_event_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(batch == Set((1L, 10L)))
  }

  test("intervalJoin broadcasts at most 4 times per micro-batch over a " +
      "3-batch run (Spark's stream-stream join broadcast the Hadoop " +
      "configuration in every plan copy of itself: ~27 per batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sc = spark.sparkContext
    val events = MemoryStream[Event]
    val src = events.toDF()
    val q = Streaming.intervalJoin(
        src.filter(col("event_type") === "view"),
        src.filter(col("event_type") === "purchase"), Seq("user_id"),
        "ts", "ts", lowerMicros = 0L, upperMicros = 3600L * 1000000L,
        watermark = "36500 days")
      .writeStream.format("memory").queryName("ij_broadcasts")
      .outputMode(OutputMode.Append()).start()
    val broadcasts = graft.util.BroadcastCount.on(sc)
    try {
      val perBatch = (0 until 3).map { b =>
        val before = broadcasts.settled(sc)
        events.addData(Event(2L * b, ts(10 * b), 1L, "view", 0.0),
          Event(2L * b + 1, ts(10 * b + 5), 1L, "purchase", 1.0))
        q.processAllAvailable()
        broadcasts.settled(sc) - before
      }
      info(s"broadcasts per batch: ${perBatch.mkString(", ")}")
      assert(perBatch.forall(_ <= 4), perBatch.mkString(","))
      // each purchase pairs with every earlier view
      assert(spark.table("ij_broadcasts").count() == 6)
    } finally {
      q.stop()
      sc.removeSparkListener(broadcasts)
      spark.catalog.dropTempView("ij_broadcasts")
    }
  }

  // ---- cusumStream ---------------------------------------------------

  test("cusumStream carries the recurrence across micro-batches and " +
      "matches the batch operator alarm-for-alarm: sub-threshold drift " +
      "split over three batches still alarms, state resets after an " +
      "alarm, in-batch disorder is sorted, keys are independent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{CusumAlarm, CusumPoint}
    def p(key: Long, id: Long, sec: Int, v: Long) =
      CusumPoint(key, id, ts(sec), v)
    // target+slack = 12, threshold 30; key 1 gains +8 per point → the
    // 4th point alarms (s=32), then again at the 8th. key 2 never.
    val k1 = (1 to 8).map(i => p(1L, i, i, 20L))
    val k2 = (1 to 8).map(i => p(2L, 100 + i, i, 12L))
    val mem = MemoryStream[CusumPoint]
    val q = Streaming.cusumStream(mem.toDS(), target = 10L, slack = 2L,
        threshold = 30L)
      .writeStream.format("memory").queryName("cusum")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: points 1-3 (one SHUFFLED — in-batch sort contract)
      mem.addData(k1(2), k1(0), k1(1), k2(0), k2(1), k2(2))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM cusum").count() == 0,
        "s=24 < 30: no alarm mid-drift")
      // batch 2: point 4 completes the drift → alarm at s=32, reset
      mem.addData(k1(3), k2(3))
      q.processAllAvailable()
      // batch 3: points 5-8 → second alarm at the 8th point
      mem.addData(k1(4), k1(5), k1(6), k1(7), k2(4), k2(5), k2(6), k2(7))
      q.processAllAvailable()
      val got = spark.table("cusum").as[CusumAlarm].collect().toSet
      assert(got == Set(CusumAlarm(1L, 4L, 32L, 1L),
        CusumAlarm(1L, 8L, 32L, 2L)))
    } finally q.stop()
    // the batch operator replays the identical alarms from the same rows
    val rows = (k1 ++ k2).map(x => (x.key, x.id, x.ts, x.v))
      .toDF("k", "id", "t", "v")
    val batch = graft.ops.Anomaly.cusumAlarms(rows, col("k"), col("id"),
        Seq(col("t"), col("id")), col("v"), 10L, 2L, 30L)
      .collect().map(r => CusumAlarm(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(batch == Set(CusumAlarm(1L, 4L, 32L, 1L),
      CusumAlarm(1L, 8L, 32L, 2L)))
  }

  test("cusumStream cross-batch DISORDER: a late batch fails loudly by " +
      "default (naming the key and point), and with the guard off the " +
      "late point feeds the recurrence at arrival position — the " +
      "documented approximate semantics, pinned") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{CusumAlarm, CusumPoint}
    def p(id: Long, sec: Int, v: Long) = CusumPoint(1L, id, ts(sec), v)
    // guard ON (default): batch 2 delivers a point EARLIER than batch
    // 1's latest → the query must die with the contract message
    val memStrict = MemoryStream[CusumPoint]
    val strict = Streaming.cusumStream(memStrict.toDS(), target = 10L,
        slack = 2L, threshold = 30L)
      .writeStream.format("memory").queryName("cusum_strict")
      .outputMode(OutputMode.Append()).start()
    try {
      memStrict.addData(p(1, 1, 20L), p(2, 2, 20L))
      strict.processAllAvailable()
      memStrict.addData(p(99, 1, 20L)) // sec 1 again: late vs sec 2
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        strict.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val all = msgs(e).mkString("\n")
      assert(all.contains("cross-batch disorder") && all.contains("key 1"),
        s"guard must name the contract and the key, got: $all")
    } finally strict.stop()
    // guard OFF: same disorder runs to completion, the late point
    // feeding the recurrence at ARRIVAL position — and the values are
    // chosen so stream and batch alarm at DIFFERENT ids, pinning the
    // divergence the opt-out accepts rather than a coincidental match.
    // Arrival order (v−12 each step): id1 +8 → 8, id2 +20 → 28 (no
    // alarm), late id99 +4 → 32 → alarm AT id99. Event-time order:
    // id1 +8 → 8, id99 +4 → 12, id2 +20 → 32 → alarm AT id2.
    val memLoose = MemoryStream[CusumPoint]
    val loose = Streaming.cusumStream(memLoose.toDS(), target = 10L,
        slack = 2L, threshold = 30L, failOnCrossBatchDisorder = false)
      .writeStream.format("memory").queryName("cusum_loose")
      .outputMode(OutputMode.Append()).start()
    try {
      memLoose.addData(p(1, 1, 20L), p(2, 2, 32L))
      loose.processAllAvailable()
      memLoose.addData(p(99, 1, 16L)) // late — accepted, fed 3rd
      loose.processAllAvailable()
      val got = spark.table("cusum_loose").as[CusumAlarm].collect().toSet
      assert(got == Set(CusumAlarm(1L, 99L, 32L, 1L)),
        s"arrival-order semantics: alarm at the late point, got $got")
      val rows = Seq(p(1, 1, 20L), p(2, 2, 32L), p(99, 1, 16L))
        .map(x => (x.key, x.id, x.ts, x.v)).toDF("k", "id", "t", "v")
      val batch = graft.ops.Anomaly.cusumAlarms(rows, col("k"),
          col("id"), Seq(col("t"), col("id")), col("v"), 10L, 2L, 30L)
        .collect().map(r => CusumAlarm(r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(batch == Set(CusumAlarm(1L, 2L, 32L, 1L)),
        s"batch (event-time) alarms at id 2, got $batch")
    } finally loose.stop()
  }

  test("ewmaStream carries the smooth across micro-batches and matches " +
      "the batch operator row-for-row; in-batch disorder sorted; " +
      "cross-batch disorder fails loudly; negative value raises") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{EwmaOut, EwmaPoint}
    def p(id: Long, sec: Int, v: Long) = EwmaPoint(1L, id, ts(sec), v)
    val pts = Seq(p(1, 1, 100L), p(2, 2, 20L), p(3, 3, 40L), p(4, 4, 0L))
    val mem = MemoryStream[EwmaPoint]
    val q = Streaming.ewmaStream(mem.toDS(), alpha = 4)
      .writeStream.format("memory").queryName("ewma")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(pts(1), pts(0)) // shuffled within the batch
      q.processAllAvailable()
      mem.addData(pts(2)); q.processAllAvailable()
      mem.addData(pts(3)); q.processAllAvailable()
      val got = spark.table("ewma").as[EwmaOut].collect()
        .map(o => o.id -> o.ewma_fx).toMap
      // batch operator on the same rows is the ground truth
      val batch = graft.ops.Anomaly.ewmaSmooth(
          pts.map(x => (x.key, x.id, x.ts, x.v)).toDF("k", "id", "t", "v"),
          col("k"), col("id"), Seq(col("t"), col("id")), col("v"),
          alpha = 4)
        .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
      assert(got == batch)
      // and the recurrence actually decayed: s1 = 100·256 = 25600,
      // s2 = (4·20·256 + 12·25600) >> 4 = (20480 + 307200) >> 4
      assert(got(1L) == 25600L && got(2L) == (20480L + 307200L) >> 4)
    } finally q.stop()
    // cross-batch disorder: second batch delivers an EARLIER point
    val memD = MemoryStream[EwmaPoint]
    val qd = Streaming.ewmaStream(memD.toDS(), alpha = 4)
      .writeStream.format("memory").queryName("ewma_disorder")
      .outputMode(OutputMode.Append()).start()
    try {
      memD.addData(p(1, 5, 10L)); qd.processAllAvailable()
      memD.addData(p(9, 1, 10L)) // sec 1 < sec 5: late
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qd.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).mkString("\n").contains("cross-batch disorder"))
    } finally qd.stop()
    // negative values refuse (>> floor contract, as in the batch op)
    val memN = MemoryStream[EwmaPoint]
    val qn = Streaming.ewmaStream(memN.toDS(), alpha = 4)
      .writeStream.format("memory").queryName("ewma_neg")
      .outputMode(OutputMode.Append()).start()
    try {
      memN.addData(p(1, 1, -5L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qn.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).mkString("\n").contains("non-negative"))
    } finally qn.stop()
    intercept[IllegalArgumentException] {
      Streaming.ewmaStream(MemoryStream[EwmaPoint].toDS(), alpha = 0)
    }
  }

  test("kmvWindowedDistinct: sketches merge across micro-batches to " +
      "the batch answer — exact below k, estimator above, late rows " +
      "fold into their window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def day(d: Int, u: Long) =
      KmvPoint(Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), u)
    // day 1: 3 distinct users (< k=4: exact). day 2: 6 distinct (> k:
    // estimator engages). one day-1 row arrives LAST (late, no
    // watermark — must still fold in).
    val batch1 = Seq(day(1, 1), day(1, 2), day(2, 10), day(2, 11))
    val batch2 = Seq(day(2, 12), day(2, 13), day(2, 14), day(2, 15),
      day(1, 2)) // dup user same day: no effect
    val batch3 = Seq(day(1, 3)) // late day-1 arrival
    val all = batch1 ++ batch2 ++ batch3
    val mem = MemoryStream[KmvPoint]
    val q = Streaming.kmvWindowedDistinct(mem.toDF(), "ts",
        col("user_id"), "1 day", k = 4)
      .writeStream.format("memory").queryName("kmvw")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      mem.addData(batch3: _*); q.processAllAvailable()
      val got = spark.table("kmvw").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Streaming.kmvWindowedDistinct(
          all.toDF(), "ts", col("user_id"), "1 day", k = 4)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want)
      val byDay = got.map(t => t._1 -> ((t._2, t._3))).toMap
      assert(byDay("2024-01-01 00:00:00") == ((3L, 3.0))) // exact < k
      val (nk2, est2) = byDay("2024-01-02 00:00:00")
      assert(nk2 == 4L && est2 > 0.0 && est2 != 6.0) // estimator arm
    } finally q.stop()
  }

  test("cusumStream fails loudly on a pathological key exceeding the " +
      "per-batch buffer bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streaming.CusumPoint
    val mem = MemoryStream[CusumPoint]
    val q = Streaming.cusumStream(mem.toDS(), target = 0L, slack = 0L,
        threshold = 1000000L, maxBufferedEvents = 4)
      .writeStream.format("memory").queryName("cusum_cap")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1 to 6).map(i =>
        CusumPoint(7L, i, ts(i), 1L)): _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): String =
        if (t == null) "" else s"${t.getMessage}|${chain(t.getCause)}"
      assert(chain(e).contains("points in one batch"))
    } finally q.stop()
  }
}

// top-level (not an inner class): MemoryStream needs an outer-free encoder
final case class KmvPoint(ts: java.sql.Timestamp, user_id: Long)
