package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import java.sql.Timestamp

/** [[Streaming.intervalJoin]] (the tagged-union keyed reduce) against
  * [[IntervalJoinReference]] (Spark's stream-stream join): on seeded
  * random event sequences split over 1–4 micro-batches, both run in ONE
  * streaming query over one MemoryStream — so they see the same batches,
  * the same watermarks and the same no-data batches — and must emit the
  * same output multiset, under the same schema names and types.
  */
class IntervalJoinSpec extends SparkSpec {
  import IntervalJoinSpec._

  private val sec = 1000000L

  /** `n` events over `spanSec` seconds (micro precision), each side with
    * probability 1/2; a key or event time is null with `nullRate`. */
  private def events(seed: Long, n: Int, spanSec: Int,
      nullRate: Double = 0.0): Seq[Ev] = {
    val rnd = new scala.util.Random(seed)
    def orNull[T >: Null](x: => T): T =
      if (rnd.nextDouble() < nullRate) null else x
    (0 until n).map { i =>
      val us = base + (rnd.nextDouble() * spanSec * sec).toLong
      Ev(rnd.nextInt(2), i.toLong, orNull(tsOf(us)),
        if (rnd.nextDouble() < nullRate) None else Some(rnd.nextInt(3).toLong),
        orNull(Seq("a", "b")(rnd.nextInt(2))), rnd.nextInt(100).toDouble)
    }
  }

  /** `evs` in a seeded random order, cut into `k` non-empty batches. */
  private def batches(seed: Long, evs: Seq[Ev], k: Int): Seq[Seq[Ev]] = {
    val rnd = new scala.util.Random(seed)
    val shuffled = rnd.shuffle(evs)
    val cuts = (rnd.shuffle((1 until shuffled.length).toList).take(k - 1) :+
      0 :+ shuffled.length).distinct.sorted
    cuts.zip(cuts.tail).map { case (a, b) => shuffled.slice(a, b) }
  }

  private def sides(src: DataFrame): (DataFrame, DataFrame) =
    (src.filter(col("side") === 0).drop("side"),
      src.filter(col("side") === 1).drop("side"))

  private def multiset(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private var sinks = 0

  private val noDataConf = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** (new, reference) sink rows of `input` fed batch by batch. Without
    * `noDataBatches` no batch runs between two data batches, so a data
    * batch that follows a watermark advance drops late rows by the
    * previous watermark and evicts by the new one: rows between the two
    * arrive already behind their state watermark — the case an
    * always-busy stream runs in. */
  private def both(input: Seq[Seq[Ev]], keys: Seq[String], lower: Long,
      upper: Long, watermark: String, noDataBatches: Boolean = true)
      : (Seq[Row], Seq[Row]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val (l, r) = sides(mem.toDF())
    val a = Streaming.intervalJoin(l, r, keys, "ts", "ts", lower, upper,
      watermark)
    val b = IntervalJoinReference.intervalJoin(l, r, keys, "ts", "ts",
      lower, upper, watermark)
    assert(a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType)))
    def tag(d: DataFrame, impl: Int) =
      d.select(d.columns.map(c => col(c)) :+ lit(impl).as("impl"): _*)
    sinks += 1
    val name = s"ij_equiv_$sinks"
    val q =
      try {
        spark.conf.set(noDataConf, noDataBatches.toString)
        tag(a, 0).union(tag(b, 1)).writeStream.format("memory")
          .queryName(name).outputMode(OutputMode.Append()).start()
      } finally spark.conf.unset(noDataConf)
    try input.foreach { batch =>
      mem.addData(batch)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).collect().toSeq
    spark.catalog.dropTempView(name)
    def of(impl: Int) = rows.filter(_.getInt(rows.head.length - 1) == impl)
      .map(x => Row.fromSeq(x.toSeq.init))
    if (rows.isEmpty) (Nil, Nil) else (of(0), of(1))
  }

  private def batchJoin(evs: Seq[Ev], keys: Seq[String], lower: Long,
      upper: Long): Seq[Row] = {
    import spark.implicits._
    val (l, r) = sides(evs.toDF())
    Streaming.intervalJoin(l, r, keys, "ts", "ts", lower, upper,
      "36500 days").collect().toSeq
  }

  test("an effectively infinite watermark: the stream equals the " +
      "parent's join and the batch join, for every batching") {
    for (seed <- 1L to 3L; k <- Seq(1, 2, 4)) {
      val evs = events(seed, 60, spanSec = 300)
      val (got, ref) = both(batches(seed * 7 + k, evs, k), Seq("k1"),
        0L, 60 * sec, "36500 days")
      assert(multiset(got) == multiset(ref), s"seed $seed, $k batches")
      assert(multiset(got) == multiset(batchJoin(evs, Seq("k1"), 0L,
        60 * sec)), s"seed $seed, $k batches")
      assert(got.nonEmpty)
    }
    // the batch forms agree with each other too
    import spark.implicits._
    val evs = events(9L, 80, spanSec = 300)
    val (l, r) = sides(evs.toDF())
    assert(multiset(batchJoin(evs, Seq("k1"), 0L, 60 * sec)) ==
      multiset(IntervalJoinReference.intervalJoin(l, r, Seq("k1"), "ts",
        "ts", 0L, 60 * sec, "36500 days").collect().toSeq))
  }

  test("a finite watermark with late and out-of-order rows: the same " +
      "rows dropped as late, the same pairs emitted") {
    var lateSomewhere = false
    for (seed <- 1L to 4L; noData <- Seq(true, false)) {
      val evs = events(seed, 80, spanSec = 120)
      val (got, ref) = both(batches(seed, evs, 4), Seq("k1"), 0L,
        20 * sec, "5 seconds", noData)
      assert(multiset(got) == multiset(ref), s"seed $seed, $noData")
      if (ref.length < batchJoin(evs, Seq("k1"), 0L, 20 * sec).length)
        lateSomewhere = true
    }
    assert(lateSomewhere, "no seed dropped a late pair: the case is vacuous")
  }

  test("a data batch right after a watermark advance pairs its new rows " +
      "with each other before evicting them") {
    def ev(side: Int, id: Long, atSec: Long, key: Long) =
      Ev(side, id, tsOf(base + atSec * sec), Some(key), "a", 0.0)
    // batch 1 moves the watermark to 95 s; with no no-data batch between,
    // batch 2 judges lateness by the previous watermark (0), so its rows
    // at 50 s and 60 s are not late, yet both are already behind their
    // state watermark
    val input = Seq(Seq(ev(0, 1, 100, 2), ev(1, 2, 101, 2)),
      Seq(ev(0, 3, 50, 1), ev(1, 4, 60, 1)))
    val (got, ref) = both(input, Seq("k1"), 0L, 20 * sec, "5 seconds",
      noDataBatches = false)
    assert(multiset(got) == multiset(ref))
    assert(got.map(x => (x.getLong(0), x.getLong(5))).toSet ==
      Set((1L, 2L), (3L, 4L)))
  }

  test("a negative lower bound, and an interval wholly in the past") {
    for ((lower, upper) <- Seq((-30 * sec, 10 * sec), (-30 * sec, -5 * sec));
        seed <- 1L to 3L; noData <- Seq(true, false)) {
      val evs = events(seed + 20, 80, spanSec = 120)
      val (got, ref) = both(batches(seed, evs, 3), Seq("k1"), lower, upper,
        "10 seconds", noData)
      assert(multiset(got) == multiset(ref),
        s"[$lower, $upper] seed $seed, $noData")
      assert(ref.nonEmpty)
    }
  }

  test("a two-column key with null keys and null event times") {
    for (seed <- 1L to 2L) {
      val evs = events(seed + 40, 80, spanSec = 120, nullRate = 0.15)
      assert(evs.exists(_.ts == null) && evs.exists(_.k1.isEmpty) &&
        evs.exists(_.k2 == null))
      for (wm <- Seq("36500 days", "5 seconds")) {
        val (got, ref) = both(batches(seed, evs, 3), Seq("k1", "k2"), 0L,
          30 * sec, wm)
        assert(multiset(got) == multiset(ref), s"seed $seed, $wm")
        assert(ref.nonEmpty)
        // l_ts, l_k1, l_k2 and r_ts, r_k1, r_k2
        got.foreach(x => assert(Seq(1, 2, 3, 6, 7, 8).forall(!x.isNullAt(_))))
      }
    }
  }

  test("duplicate rows pair once per copy; an empty side emits nothing") {
    val evs = events(61L, 40, spanSec = 120)
    val twice = evs ++ evs
    val (got, ref) = both(batches(3L, twice, 3), Seq("k1"), 0L, 30 * sec,
      "10 seconds")
    assert(multiset(got) == multiset(ref))
    assert(multiset(got).values.exists(_ >= 4))
    val lefts = evs.filter(_.side == 0)
    val (none, noneRef) = both(batches(4L, lefts, 2), Seq("k1"), 0L,
      30 * sec, "10 seconds")
    assert(none.isEmpty && noneRef.isEmpty)
    assert(batchJoin(lefts, Seq("k1"), 0L, 30 * sec).isEmpty)
  }

  test("state is bounded: keys whose rows pass the watermark plus the " +
      "interval are evicted, by a timeout when they receive no rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val (l, r) = sides(mem.toDF())
    val q = Streaming.intervalJoin(l, r, Seq("k1"), "ts", "ts", 0L,
        60 * sec, "1 second")
      .writeStream.format("memory").queryName("ij_bounded")
      .outputMode(OutputMode.Append()).start()
    def ev(side: Int, id: Long, atSec: Long, key: Long) =
      Ev(side, id, tsOf(base + atSec * sec), Some(key), "a", 0.0)
    try {
      // batch 1: five keys' rows near t = 0
      mem.addData((0 until 5).map(i => ev(i % 2, i, i.toLong, i.toLong)))
      q.processAllAvailable()
      def stateRows = q.recentProgress.toSeq
        .flatMap(_.stateOperators.headOption.map(_.numRowsTotal))
      eventually(timeout(30.seconds)) { assert(stateRows.nonEmpty) }
      assert(stateRows.head == 5L) // one state row per key
      // (a no-data batch may already evict keys 1 and 3: a right row
      // with lower = 0 goes once the watermark passes its own ts)
      // batch 2: one row an hour later moves the watermark past every
      // earlier row's ts + interval; batch 3 (or the no-data batch
      // before it) runs with that watermark
      mem.addData(ev(0, 10, 3600, 9))
      q.processAllAvailable()
      mem.addData(ev(1, 11, 3601, 9))
      q.processAllAvailable()
      // the progress of the last data batch (batch ids 0, 1, 2, plus
      // any no-data batch the watermark's advance ran)
      eventually(timeout(30.seconds)) {
        assert(q.recentProgress.exists(p =>
          p.batchId >= 2 && p.numInputRows > 0))
        assert(stateRows.last == 1L, stateRows.mkString(","))
      }
      assert(spark.table("ij_bounded").count() == 1)
    } finally {
      q.stop()
      spark.catalog.dropTempView("ij_bounded")
    }
  }

  test("a run stopped after batch 2 and restarted on its checkpoint " +
      "sinks the same rows as an uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("interval_join_")
    try {
      val input = batches(5L, events(77L, 90, spanSec = 120), 4)
      def start(mem: MemoryStream[Ev], run: String) = {
        val (l, r) = sides(mem.toDF())
        Streaming.intervalJoin(l, r, Seq("k1"), "ts", "ts", 0L, 20 * sec,
            "5 seconds")
          .writeStream.format("parquet")
          .option("path", dir.resolve(s"$run/out").toString)
          .option("checkpointLocation", dir.resolve(s"$run/ckpt").toString)
          .outputMode(OutputMode.Append()).start()
      }
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
          mem: MemoryStream[Ev], bs: Seq[Seq[Ev]]): Unit =
        try bs.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      val whole = MemoryStream[Ev]
      feed(start(whole, "whole"), whole, input)
      val cut = MemoryStream[Ev]
      feed(start(cut, "cut"), cut, input.take(2))
      // the restarted query resumes the source from its offset log
      feed(start(cut, "cut"), cut, input.drop(2))
      def sunk(run: String) =
        spark.read.parquet(dir.resolve(s"$run/out").toString).collect().toSeq
      assert(sunk("whole").nonEmpty)
      assert(multiset(sunk("cut")) == multiset(sunk("whole")))
    } finally graft.pipeline.Fs.delete(spark, dir.toString)
  }
}

object IntervalJoinSpec {
  final case class Ev(side: Int, id: Long, ts: Timestamp, k1: Option[Long],
      k2: String, v: Double)

  /** 2024-01-01 00:00:00 UTC in micros. */
  val base: Long = 1704067200L * 1000000L

  def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
