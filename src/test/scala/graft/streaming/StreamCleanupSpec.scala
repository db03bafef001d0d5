package graft.streaming

import graft.{SparkEntry, SparkSpec}
import graft.ops.Sizing
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener,
  StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** The catalog's ephemeral memory-sink streams clean up after
  * themselves whether they succeed or throw: no sink temp view, no
  * checkpoint directory left behind, and the session's shuffle width
  * restored. Each stream's stateful width is sized from its input.
  */
class StreamCleanupSpec extends SparkSpec {

  private val shufflePartitions = "spark.sql.shuffle.partitions"

  /** Memory-sink views and checkpoint dirs left behind by runs named
    * `name`. */
  private def leftovers(name: String): Seq[String] = {
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(name)).toSeq
    val root = SparkEntry.streamCkptRoot.toFile
    val ckpts = Option(root.list()).toSeq.flatten.filter(_.startsWith(name))
    views ++ ckpts
  }

  /** The micro-batch progress of every stream named `prefix…` that
    * `body` runs, read through a StreamingQueryListener once each run's
    * termination (posted after its last progress) has been delivered. */
  private def progressOf(prefix: String)(body: => Unit)
      : Seq[StreamingQueryProgress] = {
    import StreamingQueryListener._
    val runs = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith(prefix))) runs.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (runs.contains(e.progress.runId)) seen.add(e.progress)
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        ended.add(e.runId)
        ()
      }
    }
    spark.streams.addListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!ended.containsAll(runs) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(!runs.isEmpty && ended.containsAll(runs),
        s"no terminated stream named $prefix*")
    } finally spark.streams.removeListener(listener)
    seen.asScala.toSeq
  }

  private def widths(ps: Seq[StreamingQueryProgress]): Seq[Long] =
    ps.flatMap(_.stateOperators.map(_.numShufflePartitions))

  // both runs also restore the session's shuffle width
  test("a memory-sink stream that throws leaves no temp view and no " +
      "checkpoint; one that succeeds leaves none either") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_cleanup_")
    try {
      val in = dir.resolve("in").toString
      Seq(1L, 2L, 3L).toDF("id").write.parquet(in)
      val src = spark.readStream.schema("id BIGINT").parquet(in)
      val session = spark.conf.get(shufflePartitions)
      // the stream's sized width differs from the session's, so a run
      // that left it set would show below
      assert(Sizing.streamWidth(Sizing.streamSourceBytes(src),
        session.toInt) == 1 && session != "1")

      val err = intercept[Exception] {
        SparkEntry.drainMemoryStream(spark, "cleanupspec_fail",
          OutputMode.Append()) {
          src.select(col("id"), assert_true(col("id") < 0).as("chk"))
        }(identity)
      }
      assert(err.getMessage != null)
      assert(leftovers("cleanupspec_fail").isEmpty)
      assert(spark.conf.get(shufflePartitions) == session)

      val out = SparkEntry.drainMemoryStream(spark, "cleanupspec_ok",
        OutputMode.Append())(src)(_.select(col("id")))
      assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      assert(leftovers("cleanupspec_ok").isEmpty)
      assert(spark.conf.get(shufflePartitions) == session)
    } finally graft.pipeline.Fs.delete(spark, dir.toString)
  }

  test("stream width: floored at 1, one partition more per 16 MiB of " +
      "source bytes, clamped at the session's partitions; unknown bytes " +
      "run at the session width") {
    val mib = 1L << 20
    assert(Sizing.streamWidth(Some(0L), 32) == 1)
    assert(Sizing.streamWidth(Some(1L), 32) == 1)
    assert(Sizing.streamWidth(Some(16 * mib), 32) == 1)
    assert(Sizing.streamWidth(Some(16 * mib + 1), 32) == 2)
    assert(Sizing.streamWidth(Some(48 * mib), 32) == 3)
    assert(Sizing.streamWidth(Some(1L << 40), 4) == 4)
    assert(Sizing.streamWidth(Some(1L << 40), 32) == 32)
    assert(Sizing.streamWidth(None, 4) == 4)
    assert(Sizing.streamWidth(Some(0L), 1) == 1)
  }

  test("stream source bytes: the data files under a file source's path, " +
      "without hidden files; static leaves are not counted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_bytes_")
    try {
      val in = dir.resolve("in")
      (1L to 1000L).toDF("id").withColumn("b", col("id") % 3)
        .write.partitionBy("b").parquet(in.toString)
      val walk = java.nio.file.Files.walk(in)
      val data =
        try walk.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.startsWith("part-"))
          .map(java.nio.file.Files.size).toSeq
        finally walk.close()
      assert(data.size >= 3)
      val src = spark.readStream.schema("id BIGINT, b BIGINT")
        .parquet(in.toString)
      assert(Sizing.streamSourceBytes(src).contains(data.sum))
      val static = (1L to 10L).toDF("id")
      assert(Sizing.streamSourceBytes(src.join(static, "id"))
        .contains(data.sum))
      assert(Sizing.streamSourceBytes(static).isEmpty)
    } finally graft.pipeline.Fs.delete(spark, dir.toString)
  }

  test("a non-file source (MemoryStream) runs at the session width") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, 2L, 3L)
    assert(Sizing.streamSourceBytes(mem.toDF()).isEmpty)
    val session = spark.conf.get(shufflePartitions).toInt
    val ps = progressOf("cleanupspec_mem") {
      val out = SparkEntry.drainMemoryStream(spark, "cleanupspec_mem",
        OutputMode.Complete())(mem.toDF().groupBy("value").count())(
        _.select(col("value"), col("count")))
      assert(out.as[(Long, Long)].collect().sorted.toSeq ==
        Seq((1L, 1L), (2L, 2L), (3L, 1L)))
    }
    assert(widths(ps).nonEmpty && widths(ps).forall(_ == session),
      s"state widths ${widths(ps)} vs session $session")
  }

  test("q96_stream_join at sf0.001 runs every batch at its sized width " +
      "(1), not the session's") {
    val ps = progressOf("q96_sink_") {
      assert(SparkEntry.queries("q96_stream_join")(spark, sf("sf0.001"))
        .collect().nonEmpty)
    }
    assert(ps.nonEmpty)
    assert(ps.forall(_.stateOperators.nonEmpty))
    assert(widths(ps).forall(_ == 1), s"state widths ${widths(ps)}")
  }
}
