package graft.streaming

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The catalog's ephemeral memory-sink streams clean up after
  * themselves whether they succeed or throw: no sink temp view, no
  * checkpoint directory left behind.
  */
class StreamCleanupSpec extends SparkSpec {

  /** Memory-sink views and checkpoint dirs left behind by runs named
    * `name`. */
  private def leftovers(name: String): Seq[String] = {
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(name)).toSeq
    val root = SparkEntry.streamCkptRoot.toFile
    val ckpts = Option(root.list()).toSeq.flatten.filter(_.startsWith(name))
    views ++ ckpts
  }

  test("a memory-sink stream that throws leaves no temp view and no " +
      "checkpoint; one that succeeds leaves none either") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_cleanup_")
    try {
      val in = dir.resolve("in").toString
      Seq(1L, 2L, 3L).toDF("id").write.parquet(in)
      val src = spark.readStream.schema("id BIGINT").parquet(in)

      val err = intercept[Exception] {
        SparkEntry.drainMemoryStream(spark, "cleanupspec_fail",
          OutputMode.Append()) {
          src.select(col("id"), assert_true(col("id") < 0).as("chk"))
        }(identity)
      }
      assert(err.getMessage != null)
      assert(leftovers("cleanupspec_fail").isEmpty)

      val out = SparkEntry.drainMemoryStream(spark, "cleanupspec_ok",
        OutputMode.Append())(src)(_.select(col("id")))
      assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      assert(leftovers("cleanupspec_ok").isEmpty)
    } finally graft.pipeline.Fs.delete(spark, dir.toString)
  }
}
