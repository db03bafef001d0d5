package graft.tap

import graft.{SparkEntry, SparkSpec}
import graft.pipeline.{Fs, Pipeline, Stage}
import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** No Hadoop filesystem call in a graft session starts a process.
  *
  * Hadoop's `RawLocalFileSystem` without `libhadoop.so` forks `chmod`,
  * `readlink` and `ls -ld`; sessions from `Sessions.builder` run
  * [[ForkFreeRawLocalFileSystem]] instead. Each test records
  * `jdk.ProcessStart` events (with stack traces) around one workload and
  * fails on any whose stack holds an `org.apache.hadoop.fs.` frame.
  * Processes that Spark starts itself (its `rm -rf` of temp dirs) carry
  * no such frame and are not counted.
  */
class ForkGuardSpec extends SparkSpec {

  /** `program @ innermost org.apache.hadoop.fs frame` of every process
    * that `body` started through Hadoop's filesystem code. */
  private def hadoopFsForks(body: => Unit): Seq[String] = {
    spark // build the session (and its one-time forks) outside the recording
    val rec = new Recording()
    val file = Files.createTempFile("graft-forkguard", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .flatMap { e =>
          Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
            .find(_.startsWith("org.apache.hadoop.fs."))
            .map(frame => s"${e.getString("command").split(' ').head} @ $frame")
        }
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  private def assertNoForks(forks: Seq[String]): Unit =
    if (forks.nonEmpty) fail(s"${forks.size} Hadoop-FS forks:\n" +
      forks.groupBy(identity).toSeq.sortBy(-_._2.size)
        .map { case (k, v) => s"  ${v.size} x $k" }.mkString("\n"))

  private def tmp() = Files.createTempDirectory("graft-forkguard").toString

  test("Fs mkdir/chmod/put/get/ls/cat/exists/delete start no process") {
    val base = tmp()
    val local = Files.createTempFile("graft-forkguard-src", ".txt")
    Files.writeString(local, "alpha\nbeta\n")
    try assertNoForks(hadoopFsForks {
      assert(Fs.mkdir(spark, base + "/a/b"))
      Fs.chmod(spark, base + "/a/b", "700")
      Fs.put(spark, local.toString, base + "/a/b/f.txt")
      Fs.get(spark, base + "/a/b/f.txt", base + "/back.txt")
      assert(Fs.ls(spark, base + "/a/b").map(_.split('/').last) == Seq("f.txt"))
      assert(Fs.cat(spark, base + "/a/b/f.txt") == Seq("alpha", "beta"))
      assert(Fs.exists(spark, base + "/back.txt"))
      assert(Fs.isCommitted(spark, base + "/back.txt"))
      assert(Fs.delete(spark, base + "/a"))
    })
    finally { Fs.delete(spark, base); Files.deleteIfExists(local) }
  }

  test("a Tap write and read start no process") {
    val base = tmp()
    try assertNoForks(hadoopFsForks {
      val t = Tap.parquet(base + "/t")
      t.write(spark.range(0, 1000, 1, 4).withColumn("k", col("id") % 7))
      assert(t.read(spark).count() == 1000)
    })
    finally Fs.delete(spark, base)
  }

  test("a two-stage Stage.auto pipeline, cold and on RSSkip resume, " +
      "starts no process") {
    val root = tmp()
    val src = Tap.parquet(sf("sf0.001") + "/nation.parquet")
    def pipeline(): Pipeline = {
      val s1 = Stage.auto("filt", Seq(src), root)(
        _.head.filter(col("n_regionkey") === 0))
      val s2 = Stage.auto("names", Seq(s1.output), root)(
        _.head.select("n_name"))
      new Pipeline(spark, Seq(s1, s2))
    }
    try assertNoForks(hadoopFsForks {
      assert(pipeline().run() == Seq("filt", "names"))
      assert(pipeline().run().isEmpty)
    })
    finally Fs.delete(spark, root)
  }

  test("q96_stream_join (stream-stream join, state store) starts no " +
      "process") {
    assertNoForks(hadoopFsForks {
      assert(SparkEntry.queries("q96_stream_join")(spark, sf("sf0.001"))
        .collect().nonEmpty)
    })
  }
}
