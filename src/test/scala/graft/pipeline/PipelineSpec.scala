package graft.pipeline

import graft.SparkSpec
import graft.tap.Tap
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** RerunStrategy behavior (/root/reference/src/Hadron/Controller.hs:867-924):
  * RSFail throws on existing output, RSSkip memoizes, RSReRun overwrites.
  */
class PipelineSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-pipe").toString

  private def stage(name: String, out: String, rerun: RerunStrategy, tag: String) =
    Stage(name, Seq(Tap.parquet(sf("sf0.001") + "/region.parquet")),
      Tap.parquet(out), rerun)(dfs => dfs.head.withColumn("tag", lit(tag)))

  test("RSReRun overwrites existing output") {
    val out = tmp() + "/o1"
    new Pipeline(spark, Seq(stage("s1", out, RSReRun, "first"))).run()
    val ran = new Pipeline(spark, Seq(stage("s1", out, RSReRun, "second"))).run()
    assert(ran == Seq("s1"))
    assert(spark.read.parquet(out).select("tag").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("second"))
  }

  test("RSSkip leaves existing output untouched and reports no compute") {
    val out = tmp() + "/o2"
    new Pipeline(spark, Seq(stage("s1", out, RSSkip, "first"))).run()
    val ran = new Pipeline(spark, Seq(stage("s1", out, RSSkip, "second"))).run()
    assert(ran.isEmpty)
    assert(spark.read.parquet(out).select("tag").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("first"))
  }

  test("CHAOS: RSSkip detects a torn stage output (missing _SUCCESS) " +
      "and recomputes instead of serving the debris") {
    val out = tmp() + "/o2torn"
    new Pipeline(spark, Seq(stage("s1", out, RSSkip, "first"))).run()
    assert(Fs.isCommitted(spark, out))

    // simulate a driver crash mid-write: the committed marker is gone
    // but the directory (with stale part files) remains
    Fs.delete(spark, out + "/_SUCCESS")
    assert(Fs.exists(spark, out) && !Fs.isCommitted(spark, out))

    val ran = new Pipeline(spark, Seq(stage("s1", out, RSSkip, "second"))).run()
    assert(ran == Seq("s1"), "torn output must recompute, not memoize")
    assert(Fs.isCommitted(spark, out))
    assert(spark.read.parquet(out).select("tag").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("second"))

    // and a HALF-written directory (debris only, never committed):
    // same detection, same recompute
    val half = tmp() + "/o2half"
    Fs.mkdir(spark, half)
    Files.writeString(java.nio.file.Paths.get(half, "part-00000.parquet"),
      "not a parquet file")
    val ran2 = new Pipeline(spark, Seq(stage("s1", half, RSSkip, "fresh"))).run()
    assert(ran2 == Seq("s1"))
    assert(spark.read.parquet(half).select("tag").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("fresh"))
  }

  test("RSFail throws when output exists") {
    val out = tmp() + "/o3"
    new Pipeline(spark, Seq(stage("s1", out, RSFail, "first"))).run()
    assertThrows[IllegalStateException] {
      new Pipeline(spark, Seq(stage("s1", out, RSFail, "second"))).run()
    }
  }

  test("WordCountLocal analog: 3-stage chain incl. a map-only stage " +
      "(reference examples/WordCountLocal.hs:24-91)") {
    val base = tmp()
    val srcFile = java.nio.file.Paths.get(base, "sample.csv")
    Files.writeString(srcFile,
      "line\nthe quick brown fox\nthe lazy dog\nthe fox again\n")

    // stage 1: tokenize + word frequency (mapper + fold reducer)
    val s1 = Stage("wordFreq", Seq(Tap.csv(srcFile.toString)),
      Tap.parquet(base + "/freq"), RSReRun) { dfs =>
      dfs.head
        .select(explode(split(col("line"), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
    }
    // stage 2: total count over stage 1's output (chained job)
    val s2 = Stage("total", Seq(Tap.parquet(base + "/freq")),
      Tap.parquet(base + "/total"), RSReRun) { dfs =>
      dfs.head.agg(sum(col("n")).as("total"))
    }
    // stage 3: map-only truncation (B.take 5 analog; no shuffle)
    val s3 = Stage("truncate", Seq(Tap.parquet(base + "/freq")),
      Tap.parquet(base + "/trunc"), RSReRun) { dfs =>
      dfs.head.select(substring(col("word"), 1, 5).as("word5"), col("n"))
    }

    val ran = new Pipeline(spark, Seq(s1, s2, s3)).run()
    assert(ran == Seq("wordFreq", "total", "truncate"))
    val freq = spark.read.parquet(base + "/freq")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freq("the") == 3 && freq("fox") == 2 && freq("dog") == 1)
    assert(spark.read.parquet(base + "/total")
      .head().getLong(0) == freq.values.sum)
    assert(spark.read.parquet(base + "/trunc")
      .collect().map(_.getString(0)).forall(_.length <= 5))
  }

  test("Stage.auto chains two stages through an auto-allocated " +
      "intermediate and RSSkip memoizes across runs (connect' analog, " +
      "Controller.hs:657-682)") {
    val root = tmp()
    val src = Tap.parquet(sf("sf0.001") + "/nation.parquet")
    def pipeline(): (Pipeline, Stage) = {
      val s1 = Stage.auto("filt", Seq(src), root) { dfs =>
        dfs.head.filter(col("n_regionkey") === 0)
      }
      val s2 = Stage.auto("names", Seq(s1.output), root) { dfs =>
        dfs.head.select("n_name")
      }
      (new Pipeline(spark, Seq(s1, s2)), s2)
    }
    val (p1, out1) = pipeline()
    assert(p1.run() == Seq("filt", "names"))
    val first = out1.output.read(spark).collect().map(_.getString(0)).sorted

    // second driver run: both stages' outputs exist at the deterministic
    // paths, so RSSkip serves them without recompute — the reference's
    // incremental-memoization feature, which its random-per-run tap
    // locations could never provide across runs
    val (p2, out2) = pipeline()
    assert(p2.run().isEmpty)
    assert(out2.output.read(spark).collect().map(_.getString(0)).sorted
      .toSeq == first.toSeq)
    assert(first.nonEmpty)
  }

  test("Stage.auto rebinding to different inputs allocates a different " +
      "path (input fingerprint), so memoized output is never cross-served") {
    val root = tmp()
    val a = Stage.auto("s", Seq(Tap.parquet(sf("sf0.001") + "/nation.parquet")),
      root)(dfs => dfs.head)
    val b = Stage.auto("s", Seq(Tap.parquet(sf("sf0.001") + "/region.parquet")),
      root)(dfs => dfs.head)
    assert(!a.output.sameLocation(b.output))
  }

  test("contentFingerprint tracks the DATA's identity: stable across " +
      "calls, changes when a file is regenerated in place, ignores " +
      "hidden committer files") {
    import java.nio.file.{Files, Paths}
    val root = tmp()
    val d = s"$root/in"
    Files.createDirectories(Paths.get(d))
    Files.write(Paths.get(s"$d/part-0.csv"), "a,b\n1,2\n".getBytes)
    val tap = Tap(Seq(d), "csv")
    val s1 = Pipeline.contentFingerprint(spark, Seq(tap))
    assert(s1 == Pipeline.contentFingerprint(spark, Seq(tap)),
      "same listing must give the same signature")
    // committer noise must not churn the key
    Files.write(Paths.get(s"$d/_SUCCESS"), Array.empty[Byte])
    assert(s1 == Pipeline.contentFingerprint(spark, Seq(tap)))
    // regenerate IN PLACE (same path, different bytes/size)
    Files.write(Paths.get(s"$d/part-0.csv"), "a,b\n1,2\n3,4\n".getBytes)
    val s2 = Pipeline.contentFingerprint(spark, Seq(tap))
    assert(s1 != s2,
      "an in-place regeneration must change the memoization key")
    // an absent path is a distinct, stable state — not an error
    val s3 = Pipeline.contentFingerprint(spark,
      Seq(Tap(Seq(s"$root/nope"), "csv")))
    assert(s3 == Pipeline.contentFingerprint(spark,
      Seq(Tap(Seq(s"$root/nope"), "csv"))))
    assert(s3 != s1)
  }

  test("fingerprint and contentFingerprint digests are pinned, so " +
      "Stage.auto tap paths and RSSkip memo hits survive a rebuild") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types._
    val taps = Seq(
      Tap(Seq("/data/a", "/data/b")),
      Tap(Seq("/data/c.csv"), "csv", Map("sep" -> ";", "header" -> "true"),
        Some(new StructType().add("k", LongType).add("v", StringType))))
    assert(Pipeline.fingerprint(taps) == "60428def1108")
    // the listing signature embeds each file's absolute path, so the
    // pinned file sits at a fixed path with a fixed mtime
    val dir = Paths.get("/tmp/graft-pipelinespec-fingerprint-pin")
    val part = dir.resolve("part-0.csv")
    Files.createDirectories(dir)
    try {
      Files.write(part, "a,b\n1,2\n".getBytes("UTF-8"))
      Files.setLastModifiedTime(part,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
      Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
      assert(Pipeline.contentFingerprint(spark, Seq(
        Tap(Seq(dir.toString), "csv"),
        Tap(Seq(s"$dir-absent"), "csv"))) == "5688b01228cc")
    } finally {
      Files.deleteIfExists(dir.resolve("_SUCCESS"))
      Files.deleteIfExists(part)
      Files.deleteIfExists(dir)
    }
  }

  test("DOCUMENTED HAZARD: a changed op with unchanged (name, inputs, " +
      "tmpRoot) is served the stale memoized output under RSSkip") {
    // The fingerprint covers input bindings, not the op closure — this is
    // the tradeoff of deterministic tap paths (cross-run memoization)
    // versus hadron's random-per-run locations (no memoization, no
    // staleness; Controller.hs:836-842). Asserted so the behavior is a
    // contract, not an accident; the escape hatches are a new stage name,
    // Fs.delete of the tap path, or rerun = RSReRun.
    val root = tmp()
    val src = Tap.parquet(sf("sf0.001") + "/region.parquet")
    val v1 = Stage.auto("h", Seq(src), root)(dfs =>
      dfs.head.withColumn("tag", lit("old-op")))
    new Pipeline(spark, Seq(v1)).run()

    val v2 = Stage.auto("h", Seq(src), root)(dfs =>
      dfs.head.withColumn("tag", lit("new-op")))
    assert(new Pipeline(spark, Seq(v2)).run().isEmpty) // stale serve
    assert(v2.output.read(spark).select("tag").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("old-op"))

    // escape hatch: RSReRun recomputes in place
    val v3 = Stage.auto("h", Seq(src), root, rerun = RSReRun)(dfs =>
      dfs.head.withColumn("tag", lit("new-op")))
    assert(new Pipeline(spark, Seq(v3)).run() == Seq("h"))
    assert(v3.output.read(spark).select("tag").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("new-op"))
  }

  test("q35's staged pipeline == the fused single-plan form (tap " +
      "round-trip through Stage.auto intermediates changes nothing)") {
    import graft.functions.Text
    val dir = sf("sf0.001")
    val staged = graft.SparkEntry.queries("q35_pipeline_stages")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val fused = spark.read.parquet(dir + "/documents.parquet")
      .filter(Text.langId(col("text")) === "en")
      .filter(Text.qualityScore(col("text")) >= 0.5)
      .withColumn("fp", Text.fingerprint(col("text")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(staged == fused)
    assert(staged.head._1 > 0)
  }

  test("catalog queries stage their files under the per-process root, " +
      "never at a fixed tmpdir path another process shares") {
    import java.nio.file.Paths
    val dir = sf("sf0.001")
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tmpdir = System.getProperty("java.io.tmpdir")
    val fixed = Seq(Paths.get(tmpdir, s"graft-q35-$tag"),
      Paths.get("/tmp/graft_q75", tag),
      Paths.get(tmpdir, s"graft-q174-$tag"),
      Paths.get(tmpdir, s"graft-q175-$tag"))
    fixed.foreach(p => Fs.delete(spark, p.toString))
    def run(q: String) = graft.SparkEntry.queries(q)(spark, dir)
    run("q35_pipeline_stages").collect()
    run("q75_staged_incremental").collect()
    val nations = spark.read.parquet(dir + "/nation.parquet").count()
    val regions = spark.read.parquet(dir + "/region.parquet").count()
    // the staged files are read back in full
    assert(run("q174_concat_by_file").count() == nations)
    assert(run("q175_binary_taps").count() == 2 * regions)
    val left = fixed.filter(p => Files.exists(p))
    assert(left.isEmpty, s"fixed staging paths written: $left")
  }

  test("staged incremental dedup: the prepared-corpus arm equals the " +
      "one-shot minhashLshAgainst, and the second run skips the corpus " +
      "pass (RSSkip memoization)") {
    import graft.dedup.Dedup
    val dir = sf("sf0.001")
    val docs = spark.read.parquet(dir + "/documents.parquet")
    val inc = docs.filter(col("doc_id") % 10 === 1)
    val corp = docs.filter(col("doc_id") % 10 =!= 1)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet

    val oneShot = key(Dedup.minhashLshAgainst(
      inc, col("doc_id"), col("text"), corp, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3))

    val base = tmp()
    val stage = Stage.auto("inc-dedup-corpus",
        Seq(Tap.parquet(dir + "/documents.parquet")), base) {
      case Seq(d) =>
        Dedup.corpusMinhashTable(d.filter(col("doc_id") % 10 =!= 1),
          col("doc_id"), col("text"), shingleK = 8, numHashes = 12,
          bands = 3)
      case other => sys.error(s"expected 1 input, got $other")
    }
    def runOnce(): (Seq[String], Set[(Long, Long, Double)]) = {
      val ran = new Pipeline(spark, Seq(stage)).run()
      (ran, key(Dedup.minhashLshAgainstPrepared(
        inc, col("doc_id"), col("text"), stage.output.read(spark),
        shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3)))
    }
    val (ran1, out1) = runOnce()
    val (ran2, out2) = runOnce()
    assert(ran1 == Seq("inc-dedup-corpus")) // first run computes
    assert(ran2 == Nil)                     // second run memoized
    assert(out1 == oneShot && out2 == oneShot)
    assert(oneShot.nonEmpty)
  }

  test("multi-stage pipeline chains outputs in program order") {
    val base = tmp()
    val s1 = Stage("a", Seq(Tap.parquet(sf("sf0.001") + "/nation.parquet")),
      Tap.parquet(base + "/a"), RSReRun)(dfs => dfs.head.filter(col("n_regionkey") === 0))
    val s2 = Stage("b", Seq(Tap.parquet(base + "/a")),
      Tap.parquet(base + "/b"), RSReRun)(dfs => dfs.head.select("n_name"))
    val ran = new Pipeline(spark, Seq(s1, s2)).run()
    assert(ran == Seq("a", "b"))
    assert(spark.read.parquet(base + "/b").columns.toSeq == Seq("n_name"))
  }
}
