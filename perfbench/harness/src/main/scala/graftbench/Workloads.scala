package graftbench

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{Components, Dedup}
import graft.functions.Text
import graft.pipeline.{Fs, Pipeline, Stage}
import graft.tap.Tap

/** What a workload does in one pass, and how its outputs are checked.
  * `Run` carries the session and the benchmark's bookkeeping. */
trait Workload {
  def name: String
  /** Input files resolved during set-up (a schema read each). */
  def inputs(data: String): Seq[String]
  /** One pass. Returns the seconds of its timed part (the whole pass,
    * or a pipeline's cold run) and of its resume run, if it has one. */
  def pass(r: Run, passSpan: Int, p: Int): (Double, Option[Double])
  /** The untimed checks after the timed passes: writes what the outside
    * checker compares and runs the in-process checks. */
  def check(r: Run): Unit
}

/** A workload of catalog queries, each op one `SparkEntry.queries` entry
  * written to the `noop` format, as `graft.Bench` times them. The first
  * pass writes each result as parquet instead, for the oracle check: it
  * is the pass that compiles every plan anyway, and a separate check pass
  * would not fit the benchmark's time budget. */
final class CatalogWorkload(val name: String, tables: Seq[String],
    ops: Seq[String]) extends Workload {
  def inputs(data: String): Seq[String] = tables.map(t => s"$data/$t.parquet")

  def pass(r: Run, passSpan: Int, p: Int): (Double, Option[Double]) = {
    val t0 = Clock.ms
    ops.foreach { q =>
      r.op(q, passSpan) { opId =>
        val df = r.tracer.span("construct", q, opId)(_ =>
          graft.SparkEntry.queries(q)(r.spark, r.data))
        // the query's analysis ran when the function built its DataFrame;
        // the write's own execution (and its listener event) plans it
        r.tracer.analyzed(df.queryExecution)
        r.tracer.span("execute", q, opId) { _ =>
          if (p == 0) df.write.mode("overwrite").parquet(s"${r.out}/check/$q")
          else df.write.format("noop").mode("overwrite").save()
        }
      }
      r.spark.catalog.clearCache()
    }
    ((Clock.ms - t0) / 1000, None)
  }

  def check(r: Run): Unit = {
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${r.out}/check"))
    val oracle = ops.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(oracle))
  }
}

/** The README's staged curation pipeline over the generated corpus:
  * quality gate, MinHash near-dup pairs, one document kept per cluster,
  * token-budget shards. Each pass is a cold run (every stage computes and
  * writes its parquet tap) and a resume run (the last two stage outputs
  * are deleted, then the whole pipeline reruns under RSSkip). */
object CurationWorkload extends Workload {
  val name = "curation_pipeline"
  /** Token budget of one shard. */
  val Budget: Long = 1L << 16
  val StageNames = Seq("clean", "pairs", "kept", "shards")

  def inputs(data: String): Seq[String] = Seq(s"$data/corpus.parquet")

  def stages(r: Run): Seq[Stage] = {
    val root = s"${r.out}/pipeline"
    val raw = Tap.parquet(s"${r.data}/corpus.parquet")
    val clean = Stage.auto("clean", Seq(raw), root) { dfs =>
      val t = col("text")
      dfs.head
        .filter(Text.gopherRules(t).getField("pass"))
        .filter(Text.c4Rules(t).getField("pass"))
        .filter(Text.langId(t) === "en")
    }
    val pairs = Stage.auto("pairs", Seq(clean.output), root) { dfs =>
      Dedup.minhashLsh(dfs.head, col("doc_id"), col("text"),
        shingleK = 8, numHashes = 128, bands = 16, threshold = 0.8)
    }
    val kept = Stage.auto("kept", Seq(clean.output, pairs.output), root) {
      case Seq(docs, prs) => Components.keepOnePerCluster(docs, col("doc_id"), prs)
      case other => sys.error(s"kept expects 2 inputs, got ${other.size}")
    }
    val shards = Stage.auto("shards", Seq(kept.output), root) { dfs =>
      val withTokens = dfs.head.withColumn("n_tok", Text.tokenCount(col("text")))
      graft.ops.Prefix.runningTotal(withTokens, orderCol = "doc_id", valueCol = "n_tok")
        .withColumn("shard", (col("running_total") / lit(Budget)).cast("long"))
    }
    Seq(clean, pairs, kept, shards)
  }

  private def out(st: Stage): String = st.output.paths.head

  /** Cold run, stage by stage, each stage an op through `Pipeline.run`;
    * the seconds exclude clearing the previous run's outputs. */
  private def cold(r: Run, sts: Seq[Stage], parent: Int): Double = {
    Fs.delete(r.spark, s"${r.out}/pipeline")
    val t0 = Clock.ms
    sts.foreach { st =>
      r.op(st.name, parent) { _ => new Pipeline(r.spark, Seq(st)).run() }
    }
    (Clock.ms - t0) / 1000
  }

  /** Loses the last two stage outputs, then reruns the whole pipeline. */
  private def resume(r: Run, sts: Seq[Stage], parent: Int): Double = {
    sts.takeRight(2).foreach(st => Fs.delete(r.spark, out(st)))
    val t0 = Clock.ms
    r.op("resume", parent) { _ =>
      val computed = new Pipeline(r.spark, sts).run()
      r.memoHits += sts.size - computed.size
      r.resumeRuns += 1
    }
    (Clock.ms - t0) / 1000
  }

  def pass(r: Run, passSpan: Int, p: Int): (Double, Option[Double]) = {
    val sts = stages(r)
    val c = cold(r, sts, passSpan)
    // untimed: keep the cold run's shards for the check pass to compare
    // the resume run's against
    Fs.delete(r.spark, coldShards(r))
    val conf = r.spark.sparkContext.hadoopConfiguration
    val (src, dst) = (new Path(out(sts.last)), new Path(coldShards(r)))
    FileUtil.copy(src.getFileSystem(conf), src, dst.getFileSystem(conf), dst,
      false, conf)
    (c, Some(resume(r, sts, passSpan)))
  }

  private def coldShards(r: Run): String = s"${r.out}/cold_shards"

  /** Checks the last warm pass's stage outputs: its resume run left the
    * outputs of `kept` and `shards`, its cold run those of `clean` and
    * `pairs` and the shards copied aside. */
  def check(r: Run): Unit = {
    val s = r.spark
    val sts = stages(r)
    val Seq(clean, pairs, kept, shards) = sts
    StageNames.zip(sts).foreach { case (n, st) =>
      r.rowsOut(n) = st.output.read(s).count()
    }
    def read(st: Stage): DataFrame = st.output.read(s)
    r.verify("resume output equals cold output row for row") {
      val a = s.read.parquet(coldShards(r)); val b = read(shards)
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    }
    r.verify("shards respect the token budget") {
      // running_total is the inclusive prefix sum of n_tok in doc_id
      // order and every document's running total lies in its shard's
      // window [shard*B, (shard+1)*B): a shard holds at most B tokens
      // besides the one document that straddles its lower boundary
      val w = Window.orderBy("doc_id")
      read(shards)
        .withColumn("expect_rt", sum("n_tok").over(w))
        .filter(col("running_total") =!= col("expect_rt") ||
          col("shard") =!= floor(col("running_total") / lit(Budget)))
        .isEmpty
    }
    r.verify("kept is a subset of clean") {
      read(kept).exceptAll(read(clean)).isEmpty
    }
    r.verify("no verified pair has both ends in kept") {
      val ids = read(kept).select(col("doc_id"))
      read(pairs)
        .join(ids.withColumnRenamed("doc_id", "id1"), "id1")
        .join(ids.withColumnRenamed("doc_id", "id2"), "id2")
        .isEmpty
    }
  }
}

object Workloads {
  val StreamMicrobatch = new CatalogWorkload("stream_microbatch",
    Seq("events"), Seq(
    "q96_stream_join"))

  val all: Seq[Workload] = Seq(CurationWorkload, StreamMicrobatch)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))
}
