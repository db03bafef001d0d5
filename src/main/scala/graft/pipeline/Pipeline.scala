package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.Path
import graft.tap.Tap

/** Filesystem utility surface — port of the reference's HDFS helpers
  * (/root/reference/src/Hadron/Run/Hadoop.hs:313-461: hdfsFileExists :313,
  * hdfsDeletePath :324, hdfsLs :333, hdfsPut :359, hdfsMkdir :406,
  * hdfsChmod :412, hdfsCat :427, randomFilename :447, hdfsGet :456).
  * Hadron shells out to `hadoop fs -…` and re-stems `ls` output with a
  * vendored LCS; every call here goes through the Hadoop `FileSystem` Java
  * API instead — no path re-stemming, and the same code serves local
  * paths, HDFS and object stores (the scheme picks the implementation).
  * No process spawn either: on `file:` paths a `Sessions.builder` session
  * runs Hadoop's local filesystem without its chmod/readlink/ls forks
  * (graft.tap.ForkFreeRawLocalFileSystem), which `ForkGuardSpec` checks
  * for every call here.
  */
object Fs {
  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** hdfsDeletePath: recursive delete, true if anything was removed. */
  def delete(spark: SparkSession, path: String, recursive: Boolean = true): Boolean =
    fs(spark, path).delete(new Path(path), recursive)

  /** hdfsLs: child paths of a directory (fully qualified). */
  def ls(spark: SparkSession, path: String): Seq[String] =
    fs(spark, path).listStatus(new Path(path))
      .map(_.getPath.toString).toSeq.sorted

  def mkdir(spark: SparkSession, path: String): Boolean =
    fs(spark, path).mkdirs(new Path(path))

  /** hdfsPut: copy a driver-local file to the cluster filesystem. */
  def put(spark: SparkSession, local: String, remote: String): Unit =
    fs(spark, remote).copyFromLocalFile(new Path(local), new Path(remote))

  /** hdfsGet: copy a cluster file to the driver-local filesystem. */
  def get(spark: SparkSession, remote: String, local: String): Unit =
    fs(spark, remote).copyToLocalFile(new Path(remote), new Path(local))

  /** hdfsChmod, octal mode string (e.g. "755"). */
  def chmod(spark: SparkSession, path: String, octal: String): Unit =
    fs(spark, path).setPermission(new Path(path),
      new org.apache.hadoop.fs.permission.FsPermission(
        Integer.parseInt(octal, 8).toShort))

  /** hdfsCat: stream a file's lines to the driver. Small files only —
    * the same caveat as the reference's driver-side cat.
    */
  def cat(spark: SparkSession, path: String): Seq[String] = {
    val in = fs(spark, path).open(new Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Whether `path` is a COMMITTED output, not merely present: a plain
    * file counts, a directory only with its `_SUCCESS` marker (what
    * Spark's file committer drops after the job's rename — a crashed or
    * killed write leaves the directory without it). The distinction is
    * what makes `RSSkip` memoization safe across driver crashes: an
    * exists-only check would serve a torn write as a memoized stage
    * output forever.
    */
  def isCommitted(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val p = new Path(path)
    f.exists(p) && (!f.getFileStatus(p).isDirectory ||
      f.exists(new Path(p, "_SUCCESS")))
  }
}

/** What to do when a stage's output already exists — port of
  * `RerunStrategy` (/root/reference/src/Hadron/Controller.hs:913-924,
  * exists-checks at :867-886). `RSSkip` is the reference's incremental-
  * memoization feature (SURVEY §4: "Port this"): skip the compute and read
  * the existing output instead.
  */
sealed trait RerunStrategy
case object RSFail extends RerunStrategy
case object RSReRun extends RerunStrategy
case object RSSkip extends RerunStrategy

/** One pipeline stage — the `connect` instruction of the Controller DSL
  * (/root/reference/src/Hadron/Controller.hs:676-677): named job from input
  * taps to an output tap via a transform.
  */
final case class Stage(
    name: String,
    inputs: Seq[Tap],
    output: Tap,
    rerun: RerunStrategy = RSReRun)(
    val op: Seq[DataFrame] => DataFrame)

object Stage {
  /** `connect'` analog (Controller.hs:657-670): a stage whose output tap
    * is auto-allocated under `tmpRoot` — the reference's `makeTap`
    * (Controller.hs:681-682, random location at :836-842). One deliberate
    * difference: the path is DETERMINISTIC per (tmpRoot, stage name,
    * input-binding fingerprint) rather than random-per-run. Hadron
    * replays its random tap ids to workers via the serialized state file;
    * with no state replay in Spark, determinism is what lets `RSSkip`
    * memoization recognize the stage's previous output across driver runs.
    *
    * The fingerprint covers the INPUT BINDINGS (paths, formats, options,
    * schemas): rebinding the stage to different inputs allocates a fresh
    * path, so memoized output is never served for the wrong data.
    *
    * INVALIDATION CAVEAT — the fingerprint cannot see the `op` closure:
    * changing a stage's TRANSFORM while keeping its name, inputs and
    * tmpRoot means a later run under `RSSkip` serves the previous
    * transform's output. That is the contract of content-addressed
    * memoization over an opaque function (hadron ducks it with
    * random-per-run locations, giving up cross-run memoization
    * entirely). When an op changes, bump the stage name, delete the
    * tap's path (`Fs.delete`), or pass `rerun = RSReRun`.
    */
  def auto(
      name: String,
      inputs: Seq[Tap],
      tmpRoot: String,
      rerun: RerunStrategy = RSSkip,
      format: String = "parquet")(
      op: Seq[DataFrame] => DataFrame): Stage = {
    val fp = Pipeline.fingerprint(inputs)
    Stage(name, inputs,
      Pipeline.makeTap(tmpRoot, s"$name-$fp", format), rerun)(op)
  }
}

/** Driver-side sequential runner — the Spark-native residue of hadron's
  * free-monad orchestrator (`orchestrate`, Controller.hs:789-906). The
  * instruction stream, state-file replay, run tokens and worker dispatch
  * (workNode, Controller.hs:1006-1143) all disappear: Spark ships closures
  * and the DAG scheduler runs stages; what remains worth porting is the
  * exists-check / rerun policy and per-stage bookkeeping.
  *
  * `runOnce`/`setVal`/`getVal` (Controller.hs:689-696, 724-725) need no
  * machinery at all — they are plain driver `val`s, broadcast automatically
  * inside task closures.
  */
final class Pipeline(spark: SparkSession, stages: Seq[Stage]) {

  private def exists(path: String): Boolean = Fs.exists(spark, path)

  /** Run all stages in program order (the reference has no optimizer over
    * its instruction stream either — Controller instructions execute
    * sequentially; Catalyst optimizes *within* each stage instead).
    * Returns the names of stages that actually computed.
    */
  def run(): Seq[String] = stages.flatMap { st =>
    val outPath = st.output.paths.head
    (st.rerun, exists(outPath)) match {
      case (RSFail, true) =>
        throw new IllegalStateException(
          s"stage ${st.name}: output $outPath exists (RSFail)")
      // Memoized ONLY if the output is committed (_SUCCESS marker for
      // directories — Fs.isCommitted): a crashed previous run leaves
      // the directory without the marker, and serving that torn write
      // as a memoized result would corrupt every downstream stage. An
      // uncommitted output falls through to recompute (Overwrite
      // replaces the debris).
      case (RSSkip, true) if Fs.isCommitted(spark, outPath) =>
        Nil // memoized: downstream reads existing output
      case _ =>
        spark.sparkContext.setJobDescription(s"stage:${st.name}")
        val out = st.op(st.inputs.map(_.read(spark)))
        st.output.write(out, SaveMode.Overwrite)
        Seq(st.name)
    }
  }
}

object Pipeline {
  /** `makeTap` analog (Controller.hs:681-682): allocate an intermediate
    * tap under a temp root. Deterministic per (root, name) — see
    * Stage.auto for why that replaces hadron's random locations.
    */
  def makeTap(tmpRoot: String, name: String, format: String = "parquet"): Tap =
    Tap(Seq(s"$tmpRoot/graft-tmp-$name"), format)

  /** File-LISTING signature of tap inputs — (path, length,
    * modificationTime) of every file under each tap path, recursive.
    * [[fingerprint]] covers only the BINDINGS (paths/format/options/
    * schema), so regenerating an input IN PLACE — same path, new
    * bytes — keeps the same memoization key and `RSSkip` serves stale
    * output; folding this signature into the `Stage.auto` name makes
    * the key track the data's identity too. Listing only (O(files)
    * namenode calls, no data read). Any rewrite of the data changes
    * the signature, even a byte-identical one: it creates new
    * part-file names and mtimes. Hidden files (`_SUCCESS`, `.crc`)
    * are skipped, so a change to them alone does not.
    */
  def contentFingerprint(spark: SparkSession, inputs: Seq[Tap]): String =
    digest(inputs) { (t, put) =>
      t.paths.foreach { p =>
        val f = new Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (f.exists(new Path(p))) {
          val it = f.listFiles(new Path(p), true)
          val entries = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val st = it.next()
            val name = st.getPath.getName
            if (!name.startsWith("_") && !name.startsWith("."))
              entries += s"${st.getPath}|${st.getLen}|" +
                s"${st.getModificationTime}"
          }
          entries.sorted.foreach(put)
        } else put(s"ABSENT:$p")
      }
    }

  /** Short stable digest of a stage's input bindings — the part of
    * `Stage.auto`'s memoization key that guards against serving one
    * input's cached output for another (see the invalidation caveat on
    * `Stage.auto`).
    */
  private[pipeline] def fingerprint(inputs: Seq[Tap]): String =
    digest(inputs) { (t, put) =>
      t.paths.foreach(put)
      put(t.format)
      t.options.toSeq.sorted.foreach { case (k, v) => put(k); put(v) }
      put(t.schema.map(_.catalogString).getOrElse(""))
    }

  /** MD5 over the strings `putTap` feeds for each tap, with a 0 byte
    * after every tap; the first 6 bytes as 12 hex digits. */
  private def digest(inputs: Seq[Tap])(
      putTap: (Tap, String => Unit) => Unit): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // length-prefix every component so the encoding is injective — a
    // plain delimiter join would let Tap("x,y") collide with
    // Tap("x", "y") and serve one binding's memoized output for the other
    def put(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    inputs.foreach { t =>
      putTap(t, put)
      md.update(0.toByte) // tap boundary
    }
    md.digest().take(6).map("%02x".format(_)).mkString
  }
}
