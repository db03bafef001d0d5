package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client driving one workload
  * through graft's public entry points, in one process.
  *
  * Protocol: set-up (session build + input resolution, timed from process
  * start), an untimed warm-up job, one timed first pass (every plan
  * compiles), warm passes until `--seconds` have been measured (at least
  * `MinWarmPasses`), then the untimed checks.
  * Writes `result.json` (and, traced, `spans.json`) into `--out`.
  *
  * With `--trace 1`, the first pass and half the warm passes run with
  * the listeners registered; the untraced warm passes in between measure
  * what tracing costs.
  */
object Main {
  val MinWarmPasses = 3
  val MinTracedRunPasses = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(a("workload"))
    val r = new Run(a("data"), a("out"), Runtime.getRuntime.availableProcessors)
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble

    // ---- set-up, from process start -------------------------------------
    val procStart = ProcessHandle.current().info().startInstant()
      .map[Double](_.toEpochMilli.toDouble).orElse(Clock.ms)
    val b0 = Clock.ms
    r.spark = graft.Sessions.builder(s"local[${r.cores}]", r.cores).getOrCreate()
    val buildS = (Clock.ms - b0) / 1000
    r.spark.sparkContext.setLogLevel("WARN")
    wl.inputs(r.data).foreach(p => r.spark.read.parquet(p).schema)
    val setupS = (Clock.ms - procStart) / 1000
    // after the session: Spark configures logging when it first starts
    if (traced) r.tracer.codegen.install()
    val batches = new BatchRecorder
    r.spark.streams.addListener(batches)

    // ---- untimed warm-up: a fixed small job ----------------------------
    r.spark.range(0, 2000000, 1, r.cores).selectExpr("id % 97 AS k")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()

    val runSpan = r.tracer.begin("run", wl.name, 0)
    def pass(p: Int, trace: Boolean): (Double, Option[Double], Span) = {
      if (trace) r.tracer.register(r.spark)
      val id = r.tracer.begin("pass", s"pass $p", runSpan)
      val (main, resume) = wl.pass(r, id, p)
      val span = r.tracer.end(id)
      if (trace) r.tracer.unregister(r.spark)
      (main, resume, span)
    }

    val first = pass(0, traced)
    val warm = mutable.ArrayBuffer.empty[(Double, Option[Double], Span, Boolean)]
    val warmStart = Clock.ms
    var p = 1
    while (warm.size < MinWarmPasses || (Clock.ms - warmStart) < seconds * 1000 ||
        (traced && warm.size < MinTracedRunPasses)) {
      // traced warm passes in ABBA order (2, 3, 6, 7, ...), so a linear
      // drift across passes (JIT still warming) cancels out of the
      // traced-vs-untraced overhead
      val t = traced && p % 4 >= 2
      val (m, res, span) = pass(p, t)
      warm += ((m, res, span, t))
      p += 1
    }
    r.tracer.end(runSpan)
    val peakRssMb = Run.vmHwmMb()

    // ---- untimed checks ------------------------------------------------
    val checkStart = Clock.ms
    wl.check(r)
    val checkS = (Clock.ms - checkStart) / 1000

    val untracedWarm = warm.filterNot(_._4)
    val batchMs = batches.batches.toArray(Array.empty[Batch]).toSeq
      .filter(b => untracedWarm.exists { case (_, _, s, _) => s.start <= b.time && b.time <= s.end })
      .map(_.triggerMs)
    val fields = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(wl.name),
      "setup_s" -> Json.num(setupS),
      "first_pass_s" -> Json.num(first._1),
      "warm_pass_s" -> Run.arr(untracedWarm.map(_._1).toSeq),
      "resume_s" -> Run.arr(untracedWarm.flatMap(_._2).toSeq),
      "batch_ms" -> Run.arr(batchMs),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "check_s" -> Json.num(checkS),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failures.size.toString,
      "failures" -> r.failures.map(Json.str).mkString("[", ",", "]"),
      "rows_out" -> Json.obj(r.rowsOut.map { case (k, v) => k -> v.toString }))
    if (traced) {
      r.tracer.attribute()
      r.tracer.write(java.nio.file.Paths.get(s"${r.out}/spans.json"))
      val tracedWarm = warm.filter(_._4)
      fields("traced_warm_pass_s") = Run.arr(tracedWarm.map(_._1).toSeq)
      fields("layers") = Json.obj(Layers.report(r, first._3,
        tracedWarm.map(_._3).toSeq, batches, buildS)
        .map { case (k, v) => k -> Json.num(v) })
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${r.out}/result.json"),
      Json.obj(fields))
    r.spark.stop()
  }
}

/** The session and the bookkeeping shared by the workloads. */
final class Run(val data: String, val out: String, val cores: Int) {
  var spark: SparkSession = _
  val tracer = new Tracer
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var memoHits = 0L
  var resumeRuns = 0L
  val rowsOut = mutable.LinkedHashMap.empty[String, Long]

  /** Runs one op in its own span and job group; a throw counts as failed. */
  def op(name: String, parent: Int)(f: Int => Unit): Unit =
    tracer.span("op", name, parent) { id =>
      spark.sparkContext.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      try attempt(name)(f(id))
      finally spark.sparkContext.clearJobGroup()
    }

  def attempt(name: String)(f: => Unit): Unit = {
    attempted += 1
    try f catch { case e: Throwable =>
      failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      System.err.println(s"[graftbench] $name failed: $e")
    }
  }

  /** An in-process output check; false or a throw counts as failed. */
  def verify(what: String)(ok: => Boolean): Unit =
    attempt(s"check: $what") { if (!ok) throw new AssertionError(what) }
}

object Run {
  def arr(xs: Seq[Double]): String = xs.map(Json.num).mkString("[", ",", "]")

  /** The process's peak resident set (VmHWM), in MiB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
