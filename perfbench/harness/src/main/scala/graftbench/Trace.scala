package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch milliseconds. `parent` is 0 for the run. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Epoch-millisecond clock with nanoTime resolution, comparable with the
  * millisecond timestamps Spark puts on listener events. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-batch figures of one streaming micro-batch. */
final case class Batch(time: Double, triggerMs: Double, addBatchMs: Double,
    walCommitMs: Double, latestOffsetMs: Double, stateCommitMs: Double,
    stateRows: Double)

/** Records every micro-batch's progress; registered in every run, since
  * the end-to-end batch latency comes from it. */
final class BatchRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    batches.add(Batch(Clock.ms, d("triggerExecution"), d("addBatch"),
      d("walCommit"), d("latestOffset"), ops.map(_.commitTimeMs.toDouble).sum,
      ops.map(_.numRowsTotal.toDouble).sum))
  }
}

/** Spans recorded from the benchmark's side of each call, plus the raw
  * events of Spark's public listener APIs. Everything stays in memory;
  * attribution to spans happens once, after the run. */
final class Tracer {
  private val open = mutable.Map.empty[Int, (Int, String, String, Double)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def begin(kind: String, name: String, parent: Int): Int = synchronized {
    val id = nextId; nextId += 1
    open(id) = (parent, kind, name, Clock.ms)
    id
  }
  def end(id: Int): Span = synchronized {
    val (parent, kind, name, start) = open.remove(id).get
    val s = Span(id, parent, kind, name, start, Clock.ms)
    spans += s
    s
  }
  def span[T](kind: String, name: String, parent: Int)(f: Int => T): T = {
    val id = begin(kind, name, parent)
    try f(id) finally end(id)
  }

  // ---- raw listener records -------------------------------------------
  import Tracer._

  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val taskSums = mutable.Map.empty[Int, TaskSums]
  val qes = new ConcurrentLinkedQueue[Qe]()
  /** Stage spans (filled by `attribute`) to the stage they stand for. */
  val stageOf = mutable.Map.empty[Int, StageRec]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(e.jobId, g.orNull, e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += StageRec(i.stageId, i.numTasks, s.toDouble, c.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val t = taskSums.getOrElseUpdate(e.stageId, new TaskSums)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.deserMs += m.executorDeserializeTime
        t.shufWrite += m.shuffleWriteMetrics.bytesWritten
        t.shufRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spill += m.diskBytesSpilled
        t.bytesRead += m.inputMetrics.bytesRead
        t.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs.toDouble }
      val files = qe.executedPlan.collect {
        case w: DataWritingCommandExec => w.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      qes.add(Qe(Clock.ms, phases, files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** True while a traced pass runs with the listeners registered. */
  @volatile var listening = false
  val codegen = new CodegenTap(() => listening)

  /** Analysis time of a DataFrame an op built, while listening. */
  def analyzed(qe: QueryExecution): Unit = if (listening)
    qes.add(Qe(Clock.ms, qe.tracker.phases.get("analysis")
      .map(p => "analysis" -> p.durationMs.toDouble).toMap, 0L))

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    listening = true
  }
  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    listening = false
  }

  /** Adds job and stage spans under the spans that caused them. A job
    * belongs to the op whose job group the benchmark set around it, else
    * (jobs a streaming query's own thread runs) to the op running when it
    * began; within the op, to its construct or execute span if one holds
    * the job's start. A stage belongs to the job that lists it. */
  def attribute(): Unit = synchronized {
    val ops = spans.filter(_.kind == "op").sortBy(_.start)
    val parts = spans.filter(s => s.kind == "construct" || s.kind == "execute")
      .groupBy(_.parent)
    def within(s: Span, t: Double): Boolean = s.start <= t && t <= s.end
    def opAt(t: Double): Option[Span] = ops.find(within(_, t))
    val byId = ops.map(o => o.id -> o).toMap
    val jobSpans = jobs.values.toSeq.sortBy(_.id).flatMap { j =>
      val op = Option(j.group).filter(_.startsWith(Tracer.GroupPrefix))
        .flatMap(g => byId.get(g.stripPrefix(Tracer.GroupPrefix).toInt))
        .orElse(opAt(j.start))
      op.map { o =>
        val parent = parts.getOrElse(o.id, Nil).find(within(_, j.start)).getOrElse(o)
        Span(nextId + j.id, parent.id, "job", s"job ${j.id}", j.start,
          if (j.end.isNaN) j.start else j.end) -> j
      }
    }
    spans ++= jobSpans.map(_._1)
    val base = nextId + jobs.keys.foldLeft(0)(math.max) + 1
    stages.foreach { s =>
      val parent = jobSpans.find { case (sp, j) =>
        j.stageIds.contains(s.id) && sp.start <= s.start + 1 && s.start <= sp.end + 1
      }.map(_._1.id).orElse(opAt(s.start).map(_.id))
      parent.foreach { p =>
        spans += Span(base + s.id, p, "stage", s"stage ${s.id}", s.start, s.end)
        stageOf(base + s.id) = s
      }
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val rows = spans.sortBy(s => (s.start, s.id)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}"""
    }
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Tracer {
  val GroupPrefix = "graftbench-op-"

  final case class Job(id: Int, group: String, start: Double, stageIds: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }
  final case class StageRec(id: Int, numTasks: Int, start: Double, end: Double)
  final class TaskSums {
    var tasks = 0L; var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var deserMs = 0.0; var shufWrite = 0.0; var shufRead = 0.0
    var fetchWaitMs = 0.0; var spill = 0.0; var bytesRead = 0.0
    var bytesWritten = 0.0
  }
  final case class Qe(end: Double, phases: Map[String, Double], files: Long)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
        s.start, s.end))
    }.toMap
  }
}

/** Collects the compile time Spark's code generator logs for every
  * generated class ("Code generated in N ms"). */
final class CodegenTap(enabled: () => Boolean)
    extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "graftbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val compiles = new ConcurrentLinkedQueue[(Double, Double)]()
  private val pat = "Code generated in ([0-9.]+) ms".r
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (enabled()) pat.findFirstMatchIn(e.getMessage.getFormattedMessage)
      .foreach(m => compiles.add((e.getTimeMillis.toDouble, m.group(1).toDouble)))

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    cfg.addAppender(this)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(this, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
