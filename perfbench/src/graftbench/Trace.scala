package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished bench-side span: one operation's root, or a call into a
  * module (`parse`, `execute`, `collect`, or a direct API `call`).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One operation as the client saw it. `cls` is read, write or step. */
final case class OpRec(id: Long, kind: String, cls: String, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long, filesListed: Long,
    listingJobs: Long, rows: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job, attributed to a module. `via` says how: `site` (a
  * `graft.*` frame on the job's call site), `exec` (on the call site of
  * its SQL execution) or `fallback` (the module the benchmark was
  * calling).
  */
final class JobRec(val id: Int, val op: Long, val layer: String,
    val obj: String, val via: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val tasks = new AtomicInteger
  val runMs = new AtomicLong
  val waitMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Per-query-execution facts from the QueryExecutionListener. */
final case class ExecRec(startMs: Long, planMs: Double, filesRead: Long,
    bytesRead: Long, filesWritten: Long, bytesWritten: Long, sourceRows: Long)

/** Records spans around the calls the benchmark makes into each module,
  * and — once [[attach]]ed — attributes Spark jobs, planning, storage
  * I/O and codegen to modules using only a SparkListener, a
  * QueryExecutionListener, a log4j appender and Spark's public static
  * metric sources. Spans stay in memory and are written at exit.
  *
  * A disabled tracer (`--trace 0`) only runs the closures.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpRec]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]
  /** SQL execution id → module of the call site that started it. */
  private val execSite = new ConcurrentHashMap[Long, (String, String)]
  val execs = new ConcurrentHashMap[Long, ExecRec]
  private val jobsStarted = new AtomicInteger
  private val jobsEnded = new AtomicInteger
  val fallbacks = new AtomicInteger
  @volatile private var recording = false
  private var curOp = 0L
  private var curSpan = 0L

  /** Whether spans and listener events are currently recorded. */
  def active: Boolean = enabled && recording

  // ---- bench-side spans ----------------------------------------------------

  /** One client operation: the root span; its jobs inherit the op id
    * through a local property.
    */
  def op[T](kind: String, cls: String, rows: Long = 0L)(body: => T): T = {
    if (!active) return body
    val id = nextId.getAndIncrement()
    val l0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val j0 = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    sc.setLocalProperty("graftbench.op", id.toString)
    curOp = id; curSpan = id
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      sc.setLocalProperty("graftbench.op", null)
      sc.setLocalProperty("graftbench.layer", null)
      curOp = 0L; curSpan = 0L
      spans += Span(id, 0L, id, kind, "bench", t0, t1)
      ops += OpRec(id, kind, cls, t0, t1, ms0, ms1,
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - l0,
        HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - j0, rows)
    }
  }

  /** A call into module `layer` inside the current op. Jobs started
    * without a `graft.*` frame on their call site (broadcasts, jobs the
    * bench's own collect triggers) fall back to this layer.
    */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!active || curOp == 0L) return body
    val id = nextId.getAndIncrement()
    val parent = curSpan
    sc.setLocalProperty("graftbench.layer", layer)
    curSpan = id
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, curOp, name, layer, t0, System.nanoTime())
      curSpan = parent
    }
  }

  // ---- Spark-side attribution ----------------------------------------------

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("graftbench.op")))
        .map(_.toLong).getOrElse(0L)
      val fallback = props.flatMap(p => Option(p.getProperty("graftbench.layer")))
        .getOrElse("bench")
      val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
      // AQE and broadcasts submit jobs from pool threads whose stacks
      // hold no graft frame; the SQL execution's own call site does
      def viaExec(key: String) = props.flatMap(p => Option(p.getProperty(key)))
        .flatMap(id => Option(execSite.get(id.toLong)))
      val ((layer, obj), via) = Tracer.moduleOf(site).map(_ -> "site")
        .orElse(viaExec("spark.sql.execution.id").map(_ -> "exec"))
        .orElse(viaExec("spark.sql.execution.root.id").map(_ -> "exec"))
        .getOrElse(((fallback, ""), "fallback"))
      val j = new JobRec(e.jobId, op, layer, obj, via, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      jobsEnded.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageToJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) {
        val info = e.taskInfo
        j.tasks.incrementAndGet()
        j.runMs.addAndGet(m.executorRunTime)
        // scheduler delay (the UI's formula) + deserialisation: the time
        // a task spent ready but not yet running user code
        val sched = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        j.waitMs.addAndGet(sched + m.executorDeserializeTime)
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        j.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.moduleOf(s.details).foreach(m => execSite.put(s.executionId, m))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val planMs = phases.map(_.durationMs).sum.toDouble
    // the op an execution belongs to is the one whose interval holds the
    // start of its planning (or, unplanned, of its execution)
    val startMs = if (phases.nonEmpty) phases.map(_.startTimeMs).min
      else System.currentTimeMillis() - durationNs / 1000000L
    var fr, br, fw, bw, sr = 0L
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    // a reused exchange reaches the same nodes twice: count them once
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def visit(p: SparkPlan): Unit =
      if (seen.add(p)) {
        p match {
          case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
          case s: QueryStageExec => visit(s.plan)
          case w: DataWritingCommandExec =>
            fw += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
            bw += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          case s: FileSourceScanExec =>
            // storage reads are scans of a database or stage directory;
            // any other file is an input read by a source format
            if (s.relation.location.rootPaths.exists(r => Tracer.isStorage(r.toString))) {
              fr += metric(s, "numFiles"); br += metric(s, "filesSize")
            } else sr += metric(s, "numOutputRows")
          case _ =>
        }
        p.children.foreach(visit)
        p.subqueries.foreach(visit)
      }
    try visit(qe.executedPlan) catch { case _: Throwable => () }
    execs.put(qe.id, ExecRec(startMs, planMs, fr, br, fw, bw, sr))
  }

  private val appender = new AbstractAppender("graftbench-codegen", null, null,
      true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(ev: LogEvent): Unit = if (recording) {
      val msg = Option(ev.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (Tracer.isCodegenFallback(msg)) fallbacks.incrementAndGet()
    }
  }

  private var attached = false

  /** Registers the listeners and the appender and starts recording. */
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    if (!appender.isStarted) {
      appender.start()
      val ctx = LoggerContext.getContext(false)
      ctx.getConfiguration.getRootLogger.addAppender(appender,
        org.apache.logging.log4j.Level.WARN, null)
      ctx.updateLoggers()
    }
    attached = true
    recording = true
  }

  /** Waits for the listener bus to deliver what is in flight, then stops
    * recording and unregisters, so an untraced stretch pays nothing.
    */
  def detach(): Unit = if (attached) {
    drain()
    recording = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Public-API drain: wait until every started job has ended and no
    * job event arrived for 200 ms (at most 10 s).
    */
  def drain(): Unit = if (attached) {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val sig = jobsStarted.get().toLong * 1000003L + jobsEnded.get() + execs.size * 7L
      val now = System.currentTimeMillis()
      if (sig != last) { last = sig; quietSince = now }
      else if (jobsStarted.get() == jobsEnded.get() && now - quietSince >= 200) return
      Thread.sleep(20)
    }
  }

  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    (h.getCount, snap.getMean * h.getCount)
  }
}

object Tracer {

  /** Module (and, for operators, object) of the first `graft.*` frame
    * in a long-form call site; None when no graft frame is on it.
    */
  def moduleOf(callSite: String): Option[(String, String)] =
    callSite.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .map { l =>
        val cls = l.takeWhile(_ != '(').split('.').dropRight(1) // drop method
        cls match {
          case Array("graft", module, rest @ _*) if rest.nonEmpty =>
            (module, rest.head.takeWhile(_ != '$'))
          case Array("graft", top) => ("graft", top.takeWhile(_ != '$'))
          case _ => ("graft", "")
        }
      }

  /** Directories the benchmark gives graft to store into. */
  def isStorage(path: String): Boolean =
    path.contains("/db/") || path.endsWith("/db") || path.contains("/stages")

  /** Log lines Spark emits when generated code falls back to
    * interpreted evaluation.
    */
  def isCodegenFallback(msg: String): Boolean =
    msg.contains("Whole-stage codegen disabled") ||
      msg.contains("falling back to interpreter") ||
      msg.contains("Falling back to interpreter") ||
      msg.startsWith("failed to compile")
}

