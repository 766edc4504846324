package graftbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, sum}

/** Per-layer metrics of a traced run, from the tracer's spans, jobs and
  * executions. Counts and times are per traced operation unless named
  * otherwise; see the README for each metric's definition.
  */
object Layers {

  /** graft.operators objects reported by name: those every workload
    * reaches (both build an ivfpq index). `report.json` has them all.
    */
  val Operators = Seq("ProductQuantization")

  final case class Probe(cosine: Double, l2: Double, dot: Double)

  /** ns per row of each public vector function over the workload's own
    * vectors, repeated to 2^17 cached rows so per-row work outweighs the
    * job's fixed cost (the cached scan is included): median of three
    * timed aggregates each, after one untimed.
    */
  def probeFunctions(spark: SparkSession, vecs: Iterator[Array[Float]]): Probe = {
    import spark.implicits._
    val own = vecs.toIndexedSeq
    val n = 1 << 17
    val df = spark.range(n).select((col("id") % own.length).as("k"))
      .join(broadcast(own.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("k", "v")), "k")
      .select("v").cache()
    df.count()
    val q = own.head
    def time(f: (Column, Column) => Column): Double = {
      val xs = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        df.agg(sum(f(col("v"), lit(q)))).collect()
        (System.nanoTime() - t0).toDouble / n
      }
      Stat.median(xs.tail) // the first call compiles
    }
    val p = Probe(time(graft.functions.cosine_sim), time(graft.functions.l2_dist),
      time(graft.functions.dot_product))
    df.unpersist()
    p
  }

  /** GC milliseconds so far, over all collectors. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  final case class Window(gcMs: Double, ops: Int)

  /** The per-layer metric values, by name. */
  def metrics(tr: Tracer, probe: Probe, codegen: (Long, Double), window: Window,
      overhead: Double, tokensPerS: Double): Seq[(String, Double, String)] = {
    val ops = tr.ops.toSeq
    val nOps = math.max(1, ops.length).toDouble
    val opById = ops.map(o => o.id -> o).toMap
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => opById.contains(j.op) && j.endMs >= 0)
    def jobMs(j: JobRec) = (j.endMs - j.startMs).toDouble
    def layerJobs(l: String) = jobs.filter(_.layer == l)
    val spansByOp = tr.spans.groupBy(_.op)
    def callMs(cls: String, name: String): Double = {
      val xs = ops.filter(_.cls == cls).flatMap(o =>
        spansByOp.getOrElse(o.id, Nil).filter(_.name == name).map(_.ms))
      if (xs.isEmpty) 0.0 else Stat.median(xs)
    }
    // executions belong to the op whose interval holds their start
    val sortedOps = ops.sortBy(_.startMs).toArray
    val execsByOp = tr.execs.values.asScala.toSeq.flatMap { e =>
      sortedOps.find(o => e.startMs >= o.startMs && e.startMs <= o.endMs).map(_.id -> e)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val execs = execsByOp.values.flatten.toSeq
    val tasks = jobs.map(_.tasks.get.toDouble).sum
    val inputMb = jobs.map(j => j.inputBytes.get + j.shuffleReadBytes.get).sum / 1048576.0
    val opWallMs = ops.map(_.ms).sum
    val bulk = ops.filter(o => o.rows > 0 && o.kind == "bulkinsert")
    val opsLayer = layerJobs("operators")

    Seq(
      ("commands.parse_us", callMs("read", "parse") * 1000, "us"),
      ("commands.read.execute_ms", callMs("read", "execute"), "ms"),
      ("commands.read.collect_ms", callMs("read", "collect"), "ms"),
      ("commands.write.execute_ms", callMs("write", "execute"), "ms"),
      ("commands.write.collect_ms", callMs("write", "collect"), "ms"),
      ("commands.self_ms", selfMs(tr, ops, jobs, "commands") / nOps, "ms/op"),
      ("extensions.plan_ms", execs.map(_.planMs).sum / nOps, "ms/op"),
      ("extensions.plans", execs.length / nOps, "count/op"),
      ("functions.codegen_compiles", codegen._1.toDouble, "count"),
      ("functions.codegen_compile_ms", codegen._2, "ms"),
      ("functions.codegen_fallbacks", tr.fallbacks.get.toDouble, "count"),
      ("functions.cosine_sim.ns_per_row", probe.cosine, "ns"),
      ("functions.l2_dist.ns_per_row", probe.l2, "ns"),
      ("functions.dot_product.ns_per_row", probe.dot, "ns"),
      ("core.jobs", layerJobs("core").length / nOps, "count/op"),
      ("core.job_ms", layerJobs("core").map(jobMs).sum / nOps, "ms/op"),
      ("core.files_listed", ops.map(_.filesListed).sum / nOps, "count/op"),
      ("core.listing_jobs", ops.map(_.listingJobs).sum / nOps, "count/op"),
      ("core.files_read", execs.map(_.filesRead).sum / nOps, "count/op"),
      ("core.bytes_read", execs.map(_.bytesRead).sum / nOps, "B/op"),
      ("core.files_written", execs.map(_.filesWritten).sum / nOps, "count/op"),
      ("core.bytes_written", execs.map(_.bytesWritten).sum / nOps, "B/op"),
      ("sources.jobs", layerJobs("sources").length / nOps, "count/op"),
      ("sources.job_ms", layerJobs("sources").map(jobMs).sum / nOps, "ms/op"),
      ("sources.rows_per_s",
        if (bulk.isEmpty) 0.0 else bulk.map(_.rows).sum / (bulk.map(_.ms).sum / 1000), "1/s"),
      ("pipeline.tokens_per_s", tokensPerS, "1/s"),
      ("operators.jobs", opsLayer.length / nOps, "count/op"),
      ("operators.job_ms", opsLayer.map(jobMs).sum / nOps, "ms/op"),
      ("operators.executor_ms", opsLayer.map(_.runMs.get).sum / nOps, "ms/op"),
      ("operators.shuffle_write_bytes", opsLayer.map(_.shuffleWriteBytes.get).sum / nOps, "B/op"),
      ("operators.spill_bytes", opsLayer.map(_.spillBytes.get).sum / nOps, "B/op")) ++
    Operators.map(o => (s"operators.$o.job_ms",
      opsLayer.filter(_.obj == o).map(jobMs).sum / nOps, "ms/op")) ++
    Seq(
      ("operators.tasks_per_job", if (jobs.isEmpty) 0.0 else tasks / jobs.length, "count"),
      ("operators.tasks_per_input_mb", if (inputMb <= 0) 0.0 else tasks / inputMb, "1/MB"),
      ("operators.task_wait_ms", if (tasks <= 0) 0.0 else jobs.map(_.waitMs.get).sum / tasks, "ms"),
      ("operators.core_busy_frac",
        if (opWallMs <= 0) 0.0 else jobs.map(_.runMs.get).sum / (opWallMs * 4), "ratio"),
      ("runtime.gc_ms", window.gcMs / math.max(1, window.ops), "ms/op"),
      ("runtime.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead", overhead, "ratio"))
  }

  /** Time in the bench's spans of `layer` that no job of the op covers:
    * the module's self time outside Spark jobs.
    */
  private def selfMs(tr: Tracer, ops: Seq[OpRec], jobs: Seq[JobRec], layer: String): Double = {
    val jobsByOp = jobs.groupBy(_.op)
    val opById = ops.map(o => o.id -> o).toMap
    tr.spans.filter(s => s.layer == layer && opById.contains(s.op)).map { s =>
      val o = opById(s.op)
      // job times are epoch ms; place them on the span's nanoTime axis
      val toNs = (ms: Long) => o.startNs + (ms - o.startMs) * 1000000L
      val covered = union(jobsByOp.getOrElse(s.op, Nil).map(j =>
        (math.max(s.startNs, toNs(j.startMs)), math.min(s.endNs, toNs(j.endMs)))))
      math.max(0.0, s.ms - covered / 1e6)
    }.sum
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total.toDouble
  }

  /** Spans (bench calls and Spark jobs) as JSON lines, and each layer's
    * self time per op kind as a summary table.
    */
  def writeSpans(tr: Tracer, out: Path): Unit = {
    val opById = tr.ops.map(o => o.id -> o).toMap
    val w = new PrintWriter(out.toFile, "UTF-8")
    try {
      tr.spans.foreach { s =>
        w.println(s"""{"op": ${s.op}, "span": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
          s""""layer": ${Json.str(s.layer)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
      }
      tr.jobs.values.asScala.toSeq.sortBy(_.id).filter(j => opById.contains(j.op)).foreach { j =>
        val o = opById(j.op)
        val toNs = (ms: Long) => o.startNs + (ms - o.startMs) * 1000000L
        w.println(s"""{"op": ${j.op}, "span": "job-${j.id}", "parent": ${j.op}, "name": "job", """ +
          s""""layer": ${Json.str(j.layer)}, "object": ${Json.str(j.obj)}, "via": ${Json.str(j.via)}, "start_ns": ${toNs(j.startMs)}, """ +
          s""""end_ns": ${toNs(math.max(j.startMs, j.endMs))}, "tasks": ${j.tasks.get}, "executor_ms": ${j.runMs.get}, """ +
          s""""shuffle_write_bytes": ${j.shuffleWriteBytes.get}, "spill_bytes": ${j.spillBytes.get}}""")
      }
    } finally w.close()
  }

  /** Per op kind: count, median latency, and the median of each call
    * span — the breakdown behind the aggregated metrics.
    */
  def byKind(tr: Tracer): Seq[(String, Int, Map[String, Double])] = {
    val spansByOp = tr.spans.groupBy(_.op)
    val jobsByOp = tr.jobs.values.asScala.toSeq.groupBy(_.op)
    tr.ops.toSeq.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      val calls = os.flatMap(o => spansByOp.getOrElse(o.id, Nil).filter(_.layer != "bench"))
        .groupBy(_.name).map { case (k, v) => s"${k}_ms" -> Stat.median(v.map(_.ms).toSeq) }
      val jobLayers = os.flatMap(o => jobsByOp.getOrElse(o.id, Nil).filter(_.endMs >= 0))
        .groupBy(j => if (j.obj.nonEmpty && j.layer == "operators") s"operators.${j.obj}" else j.layer)
        .map { case (k, v) => s"$k.job_ms" -> v.map(j => (j.endMs - j.startMs).toDouble).sum / os.length }
      (kind, os.length, calls ++ jobLayers + ("latency_ms" -> Stat.median(os.map(_.ms))))
    }
  }
}
