package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `graftbench.Main --workload serve|build --seed <n> --seconds <s>
  *   --trace 0|1 --work <dir>`.
  *
  * Prints, as the last line of stdout, one JSON object with the keys
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. Writes
  * `report.json` (inputs, failures, per-kind breakdown) and, when traced,
  * `spans.jsonl` into the work directory.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    require(Seq("serve", "build").contains(workload), s"unknown workload $workload")
    Disk.deleteTree(work)
    Files.createDirectories(work)

    val spark = session()
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, work, seed, 1.0, tracer)
    val w: Workload = workload match {
      case "serve" => new Serve(ctx)
      case "build" => new Build(ctx)
    }
    tracer.attach()
    val cg0 = tracer.codegen
    w.setup()
    // JVM start to the first timed operation: class loading, session,
    // inputs, fixture and warm-up — what a user pays once per JVM
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val log = ctx.log
    val gc0 = Layers.gcMs
    var overhead = 1.0
    var tracedWindow = Layers.Window(0, 0)
    var codegen = (0L, 0.0)
    val mark = log.lat.length
    if (trace) {
      // a traced half, then the same operations untraced: the ratio of
      // their median latencies is the tracing overhead — an upper bound,
      // since the repeat finds the caches the first half filled
      val g1 = Layers.gcMs
      w.window(seconds / 2)
      val mid = log.lat.length
      tracedWindow = Layers.Window(Layers.gcMs - g1, mid - mark)
      codegen = { val c = tracer.codegen; (c._1 - cg0._1, c._2 - cg0._2) }
      tracer.detach()
      w.window(seconds / 2)
      val traced = log.lat.slice(mark, mid).map(_._2).toSeq
      val untraced = log.lat.drop(mid).map(_._2).toSeq
      if (untraced.nonEmpty && traced.nonEmpty) overhead = Stat.median(traced) / Stat.median(untraced)
    } else w.window(seconds)
    val windowLat = log.lat.drop(mark).toSeq
    val gcWindow = Layers.gcMs - gc0

    val e2e = w.finish()
    val probe = if (trace) Layers.probeFunctions(spark, w.vectors) else Layers.Probe(0, 0, 0)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val ms = windowLat.map(_._2)
        val okMs = if (ms.isEmpty) Seq(0.0) else ms
        Seq(
          ("setup_s", setupS, "s"),
          ("ops_per_s", if (ms.isEmpty) 0.0 else ms.length / (ms.sum / 1000), "1/s"),
          ("lat_p50_ms", Stat.quantile(okMs, 0.5), "ms"),
          ("lat_p90_ms", Stat.quantile(okMs, 0.9), "ms"),
          ("recall_at_10", e2e("recall_at_10"), "ratio"),
          ("docs_per_s", e2e("docs_per_s"), "1/s"),
          ("write_amp", e2e("write_amp"), "ratio"),
          ("space_amp", e2e("space_amp"), "ratio"))
      } else Layers.metrics(tracer, probe, codegen, tracedWindow, overhead,
        w match { case b: Build => b.tokensPerS; case _ => 0.0 })

    val errorRate = log.failed.toDouble / math.max(1, log.attempted)
    val byKind = if (trace) Layers.byKind(tracer) else
      windowLat.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
        (k, xs.length, Map("latency_ms" -> Stat.median(xs.map(_._2))))
      }
    if (trace) Layers.writeSpans(tracer, work.resolve("spans.jsonl"))
    w match {
      case b: Build => Disk.write(work.resolve("oracle.json"), b.oracleRequest)
      case _ =>
    }
    Disk.write(work.resolve("report.json"), report(workload, seed, seconds, trace,
      setupS, windowLat.length, errorRate, w.inputs, metrics, log, byKind))

    System.err.println(s"[graftbench] $workload seed=$seed trace=${if (trace) 1 else 0}: " +
      s"${log.attempted} attempted, ${log.failed} failed, error_rate=$errorRate, " +
      s"window samples=${windowLat.length}, gc_ms=$gcWindow")
    log.failures.foreach(f => System.err.println(s"[graftbench] failed: $f"))
    byKind.foreach { case (k, c, m) =>
      System.err.println(f"[graftbench]   $k%-18s n=$c%-4d " +
        m.toSeq.sortBy(_._1).map { case (a, b) => f"$a=$b%.2f" }.mkString(" "))
    }
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{", ", ", "}")
    spark.stop()
    println(s"""{"correct": ${log.failed == 0}, "attempted": ${log.attempted}, """ +
      s""""failed": ${log.failed}, "metrics": $metricJson}""")
    System.out.flush()
  }

  /** `local[4]` with the graft extensions, UTC and no UI; everything else
    * at Spark's defaults.
    */
  def session(): SparkSession = {
    Configurator.setRootLevel(Level.WARN)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.window.WindowExec", "org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputFormat")
      .foreach(Configurator.setLevel(_, Level.ERROR))
    spark
  }

  private def report(workload: String, seed: Long, seconds: Double, trace: Boolean,
      setupS: Double, samples: Int, errorRate: Double,
      inputs: InputStats, metrics: Seq[(String, Double, String)], log: OpLog,
      byKind: Seq[(String, Int, Map[String, Double])]): String = {
    val kinds = byKind.map { case (k, c, m) =>
      s"""${Json.str(k)}: {"n": $c, ${m.toSeq.sortBy(_._1).map { case (a, b) => s"${Json.str(a)}: ${Json.num(b)}" }.mkString(", ")}}"""
    }.mkString("{", ", ", "}")
    s"""{"workload": ${Json.str(workload)}, "seed": $seed, "seconds": ${Json.num(seconds)}, """ +
      s""""trace": ${if (trace) 1 else 0}, "cores": $Cores, "setup_s": ${Json.num(setupS)}, """ +
      s""""window_samples": $samples, "attempted": ${log.attempted}, "failed": ${log.failed}, """ +
      s""""error_rate": ${Json.num(errorRate)}, "failures": ${log.failures.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""inputs": ${inputs.json}, "metrics": ${metrics.map { case (k, v, u) =>
        s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }.mkString("{", ", ", "}")}, """ +
      s""""by_kind": $kinds}"""
  }
}
