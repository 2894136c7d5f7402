package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one process:
  * `Main <workload> <seed> <seconds> <trace 0|1> <build dir> <work dir> [inject]`.
  *
  * Set-up runs [[SetupReps]] times and reports the median. An untraced
  * window gives the end-to-end metrics. With tracing on, a second window
  * follows with spans and the layer listener switched on; the per-layer
  * metrics come from it, and the ratio of the two windows' throughput is
  * the tracing overhead. Outputs are checked after the windows, and the
  * process prints two JSON lines: `PERFBENCH_DETAIL` (per-kind latencies,
  * attribution, witness) and `PERFBENCH_RESULT`. */
object Main {
  val SetupReps = 3
  val Layers = Seq("catalog", "query_builder", "query_service", "export", "dedup", "text",
    "relational", "ivf", "similarity", "index_lifecycle")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, buildDir, workDir) = args.take(6)
    val inject = args.lift(6)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(workDir)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    val dataDir = Data.ensure(spark, Paths.get(buildDir)).toString
    val ctx = new Ctx(spark, tracer, listener, dataDir, work.resolve("run"), seedS.toLong, cores, inject)
    val w: Workload = workload match {
      case "lifecycle" => new Lifecycle(ctx)
      case "curation" => new Curation(ctx)
      case "ann_serve" => new AnnServe(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val plain = window(w, seconds)
    val traced = if (!trace) None else {
      tracer.enabled = true
      listener.active = true
      Jvm.resetHeapPeak()
      val gc0 = Jvm.gcSeconds()
      val win = window(w, seconds)
      listener.active = false
      tracer.enabled = false
      Some((win, Jvm.gcSeconds() - gc0, Jvm.heapPeakMb()))
    }
    val all = w.untimedOps ++ plain.ops ++ traced.toSeq.flatMap(_._1.ops)
    val c0 = System.nanoTime()
    w.check(all)
    val checkS = (System.nanoTime() - c0) / 1e9

    val detail = Map[String, Any](
      "workload" -> workload, "seed" -> seedS.toLong, "seconds" -> seconds,
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup_runs_s" -> setups, "warmup_s" -> warmS, "check_s" -> checkS,
      "session_s" -> sessionS, "peak_rss_mb" -> Jvm.peakRssMb(),
      "failures" -> all.flatMap(o => o.error.map(e => s"${o.kind}#${o.id}: $e")).take(5)
    ) ++ plain.summary ++ w.detail(plain.ops) ++
      traced.map { case (win, _, _) => Map(
        "unattributed_jobs" -> listener.snapshot.get("unattributed").fold(0L)(_.jobs),
        "op_time_share" -> timeShares(tracer, win)) }.getOrElse(Map())
    val metrics: Map[String, Double] = traced match {
      case None => Map(
        "setup_s" -> Stats.median(setups),
        "ops_per_s" -> plain.opsPerS,
        "op_p50_s" -> plain.p(0.5))
      case Some((win, gc, heap)) => layerMetrics(ctx, w, win, plain, gc, heap)
    }
    println("PERFBENCH_DETAIL " + Json(detail))
    println("PERFBENCH_RESULT " + Json(Map("attempted" -> all.size, "correct" -> !all.exists(_.wrong),
      "failed" -> all.count(_.error.isDefined), "metrics" -> metrics)))
    w.close()
    spark.stop()
  }

  /** A timed window. Throughput counts completed primary ops; in the
    * latency percentiles a failed primary op counts as infinitely slow, so
    * a failure never reads as a fast op. */
  final case class Window(ops: Seq[Op], wallS: Double) {
    // defs, not vals: the output check runs after the window and can fail ops
    private def primary = ops.filter(_.primary)
    private def ok = primary.filter(_.error.isEmpty)
    private def secs = primary.map(o => if (o.error.isEmpty) o.seconds else Double.PositiveInfinity)
    def opsPerS: Double = ok.size / wallS
    def p(q: Double): Double = Stats.quantile(secs, q)
    def summary: Map[String, Any] = Map(
      "ops" -> ops.size, "failed_frac" -> (if (ops.isEmpty) 0.0 else ops.count(_.error.isDefined).toDouble / ops.size),
      "window_s" -> wallS, "op_p90_s" -> p(0.9), "op_n" -> ok.size) ++
      ops.filter(_.error.isEmpty).groupBy(_.kind).flatMap { case (k, os) =>
        Map(s"$k.p50_s" -> Stats.median(os.map(_.seconds)), s"$k.n" -> os.size) }
  }

  /** Run one window; it ends when the last primary op completes. */
  private def window(w: Workload, seconds: Double): Window = {
    val t0 = System.nanoTime()
    val ops = w.run(seconds)
    val end = ops.filter(_.primary).map(_.endNs).maxOption.getOrElse(System.nanoTime())
    Window(ops, (end - t0) / 1e9)
  }

  /** Share of the traced ops' time spent in each layer's own code (self
    * time), the rest being benchmark code between calls. */
  private def timeShares(tracer: Tracer, win: Window): Map[String, Double] = {
    val ids = win.ops.map(_.id).toSet
    val spans = tracer.recorded.filter(s => ids(s.op) && s.layer != "op")
    val self = Tracer.selfTimes(spans)
    val total = win.ops.map(_.seconds).sum
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / total }
  }

  private def layerMetrics(ctx: Ctx, w: Workload, win: Window, plain: Window,
                           gcS: Double, heapMb: Double): Map[String, Double] = {
    val n = math.max(1, win.ops.size).toDouble
    val ids = win.ops.map(_.id).toSet
    val spans = ctx.tracer.recorded.filter(s => ids(s.op))
    val self = Tracer.selfTimes(spans)
    val acc = ctx.listener.snapshot
    val perLayer = Layers.flatMap { l =>
      val a = acc.get(l)
      Seq(s"$l.self_s" -> spans.filter(_.layer == l).map(s => self(s.id)).sum / n,
        s"$l.jobs" -> a.fold(0L)(_.jobs) / n,
        s"$l.task_s" -> a.fold(0L)(_.taskRunMs) / 1e3 / n)
    }
    val t = ctx.listener.total
    val mb = 1048576.0
    val session = Map(
      "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n, "spark.tasks" -> t.tasks / n,
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9 / n,
      "spark.shuffle_write_mb" -> t.shuffleWrite / mb / n,
      "spark.shuffle_read_mb" -> t.shuffleRead / mb / n,
      "spark.spill_mb" -> t.spill / mb / n,
      "spark.driver_bound_share" -> (1.0 - t.taskRunMs / 1e3 / (win.wallS * ctx.cores)),
      "jvm.gc_s" -> gcS / n, "jvm.heap_peak_mb" -> heapMb,
      "bench.tracing_overhead" -> (if (plain.opsPerS == 0) 0.0 else win.opsPerS / plain.opsPerS))
    val specific = w.layerMetrics(win.ops)
    PerLayerNames.map(k => k -> (perLayer.toMap ++ session ++ specific).getOrElse(k, 0.0)).toMap
  }

  /** Every per-layer metric, reported on every workload (0 where the layer
    * does no work). */
  val PerLayerNames: Seq[String] =
    Layers.flatMap(l => Seq(s"$l.self_s", s"$l.jobs", s"$l.task_s")) ++ Seq(
      "catalog.describe_s", "catalog.filter_values_s", "catalog.memo_hit_ratio",
      "query_builder.build_s", "query_service.submit_s", "query_service.cache_hit_ratio",
      "query_service.queue_wait_s", "query_service.execute_s", "query_service.result_mb",
      "query_service.preview_s", "export.queue_wait_s") ++
      graft.engine.export.Exporters.SupportedFormats.map(f => s"export.${f}_s") ++ Seq(
      "export.output_mb", "ivf.probe_s", "ivf.batch_probe_s", "ivf.append_s", "similarity.probe_s",
      "index_lifecycle.remove_s", "index_lifecycle.compact_s", "index_lifecycle.write_amp",
      "index_lifecycle.bytes_per_live_vector", "index_lifecycle.max_files_per_cell",
      "index_lifecycle.tombstones", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
      "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
      "spark.driver_bound_share", "sink.write_s", "jvm.gc_s", "jvm.heap_peak_mb",
      "bench.writer_lag_p90_s", "bench.tracing_overhead")
}
