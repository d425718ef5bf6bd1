package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through `perfbench/run.py`, which builds the
  * classes and passes `--scratch`):
  *
  *   --workload fraud_pipeline|geoscan_dense|serve_stream --seed N
  *   --seconds S --trace 0|1 --scratch DIR [--trace-out FILE]
  *
  * The last stdout line is the result object. With `--trace 0` its metrics
  * are the end-to-end ones; with `--trace 1` the per-layer ones, from a
  * second pass of the same timed section with the tracer on. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "op_ms" -> "ms")

  /** Per-layer metric names and units, in output order. */
  val PerLayer: Seq[(String, String)] = {
    val unit = Map("jobs" -> "count", "tasks" -> "count", "failed_tasks" -> "count",
      "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes")
    Layers.Spans.flatMap(s => Layers.Measures.map(m => s"$s.$m" -> unit.getOrElse(m, "ms"))) ++ Seq(
      "geo.polyfill_geocell_ms" -> "ms", "geo.polyfill_geocell_cells" -> "count",
      "geo.polyfill_h3_ms" -> "ms", "geo.polyfill_h3_cells" -> "count", "geo.cell_ns" -> "ns",
      "cluster.dbscan_user_ms_p50" -> "ms", "cluster.dbscan_user_ms_max" -> "ms",
      "cluster.hulls" -> "count", "cluster.tile_rows" -> "count",
      "score.anomaly_rows" -> "count", "score.bloom_bytes" -> "bytes",
      "pipeline.tiles_bytes_per_row" -> "bytes",
      "serve.p50_ms" -> "ms", "serve.tail_ms" -> "ms", "serve.max_rps" -> "1/s",
      "bench.generator_late_ms" -> "ms", "bench.unattributed_task_pct" -> "%",
      "bench.trace_overhead_pct" -> "%", "bench.ops_failed_ratio" -> "ratio",
      "bench.heap_peak_mb" -> "MB")
  }

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scratch: String, traceOut: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      need("scratch"), m.get("trace-out"))
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)

  def main(args: Array[String]): Unit = {
    // exit explicitly either way: a non-daemon thread left behind must not
    // keep the JVM (and the caller) waiting
    val code =
      try { run(parse(args)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    val wl = Workload.byName(o.workload).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '${o.workload}' — one of ${Workload.names.mkString(", ")}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val heap = new HeapWatch
    var ctx: Ctx = null
    val setupSteps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    // an untraced run sets up once cold, then `warmSetups` more times
    val setupS = (0 to (if (o.trace) 0 else wl.warmSetups)).map { _ =>
      val t0 = System.nanoTime()
      if (ctx != null) ctx.spark.stop()
      val spark = session(cores, o.scratch)
      val sessionMs = IO.ms(t0)
      ctx = new Ctx(spark, o.scratch, cores, o.seed, new Tracer(spark.sparkContext, cores))
      ctx.steps("session") = sessionMs
      wl.setup(ctx)
      System.gc()
      setupSteps += ctx.steps.toMap
      IO.ms(t0) / 1000
    }
    val t0 = System.nanoTime()
    wl.warmUp(ctx)
    System.gc()
    val warmUpMs = IO.ms(t0)

    val (attempted, failed, failures, metrics) =
      if (!o.trace) {
        val m = wl.measure(ctx, o.seconds)
        println(Json.obj("workload" -> o.workload, "seed" -> o.seed, "report" -> m.report,
          "setup_cold_s" -> setupS.head, "setup_warm_s" -> setupS.tail,
          "setup_steps_ms" -> setupSteps.toSeq,
          "warm_up_ms" -> warmUpMs, "failures" -> m.failures))
        val values = Map("setup_s" -> Stats.median(setupS.tail)) ++ m.endToEnd
        (m.attempted, m.failed, m.failures, EndToEnd.map { case (n, u) => n -> metric(values(n), u) })
      } else {
        heap.active = true
        val base = wl.measure(ctx, o.seconds)
        heap.active = false
        ctx.tracer.start()
        val traced = wl.measure(ctx, o.seconds)
        ctx.tracer.stop()
        val (layers, unattributed) = ctx.tracer.report()
        o.traceOut.foreach { path =>
          val f = new java.io.File(path)
          Option(f.getParentFile).foreach(_.mkdirs())
          java.nio.file.Files.write(f.toPath, ctx.tracer.spansJson().getBytes("UTF-8"))
        }
        val attempted = base.attempted + traced.attempted
        val failed = base.failed + traced.failed
        val values = layers.flatMap { case (s, ms) => ms.map { case (m, v) => s"$s.$m" -> v } } ++
          wl.probes(ctx) ++ Map(
          "bench.unattributed_task_pct" -> unattributed,
          "bench.trace_overhead_pct" -> 100.0 * (traced.overheadBase / base.overheadBase - 1),
          "bench.ops_failed_ratio" -> failed.toDouble / math.max(attempted, 1),
          "bench.heap_peak_mb" -> heap.peakMb)
        println(Json.obj("workload" -> o.workload, "seed" -> o.seed, "untraced" -> base.report,
          "traced" -> traced.report, "failures" -> (base.failures ++ traced.failures)))
        (attempted, failed, base.failures ++ traced.failures,
          PerLayer.map { case (n, u) => n -> metric(values.getOrElse(n, 0.0), u) })
      }
    heap.close()
    ctx.spark.stop()
    failures.foreach(f => System.err.println(s"check failed: $f"))
    println(Json.obj("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics: _*))))
  }
}
