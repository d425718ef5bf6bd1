package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.util.sketch.BloomFilter

import graft.pipeline.GeoFraudPipeline
import graft.score.Blooms

/** Real-time scoring, the `H3Lookup` shape: set-up fits a fraud-shaped
  * history, trains the per-user filters and builds the filter map; the
  * timed section sends small requests (`Blooms.score` + collect) open-loop
  * at a fixed ladder of rates, then closed-loop at saturation. */
final class ServeStreamWorkload extends Workload {
  val Spec = FraudSpec(users = 200, medianTx = 40, sigma = 0.6, minTx = 10, maxTx = 200,
    heavyUsers = 2, heavyFactor = 10, spotsMin = 1, spotsMax = 4, spotRadiusM = 120,
    plantedRate = 0.3, offPatternMinM = 2000, heldOutFraction = 0.1, unknownUsers = 30)
  val Epsilon = 100.0; val MinPts = 3; val Precision = 10; val TileLayers = 1
  /** Closed-loop saturation of this request mix with 4 dispatcher threads
    * on a 4-vCPU VM, requests per second (median of 5 seeds, see
    * README). The ladder rates are fixed shares of it, so a faster program
    * is offered the same load. */
  val SaturationRps = 60.0
  /** Ladder rungs: share of [[SaturationRps]] and requests sent. The
    * middle rung carries the headline latency; its 210 requests leave ten
    * samples beyond p95. */
  val Ladder: Seq[(Double, Int)] = Seq(0.25 -> 40, 0.5 -> 210, 0.85 -> 110)
  /** Tail latency a ladder rate must meet to count toward `max_rps`. */
  val TailLimitMs = 250.0
  /** Shortest closed-loop saturation phase after the ladder. */
  private val SaturationMinMs = 2000.0

  /** Each set-up fits the history; two warm ones keep the run short. */
  override def warmSetups: Int = 2

  private var data: FraudData = _
  private var blooms: Map[String, BloomFilter] = _
  private var knownTiles: Set[String] = _
  private var requests: Array[Request] = _
  private var hulls = Seq.empty[Seq[(Double, Double)]]
  private var facts = Map.empty[String, Double]
  private val next = new AtomicInteger(0)

  def setup(ctx: Ctx): Unit = {
    ctx.step("generate") {
      data = Gen.fraud(Spec, ctx.seed)
      requests = Gen.requests(data, Spec, 4000, ctx.seed)
    }
    val dir = s"${ctx.scratch}/serve"
    val tx = ctx.step("write")(IO.writeTx(ctx.spark, data.history, s"$dir/history", ctx.cores))
    val r = ctx.step("fit")(
      GeoFraudPipeline.run(ctx.spark, tx, Epsilon, MinPts, Precision, TileLayers, Some(s"$dir/tiles")))
    val trained = Blooms.train(r.tiles.select("user", "h3"))
    ctx.step("filters") { blooms = Blooms.toMap(trained) }
    val tiles = r.tiles.select("user", "h3").collect()
    knownTiles = tiles.map(t => t.getString(0) + "|" + t.getString(1)).toSet
    hulls = r.model.hullTable.select("hull").collect()
      .map(_.getSeq[Row](0).map(p => (p.getDouble(0), p.getDouble(1)))).toSeq
    facts = Map("cluster.hulls" -> hulls.size.toDouble, "cluster.tile_rows" -> tiles.length.toDouble,
      "score.bloom_bytes" -> trained.agg(sum(length(col("bloom")))).head.getLong(0).toDouble,
      "pipeline.tiles_bytes_per_row" -> IO.parquetBytes(s"$dir/tiles").toDouble / math.max(tiles.length, 1))
    ctx.spark.catalog.clearCache()
  }

  /** A few requests one at a time, then a concurrent burst: the open loop
    * must not start on a cold JIT. */
  override def warmUp(ctx: Ctx): Unit = {
    (0 until 20).foreach(i => serve(ctx, requests(i)))
    closedLoop(ctx, 2000)
    next.set(0)
  }

  private def serve(ctx: Ctx, req: Request): Array[Row] = {
    val df = ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(req.rows.toSeq.map(IO.txRow), 1), IO.TxSchema)
    Blooms.score(df, blooms, Precision).select("tx_id", "user", "latitude", "longitude", "anomaly").collect()
  }

  private def nextRequest(): Request = requests(next.getAndIncrement() % requests.length)

  /** One completed request: latency from when it was due, its verdicts. */
  private final case class Done(dueNs: Long, endNs: Long, rows: Int, flagged: Int, failures: Seq[String]) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
  }

  private def execute(ctx: Ctx, req: Request, dueNs: Long): Done = {
    try {
      val out = ctx.tracer.span("score.bloom_probe", req.id)(serve(ctx, req))
      val end = System.nanoTime()
      val rows = out.map { r =>
        val (lat, lng) = (r.getDouble(2), r.getDouble(3))
        (r.getLong(0), r.getString(1), graft.geo.GeoCell.cellId(lat, lng, Precision), r.getInt(4))
      }.toSeq
      val fails = Checks.serveResponse(req, rows,
        (u, c) => knownTiles.contains(u + "|" + c), data.homes.contains)
      Done(dueNs, end, req.rows.length, rows.count(_._4 == 1), fails)
    } catch {
      case e: Exception =>
        Done(dueNs, Long.MaxValue, req.rows.length, 0, Seq(s"serve: request ${req.id} threw ${e.getMessage}"))
    }
  }

  private final case class Phase(rate: Double, done: Seq[Done], lateMs: Seq[Double], overloaded: Boolean) {
    def latencies: Seq[Double] = done.map(d => if (d.failures.nonEmpty) Double.PositiveInfinity else d.latencyMs)
    def tailPct: Double = Stats.tailPercentile(done.size)
    def p50: Double = Stats.median(latencies)
    def tail: Double = Stats.percentile(latencies, tailPct)
    def passes: Boolean = !overloaded && tail <= TailLimitMs
  }

  /** Open loop: a generator thread makes `count` Poisson arrivals at
    * `rate` and queues each request with its due time; `ctx.cores`
    * dispatcher threads serve the queue. A backlog above 8 per thread stops
    * the phase early and marks the rate as overloaded. */
  private def openLoop(ctx: Ctx, rate: Double, count: Int, rng: java.util.SplittableRandom): Phase = {
    val queue = new LinkedBlockingQueue[(Request, Long)]()
    val done = new ConcurrentLinkedQueue[Done]()
    val outstanding = new AtomicLong(0)
    @volatile var stop = false
    val pool = Executors.newFixedThreadPool(ctx.cores)
    (0 until ctx.cores).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          while (!stop || !queue.isEmpty) {
            val item = queue.poll(20, TimeUnit.MILLISECONDS)
            if (item != null) {
              done.add(execute(ctx, item._1, item._2))
              outstanding.decrementAndGet()
            }
          }
        }
      })
    }
    val late = ArrayBuffer.empty[Double]
    var due = System.nanoTime()
    var overloaded = false
    while (!overloaded && late.length < count) {
      due += (-math.log(1 - rng.nextDouble()) / rate * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      late += (System.nanoTime() - due) / 1e6
      outstanding.incrementAndGet()
      queue.put((nextRequest(), due))
      if (outstanding.get() > 8L * ctx.cores) overloaded = true
    }
    stop = true
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    Phase(rate, done.asScala.toSeq, late.toSeq, overloaded)
  }

  /** Closed loop: every dispatcher thread serves requests back to back. */
  private def closedLoop(ctx: Ctx, durMs: Double): (Seq[Done], Double) = {
    val done = new ConcurrentLinkedQueue[Done]()
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val t0 = System.nanoTime()
    val endNs = t0 + (durMs * 1e6).toLong
    (0 until ctx.cores).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          while (System.nanoTime() < endNs) done.add(execute(ctx, nextRequest(), System.nanoTime()))
      })
    }
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    (done.asScala.toSeq, IO.ms(t0))
  }

  /** The ladder, then closed-loop saturation for the rest of `seconds`
    * (at least [[SaturationMinMs]]). The end-to-end figures come from the
    * saturation phase: its p50 latency and rows per second. The open-loop
    * middle-rung p50 is per-layer `serve.p50_ms`: on a shared 4-vCPU VM
    * its spread over ten seeds was 0.22–0.28, at or past the 0.25 bound,
    * while the saturation figures stayed under 0.1. */
  def measure(ctx: Ctx, seconds: Double): Measured = {
    next.set(0)
    val rng = new java.util.SplittableRandom(ctx.seed * 31L + 7L)
    val t0 = System.nanoTime()
    val phases = Ladder.map { case (share, count) => openLoop(ctx, share * SaturationRps, count, rng) }
    val (sat, satMs) = closedLoop(ctx, math.max(SaturationMinMs, seconds * 1000 - IO.ms(t0)))
    val all = phases.flatMap(_.done) ++ sat
    val failures = all.flatMap(_.failures)
    val mid = phases(phases.length / 2)
    val satRowsPerS = sat.filter(_.failures.isEmpty).map(_.rows).sum / satMs * 1000
    val satP50 = Stats.median(sat.map(d => if (d.failures.nonEmpty) Double.PositiveInfinity else d.latencyMs))
    val maxRps = phases.filter(_.passes).map(_.rate).foldLeft(0.0)(math.max)
    val lateMs = phases.flatMap(_.lateMs)
    facts = facts ++ Map(
      "serve.p50_ms" -> mid.p50, "serve.tail_ms" -> mid.tail, "serve.max_rps" -> maxRps,
      "score.anomaly_rows" -> all.map(_.flagged).sum.toDouble,
      "bench.generator_late_ms" -> (if (lateMs.isEmpty) 0.0 else Stats.percentile(lateMs, 99)))
    Measured(
      Map("rows_per_s" -> satRowsPerS, "op_ms" -> satP50),
      Map("serve_p50_ms" -> mid.p50, "serve_tail_ms" -> mid.tail, "serve_tail_pctile" -> mid.tailPct,
        "serve_max_rps" -> maxRps, "serve_saturation_rows_per_s" -> satRowsPerS,
        "serve_saturation_p50_ms" -> satP50,
        "serve_saturation_rps" -> sat.size / satMs * 1000,
        "generator_late_ms_p99" -> facts("bench.generator_late_ms"),
        "ladder" -> phases.map(p => Map("rate" -> p.rate, "requests" -> p.done.size, "p50_ms" -> p.p50,
          "tail_ms" -> p.tail, "tail_pctile" -> p.tailPct, "overloaded" -> p.overloaded,
          "passes" -> p.passes))) ++ facts,
      all.size.toLong, all.count(_.failures.nonEmpty).toLong, failures.take(20), mid.p50)
  }

  def probes(ctx: Ctx): Map[String, Double] =
    facts ++ Probes.polyfill(hulls, TileLayers) ++
      Map("geo.cell_ns" -> Probes.cellNs(data.history.map(_.lat), data.history.map(_.lng))) ++
      Probes.dbscanUsers(data, Epsilon, MinPts, 300)
}
