package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.sql.types.StructType

import graft.cluster.Geoscan
import graft.pipeline.GeoFraudPipeline
import graft.score.{Anomalies, Blooms}

/** What one workload's timed section produced. `endToEnd` holds
  * `rows_per_s` and `op_ms`; `report` carries the workload's own
  * figures under their native names; `overheadBase` is the figure a traced
  * pass is compared against for `bench.trace_overhead_pct`. */
final case class Measured(
    endToEnd: Map[String, Double], report: Map[String, Any],
    attempted: Long, failed: Long, failures: Seq[String], overheadBase: Double)

final class Ctx(val spark: SparkSession, val scratch: String, val cores: Int,
                val seed: Long, val tracer: Tracer) {
  /** Wall ms of each named set-up step, in order. */
  val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps(name) = steps.getOrElse(name, 0.0) + IO.ms(t0)
  }
}

trait Workload {
  /** Generate and write the inputs and read them back; build whatever the
    * timed section serves from. Repeated for `setup_s`. */
  def setup(ctx: Ctx): Unit
  /** Set-ups after the first, cold one in an untraced run; `setup_s` is
    * their median. */
  def warmSetups: Int = 3
  /** Warm the JIT and code generation before the timed section, so every
    * run measures from the same point of the warm-up. */
  def warmUp(ctx: Ctx): Unit
  /** The timed section: repeat the workload's operation for `seconds`. */
  def measure(ctx: Ctx, seconds: Double): Measured
  /** Per-layer figures outside every timed wall: kernel probes, counts. */
  def probes(ctx: Ctx): Map[String, Double]
}

object Workload {
  val names: Seq[String] = Seq("fraud_pipeline", "geoscan_dense", "serve_stream")
  def byName(n: String): Option[Workload] = n match {
    case "fraud_pipeline" => Some(new FraudPipelineWorkload)
    case "geoscan_dense" => Some(new GeoscanDenseWorkload)
    case "serve_stream" => Some(new ServeStreamWorkload)
    case _ => None
  }
}

object IO {
  val TxSchema: StructType = StructType.fromDDL(
    "latitude DOUBLE, longitude DOUBLE, amount DOUBLE, user STRING, tx_id BIGINT")

  def txRow(t: Tx): Row = Row(t.lat, t.lng, t.amount, t.user, t.txId)

  /** Write rows as parquet and return the frame that reads them back. */
  def writeTx(spark: SparkSession, rows: Array[Tx], path: String, parts: Int): DataFrame = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq.map(txRow), parts), TxSchema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Bytes of the parquet data files under a directory. */
  def parquetBytes(path: String): Long = {
    val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
    files.filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** The batch workloads first run a fixed number of warm-up iterations,
  * which are timed but not measured: the first runs cold (class loading,
  * JIT, code generation) and the next ones still speed up while C2
  * compiles Spark's and the program's hot paths. A fixed count puts every
  * run at the same point of that warm-up. The full correctness checks run
  * on the next-to-last warm-up iteration: their queries slow the
  * iteration after them, which is then the last warm-up one, not a timed
  * one. Timed iterations must reproduce the checked iteration's outputs.
  * After the warm-up the operation repeats at least `MinIterations` times
  * and until `seconds` of timed work have passed, and the median
  * iteration is reported. Every iteration's wall, warm-up included, is in
  * the report line. */
object Batch {
  val MinIterations = 3
  def done(walls: Seq[Double], seconds: Double): Boolean =
    walls.length >= MinIterations && walls.sum >= seconds * 1000
}

/** Single-thread kernel probes over public geo and cluster functions. */
object Probes {
  /** Mean ms of one pass of `f` (repeated until `minMs` elapsed), and its
    * result from the first pass. */
  def timed[T](minMs: Double)(f: => T): (Double, T) = {
    val first = f
    var n = 0
    val t0 = System.nanoTime()
    while (IO.ms(t0) < minMs) { f; n += 1 }
    (IO.ms(t0) / math.max(n, 1), first)
  }

  def polyfill(hulls: Seq[Seq[(Double, Double)]], layers: Int): Map[String, Double] = {
    val (gcMs, gcCells) = timed(300)(hulls.map(h => graft.geo.GeoCell.polygonCells(h, 10, layers).size).sum)
    val (h3Ms, h3Cells) = timed(300)(hulls.map(h => graft.geo.H3.polygonCells(h, 10, layers).size).sum)
    Map("geo.polyfill_geocell_ms" -> gcMs, "geo.polyfill_geocell_cells" -> gcCells.toDouble,
      "geo.polyfill_h3_ms" -> h3Ms, "geo.polyfill_h3_cells" -> h3Cells.toDouble)
  }

  def cellNs(lat: Array[Double], lng: Array[Double]): Double = {
    val n = lat.length
    var sink = 0
    val calls = math.max(n, 1000000)
    val t0 = System.nanoTime()
    var i = 0
    while (i < calls) {
      sink += graft.geo.GeoCell.cellId(lat(i % n), lng(i % n), 10).hashCode
      i += 1
    }
    val ns = (System.nanoTime() - t0).toDouble / calls
    if (sink == 42) System.err.print("")
    ns
  }

  /** Dbscan per user group: all heavy users plus the first `others`. */
  def dbscanUsers(data: FraudData, eps: Double, minPts: Int, others: Int): Map[String, Double] = {
    val byUser = data.history.groupBy(_.user)
    val users = (data.heavyUsers.toSeq.sorted ++ byUser.keys.toSeq.sorted.filterNot(data.heavyUsers).take(others))
    val times = users.map { u =>
      val pts = byUser(u).map(t => (t.lat, t.lng)).toIndexedSeq
      graft.cluster.Dbscan.cluster(pts, eps, minPts)
      val t0 = System.nanoTime()
      graft.cluster.Dbscan.cluster(pts, eps, minPts)
      IO.ms(t0)
    }
    Map("cluster.dbscan_user_ms_p50" -> Stats.median(times), "cluster.dbscan_user_ms_max" -> times.max)
  }
}

/** Batch 01→02: `GeoFraudPipeline.run` (personalized fit, geocell tiles at
  * precision 10 with 1 ring, TF-IDF, tiles table written), a count of the
  * anomalies, then `scoreTransactions` on a held-out batch. */
final class FraudPipelineWorkload extends Workload {
  val Spec = FraudSpec(users = 1000, medianTx = 40, sigma = 0.6, minTx = 10, maxTx = 200,
    heavyUsers = 15, heavyFactor = 10, spotsMin = 1, spotsMax = 4, spotRadiusM = 120,
    plantedRate = 0.3, offPatternMinM = 2000, heldOutFraction = 0.1, unknownUsers = 30)
  val Epsilon = 100.0; val MinPts = 3; val Precision = 10; val TileLayers = 1
  /** Warm-up iterations before the timed ones (see [[Batch]]). */
  val WarmUpIterations = 4

  private var data: FraudData = _
  private var tx, heldOut: DataFrame = _
  private var facts = Map.empty[String, Double]
  private var hulls = Seq.empty[Seq[(Double, Double)]]

  private final case class Out(runMs: Double, anomMs: Double, scoreMs: Double,
                               result: GeoFraudPipeline.Result, nAnom: Long,
                               scored: Array[Row]) {
    def wall: Double = runMs + anomMs + scoreMs
  }

  private def op(ctx: Ctx, tx: DataFrame, heldOut: DataFrame, tilesOut: String): Out = {
    val tr = ctx.tracer
    var t0 = System.nanoTime()
    val r = tr.span("pipeline.run") {
      GeoFraudPipeline.run(ctx.spark, tx, Epsilon, MinPts, Precision, TileLayers, Some(tilesOut))
    }
    val runMs = IO.ms(t0); t0 = System.nanoTime()
    val nAnom = tr.span("score.anomalies")(r.anomalies.count())
    val anomMs = IO.ms(t0); t0 = System.nanoTime()
    val scored = tr.span("score.bloom_probe") {
      GeoFraudPipeline.scoreTransactions(heldOut, r.tiles, Precision).select("tx_id", "anomaly").collect()
    }
    Out(runMs, anomMs, IO.ms(t0), r, nAnom, scored)
  }

  def setup(ctx: Ctx): Unit = {
    ctx.step("generate") { data = Gen.fraud(Spec, ctx.seed) }
    val dir = s"${ctx.scratch}/fraud"
    ctx.step("write") {
      tx = IO.writeTx(ctx.spark, data.history, s"$dir/history", ctx.cores)
      heldOut = IO.writeTx(ctx.spark, data.heldOut, s"$dir/held_out", ctx.cores)
    }
  }

  private var warmUpMs = Seq.empty[Double]
  /** Anomaly count and flagged held-out rows of the checked iteration. */
  private var reference: (Long, Set[Long]) = _
  /** Failures of the checked iteration's operations, counted by the next
    * `measure`. */
  private var pendingChecks = Seq.empty[Seq[String]]

  private def flagged(o: Out): Set[Long] = o.scored.collect { case r if r.getInt(1) == 1 => r.getLong(0) }.toSet

  /** The next-to-last warm-up iteration gets the full checks (see
    * [[Batch]]). */
  override def warmUp(ctx: Ctx): Unit = {
    val tilesOut = s"${ctx.scratch}/fraud/tiles"
    warmUpMs = (1 to WarmUpIterations).map { i =>
      val o = op(ctx, tx, heldOut, tilesOut)
      if (i == WarmUpIterations - 1) {
        reference = (o.nAnom, flagged(o))
        val (a, b, c) = checkFull(ctx, o, tilesOut)
        pendingChecks = Seq(a, b, c)
      }
      ctx.spark.catalog.clearCache()
      System.gc()
      o.wall
    }
  }

  /** Full checks of one iteration whose outputs are still live. */
  private def checkFull(ctx: Ctx, o: Out, tilesOut: String): (Seq[String], Seq[String], Seq[String]) = {
    val ids = (df: DataFrame) => df.select("tx_id").collect().map(_.getLong(0)).toSet
    val tileRows = o.result.tiles.count()
    val runFails = if (tileRows > 0) Nil else Seq("fraud: the tiles table is empty")
    val historyAnom = ids(o.result.anomalies)
    val anomFails =
      Checks.plantedFlagged(data.plantedHistory, historyAnom, "fraud history") ++
        (if (historyAnom.size == o.nAnom) Nil
         else Seq(s"fraud: anomaly count ${o.nAnom} but ${historyAnom.size} anomaly rows"))
    val joinHeld = ids(Anomalies.extract(heldOut, o.result.tiles, Precision))
    val scored = o.scored.map(r => r.getLong(0) -> r.getInt(1))
    val scoreFails =
      Checks.plantedFlagged(data.plantedHeldOut, joinHeld, "fraud held-out join") ++
        Checks.bloomWithinJoin(data.heldOut.map(_.txId).toSet, joinHeld,
          scored.collect { case (id, 1) => id }.toSet, scored.map(_._1).toSet)
    hulls = o.result.model.hullTable.select("hull").collect()
      .map(_.getSeq[Row](0).map(p => (p.getDouble(0), p.getDouble(1)))).toSeq
    val bloomBytes = Blooms.train(o.result.tiles.select("user", "h3"))
      .agg(sum(length(col("bloom")))).head.getLong(0)
    facts = Map("cluster.hulls" -> hulls.size.toDouble, "cluster.tile_rows" -> tileRows.toDouble,
      "score.anomaly_rows" -> o.nAnom.toDouble, "score.bloom_bytes" -> bloomBytes.toDouble,
      "pipeline.tiles_bytes_per_row" -> IO.parquetBytes(tilesOut).toDouble / math.max(tileRows, 1))
    (runFails, anomFails, scoreFails)
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val tilesOut = s"${ctx.scratch}/fraud/tiles"
    val walls = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String]
    var attempted = pendingChecks.length.toLong
    var failed = pendingChecks.count(_.nonEmpty).toLong
    failures ++= pendingChecks.flatten
    pendingChecks = Nil
    val stages = ArrayBuffer.empty[(Double, Double, Double)]
    while (!Batch.done(walls.toSeq, seconds)) {
      attempted += 3
      val o = op(ctx, tx, heldOut, tilesOut)
      walls += o.wall
      stages += ((o.runMs, o.anomMs, o.scoreMs))
      val fails = Seq(Nil,
        if (o.nAnom == reference._1) Nil else Seq(s"fraud: anomaly count ${o.nAnom} != checked ${reference._1}"),
        if (flagged(o) == reference._2) Nil else Seq("fraud: scored anomalies differ from the checked iteration"))
      fails.foreach(f => if (f.nonEmpty) { failed += 1; failures ++= f })
      ctx.spark.catalog.clearCache()
      System.gc()
    }
    val med = Stats.median(walls.toSeq)
    val rows = (data.history.length + data.heldOut.length).toDouble
    Measured(
      Map("rows_per_s" -> rows / med * 1000, "op_ms" -> med),
      Map("pipeline_tx_per_s" -> rows / med * 1000, "input_rows" -> rows,
        "history_rows" -> data.history.length, "held_out_rows" -> data.heldOut.length,
        "warm_up_iteration_ms" -> warmUpMs, "iterations" -> walls.length, "iteration_ms" -> walls.toSeq,
        "run_anomalies_score_ms" -> stages.toSeq.map(s => Seq(s._1, s._2, s._3))) ++ facts,
      attempted, failed, failures.toSeq, med)
  }

  def probes(ctx: Ctx): Map[String, Double] =
    facts ++ Probes.polyfill(hulls, TileLayers) ++
      Map("geo.cell_ns" -> Probes.cellNs(data.history.map(_.lat), data.history.map(_.lng))) ++
      Probes.dbscanUsers(data, Epsilon, MinPts, 300)
}

/** Distributed `Geoscan.fit` over a dense cloud of planted blobs, then
  * `getTiles(10, 2, "h3")`. */
final class GeoscanDenseWorkload extends Workload {
  val Spec = DenseSpec(blobs = 4, pointsPerBlob = 2000, blobRadiusM = 450, gapM = 1000, noisePoints = 200)
  val Epsilon = 110.0; val MinPts = 10; val Precision = 10; val TileLayers = 2
  /** Warm-up iterations before the timed ones (see [[Batch]]). */
  val WarmUpIterations = 2

  private var data: DenseData = _
  private var points: DataFrame = _
  private var facts = Map.empty[String, Double]
  private var hulls = Seq.empty[Seq[(Double, Double)]]

  private def write(ctx: Ctx, d: DenseData, path: String): DataFrame = {
    val rows = d.lat.indices.map(i => Row(d.lat(i), d.lng(i)))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores),
      StructType.fromDDL("latitude DOUBLE, longitude DOUBLE")).write.mode("overwrite").parquet(path)
    ctx.spark.read.parquet(path)
  }

  private def op(ctx: Ctx, pts: DataFrame): (Double, Double, graft.cluster.GeoscanModel, Long) = {
    val tr = ctx.tracer
    var t0 = System.nanoTime()
    val model = tr.span("cluster.fit") {
      new Geoscan().setEpsilon(Epsilon).setMinPts(MinPts).fit(pts)
    }
    val fitMs = IO.ms(t0); t0 = System.nanoTime()
    val nTiles = tr.span("cluster.tiles")(model.getTiles(Precision, TileLayers, "h3").count())
    (fitMs, IO.ms(t0), model, nTiles)
  }

  def setup(ctx: Ctx): Unit = {
    ctx.step("generate") { data = Gen.dense(Spec, Epsilon, ctx.seed) }
    ctx.step("write") { points = write(ctx, data, s"${ctx.scratch}/dense/points") }
  }

  private var warmUpMs = Seq.empty[Double]
  /** Tile count of the checked iteration. */
  private var referenceTiles = -1L
  /** Failures of the checked iteration, counted by the next `measure`. */
  private var pendingChecks: Option[Seq[String]] = None

  /** The next-to-last warm-up iteration gets the full checks (see
    * [[Batch]]). */
  override def warmUp(ctx: Ctx): Unit = {
    warmUpMs = (1 to WarmUpIterations).map { i =>
      val (fitMs, tilesMs, model, nTiles) = op(ctx, points)
      if (i == WarmUpIterations - 1) {
        referenceTiles = nTiles
        pendingChecks = Some(checkFull(ctx, model))
      }
      ctx.spark.catalog.clearCache()
      System.gc()
      fitMs + tilesMs
    }
  }

  /** Full checks of one fitted model. */
  private def checkFull(ctx: Ctx, model: graft.cluster.GeoscanModel): Seq[String] = {
    val path = s"${ctx.scratch}/dense/model"
    model.write.overwrite().save(path)
    val saved = ctx.spark.read.parquet(s"$path/data").collect().map { r =>
      r.getLong(0) -> r.getSeq[Row](1).map(p => (p.getDouble(0), p.getDouble(1)))
    }.toSeq
    hulls = saved.map(_._2)
    val cover = model.getTiles(Precision, TileLayers, "h3").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    facts = Map("cluster.hulls" -> saved.size.toDouble,
      "cluster.tile_rows" -> cover.valuesIterator.map(_.size).sum.toDouble)
    Checks.clusterCount(saved.size, Spec.blobs) ++ Checks.vertexCellsCovered(saved, cover, Precision)
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val walls = ArrayBuffer.empty[Double]
    val stages = ArrayBuffer.empty[Seq[Double]]
    val failures = ArrayBuffer.empty[String]
    var attempted = pendingChecks.size.toLong
    var failed = pendingChecks.count(_.nonEmpty).toLong
    failures ++= pendingChecks.toSeq.flatten
    pendingChecks = None
    while (!Batch.done(walls.toSeq, seconds)) {
      attempted += 2
      val (fitMs, tilesMs, _, nTiles) = op(ctx, points)
      walls += fitMs + tilesMs
      stages += Seq(fitMs, tilesMs)
      if (nTiles != referenceTiles) {
        failed += 1
        failures += s"dense: $nTiles tiles != checked $referenceTiles"
      }
      ctx.spark.catalog.clearCache()
      System.gc()
    }
    val med = Stats.median(walls.toSeq)
    Measured(
      Map("rows_per_s" -> data.size / med * 1000, "op_ms" -> med),
      Map("fit_points_per_s" -> data.size / med * 1000, "points" -> data.size,
        "warm_up_iteration_ms" -> warmUpMs, "iterations" -> walls.length, "iteration_ms" -> walls.toSeq,
        "fit_tiles_ms" -> stages.toSeq) ++ facts,
      attempted, failed, failures.toSeq, med)
  }

  def probes(ctx: Ctx): Map[String, Double] =
    facts ++ Probes.polyfill(hulls, TileLayers) ++
      Map("geo.cell_ns" -> Probes.cellNs(data.lat, data.lng))
}
