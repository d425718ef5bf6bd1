package graft.score

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.{SparkSpec, Tables}
import graft.pipeline.GeoFraudPipeline
import graft.plans.BloomProbe

/** The bloom and anomaly laws that hold on any input — FN = 0, bloom ⊆
  * join, `score ≡ scoreByJoin ≡ scoreAuto`, null and unknown users and
  * null coordinates flagged, h3-grid agreement, left_outer + IS NULL ≡
  * LEFT ANTI — on the sf0.001 points and pipeline settings of
  * `SparkEntry.entry`; then the native probe expression and its broadcast
  * memo. */
class BloomsSpec extends SparkSpec {

  private lazy val tx = {
    val df = Tables.points(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("user_id", "user")
    df.persist(); df.count(); df
  }

  private lazy val result = GeoFraudPipeline.run(
    spark, tx, epsilon = 150, minPts = 3, tilePrecision = 10, tileLayers = 1)

  private lazy val trained = Blooms.train(result.tiles, fpp = 0.01).persist()

  private lazy val filterBytes =
    trained.agg(sum(length(col("bloom")))).head.getLong(0)

  private val scoredCols = Seq("latitude", "longitude", "amount", "user", "anomaly").map(col)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** A user with tiles, picked once: `head` of the unordered tiles frame
    * may pick another user on another evaluation. */
  private lazy val known = result.tiles.select("user").head.getString(0)

  /** Edge requests: a stranger, a null user, and a known user with a null
    * latitude, a null longitude and a tile the user never visited. */
  private def edgeProbe = {
    import spark.implicits._
    Seq(("stranger", Some(40.72), Some(-73.98)),
      (null, Some(40.72), Some(-73.98)),
      (known, Option.empty[Double], Some(-73.98)),
      (known, Some(40.72), Option.empty[Double]),
      (known, Some(-33.87), Some(151.21)))
      .toDF("user", "latitude", "longitude")
  }

  test("the laws' input is non-trivial: tiles for several users, some anomalies") {
    assert(result.tiles.select("user").distinct().count() > 1)
    assert(result.anomalies.count() > 0)
  }

  test("left_outer + IS NULL spelling ≡ left_anti spelling") {
    val a = Anomalies.extract(tx, result.tiles, 10)
      .select("latitude", "longitude", "amount", "user")
    val b = Anomalies.extractLeftOuter(tx, result.tiles, 10)
      .select("latitude", "longitude", "amount", "user")
    assert(sameRows(a, b))
  }

  test("bloom FN = 0: every known tile matches its user's filter") {
    val blooms = Blooms.toMap(trained)
    val misses = result.tiles.select("user", "h3").collect().count { r =>
      !blooms(r.getString(0)).mightContainString(r.getString(1))
    }
    assert(misses == 0)
  }

  test("bloom anomalies ⊆ join anomalies") {
    val scored = Blooms.score(tx, Blooms.toMap(trained), precision = 10)
    val bloomAnoms = scored.filter(col("anomaly") === 1)
      .select("latitude", "longitude", "amount", "user")
    val joinAnoms = result.anomalies.select("latitude", "longitude", "amount", "user")
    // FN = 0 ⇒ the bloom path can only under-flag
    assert(bloomAnoms.exceptAll(joinAnoms).isEmpty, "bloom flagged a known tile")
    assert(!bloomAnoms.isEmpty)
  }

  test("score ≡ scoreByJoin ≡ scoreAuto on both sides of the budget") {
    val viaMap = Blooms.score(tx, Blooms.toMap(trained), precision = 10).select(scoredCols: _*)
    val viaJoin = Blooms.scoreByJoin(tx, trained, precision = 10)
    assert(viaJoin.schema.fieldNames.toSeq == tx.schema.fieldNames.toSeq :+ "anomaly")
    assert(sameRows(viaMap, viaJoin.select(scoredCols: _*)))
    assert(filterBytes > 0)
    assert(Blooms.fitsBroadcast(trained, budgetBytes = filterBytes))
    assert(!Blooms.fitsBroadcast(trained, budgetBytes = filterBytes - 1))
    val autoB = Blooms.scoreAuto(tx, trained, broadcastBudgetBytes = filterBytes)
    val autoJ = Blooms.scoreAuto(tx, trained, broadcastBudgetBytes = filterBytes - 1)
    assert(sameRows(viaMap, autoB.select(scoredCols: _*)))
    assert(sameRows(viaMap, autoJ.select(scoredCols: _*)))
    // the pipeline serving leg runs end to end on the auto path
    val served = GeoFraudPipeline.scoreTransactions(tx, result.tiles)
    assert(served.columns.toSeq == tx.columns.toSeq :+ "anomaly")
    assert(sameRows(viaMap, served.select(scoredCols: _*)))
  }

  test("scoreByJoin keeps caller columns that carry its helper names") {
    val owned = tx.withColumn("__cell", lit("CALLER_CELL")).withColumn("__BLOOM", lit(7))
    val viaJoin = Blooms.scoreByJoin(owned, trained, precision = 10)
    assert(viaJoin.schema.fieldNames.toSeq == owned.schema.fieldNames.toSeq :+ "anomaly")
    assert(viaJoin.where(col("__cell") =!= "CALLER_CELL" || col("__BLOOM") =!= 7).isEmpty)
    val viaMap = Blooms.score(tx, Blooms.toMap(trained), precision = 10)
    assert(sameRows(viaMap.select(scoredCols: _*), viaJoin.select(scoredCols: _*)))
  }

  test("null and unknown users and null coordinates are anomalous on every path") {
    val probe = edgeProbe
    val blooms = Blooms.toMap(trained)
    assert(Blooms.score(probe, blooms).select("anomaly").collect().forall(_.getInt(0) == 1))
    assert(Blooms.scoreByJoin(probe, trained).select("anomaly").collect().forall(_.getInt(0) == 1))
    val cells = probe.select(col("user"),
      graft.functions.GeoFunctions.geoCell(col("latitude"), col("longitude"), 10).as("h3"))
    assert(Blooms.scoreCells(cells, blooms).select("anomaly").collect().forall(_.getInt(0) == 1))
  }

  test("h3-grid bloom scoring: all paths agree, and the grid mismatch hazard is real") {
    import spark.implicits._
    // blooms trained on REAL-H3 tiles of every point's own cell
    val tiles = tx.select(col("user"), graft.functions.GeoFunctions
      .geoToH3(col("latitude"), col("longitude"), 10).as("h3"))
    val h3Trained = Blooms.train(tiles, fpp = 0.01)
    val viaMap = Blooms.score(tx, Blooms.toMap(h3Trained), 10, grid = "h3")
      .select(scoredCols: _*)
    val viaJoin = Blooms.scoreByJoin(tx, h3Trained, 10, grid = "h3")
      .select(scoredCols: _*)
    assert(sameRows(viaMap, viaJoin))
    // FN = 0: every point's own tile is trained, so nothing is anomalous
    assert(viaMap.filter($"anomaly" === 1).isEmpty)
    // scoreAuto forwards the grid on BOTH budget paths
    val bytes = h3Trained.agg(sum(length(col("bloom")))).head.getLong(0)
    val autoB = Blooms.scoreAuto(tx, h3Trained, 10,
      broadcastBudgetBytes = bytes, grid = "h3").select(scoredCols: _*)
    val autoJ = Blooms.scoreAuto(tx, h3Trained, 10,
      broadcastBudgetBytes = bytes - 1, grid = "h3").select(scoredCols: _*)
    assert(sameRows(autoB, viaMap) && sameRows(autoJ, viaMap))
    // the serving entry point carries the grid through
    val served = GeoFraudPipeline.scoreTransactions(tx, tiles, grid = "h3")
    assert(served.filter(col("anomaly") === 1).isEmpty)
    // the hazard the grid parameter closes is real: probing h3-trained
    // blooms with ENGINE cells flags (almost) everything anomalous
    val wrong = Blooms.score(tx, Blooms.toMap(h3Trained), 10)
    val wrongFrac = wrong.filter(col("anomaly") === 1).count().toDouble / tx.count()
    assert(wrongFrac > 0.95, s"mismatched grid only flagged $wrongFrac")
    // unknown grid names refuse eagerly; the engine alias is accepted
    val e = intercept[IllegalArgumentException](
      Blooms.score(tx, Blooms.toMap(h3Trained), 10, grid = "s2"))
    assert(e.getMessage.contains("s2"), e.getMessage)
    assert(sameRows(Blooms.score(tx, Blooms.toMap(h3Trained), 10, grid = "engine"), wrong))
  }

  test("BloomProbe gives the same verdicts with whole-stage codegen on and off") {
    val blooms = Blooms.toMap(trained)
    val probe = tx.select("user", "latitude", "longitude").unionByName(edgeProbe)
    val keys = Seq("wholeStage", "factoryMode").map("spark.sql.codegen." + _)
    def scoredWith(wholeStage: String, factoryMode: String) = {
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), wholeStage)
      spark.conf.set(keys(1), factoryMode)
      try {
        val df = Blooms.score(probe, blooms)
        val rows = df.collect().map(_.toSeq).toSeq
        (df.queryExecution.executedPlan.toString, rows)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val (wscgPlan, wscg) = scoredWith("true", "CODEGEN_ONLY")
    assert(wscgPlan.linesIterator.exists(l => l.contains("*(") && l.contains("bloom_probe(")),
      wscgPlan)
    val (_, projection) = scoredWith("false", "CODEGEN_ONLY")
    val (_, interpreted) = scoredWith("false", "NO_CODEGEN")
    val order = Ordering.by[Seq[Any], String](_.mkString("|"))
    assert(wscg.sorted(order) == projection.sorted(order))
    assert(wscg.sorted(order) == interpreted.sorted(order))
    assert(wscg.count(_.last == 1) >= edgeProbe.count())
  }

  /** The filter-map broadcast the frame's probe holds. */
  private def probeBroadcast(df: DataFrame): AnyRef = {
    val found = ColumnBridge.analyzed(df).flatMap(_.expressions.flatMap(_.collect {
      case p: BloomProbe => p.filters
    }))
    assert(found.size == 1, found)
    found.head
  }

  test("the memo pins no broadcast: one no query holds is collectable") {
    val blooms = Blooms.toMap(trained)
    // the map stays held; only the frame, and with it the plan, is dropped
    val ref = new java.lang.ref.WeakReference(probeBroadcast(Blooms.score(edgeProbe, blooms)))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "the memo kept the filter-map broadcast reachable")
    assert(!Blooms.score(edgeProbe, blooms).isEmpty) // the next call broadcasts again
  }

  // stops the shared session: keep this test last in the suite
  test("score broadcasts a filter map once per map and context") {
    val blooms = Blooms.toMap(trained)
    val first = probeBroadcast(Blooms.score(edgeProbe, blooms))
    assert(probeBroadcast(Blooms.score(tx, blooms)) eq first)
    val cells = tx.select(col("user"), lit("X").as("h3"))
    assert(probeBroadcast(Blooms.scoreCells(cells, blooms)) eq first)
    // an equal map that is another object is a new filter map
    val other = Blooms.toMap(trained)
    val second = probeBroadcast(Blooms.score(edgeProbe, other))
    assert(second ne first)
    assert(probeBroadcast(Blooms.score(edgeProbe, other)) eq second)
    val edgeRows = edgeProbe.collect().toSeq
    val edgeSchema = edgeProbe.schema
    val expected = Blooms.score(edgeProbe, other).collect().map(_.toSeq).toSet
    // after a restart the same map is broadcast again, on the new context
    spark.stop()
    val restarted = SparkSpec.session()
    val probe = restarted.createDataFrame(
      restarted.sparkContext.parallelize(edgeRows, 1), edgeSchema)
    val scored = Blooms.score(probe, other)
    assert(probeBroadcast(scored) ne second)
    assert(scored.collect().map(_.toSeq).toSet == expected)
    assert(probeBroadcast(Blooms.score(probe, other)) eq probeBroadcast(scored))
  }
}
