package graft.cluster

import graft.SparkSpec
import graft.geo.ConvexHull
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Estimator/Model behavior parity with SURVEY §2.9 (M1-M4). */
class GeoscanSpec extends SparkSpec {

  private def blob(r: Random, lat: Double, lng: Double, n: Int): Seq[(Double, Double)] =
    Seq.fill(n)((lat + r.nextGaussian() * 2e-4, lng + r.nextGaussian() * 2e-4))

  private lazy val twoBlobs = {
    val r = new Random(11)
    blob(r, 40.70, -74.00, 40) ++ blob(r, 40.75, -73.95, 40) :+ ((40.725, -73.975))
  }

  test("distributed fit finds two blobs; transform labels points, noise NULL") {
    import spark.implicits._
    val df = twoBlobs.toDF("latitude", "longitude")
    val model = new Geoscan().setEpsilon(150).setMinPts(3).fit(df)
    assert(model.state.count() == 2)

    val out = model.setTilePrecision(11).setTileLayers(1).transform(df)
    assert(out.columns.contains("cluster"))
    assert(out.count() == 81)
    val labeled = out.filter($"cluster".isNotNull).count()
    assert(labeled >= 70, s"only $labeled labeled") // tiling join approximates hull edges
    // the lone midpoint is noise
    assert(out.filter($"latitude" === 40.725).select("cluster").head.isNullAt(0))
  }

  test("a fit under the local-finish cap runs 3 SQL actions, no join or aggregate") {
    // a session of its own: its listener sees only this fit's actions
    val session = spark.newSession()
    import session.implicits._
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add((funcName, qe.executedPlan))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        actions.add((s"$funcName!failed", qe.executedPlan))
    }
    session.listenerManager.register(listener)
    val fitted = try {
      val model = new Geoscan().setEpsilon(150).setMinPts(3)
        .fit(twoBlobs.toDF("latitude", "longitude"))
      // callbacks arrive asynchronously but in order: once this marker
      // action is recorded, every action of the fit is too
      session.range(1).tail(1)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!actions.asScala.exists(_._1 == "tail") && System.nanoTime() < deadline)
        Thread.sleep(20)
      model
    } finally session.listenerManager.unregister(listener)
    assert(fitted.state.count() == 2)
    val fit = actions.asScala.toSeq.takeWhile(_._1 != "tail")
    // pid checkpoint, forest checkpoint, and the one collect that finishes
    // labels and hulls on the driver
    assert(fit.map(_._1) == Seq("localCheckpoint", "localCheckpoint", "collect"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    // no points join, no hull aggregate, no cached state
    val offending = fit.flatMap(a => nodes(a._2)).filter {
      case _: BaseJoinExec | _: BaseAggregateExec | _: InMemoryTableScanExec => true
      case _ => false
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  /** The fitted state built on the driver from [[Dbscan.cluster]]: per
    * component, its min pid and the hull of its core points. Pids are
    * numbered as fit numbers them: monotonically_increasing_id over the
    * same projection, after the same per-cell cap. Points without
    * coordinates are noise. */
  private def driverState(df: DataFrame, eps: Double, minPts: Int, cap: Int = 0)
      : Seq[(Long, Seq[(Double, Double)])] = {
    import spark.implicits._
    val raw = df.select($"latitude".cast("double").as("lat"),
      $"longitude".cast("double").as("lng"))
    val sampled = if (cap > 0) Geoscan.capPerCell(raw, cap) else raw
    val pts = sampled.withColumn("pid", monotonically_increasing_id())
      .as[(Option[Double], Option[Double], Long)].collect()
      .collect { case (Some(lat), Some(lng), pid) => (lat, lng, pid) }
    val labels = Dbscan.cluster(pts.map(p => (p._1, p._2)).toIndexedSeq, eps, minPts)
    pts.zip(labels).collect { case (p, Some(label)) => (label, p) }
      .groupBy(_._1).values
      .map(grp => (grp.map(_._2._3).min, ConvexHull.hull(grp.map(g => (g._2._1, g._2._2)).toSeq)))
      .toSeq.sortBy(_._1)
  }

  /** Fits the distributed model and asserts its exact (cluster, hull) state
    * against [[driverState]]; returns that state. */
  private def assertExactState(df: DataFrame, eps: Double, minPts: Int, cap: Int,
      localFinishEdges: Long): Seq[(Long, Seq[(Double, Double)])] = {
    import spark.implicits._
    val model = new Geoscan().setEpsilon(eps).setMinPts(minPts).setSampleMaxPerCell(cap)
      .fit(df, localFinishEdges)
    val fitted = model.state.as[(Long, Seq[(Double, Double)])].collect().toSeq.sortBy(_._1)
    val expected = driverState(df, eps, minPts, cap)
    assert(fitted == expected, s"eps=$eps minPts=$minPts cap=$cap localFinishEdges=$localFinishEdges")
    expected
  }

  test("distributed clustering matches in-memory DBSCAN partitions (property)") {
    exactStateLaw(ConnectedComponents.LocalFinishEdges)
  }

  test("above the local-finish cap the state matches in-memory DBSCAN (property)") {
    exactStateLaw(0L)
  }

  /** The exact-state law over random clouds and the edge cases: under the
    * cap labels and hulls finish on the driver; at cap 0 connected
    * components contract and partial hulls are joined with the labels. */
  private def exactStateLaw(localFinishEdges: Long): Unit = {
    import spark.implicits._
    def exact(df: DataFrame, eps: Double, minPts: Int, cap: Int = 0) =
      assertExactState(df, eps, minPts, cap, localFinishEdges)
    val r = new Random(5)
    // random clouds, each with duplicated points
    (1 to 3).foreach { _ =>
      val cloud = IndexedSeq.fill(120)(
        (40.70 + r.nextDouble() * 0.006, -74.00 + r.nextDouble() * 0.006))
      val pts = cloud ++ IndexedSeq.fill(20)(cloud(r.nextInt(cloud.length)))
      assert(exact(pts.toDF("latitude", "longitude"), 80.0, 3).nonEmpty)
    }

    // minPts = 0: isolated points are single-point clusters; points without
    // coordinates are noise
    val sparse = (twoBlobs ++ Seq((40.80, -73.90), (40.60, -74.10)))
      .map { case (la, ln) => (Option(la), Option(ln)) } ++
      Seq((None, Some(-74.0)), (Some(40.7), None), (None, None))
    val zero = exact(sparse.toDF("latitude", "longitude"), 50.0, 0)
    assert(zero.count(_._2.length == 1) >= 2)

    // one component of 1500 points in one partition: every per-partition
    // hull buffer collapses past 256 points
    val big = Seq.fill(1500)((40.72 + r.nextDouble() * 0.001, -73.99 + r.nextDouble() * 0.001))
    val bigDf = spark.sparkContext.parallelize(big, 1).toDF("latitude", "longitude")
    assert(exact(bigDf, 30.0, 3).length == 1)

    // points on cell borders: exact row/column edges of the fit's grid and
    // their nearest doubles on either side
    val eps = 60.0
    val res = graft.geo.GeoCell.resolutionForEpsilon(eps, 40.8)
    val step = graft.geo.GeoCell.stepDegrees(res)
    val (i0, j0) = (math.floor((40.73 + 90) / step), math.floor((-73.98 + 180) / step))
    val border = for {
      di <- 0 to 3
      dj <- 0 to 3
      f <- Seq(0.0, 0.37, 0.71)
      (la, ln) <- Seq(((i0 + di) * step - 90, (j0 + dj + f) * step - 180),
        ((i0 + di + f) * step - 90, (j0 + dj) * step - 180))
      nudge <- Seq(0, -1, 1)
    } yield (la + nudge * math.ulp(la), ln - nudge * math.ulp(ln))
    assert(exact(border.toDF("latitude", "longitude"), eps, 4).nonEmpty)

    // one component spanning many cells: a zigzag chain ~3 km long
    val chain = (0 until 120).map { k =>
      (40.75 + k * 2.2e-4, -73.97 + (if (k % 2 == 0) 0.0 else 3e-4))
    }
    val chainRes = graft.geo.GeoCell.resolutionForEpsilon(40.0, 40.78)
    assert(chain.map { case (la, ln) => graft.geo.GeoCell.cellId(la, ln, chainRes) }
      .distinct.length >= 20)
    assert(exact(chain.toDF("latitude", "longitude"), 40.0, 2).length == 1)

    // the per-cell cap: the same state as DBSCAN over the capped points
    val dense = Seq.tabulate(400)(k => (40.701 + (k % 20) * 2e-5, -74.001 + (k / 20) * 2e-5))
    assert(exact(dense.toDF("latitude", "longitude"), 50.0, 3, cap = 4).nonEmpty)
  }

  test("toGeoJson emits an RFC 7946 FeatureCollection") {
    import spark.implicits._
    val model = new Geoscan().setEpsilon(150).setMinPts(3)
      .fit(twoBlobs.toDF("latitude", "longitude"))
    val gj = model.toGeoJson()
    assert(gj.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(gj.contains(""""type":"Polygon""""))
  }

  test("getTiles covers cluster cores; layers expand the cover") {
    import spark.implicits._
    val model = new Geoscan().setEpsilon(150).setMinPts(3)
      .fit(twoBlobs.toDF("latitude", "longitude"))
    val t0 = model.getTiles(11, 0).count()
    val t2 = model.getTiles(11, 2).count()
    assert(t0 > 0 && t2 > t0)
    assert(model.getTiles(11, 0).columns.toSeq == Seq("cluster", "h3"))
  }

  test("getTiles(grid = h3) emits REAL H3 ids; unknown grid refuses by name") {
    import spark.implicits._
    val model = new Geoscan().setEpsilon(150).setMinPts(3)
      .fit(twoBlobs.toDF("latitude", "longitude"))
    val t0 = model.getTiles(10, 0, "h3").as[(Long, String)].collect()
    val t2 = model.getTiles(10, 2, "h3").as[(Long, String)].collect()
    assert(t0.nonEmpty && t2.length > t0.length)
    // 15-hex-char mode-1 res-10 ids ('8' mode nibble, 'A' res nibble),
    // each decoding back to a res-10 cell that re-encodes to itself
    t2.foreach { case (_, id) =>
      assert(id.matches("^8A[0-9A-F]{13}$"), id)
      val h = graft.geo.H3.fromString(id)
      assert(graft.geo.H3.resolution(h) == 10)
      val c = graft.geo.H3.h3ToGeo(h)
      assert(graft.geo.H3.geoToH3(c._1, c._2, 10) == h)
    }
    // layer-0 cover ⊆ layer-2 cover (kRing monotonicity through the model)
    assert(t0.map(_._2).toSet.subsetOf(t2.map(_._2).toSet))
    val e = intercept[IllegalArgumentException](model.getTiles(10, 0, "s3"))
    assert(e.getMessage.contains("'s3'") && e.getMessage.contains("h3"))
  }

  test("transform on tileGrid=h3 equals the manual real-H3 tiling join; param survives save/load") {
    import spark.implicits._
    val df = twoBlobs.toDF("latitude", "longitude")
    val model = new Geoscan().setEpsilon(150).setMinPts(3).fit(df)
    model.setTilePrecision(10).setTileLayers(1).setTileGrid("h3")
    // probe set with guaranteed misses (shifted copies)
    val pts = df.unionAll(df.limit(10)
      .select(($"latitude" + 1.0).as("latitude"), $"longitude"))
    val got = model.transform(pts)
      .select($"latitude", $"longitude", $"cluster")
    // the manual q283-shape join over the SAME cover
    val tiles = model.getTiles(10, 1, "h3")
    val expected = pts.join(tiles,
      graft.functions.GeoFunctions.geoToH3($"latitude", $"longitude", 10) ===
        tiles("h3"), "left_outer")
      .select($"latitude", $"longitude", $"cluster")
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
    assert(got.where($"cluster".isNotNull).count() > 0, "need hits")
    assert(got.where($"cluster".isNull).count() > 0, "need misses")
    // the grid param persists through save/load (pre-r18 sidecars
    // without the key default to geocell — covered by the S6 test)
    val dir = java.nio.file.Files.createTempDirectory("gsgrid").toString + "/m"
    model.write.save(dir)
    val back = GeoscanModel.read.load(dir)
    assert(back.getOrDefault(back.tileGrid) == "h3")
    val got2 = back.transform(pts)
      .select($"latitude", $"longitude", $"cluster")
    assert(got2.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got2).count() == 0)
    // unknown grid refuses at the setter, eagerly
    val e = intercept[IllegalArgumentException](model.setTileGrid("s2"))
    assert(e.getMessage.contains("s2"), e.getMessage)
    // the PERSONALIZED twin dispatches identically (user-keyed join)
    val upts = pts.withColumn("user",
      (abs(hash($"latitude")) % 2).cast("string"))
    val pm = new GeoscanPersonalized().setGroupedCol("user")
      .setEpsilon(150).setMinPts(3).fit(upts)
    pm.setTilePrecision(10).setTileLayers(1).setTileGrid("h3")
    val ptiles = pm.getTiles(10, 1, "h3")
    val pExpected = upts.join(ptiles,
      graft.functions.GeoFunctions.geoToH3(upts("latitude"),
        upts("longitude"), 10) === ptiles("h3") &&
        upts("user") === ptiles("user"), "left_outer")
      .select(upts("user"), upts("latitude"), upts("longitude"), $"cluster")
    val pGot = pm.transform(upts)
      .select($"user", $"latitude", $"longitude", $"cluster")
    assert(pGot.exceptAll(pExpected).count() == 0 &&
      pExpected.exceptAll(pGot).count() == 0)
  }

  test("save/load round-trips the distributed model (S6)") {
    import spark.implicits._
    val df = twoBlobs.toDF("latitude", "longitude")
    val model = new Geoscan().setEpsilon(150).setMinPts(3).fit(df)
    val path = java.nio.file.Files.createTempDirectory("geoscan_model").toString
    model.write.overwrite().save(path)
    // state contract: plain parquet under {path}/data (02_geofraud_fraud.py:24-30)
    assert(spark.read.parquet(s"$path/data").count() == 2)
    val loaded = GeoscanModel.load(path)
    assert(loaded.getEpsilon == 150.0 && loaded.getMinPts == 3)
    val a = model.transform(df).select("latitude", "longitude", "cluster")
    val b = loaded.transform(df).select("latitude", "longitude", "cluster")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("personalized fit trains one model per user (M3/M4)") {
    import spark.implicits._
    val r = new Random(23)
    val u1 = blob(r, 40.70, -74.00, 30).map(p => ("alice", p._1, p._2))
    val u2 = blob(r, 40.75, -73.95, 30).map(p => ("bob", p._1, p._2))
    val df = (u1 ++ u2).toDF("user", "latitude", "longitude")

    val model = new GeoscanPersonalized()
      .setGroupedCol("user").setEpsilon(150).setMinPts(3).fit(df)

    // one cluster each
    assert(model.state.select("user").distinct().count() == 2)

    // transform: alice's points labeled under alice, not under bob's area
    val out = model.setTilePrecision(11).setTileLayers(1).transform(df)
    assert(out.filter($"user" === "alice" && $"cluster".isNotNull).count() >= 25)
    // a bob-located point attributed to alice is anomalous for alice
    val probe = Seq(("alice", 40.75, -73.95)).toDF("user", "latitude", "longitude")
    assert(model.transform(probe).select("cluster").head.isNullAt(0))

    // toGeoJson: one row per user, each a FeatureCollection (FIXTURES A3)
    val gj = model.toGeoJson().collect().map(r2 => r2.getString(0) -> r2.getString(1)).toMap
    assert(gj.keySet == Set("alice", "bob"))
    assert(gj("alice").startsWith("""{"type":"FeatureCollection""""))

    // getTiles schema parity (FIXTURES A5)
    assert(model.getTiles(10, 1).columns.toSeq == Seq("user", "cluster", "h3"))

    // save/load: {path}/data is the reference checkpoint contract —
    // (user string, cluster string GeoJSON) readable without the library
    // (02_geofraud_fraud.py:24-30, FIXTURES A3)
    val path = java.nio.file.Files.createTempDirectory("geoscan_pers").toString
    model.write.overwrite().save(path)
    val data = spark.read.parquet(s"$path/data")
    assert(data.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("user", "string"), ("cluster", "string")))
    assert(data.filter($"user" === "alice").head.getString(1)
      .startsWith("""{"type":"FeatureCollection""""))
    val loaded = GeoscanPersonalizedModel.load(path)
    val a = model.transform(df).select("user", "latitude", "cluster")
    val b = loaded.transform(df).select("user", "latitude", "cluster")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("empty and all-null input fit to an empty model (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Double)].toDF("latitude", "longitude")
    val m1 = new Geoscan().setEpsilon(100).setMinPts(3).fit(empty)
    assert(m1.toGeoJson() == """{"type":"FeatureCollection","features":[]}""")
    assert(m1.transform(empty).count() == 0)
    val nulls = Seq((Option.empty[Double], Option.empty[Double])).toDF("latitude", "longitude")
    assert(new Geoscan().setEpsilon(100).setMinPts(3).fit(nulls).getTiles(10, 0).count() == 0)
  }

  test("minPts=0: isolated points are singleton clusters in BOTH paths") {
    import spark.implicits._
    // two isolated points, far apart — no edges at all
    val pts = Seq((40.70, -74.00), (40.75, -73.95)).toDF("latitude", "longitude")
    val dist = new Geoscan().setEpsilon(50).setMinPts(0).fit(pts)
    assert(dist.getTiles(11, 0).select("cluster").distinct().count() == 2)
    val pers = new GeoscanPersonalized().setGroupedCol("user").setEpsilon(50).setMinPts(0)
      .fit(pts.withColumn("user", lit("u")))
    assert(pers.getTiles(11, 0).select("cluster").distinct().count() == 2)
  }

  test("transform preserves a caller-owned h3 column and replaces an existing prediction column") {
    import spark.implicits._
    val df = twoBlobs.toDF("latitude", "longitude")
      .withColumn("h3", lit("CALLER_OWNED"))
      .withColumn("__cell", lit("CALLER_CELL"))
      .withColumn("cluster", lit(-99L))
      .withColumn("user", lit("u"))
    val model = new Geoscan().setEpsilon(150).setMinPts(3).fit(df)
    val pers = new GeoscanPersonalized().setGroupedCol("user").setEpsilon(150).setMinPts(3).fit(df)
    for (out <- Seq(model.setTilePrecision(11).setTileLayers(1).transform(df),
                    pers.setTilePrecision(11).setTileLayers(1).transform(df))) {
      assert(out.columns.count(_ == "h3") == 1)
      assert(out.select("h3").distinct().head.getString(0) == "CALLER_OWNED")
      assert(out.columns.count(_ == "__cell") == 1)
      assert(out.select("__cell").distinct().head.getString(0) == "CALLER_CELL")
      assert(out.columns.count(_ == "cluster") == 1)
      // the stale -99 label is gone: labels are NULL or real cluster ids
      assert(out.filter($"cluster" === -99L).count() == 0)
      assert(out.filter($"cluster".isNotNull).count() > 0)
    }
  }

  test("sampleMaxPerCell caps dense cells deterministically") {
    import spark.implicits._
    // 200 identical points + small jitter in one ~30m cell
    val pts = Seq.tabulate(200)(i => (40.701 + i * 1e-8, -74.001)).toDF("latitude", "longitude")
    val m1 = new Geoscan().setEpsilon(100).setMinPts(3).setSampleMaxPerCell(10).fit(pts)
    val m2 = new Geoscan().setEpsilon(100).setMinPts(3).setSampleMaxPerCell(10).fit(pts)
    assert(m1.state.count() == m2.state.count())
    // with the cap, the hull is built from ≤10 points per cell but still 1 cluster
    assert(m1.state.count() == 1)
  }
}
