package graft.pipeline

import graft.SparkSpec
import graft.cluster.GeoscanPersonalized
import scala.util.Random

/** Cache hygiene of the 01→02 run on in-repo synthetic transactions: what
  * the run persists for its own passes is released once the tiles table is
  * written, and the lazy run (no tiles table) persists nothing for them. */
class PipelineCacheSpec extends SparkSpec {

  private lazy val tx = {
    import spark.implicits._
    val r = new Random(17)
    val rows = for {
      (user, homes) <- Seq("ann" -> Seq((40.70, -74.00), (40.75, -73.95)),
        "bob" -> Seq((40.72, -73.98)), "cy" -> Seq((40.68, -73.99), (40.74, -74.01)))
      (lat, lng) <- homes
      _ <- 1 to 25
    } yield (lat + r.nextGaussian() * 2e-4, lng + r.nextGaussian() * 2e-4,
      10.0 + r.nextInt(90), user)
    rows.toDF("latitude", "longitude", "amount", "user")
  }

  private def persistentRdds: Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.map { case (id, rdd) => id -> rdd.toString }.toMap

  test("run with a tiles table leaves cached only what its fitted model holds") {
    // the fitted model keeps its state cached by design; a fit alone shows
    // that footprint
    val beforeFit = persistentRdds
    new GeoscanPersonalized().setGroupedCol("user").setEpsilon(100.0).setMinPts(3).fit(tx)
    val modelCaches = persistentRdds.keySet -- beforeFit.keySet
    assert(modelCaches.size == 1)

    val before = persistentRdds
    val dir = java.nio.file.Files.createTempDirectory("tiles_cache").toString + "/tiles"
    val result = GeoFraudPipeline.run(spark, tx, epsilon = 100.0, minPts = 3,
      tilePrecision = 10, tileLayers = 1, tilesOut = Some(dir))
    assert(result.tiles.count() > 0)
    val added = persistentRdds -- before.keySet
    assert(added.size == modelCaches.size,
      s"the run left ${added.size} caches, its model holds ${modelCaches.size}: " +
        added.values.mkString("; "))
  }

  test("run without a tiles table leaves cached only what its fitted model holds") {
    val beforeFit = persistentRdds
    new GeoscanPersonalized().setGroupedCol("user").setEpsilon(100.0).setMinPts(3).fit(tx)
    val modelCaches = persistentRdds.keySet -- beforeFit.keySet
    assert(modelCaches.size == 1)

    val before = persistentRdds
    val result = GeoFraudPipeline.run(spark, tx, epsilon = 100.0, minPts = 3,
      tilePrecision = 10, tileLayers = 1)
    // the lazy result, consumed: its TF-IDF reads nothing cached
    assert(result.tiles.count() > 0)
    result.anomalies.count()
    val added = persistentRdds -- before.keySet
    assert(added.size == modelCaches.size,
      s"the run left ${added.size} caches, its model holds ${modelCaches.size}: " +
        added.values.mkString("; "))
  }
}
