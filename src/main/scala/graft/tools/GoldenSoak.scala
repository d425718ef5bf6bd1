package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.GeoscanPersonalized
import graft.functions.GeoFunctions
import graft.pipeline.GeoFraudPipeline
import graft.score.{Anomalies, Blooms}

/** Dev-only golden-pipeline scale soak (VERDICT r18 task 1): the
  * personalized fit path at ~100× the reference's user count. The
  * reference claims "millions of models in parallel"
  * (`01_geofraud_clustering.py:292`); this proves OUR shape — per-user
  * fit cost flat (one `groupByKey(user)` + flatMapGroups, no driver
  * term), tiles-table size linear in users, and the notebook's own laws
  * (bloom FN = 0, bloom ⊆ join) holding at scale.
  *
  * Users are synthesized by CLONING the reference CSV's 5 users
  * `copies` times: copy `i` renames each user to `user_i` and
  * translates the whole copy by a deterministic lattice offset
  * (dLat = (i mod 10)·0.7°, dLng = ⌊i/10⌋·0.9°) — intra-user spatial
  * structure (the cluster geometry DBSCAN sees) is preserved up to the
  * slight metric distortion of translation, while each copy lands on
  * DIFFERENT H3 cells (no cross-copy tile sharing). Copy 0 is the
  * UNSHIFTED golden input, so a ×1 lap must reproduce the exact q287
  * golden constants (2814 tiles / 725 join anomalies / 718 recovered).
  * The fan-out is one broadcast cross-join (a 100-row copies frame
  * against the checkpointed base), not a 100-way union — the plan a
  * 1000-executor cluster would want.
  *
  * Usage: runMain graft.tools.GoldenSoak [multiplier ...]
  * (default laps: 1 10 100 — 5 / 50 / 500 users). Emits one JSON line
  * per lap. */
object GoldenSoak {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 10, 100)
    val cpus = graft.Bench.cpus(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = GeoFraudPipeline.readGoldenTransactions(spark).localCheckpoint(true)

    for (m <- multipliers) {
      val copies = spark.range(m).select(col("id").cast("int").as("__copy"))
      val tx = base.crossJoin(broadcast(copies))
        .withColumn("user", concat_ws("_", col("user"), col("__copy")))
        .withColumn("latitude", col("latitude") + col("__copy") % 10 * lit(0.7))
        .withColumn("longitude",
          col("longitude") + floor(col("__copy") / 10) * lit(0.9))
        .drop("__copy")
        .localCheckpoint(true) // ×100 ≈ 1M rows — eager, off the lineage
      val nRows = tx.count()
      val nUsers = tx.select("user").distinct().count()

      // notebook parameters throughout (01_geofraud_clustering.py:280-282,364)
      val (model, fitSec) = timed {
        new GeoscanPersonalized().setGroupedCol("user")
          .setEpsilon(100.0).setMinPts(3).fit(tx) // fit materializes state
      }
      val nHulls = model.hullTable.count()

      val (rawTiles, rawTilesSec) = timed(
        model.getTiles(10, 5, "h3").localCheckpoint(true))
      val nRawTiles = rawTiles.count()

      val pointsH3 = tx.select(col("user"),
        GeoFunctions.geoToH3(col("latitude"), col("longitude"), 10).as("h3"))
      val (tiles, tfidfSec) = timed(
        GeoFraudPipeline.tfidfTiles(rawTiles, pointsH3).localCheckpoint(true))
      val nTiles = tiles.count()

      val (joinAnoms, anomSec) = timed(
        Anomalies.extract(tx, tiles, 10, grid = "h3")
          .select(col("user"), col("latitude"), col("longitude"), col("amount"))
          .localCheckpoint(true))
      val nJoinAnoms = joinAnoms.count()

      // serving leg through the AUTO path scorer — the cutover picks
      // broadcast vs distributed join by measured filter bytes
      val (scored, scoreSec) = timed(
        GeoFraudPipeline.scoreTransactions(tx, tiles, 10, 0.01, grid = "h3")
          .localCheckpoint(true))
      val bloomAnoms = scored.where(col("anomaly") === 1)
        .select(col("user"), col("latitude"), col("longitude"), col("amount"))
      val nBloomAnoms = bloomAnoms.count()

      // law 1 at scale: bloom ⊆ join (a bloom can only err toward KNOWN)
      val nOutsideJoin = bloomAnoms.exceptAll(joinAnoms).count()
      // law 2 at scale: FN = 0 — every trained (user, tile) probes back
      // known (the filters here are ~1 KB × users, comfortably collectable)
      val blooms = Blooms.toMap(Blooms.train(tiles.select("user", "h3"), 0.01))
      val nFn = Blooms.scoreCells(tiles.select("user", "h3"), blooms)
        .where(col("anomaly") === 1).count()

      println(
        s"""{"soak":"golden_pipeline","multiplier":$m,"users":$nUsers,""" +
        s""""rows":$nRows,"hulls":$nHulls,"raw_tiles":$nRawTiles,""" +
        s""""tiles":$nTiles,"join_anomalies":$nJoinAnoms,""" +
        s""""bloom_anomalies":$nBloomAnoms,"bloom_outside_join":$nOutsideJoin,""" +
        s""""bloom_fn":$nFn,""" +
        f""""fit_sec":$fitSec%.2f,"raw_tiles_sec":$rawTilesSec%.2f,""" +
        f""""tfidf_sec":$tfidfSec%.2f,"anomalies_sec":$anomSec%.2f,""" +
        f""""score_sec":$scoreSec%.2f}""")
    }
    spark.stop()
  }
}
