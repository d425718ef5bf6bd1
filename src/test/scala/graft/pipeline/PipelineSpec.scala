package graft.pipeline

import graft.SparkSpec
import graft.score.Blooms
import org.apache.spark.sql.functions._

/** Golden-file replay of the full 01→02 reference pipeline on the
  * reference's own dataset (SURVEY §5.4): invariants carry over even though
  * absolute cell ids differ from Uber H3 (SURVEY §7.3). The input-independent
  * bloom and anomaly laws also run on in-repo data in `graft.score.BloomsSpec`. */
class PipelineSpec extends SparkSpec {

  private lazy val tx = {
    val df = GeoFraudPipeline.readGoldenTransactions(spark)
    df.persist(); df.count(); df
  }

  private lazy val result = GeoFraudPipeline.run(
    spark, tx, epsilon = 100.0, minPts = 3, tilePrecision = 10, tileLayers = 3)

  test("golden: reference CSV loads with the declared schema (S1)") {
    assert(tx.count() == 10068) // data/transactions.csv measured size
    assert(tx.select("user").distinct().count() == 5)
    assert(tx.schema.fieldNames.toSeq == Seq("latitude", "longitude", "amount", "user"))
  }

  test("golden: tiles table has the reference schema and plausible volume (FIXTURES A2)") {
    val tiles = result.tiles
    assert(tiles.columns.toSeq == Seq("user", "cluster", "h3", "tf_idf"))
    assert(tiles.count() > 0)
    // every user with clusters has tiles
    assert(tiles.select("user").distinct().count() == 5)
    // tf_idf is finite and non-negative-ish (tf>=1, ln(N/df)>=0 since df<=N)
    assert(tiles.filter(col("tf_idf") < 0 || col("tf_idf").isNull).count() == 0)
  }

  test("golden: anomaly extraction finds a small but non-empty set (02_geofraud_fraud.py:75)") {
    val n = result.anomalies.count()
    assert(n > 0, "no anomalies at all")
    assert(n < 10068 * 0.25, s"$n anomalies — tiles cover too little")
    // join-key columns lead after a USING join (PySpark reference behaves
    // identically on `join(tiles, ['user','h3'], 'left_outer')`)
    assert(result.anomalies.columns.toSeq == Seq("user", "latitude", "longitude", "amount"))
  }

  test("golden: left_outer+IS NULL spelling ≡ left_anti spelling (SURVEY §5.3d)") {
    val a = graft.score.Anomalies.extract(tx, result.tiles, 10)
      .select("latitude", "longitude", "amount", "user")
    val b = graft.score.Anomalies.extractLeftOuter(tx, result.tiles, 10)
      .select("latitude", "longitude", "amount", "user")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("golden: bloom FN = 0 — every known tile matches (02_geofraud_fraud.py:141-147)") {
    val trained = Blooms.train(result.tiles, fpp = 0.01)
    val blooms = Blooms.toMap(trained)
    val misses = result.tiles.select("user", "h3").collect().count { r =>
      !blooms(r.getString(0)).mightContainString(r.getString(1))
    }
    assert(misses == 0)
  }

  test("golden: bloom anomalies ⊆ join anomalies, recovery ≥ 90% (02_geofraud_fraud.py:258)") {
    val blooms = Blooms.toMap(Blooms.train(result.tiles, fpp = 0.01))
    val scored = Blooms.score(tx, blooms, precision = 10)
    val bloomAnoms = scored.filter(col("anomaly") === 1)
      .select("latitude", "longitude", "amount", "user")
    val joinAnoms = result.anomalies.select("latitude", "longitude", "amount", "user")
    // FN=0 ⇒ bloom can only under-flag (false positives absorb anomalies)
    assert(bloomAnoms.exceptAll(joinAnoms).count() == 0, "bloom flagged a known tile")
    val recovery = bloomAnoms.count().toDouble / joinAnoms.count().toDouble
    assert(recovery >= 0.90, s"recovery $recovery") // reference: 78/81 at fpp=0.1
  }

  test("bloom training skips null tiles instead of NPE-ing") {
    import spark.implicits._
    val tiles = Seq(("u", Some("CELL1")), ("u", None), (null, Some("CELL2")))
      .toDF("user", "h3")
    val blooms = Blooms.toMap(Blooms.train(tiles))
    assert(blooms.keySet == Set("u"))
    assert(blooms("u").mightContainString("CELL1"))
  }

  test("run treats a null-coordinate transaction as noise and flags it") {
    import spark.implicits._
    val tx3 = Seq((Some(40.7000), -74.0, 1.0, "u"), (Some(40.7001), -74.0, 2.0, "u"),
      (Option.empty[Double], -74.0, 3.0, "u"))
      .toDF("latitude", "longitude", "amount", "user")
    val r = GeoFraudPipeline.run(spark, tx3, epsilon = 100.0, minPts = 1,
      tilePrecision = 10, tileLayers = 0)
    assert(r.tiles.count() > 0)
    // the located pair is covered; the point without a tile is anomalous
    assert(r.anomalies.select("amount").as[Double].collect().toSeq == Seq(3.0))
  }

  test("golden: unknown user is fully anomalous at serve time") {
    import spark.implicits._
    val blooms = Blooms.toMap(Blooms.train(result.tiles))
    val probe = Seq(("stranger", 40.72, -73.98)).toDF("user", "latitude", "longitude")
    assert(Blooms.score(probe, blooms).select("anomaly").head.getInt(0) == 1)
  }
}
