package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.cluster.{GeoscanPersonalized, GeoscanPersonalizedModel}
import graft.functions.TileGrid
import graft.score.{Anomalies, Blooms}

/** End-to-end wiring of the two reference notebooks (SURVEY §7.1 module 5):
  * `01_geofraud_clustering` (fit → tiles → TF-IDF → tiles table) and
  * `02_geofraud_fraud` (anti-join anomalies → per-user blooms → scoring). */
object GeoFraudPipeline {

  /** Transaction schema (`data/transactions.csv:1`, casts at
    * `01_geofraud_clustering.py:59-61`) — explicit, no inference. */
  val transactionSchema: StructType = StructType.fromDDL(
    "latitude DOUBLE, longitude DOUBLE, amount DOUBLE, user STRING")

  /** CSV ingestion (S1) without the reference's pandas hop. */
  def readTransactions(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(transactionSchema).option("header", "true").csv(path)

  /** The reference's own `data/transactions.csv`, the input of every
    * golden replay (`PipelineSpec`, q287, q291, `GoldenSoak`), read with
    * [[readTransactions]]. `SPARK_GRAFT_GOLDEN_CSV` overrides its location.
    * A missing file fails here, with one message naming the path and the
    * variable, not inside a task. */
  def readGoldenTransactions(spark: SparkSession): DataFrame = {
    val path = sys.env.getOrElse("SPARK_GRAFT_GOLDEN_CSV", "/root/reference/data/transactions.csv")
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      throw new java.io.FileNotFoundException(
        s"golden transactions CSV not found at $path; set SPARK_GRAFT_GOLDEN_CSV to its location")
    readTransactions(spark, path)
  }

  case class Result(
      model: GeoscanPersonalizedModel,
      tiles: DataFrame,     // user, cluster, h3, tf_idf  (FIXTURES A2)
      anomalies: DataFrame) // transactions with no known tile

  /** The TF-IDF personalization scoring over tiles
    * (`01_geofraud_clustering.py:386-418`): df = distinct visitors per tile,
    * tf = a user's visits to their own tile, tf_idf = tf·ln(N/df).
    *
    * Lazy and cache-free: the result may be consumed long after this call,
    * or never, so nothing is persisted on its behalf. N is folded into the
    * plan as a broadcast one-row cross join (q16's spelling), so docFreq's
    * subtree runs in the consuming job, its exchange shared by the tf join
    * and the N count. */
  def tfidfTiles(tiles: DataFrame, pointsH3: DataFrame): DataFrame = {
    val (termFreq, docFreq) = tfidfFrequencies(tiles, pointsH3)
    val n = docFreq.agg(count(lit(1)).cast("double").as("__n"))
    termFreq.join(docFreq, Seq("h3")).crossJoin(broadcast(n))
      .withColumn("tf_idf", col("tf") * log(col("__n") / col("df")))
      .select("user", "cluster", "h3", "tf_idf")
  }

  /** (termFreq, docFreq) of [[tfidfTiles]]: (user, h3, cluster, tf) and
    * (h3, df). */
  private def tfidfFrequencies(tiles: DataFrame, pointsH3: DataFrame): (DataFrame, DataFrame) = {
    // distinct BEFORE the join: the reference joins the full multi-row tile
    // frame (`01_geofraud_clustering.py:389-392`) and distincts after — same
    // result, but per-cell fanout tiles×points blows up at scale (measured
    // ~130M intermediate rows on 600k points); one row per cell keeps the
    // join linear in the points
    val docFreq = tiles.select(col("h3")).distinct()
      .join(pointsH3, Seq("h3"))
      .select("user", "h3").distinct()
      .groupBy("h3").agg(sum(lit(1)).as("df"))
    val termFreq = tiles
      .join(pointsH3, Seq("h3", "user"))
      .groupBy("user", "h3", "cluster").agg(sum(lit(1)).as("tf"))
    (termFreq, docFreq)
  }

  /** [[tfidfTiles]] for a tiles-table write, with the docFreq cache handed
    * back: (tiles, docFreq). The caller unpersists docFreq once it has
    * written the tiles. */
  private def tfidfTiles(tiles: DataFrame, pointsH3: DataFrame,
                         docFreqLevel: StorageLevel): (DataFrame, DataFrame) = {
    // persisted: docFreq has TWO eager consumers — the scalar-N count
    // action below and the tf join — and un-cached the whole
    // cells⋈points + two-distincts subtree ran twice per pipeline run
    // (guide §5 persist-when-reused; bounded: one row per distinct cell)
    val (termFreq, docFreqRaw) = tfidfFrequencies(tiles, pointsH3)
    val docFreq = docFreqRaw.persist(docFreqLevel)
    // broadcast scalar N (01_geofraud_clustering.py:409) as a driver count
    // action (it also materializes the docFreq cache). Deliberately NOT
    // the in-plan broadcast-1-row-cross-join spelling of the lazy path:
    // the tiles table goes through a repartitionByRange write downstream,
    // whose range sampling re-executes the child — measured 7s slower at
    // sf0.1 with the fused spelling here.
    val n = docFreq.count()
    val scored = termFreq.join(docFreq, Seq("h3"))
      .withColumn("tf_idf", col("tf") * log(lit(n.toDouble) / col("df")))
      .select("user", "cluster", "h3", "tf_idf")
    (scored, docFreq)
  }

  /** Serving leg of notebook 02 (`02_geofraud_fraud.py:109-196`): train one
    * Bloom filter per user over the known tile cover, then score `points`
    * (adds `anomaly` 0/1). Path selection is AUTOMATIC: the broadcast-map
    * probe (the reference's pyfunc shape — zero shuffle) when the trained
    * filters fit the broadcast budget, the distributed sort-merge
    * [[Blooms.scoreByJoin]] when they don't — at millions of users the
    * unconditional driver collect is the OOM a caller shouldn't have to
    * know about. Both paths score bit-identically. */
  def scoreTransactions(points: DataFrame, tiles: DataFrame,
                        precision: Int = 10, fpp: Double = 0.01,
                        broadcastBudgetBytes: Long = Blooms.DefaultBroadcastBudgetBytes,
                        grid: String = "geocell"): DataFrame = {
    val trained = Blooms.train(tiles.select(col("user"), col("h3")), fpp)
    Blooms.scoreAuto(points, trained, precision,
      broadcastBudgetBytes = broadcastBudgetBytes, grid = grid)
  }

  /** Full 01+02 run. `zorderWrite` approximates the reference's
    * `OPTIMIZE ZORDER BY (user, h3)` (`01_geofraud_clustering.py:440`) with
    * range-partition + in-partition sort so parquet row-group min/max stats
    * prune point lookups (S10). */
  def run(spark: SparkSession, transactions: DataFrame,
          epsilon: Double = 100.0, minPts: Int = 3,
          tilePrecision: Int = 10, tileLayers: Int = 5,
          tilesOut: Option[String] = None,
          grid: String = "geocell"): Result = {
    // tile-id space for the WHOLE run — the cover, the TF-IDF visit
    // counts and the anomaly join must agree on one grid ("h3" = the
    // reference's own ids, the golden-replay spelling); refused before the fit
    val gridN = TileGrid.validate(grid)

    val model = new GeoscanPersonalized()
      .setGroupedCol("user").setEpsilon(epsilon).setMinPts(minPts)
      .fit(transactions)
    model.setTilePrecision(tilePrecision).setTileLayers(tileLayers)

    val cellOf = TileGrid.cellCol(gridN, col("latitude"), col("longitude"), tilePrecision)
    val pointsH3 = transactions.select(col("user"), cellOf.as("h3"))

    tilesOut match {
      case Some(path) =>
        // scoped persists: TF-IDF reads the tile cover three times (docFreq,
        // termFreq, N) and the Z-order write's range sampling adds a fourth
        // pass; the cover and TF-IDF's docFreq are released as soon as the
        // table is written
        val rawTiles = model.getTiles(tilePrecision, tileLayers, gridN)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (tiles, docFreq) = tfidfTiles(rawTiles, pointsH3, StorageLevel.MEMORY_AND_DISK)
        tiles.repartitionByRange(col("user"), col("h3"))
          .sortWithinPartitions("user", "h3")
          .write.mode("overwrite").parquet(path)
        rawTiles.unpersist()
        docFreq.unpersist()
        // production shape: the anomaly job reads the persisted tiles table
        // (`02_geofraud_fraud.py:18`), not the fit lineage
        val tilesBack = spark.read.parquet(path)
        Result(model, tilesBack,
          Anomalies.extract(transactions, tilesBack, tilePrecision, grid = gridN))
      case None =>
        val tiles = tfidfTiles(model.getTiles(tilePrecision, tileLayers, gridN), pointsH3)
        Result(model, tiles,
          Anomalies.extract(transactions, tiles, tilePrecision, grid = gridN))
    }
  }
}
