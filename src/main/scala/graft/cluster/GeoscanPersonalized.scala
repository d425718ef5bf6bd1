package graft.cluster

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{Param, ParamMap, IntParam, ParamValidators}
import org.apache.spark.ml.util.{MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.geo.{GeoCell, GeoJson}
import graft.functions.TileGrid

/** Per-key GEOSCAN — the reference's `GeoscanPersonalized`
  * (`01_geofraud_clustering.py:270-287`): one model per `groupedCol` value,
  * trained "pseudo-distributed" — a single `groupByKey(user)` shuffle, then
  * in-memory clustering per key (per-user n is small by construction,
  * `01_geofraud_clustering.py:266`). Scales to "millions of models in
  * parallel": each group is independent, no cross-group state, skewed users
  * bounded by `sampleMaxPerCell`. */
class GeoscanPersonalized(override val uid: String)
  extends Estimator[GeoscanPersonalizedModel] with GeoscanParams {

  def this() = this(org.apache.spark.ml.util.Identifiable.randomUID("geoscanPersonalized"))

  final val groupedCol = new Param[String](this, "groupedCol", "grouping (user) column")
  setDefault(groupedCol -> "user")
  def getGroupedCol: String = $(groupedCol)
  def setGroupedCol(v: String): this.type = set(groupedCol, v)

  override def copy(extra: ParamMap): GeoscanPersonalized = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = validateInput(schema)

  override def fit(dataset: Dataset[_]): GeoscanPersonalizedModel = {
    val spark = dataset.sparkSession
    import spark.implicits._
    val eps = $(epsilon)
    val mp = $(minPts)
    val cap = $(sampleMaxPerCell)

    val state = dataset.select(
        col($(groupedCol)).cast("string").as("user"),
        col($(latitudeCol)).cast(DoubleType).as("lat"),
        col($(longitudeCol)).cast(DoubleType).as("lng"))
      .where(col("lat").isNotNull && col("lng").isNotNull) // no coordinates: noise
      .as[(String, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (user, it) =>
        var pts = it.map(t => (t._2, t._3)).toIndexedSeq
        if (cap > 0) {
          // deterministic per-cell cap (reference skew sampling,
          // 01_geofraud_clustering.py:178-191)
          pts = pts.groupBy(p => GeoCell.cellId(p._1, p._2, 11))
            .valuesIterator.flatMap(_.sorted.take(cap)).toIndexedSeq
        }
        val labels = Dbscan.cluster(pts, eps, mp)
        labels.zip(pts)
          .collect { case (Some(l), p) => (l, p) }
          .groupBy(_._1).toSeq
          .map { case (label, grp) =>
            (user, label.toLong, graft.geo.ConvexHull.hull(grp.map(_._2)))
          }
      }
      .toDF("user", "cluster", "hull")
      // the reference documents personalized fit as lazily evaluated and
      // tells users to persist (`01_geofraud_clustering.py:292`) — we fix
      // the footgun by materializing inside fit
      .persist(StorageLevel.MEMORY_AND_DISK)
    state.count()

    val model = new GeoscanPersonalizedModel(uid, state)
    copyValues(model).setParent(this)
    model.set(model.groupedColM, $(groupedCol))
    model
  }
}

/** Fitted per-user models — reference `GeoscanPersonalizedModel`
  * (`01_geofraud_clustering.py:305-316,344,364`): `transform` labels per
  * user, `toGeoJson()` returns DataFrame[user, cluster:geojson],
  * `getTiles(precision, layers)` returns DataFrame[user, cluster, h3],
  * `save/load` with `{path}/data` holding the reference's
  * readable-without-the-library Parquet of (user, cluster GeoJSON string)
  * (`02_geofraud_fraud.py:24-30`, FIXTURES A3) and `{path}/hulls` the exact
  * hull coordinates the library itself reloads. */
class GeoscanPersonalizedModel private[cluster] (
    override val uid: String,
    private[cluster] val state: DataFrame)
  extends Model[GeoscanPersonalizedModel] with GeoscanParams with TileParams with MLWritable {

  final val groupedColM = new Param[String](this, "groupedCol", "grouping (user) column")
  setDefault(groupedColM -> "user")
  def setGroupedCol(v: String): this.type = set(groupedColM, v)

  override def copy(extra: ParamMap): GeoscanPersonalizedModel =
    copyValues(new GeoscanPersonalizedModel(uid, state), extra).setParent(parent)

  override def transformSchema(schema: StructType): StructType = validateInput(schema)

  /** (user, cluster, h3) cell cover per user's clusters — the central
    * `tiles` table input (`01_geofraud_clustering.py:364,415-420`). One
    * cluster per (user, h3): min label, so inference joins never fan out. */
  def getTiles(precision: Int, layers: Int): DataFrame =
    getTiles(precision, layers, TileGrid.GeoCell)

  /** [[getTiles]] on an explicit grid — `"geocell"` (default) or `"h3"`
    * for REAL H3 ids; see [[GeoscanModel.getTiles]]. */
  def getTiles(precision: Int, layers: Int, grid: String): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    // validate eagerly (refusals at plan build, not in a task); capture
    // the string, not the model, in the task closure
    val g = TileGrid.validate(grid)
    state.select("user", "cluster", "hull")
      .as[(String, Long, Seq[(Double, Double)])]
      .flatMap { case (u, c, hull) =>
        TileGrid.cells(g)(hull, precision, layers).map(cell => (u, c, cell))
      }
      .toDF("user", "cluster", "h3")
      .groupBy("user", "h3").agg(min("cluster").as("cluster"))
      .select("user", "cluster", "h3")
  }

  @transient private lazy val tileCache =
    new TileCache((pr, l, g) => getTiles(pr, l, g))

  /** Memoized, persisted tile cover — the frame [[transform]] joins against;
    * see [[GeoscanModel.cachedTiles]]. */
  def cachedTiles(precision: Int, layers: Int): DataFrame =
    tileCache(precision, layers, $(tileGrid))._1

  /** The fitted hull state (user, cluster, hull) — the model's cluster
    * geometries as a DataFrame (what `save` persists under {path}/hulls).
    * Public surface: consumers export/tile/audit the geometry without going
    * through GeoJSON strings. */
  def hullTable: DataFrame = state.select("user", "cluster", "hull")

  /** True when the session this model's state belongs to has been stopped —
    * the model (persisted state and all) is then unusable and must be refit. */
  private[graft] def sessionStopped: Boolean =
    state.sparkSession.sparkContext.isStopped

  override def transform(dataset: Dataset[_]): DataFrame = {
    val prec = $(tilePrecision)
    val (tilesRaw, nTiles) = tileCache(prec, $(tileLayers), $(tileGrid))
    // uid-suffixed helper names, as in GeoscanModel.transform: a caller may
    // own an h3 or __cell column, which a fixed name would overwrite and drop
    val cellCol = s"__cell_$uid"
    val tileUserCol = s"__tile_user_$uid"
    val tileClusterCol = s"__tile_cluster_$uid"
    val tileH3Col = s"__tile_h3_$uid"
    val tiles = tilesRaw.select(col("user").as(tileUserCol),
      col("cluster").as(tileClusterCol), col("h3").as(tileH3Col))
    val tilesSide = if (nTiles <= TileCache.BroadcastMaxRows) broadcast(tiles) else tiles
    val in = dataset.toDF()
    val base = if (in.columns.contains($(predictionCol))) in.drop($(predictionCol)) else in
    base
      .withColumn(cellCol, TileGrid.cellCol($(tileGrid),
        col($(latitudeCol)).cast(DoubleType), col($(longitudeCol)).cast(DoubleType), prec))
      .join(tilesSide,
        col(cellCol) === tilesSide(tileH3Col) &&
          col($(groupedColM)).cast("string") === tilesSide(tileUserCol),
        "left_outer")
      .drop(tileH3Col, cellCol, tileUserCol)
      .withColumnRenamed(tileClusterCol, $(predictionCol))
  }

  /** DataFrame[user, cluster] where `cluster` is a GeoJSON FeatureCollection
    * of that user's hulls (`01_geofraud_clustering.py:315-328`; state
    * contract FIXTURES A3). */
  def toGeoJson(): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    state.select("user", "cluster", "hull")
      .as[(String, Long, Seq[(Double, Double)])]
      .groupByKey(_._1)
      .mapGroups { (u, it) =>
        val clusters = it.toSeq.sortBy(_._2).map { case (_, c, h) => (c.toString, h) }
        (u, GeoJson.featureCollection(clusters))
      }
      .toDF("user", "cluster")
  }

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = state.sparkSession
      GeoscanIO.saveParams(spark, path, Map(
        "class" -> "graft.cluster.GeoscanPersonalizedModel", "uid" -> uid,
        "latitudeCol" -> $(latitudeCol), "longitudeCol" -> $(longitudeCol),
        "predictionCol" -> $(predictionCol), "epsilon" -> $(epsilon).toString,
        "minPts" -> $(minPts).toString, "groupedCol" -> $(groupedColM),
        "tilePrecision" -> $(tilePrecision).toString, "tileLayers" -> $(tileLayers).toString,
        "tileGrid" -> $(tileGrid)))
      // {path}/data is the reference checkpoint contract — readable WITHOUT
      // the library as (user string, cluster string GeoJSON FeatureCollection)
      // (`02_geofraud_fraud.py:24-30`; FIXTURES A3). The exact hull
      // coordinates go to {path}/hulls for the library's own load().
      toGeoJson().write.mode("overwrite").parquet(s"$path/data")
      state.write.mode("overwrite").parquet(s"$path/hulls")
    }
  }
}

object GeoscanPersonalizedModel extends MLReadable[GeoscanPersonalizedModel] {
  override def read: MLReader[GeoscanPersonalizedModel] = new MLReader[GeoscanPersonalizedModel] {
    override def load(path: String): GeoscanPersonalizedModel = {
      val spark = SparkSession.active
      val p = GeoscanIO.loadParams(spark, path)
      // current layout: exact hulls under {path}/hulls. Models saved by the
      // previous layout kept them at {path}/data — fall back when the hulls
      // dir is absent and the data frame carries hull coordinates.
      val hullsPath = new org.apache.hadoop.fs.Path(s"$path/hulls")
      val fs = hullsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val state =
        if (fs.exists(hullsPath)) spark.read.parquet(s"$path/hulls")
        else {
          val legacy = spark.read.parquet(s"$path/data")
          require(legacy.schema.fieldNames.contains("hull"),
            s"$path has neither /hulls nor hull-bearing /data — not a personalized model checkpoint")
          legacy
        }
      val m = new GeoscanPersonalizedModel(p("uid"), state)
      m.setLatitudeCol(p("latitudeCol")).setLongitudeCol(p("longitudeCol"))
        .setPredictionCol(p("predictionCol")).setEpsilon(p("epsilon").toDouble)
        .setMinPts(p("minPts").toInt).setGroupedCol(p("groupedCol"))
        .setTilePrecision(p("tilePrecision").toInt).setTileLayers(p("tileLayers").toInt)
        .setTileGrid(p.getOrElse("tileGrid", TileGrid.GeoCell)) // pre-r18 sidecars lack it
      m
    }
  }
}
