package graft.cluster

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.geo.{ConvexHull, GeoCell, GeoJson, Haversine}
import graft.functions.{GeoFunctions, TileGrid}

/** Shared parameter surface of the GEOSCAN estimators — exact API parity
  * with the reference library wrapper (`01_geofraud_clustering.py:122-132`:
  * `setLatitudeCol / setLongitudeCol / setPredictionCol / setEpsilon /
  * setMinPts`; `:270-287` adds `setGroupedCol`). */
trait GeoscanParams extends Params {
  final val latitudeCol = new Param[String](this, "latitudeCol", "latitude column name")
  final val longitudeCol = new Param[String](this, "longitudeCol", "longitude column name")
  final val predictionCol = new Param[String](this, "predictionCol", "output cluster-label column (NULL = noise)")
  final val epsilon = new DoubleParam(this, "epsilon", "neighborhood radius in meters", ParamValidators.gt(0))
  final val minPts = new IntParam(this, "minPts", "minimum epsilon-neighbors for a core point", ParamValidators.gtEq(0))
  /** The reference's skew-mitigation sampling (`01_geofraud_clustering.py:170-203`:
    * cap points per ~30 m cell, "dropped our skew by 80%") baked in as a
    * param; 0 disables. */
  final val sampleMaxPerCell = new IntParam(this, "sampleMaxPerCell", "cap input points per res-11 cell before clustering (0 = off)", ParamValidators.gtEq(0))

  setDefault(latitudeCol -> "latitude", longitudeCol -> "longitude",
    predictionCol -> "cluster", epsilon -> 50.0, minPts -> 3, sampleMaxPerCell -> 0)

  def getLatitudeCol: String = $(latitudeCol)
  def getLongitudeCol: String = $(longitudeCol)
  def getPredictionCol: String = $(predictionCol)
  def getEpsilon: Double = $(epsilon)
  def getMinPts: Int = $(minPts)

  def setLatitudeCol(v: String): this.type = set(latitudeCol, v)
  def setLongitudeCol(v: String): this.type = set(longitudeCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setEpsilon(v: Double): this.type = set(epsilon, v)
  def setMinPts(v: Int): this.type = set(minPts, v)
  def setSampleMaxPerCell(v: Int): this.type = set(sampleMaxPerCell, v)

  protected def validateInput(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(latitudeCol)), s"missing ${$(latitudeCol)}")
    require(schema.fieldNames.contains($(longitudeCol)), s"missing ${$(longitudeCol)}")
    // transform (re)defines the prediction column, dropping a pre-existing
    // one — the reported schema must match that, not a duplicate field
    StructType(schema.fields.filterNot(_.name == $(predictionCol)))
      .add($(predictionCol), LongType, nullable = true)
  }
}

private[cluster] object GeoscanIO {
  /** Model persistence layout contract (`02_geofraud_fraud.py:24-30`): state
    * is plain Parquet under `{path}/data`, readable without the library;
    * params go to `{path}/params` as a 1-row Parquet. */
  def saveParams(spark: SparkSession, path: String, params: Map[String, String]): Unit = {
    import spark.implicits._
    params.toSeq.toDF("param", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
    // JSON sidecar for humans/tools (the reference logs params to MLflow,
    // 01_geofraud_clustering.py:120-149 — M5; out of engine scope, kept as
    // a plain file)
    // backslash FIRST, then quote: escaping quotes alone turns a value
    // containing '\' into invalid (or silently re-interpreted) JSON
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = params.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${esc(k)}": "${esc(v)}""""
    }.mkString("{", ", ", "}")
    val sidecar = new org.apache.hadoop.fs.Path(s"$path/params.json")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(sidecar, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
  def loadParams(spark: SparkSession, path: String): Map[String, String] = {
    spark.read.parquet(s"$path/params").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }
}

/** Density-based geospatial clustering, distributed variant — GEOSCAN
  * steps 1-3 (`01_geofraud_clustering.py:16-32`):
  *
  *  1. '''Grouping + degree filter''' — each point is sent to every grid
  *     cell of its epsilon-disc cover (resolution chosen so the disc spans
  *     ≤1 ring), keyed by the numeric cell key. A cell's group then holds
  *     every epsilon-neighbor of the points whose own cell it is — the
  *     "ignore 99.99% of the dataset" trick — so each such point's degree
  *     is counted inside its own group, with no edge set and no global
  *     aggregate. Points of degree < minPts are dropped.
  *  2. '''Clustering''' — the core points are grouped the same way. Each
  *     group union-finds its own points' edges to larger pids and emits a
  *     spanning forest, plus one root row per local set of own points that
  *     carries the convex hull (monotone chain) of those points. The
  *     per-cell forests are joined by one driver union-find over the
  *     forest rows while they fit [[ConnectedComponents]]' local-finish
  *     cap, else by its star contraction. Labels are the min pid per
  *     component, deterministic.
  *  3. '''Hulls''' — per component, the merged hull of its partial hulls
  *     (every core point is in exactly one); model state = (cluster, hull
  *     polygon).
  *
  * An edge is a pair at haversine ≤ epsilon whose larger-pid point lies in
  * a cell of the smaller-pid point's cover.
  *
  * Scale notes: input is never collected. Each pass is one shuffle of
  * (2k+1)² rows per point, hash-partitioned by cell key (k = 1 unless the
  * data reaches the poles or epsilon exceeds the coarsest cell). Memory per
  * group is one cell's (2k+1)² neighbourhood; `sampleMaxPerCell` bounds it
  * on dense cells. Connected components see a forest of at most
  * (2k+1)² + 1 rows per core point, not the epsilon-edge set. Up to the
  * local-finish cap the fit collects it to the driver (two longs a row,
  * and at most one hull vertex per core point over all rows) and finishes
  * labels and hulls there; above it connected components run O(log² n)
  * bounded rounds regardless of graph diameter, and only the partial-hull
  * rows are joined with their labels.
  *
  * The pid and forest `localCheckpoint`s are not released when the fit
  * returns: under the cap nothing references them afterwards, and Spark's
  * ContextCleaner reclaims their blocks after a driver GC (`RDD.unpersist`
  * would release them at once, but logs a WARN about the truncated lineage
  * on every fit).
  */
class Geoscan(override val uid: String) extends Estimator[GeoscanModel] with GeoscanParams {
  def this() = this(org.apache.spark.ml.util.Identifiable.randomUID("geoscan"))

  override def copy(extra: ParamMap): Geoscan = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = validateInput(schema)

  override def fit(dataset: Dataset[_]): GeoscanModel =
    fit(dataset, ConnectedComponents.LocalFinishEdges)

  /** [[fit]] with the forest size under which labels and hulls are
    * finished on the driver (0 forces the distributed path, in specs). */
  private[cluster] def fit(dataset: Dataset[_], localFinishEdges: Long): GeoscanModel = {
    val spark = dataset.sparkSession
    import spark.implicits._
    val eps = $(epsilon)

    val raw = dataset.select(
      col($(latitudeCol)).cast(DoubleType).as("lat"),
      col($(longitudeCol)).cast(DoubleType).as("lng"))

    val sampled =
      if ($(sampleMaxPerCell) > 0) Geoscan.capPerCell(raw, $(sampleMaxPerCell))
      else raw

    // localCheckpoint (not persist): pid assignment must be frozen. A cached
    // partition lost and recomputed could reshuffle row order and hand
    // different pids to branches that already consumed the old ones —
    // silent cross-wiring of edges. Checkpointing materializes the ids;
    // losing a checkpoint partition fails loudly instead.
    //
    // The same job observes the max |lat| that picks the finest resolution
    // whose 1-ring still covers epsilon — a fixed conservative latitude
    // would coarsen cells ~2× and quadruple candidate pairs (SURVEY §3.1
    // shuffle note). Empty / all-null input → empty model.
    val latRange = Observation()
    val pts = sampled.withColumn("pid", monotonically_increasing_id())
      .observe(latRange, max(abs($"lat")).as("maxAbsLat"))
      .localCheckpoint(true)
    val maxAbsLatOpt = Option(latRange.get("maxAbsLat")).map(_.asInstanceOf[Double])
    if (maxAbsLatOpt.isEmpty) {
      val empty = spark.emptyDataset[(Long, Seq[(Double, Double)])]
        .toDF("cluster", "hull")
      return copyValues(new GeoscanModel(uid, empty)).setParent(this)
    }
    val res = GeoCell.resolutionForEpsilon(eps, math.min(maxAbsLatOpt.get, 89.0))
    // every point is grouped under the widest cover in the data (the ring
    // count is non-decreasing in |lat|), so the group of a point's own cell
    // holds every point it can share an edge with
    val rings = GeoCell.coverRings(maxAbsLatOpt.get, eps, res)
    val mp = $(minPts)

    // a point without coordinates has no cell and no neighbor: noise, also
    // under minPts = 0
    val located = pts.where($"lat".isNotNull && $"lng".isNotNull)
      .select($"pid", $"lat", $"lng").as[(Long, Double, Double)]
    // one row per (cover cell, point), sorted by cell within each task. A
    // fixed partition count: the rows are few but the per-cell work is not,
    // and coalescing them into one task would serialize it
    val parts = spark.sparkContext.defaultParallelism
    def byCell(points: Dataset[(Long, Double, Double)]): Dataset[Geoscan.CoverRow] =
      points.flatMap { case (pid, lat, lng) =>
        val home = GeoCell.cellKey(lat, lng, res)
        GeoCell.ringKeys(home, rings).iterator.map(c => (c, pid, lat, lng, home))
      }.repartition(parts, $"_1").sortWithinPartitions($"_1")

    // step 1: degree filter (01_geofraud_clustering.py:28). minPts = 0
    // means every point is core, including points with no neighbor
    // (Dbscan/personalized parity).
    val core =
      if (mp == 0) located
      else byCell(located).mapPartitions(rows =>
        Geoscan.cellGroups(rows, eps, res).flatMap(_.corePoints(mp)))

    // step 2: per-cell spanning forests, each local set of own points
    // carrying the hull of those points (its step-3 input). A core point
    // with no core neighbor is its own set: its own single-point cluster
    // (the reference drops only the low-degree vertices,
    // 01_geofraud_clustering.py:28). The forest is checkpointed once and
    // counted in the same job
    val forestRows = Observation()
    val forest = byCell(core).mapPartitions(rows =>
      Geoscan.cellGroups(rows, eps, res).flatMap(_.spanningForest()))
      .toDF("src", "dst", "hull")
      .observe(forestRows, count(lit(1)).as("n"))
      .localCheckpoint(true)

    // step 3: hulls per component, merged from the partial hulls:
    // hull(A ∪ B) = hull(hull(A) ∪ hull(B)), and every core point is in
    // exactly one partial hull (the one of its own cell's set).
    val state =
      if (forestRows.get("n").asInstanceOf[Long] <= localFinishEdges) {
        // under the cap one collect finishes both steps on the driver: the
        // rows are bounded by the cap and their hull vertices by the core
        // points. Labels are the min pid per component, as in
        // ConnectedComponents; the state is a small local relation
        val rows = forest.as[Geoscan.ForestRow].collect()
        val label = ConnectedComponents.unionFind(rows.iterator.map(r => (r._1, r._2)))
        rows.filter(_._3.nonEmpty).groupMap(r => label(r._1))(_._3).toSeq
          .map { case (c, parts) => (c, Geoscan.mergeHulls(parts.iterator)) }
          .toDF("cluster", "hull")
      } else {
        // above it the forest's (src, dst) projection is labelled by star
        // contraction, and only the partial-hull rows meet the labels. Two
        // levels, so a giant component never collects all its partial
        // hulls into one task: a per-partition fold first, then the merge
        // per component sees only #partitions × O(hull) vertices
        val components = ConnectedComponents.run(forest.select($"src", $"dst"),
          localFinishEdges = localFinishEdges).toDF("src", "cluster")
        val merged = forest.where(size($"hull") > 0).select($"src", $"hull")
          .join(components, "src")
          .select($"cluster", $"hull").as[(Long, Seq[(Double, Double)])]
          .mapPartitions { it =>
            // incremental fold: memory is bounded by #components ×
            // (buffer cap + O(hull)), never the partition size. Collapsing
            // the buffer to its hull is lossless
            val acc = scala.collection.mutable.HashMap
              .empty[Long, scala.collection.mutable.ArrayBuffer[(Double, Double)]]
            it.foreach { case (c, hull) =>
              val buf = acc.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty)
              buf ++= hull
              if (buf.length >= 256) {
                val h = ConvexHull.hull(buf.toSeq)
                buf.clear()
                buf ++= h
              }
            }
            acc.iterator.map { case (c, buf) => (c, ConvexHull.hull(buf.toSeq)) }
          }
          .groupByKey(_._1)
          .mapGroups { (c, it) => (c, Geoscan.mergeHulls(it.map(_._2))) }
          .toDF("cluster", "hull")
          .persist(StorageLevel.MEMORY_AND_DISK)
        merged.count() // materialize the model state
        merged
      }

    val model = new GeoscanModel(uid, state)
    copyValues(model).setParent(this)
  }
}

object Geoscan {

  /** A point under one cell of its cover: (cell, pid, lat, lng, own cell). */
  private[cluster] type CoverRow = (Long, Long, Double, Double, Long)

  /** A row of a cell's spanning forest: (member, root, partial hull). */
  private[cluster] type ForestRow = (Long, Long, Seq[(Double, Double)])

  /** Cover rows sorted by cell → one [[CellGroup]] per cell, built one at a
    * time, so a task holds a single group in memory. */
  private[cluster] def cellGroups(rows: Iterator[CoverRow], eps: Double, res: Int)
      : Iterator[CellGroup] = {
    val it = rows.buffered
    new Iterator[CellGroup] {
      def hasNext: Boolean = it.hasNext
      def next(): CellGroup = {
        val cell = it.head._1
        val members = Array.newBuilder[CoverRow]
        while (it.hasNext && it.head._1 == cell) members += it.next()
        new CellGroup(cell, members.result(), eps, res)
      }
    }
  }

  /** One cell's group in [[Geoscan.fit]]: the rows (cell, pid, lat, lng,
    * own cell) of every point whose cover includes `cell`. The points whose
    * own cell it is are the group's own points; the group holds all of
    * their epsilon-neighbors. */
  private[cluster] final class CellGroup(
      cell: Long, members: Array[CoverRow], eps: Double, res: Int) {
    private val n = members.length
    private val pid = members.map(_._2)
    private val lat = members.map(_._3)
    private val lng = members.map(_._4)
    private val home = members.map(_._5)
    private val cosLat = lat.map(l => math.cos(math.toRadians(l)))
    private val rings = lat.map(GeoCell.coverRings(_, eps, res))
    // the distance is at least R·|Δlat| (radians): pairs whose latitudes
    // alone are farther apart than this (eps plus a rounding margin) are
    // no edge, and skip the trigonometry
    private val maxDLat = math.toDegrees(eps * (1 + 1e-9) / GeoCell.EarthRadiusMeters)
    private val own = (0 until n).filter(home(_) == cell)

    /** Members `m` and `q` share an edge: haversine ≤ eps, and the
      * larger pid's cell lies in the smaller pid's cover. */
    private def edge(m: Int, q: Int): Boolean =
      if (pid(m) < pid(q)) linked(m, q) else linked(q, m)

    private def linked(a: Int, b: Int): Boolean =
      math.abs(lat(b) - lat(a)) <= maxDLat &&
        GeoCell.withinRing(home(a), home(b), rings(a)) &&
        Haversine.meters(lat(a), lng(a), cosLat(a), lat(b), lng(b), cosLat(b)) <= eps

    /** Own points with at least `minPts` epsilon-neighbors, as
      * (pid, lat, lng). Counting stops at `minPts`. */
    def corePoints(minPts: Int): Iterator[(Long, Double, Double)] =
      own.iterator.filter { m =>
        var deg = 0
        var q = 0
        while (q < n && deg < minPts) {
          if (q != m && edge(m, q)) deg += 1
          q += 1
        }
        deg >= minPts
      }.map(m => (pid(m), lat(m), lng(m)))

    /** Union-find over the edges from each own point to larger pids, as
      * (member, root, no hull) per member joined to another, plus one
      * (root, root, hull) per local set of own points: the hull of that
      * set's own points, so that an isolated point still has a component
      * and every own point is in exactly one partial hull. A pair already
      * joined skips its haversine. */
    def spanningForest(): Iterator[ForestRow] = {
      val parent = Array.range(0, n)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      own.foreach { m =>
        var q = 0
        while (q < n) {
          if (pid(q) > pid(m)) {
            val rm = find(m)
            val rq = find(q)
            if (rm != rq && edge(m, q)) parent(math.max(rm, rq)) = math.min(rm, rq)
          }
          q += 1
        }
      }
      own.groupBy(find).iterator.map { case (r, ms) =>
        (pid(r), pid(r), ConvexHull.hull(ms.map(m => (lat(m), lng(m)))))
      } ++ (0 until n).iterator.filter(q => find(q) != q)
        .map(q => (pid(q), pid(find(q)), Seq.empty[(Double, Double)]))
    }
  }

  /** Hull of the union of `hulls`: hull(A ∪ B) = hull(hull(A) ∪ hull(B)). */
  private[cluster] def mergeHulls(hulls: Iterator[Seq[(Double, Double)]]): Seq[(Double, Double)] =
    ConvexHull.hull(hulls.flatten.toSeq)

  /** Deterministic per-cell cap: rank points inside each ~30 m (res 11) cell
    * by a stable key and keep the first `max` — the reference's sampling UDF
    * (`01_geofraud_clustering.py:178-191`) without the nondeterminism. */
  private[cluster] def capPerCell(df: DataFrame, max: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cell = GeoFunctions.geoCell(col("lat"), col("lng"), 11)
    val w = Window.partitionBy(cell).orderBy(col("lat"), col("lng"))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= max).drop("__rn")
  }
}

/** Fitted distributed model — surface parity with the reference `GeoscanModel`
  * (`01_geofraud_clustering.py:216-222,143,254-260,360-364`): `transform`
  * adds a nullable cluster label, `toGeoJson` emits RFC 7946,
  * `getTiles(precision, layers)` emits the cell cover, `save/load` round-trip.
  *
  * Inference is the reference's tiling join — no point-in-polygon: clusters
  * are tiled at `tilePrecision` (+`tileLayers` ring slack) and the input is
  * equi-joined on the cell id (`01_geofraud_clustering.py:210,360-364`). */
class GeoscanModel private[cluster] (
    override val uid: String,
    private[cluster] val state: DataFrame)
  extends Model[GeoscanModel] with GeoscanParams with TileParams with MLWritable {

  override def copy(extra: ParamMap): GeoscanModel =
    copyValues(new GeoscanModel(uid, state), extra).setParent(parent)

  override def transformSchema(schema: StructType): StructType = validateInput(schema)

  /** Cluster cover as (cluster, h3) — `getTiles(precision, layers)`
    * (`01_geofraud_clustering.py:360-364`). The column keeps the reference's
    * `h3` name for drop-in parity (ids are this engine's grid cells,
    * SURVEY §7.3). One label per cell (min cluster id) so downstream joins
    * never fan out. */
  def getTiles(precision: Int, layers: Int): DataFrame =
    getTiles(precision, layers, TileGrid.GeoCell)

  /** [[getTiles]] on an explicit grid: `"geocell"` (engine grid, default)
    * or `"h3"` — REAL H3 ids ([[graft.geo.H3.polygonCells]]), closing the
    * produce side of reference interop: the reference's own tiles tables
    * carry H3 ids, and a model fitted here can now emit one they join. */
  def getTiles(precision: Int, layers: Int, grid: String): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    // validate eagerly (refusals at plan build, not in a task); capture
    // the string, not the model, in the task closure
    val g = TileGrid.validate(grid)
    state.as[(Long, Seq[(Double, Double)])]
      .flatMap { case (c, hull) =>
        TileGrid.cells(g)(hull, precision, layers).map((c, _)) }
      .toDF("cluster", "h3")
      .groupBy("h3").agg(min("cluster").as("cluster"))
      .select("cluster", "h3")
  }

  @transient private lazy val tileCache =
    new TileCache((p, l, g) => getTiles(p, l, g))

  /** Memoized, persisted tile cover — the frame [[transform]] joins against.
    * Use this instead of [[getTiles]] when the cover is also needed outside
    * transform (e.g. persisted to a table): the tiling pipeline then runs
    * once, not once per consumer. Grid follows the `tileGrid` param. */
  def cachedTiles(precision: Int, layers: Int): DataFrame =
    tileCache(precision, layers, $(tileGrid))._1

  override def transform(dataset: Dataset[_]): DataFrame = {
    val prec = $(tilePrecision)
    val (tilesRaw, nTiles) = tileCache(prec, $(tileLayers), $(tileGrid))
    val in = dataset.toDF()
    // UNIQUE helper names (uid-suffixed): the caller may legitimately own
    // an `h3` — or a `__cell`/`__tile_cluster` — column, and a fixed
    // helper name would silently destroy it through the drop below (the
    // same collision class the h3 rename has always guarded)
    val cellCol = s"__cell_$uid"
    val tileClusterCol = s"__tile_cluster_$uid"
    val tileH3Col = s"__tile_h3_$uid"
    val tiles = tilesRaw.select(col("cluster").as(tileClusterCol), col("h3").as(tileH3Col))
    val tilesSide = if (nTiles <= TileCache.BroadcastMaxRows) broadcast(tiles) else tiles
    // the reference's transform (re)defines the prediction column — drop a
    // pre-existing one instead of producing an ambiguous duplicate
    val base = if (in.columns.contains($(predictionCol))) in.drop($(predictionCol)) else in
    base
      .withColumn(cellCol, TileGrid.cellCol($(tileGrid),
        col($(latitudeCol)).cast(DoubleType), col($(longitudeCol)).cast(DoubleType), prec))
      .join(tilesSide, col(cellCol) === tilesSide(tileH3Col), "left_outer")
      .drop(tileH3Col, cellCol)
      .withColumnRenamed(tileClusterCol, $(predictionCol))
  }

  /** RFC 7946 FeatureCollection of cluster hulls (`01_geofraud_clustering.py:143`). */
  def toGeoJson(): String = {
    val spark = state.sparkSession
    import spark.implicits._
    val clusters = state.as[(Long, Seq[(Double, Double)])]
      .collect().sortBy(_._1)
      .map { case (c, hull) => (c.toString, hull) }
    GeoJson.featureCollection(clusters.toSeq)
  }

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = state.sparkSession
      GeoscanIO.saveParams(spark, path, Map(
        "class" -> "graft.cluster.GeoscanModel", "uid" -> uid,
        "latitudeCol" -> $(latitudeCol), "longitudeCol" -> $(longitudeCol),
        "predictionCol" -> $(predictionCol), "epsilon" -> $(epsilon).toString,
        "minPts" -> $(minPts).toString, "tilePrecision" -> $(tilePrecision).toString,
        "tileLayers" -> $(tileLayers).toString, "tileGrid" -> $(tileGrid)))
      state.write.mode("overwrite").parquet(s"$path/data")
    }
  }
}

object GeoscanModel extends MLReadable[GeoscanModel] {
  override def read: MLReader[GeoscanModel] = new MLReader[GeoscanModel] {
    override def load(path: String): GeoscanModel = {
      val spark = SparkSession.active
      val p = GeoscanIO.loadParams(spark, path)
      val state = spark.read.parquet(s"$path/data")
      val m = new GeoscanModel(p("uid"), state)
      m.setLatitudeCol(p("latitudeCol")).setLongitudeCol(p("longitudeCol"))
        .setPredictionCol(p("predictionCol")).setEpsilon(p("epsilon").toDouble)
        .setMinPts(p("minPts").toInt)
        .setTilePrecision(p("tilePrecision").toInt).setTileLayers(p("tileLayers").toInt)
        .setTileGrid(p.getOrElse("tileGrid", TileGrid.GeoCell)) // pre-r18 sidecars lack it
    }
  }
}
