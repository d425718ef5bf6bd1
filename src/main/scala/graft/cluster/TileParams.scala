package graft.cluster

import org.apache.spark.ml.param.{IntParam, Params, ParamValidators}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.functions.TileGrid

/** Tiling knobs shared by both fitted models — the reference's
  * `getTiles(precision, layers)` surface (`01_geofraud_clustering.py:360-364`). */
private[cluster] trait TileParams extends Params {
  final val tilePrecision = new IntParam(this, "tilePrecision",
    "cell resolution used by transform", ParamValidators.inRange(0, 15))
  final val tileLayers = new IntParam(this, "tileLayers",
    "extra cell rings around clusters at transform", ParamValidators.gtEq(0))
  /** Tile-id grid `transform` scores on: the engine's `geocell`
    * (default, oracle-replayable) or real `h3` — a model fitted for the
    * reference's own id space then serves IN-SPARK through the same
    * `transform` call, no manual q283-style join. */
  final val tileGrid = new org.apache.spark.ml.param.Param[String](this,
    "tileGrid", "tile id grid used by transform (geocell | h3)",
    (v: String) => v == TileGrid.GeoCell || v == TileGrid.H3)
  setDefault(tilePrecision -> 10, tileLayers -> 0,
    tileGrid -> TileGrid.GeoCell)
  def setTilePrecision(v: Int): this.type = set(tilePrecision, v)
  def setTileLayers(v: Int): this.type = set(tileLayers, v)
  /** Normalizes case and refuses unknown grids eagerly. */
  def setTileGrid(v: String): this.type = set(tileGrid, TileGrid.validate(v))
}

/** Memoized materialized tile cover per (precision, layers): repeated
  * transform calls (batch loops, per-microbatch scoring) must not rebuild
  * and reshuffle the tile table every time. Also measures the actual tile
  * count — the broadcast decision input (cluster count is the wrong proxy:
  * a handful of clusters can tile to millions of cells at fine precision). */
private[cluster] final class TileCache(build: (Int, Int, String) => DataFrame)
    extends Serializable {
  @transient private var cached: Option[(Int, Int, String, DataFrame, Long)] = None

  def apply(prec: Int, layers: Int, grid: String): (DataFrame, Long) = synchronized {
    cached match {
      case Some((p, l, g, df, n)) if p == prec && l == layers && g == grid =>
        (df, n)
      case _ =>
        cached.foreach(_._4.unpersist())
        val df = build(prec, layers, grid).persist(StorageLevel.MEMORY_AND_DISK)
        val n = df.count()
        cached = Some((prec, layers, grid, df, n))
        (df, n)
    }
  }
}

private[cluster] object TileCache {
  /** Tile tables at or below this row count broadcast at transform. */
  val BroadcastMaxRows: Long = 1000000L
}
