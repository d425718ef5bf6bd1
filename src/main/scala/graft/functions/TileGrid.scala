package graft.functions

import org.apache.spark.sql.Column

/** The tile-id grids and their one validator: the engine's own
  * [[graft.geo.GeoCell]] (oracle-replayable, the default; alias `"engine"`)
  * or REAL H3, the id space of the reference's own tiles tables
  * (`01_geofraud_clustering.py:360-364`). Tiling, anomaly joins and bloom
  * probes must agree on one grid: a mismatch silently flags everything. */
private[graft] object TileGrid {
  val GeoCell = "geocell"
  val H3 = "h3"
  val Auto = "auto" // sniffed from the tile ids, where a caller allows it

  /** Normalized grid name; unknown grids refuse EAGERLY (at plan-build
    * time, not in a task) with every supported name. */
  def validate(grid: String, auto: Boolean = false): String =
    grid.toLowerCase(java.util.Locale.ROOT) match {
      case g @ (GeoCell | H3) => g
      case "engine" => GeoCell
      case Auto if auto => Auto
      case other => throw new IllegalArgumentException(
        s"unknown tile grid '$other' — supported: " +
          (if (auto) s"'$Auto' (sniffed from the ids), " else "") +
          s"'$GeoCell' (engine grid, alias 'engine', default), '$H3' (real H3 ids)")
    }

  /** The grid's name in exported serving artifacts: `engine` or `h3`. */
  def exportName(grid: String): String = if (validate(grid) == H3) H3 else "engine"

  /** Point → tile-id column on the grid. */
  def cellCol(grid: String, lat: Column, lng: Column, precision: Int): Column =
    if (validate(grid) == H3) GeoFunctions.geoToH3(lat, lng, precision)
    else GeoFunctions.geoCell(lat, lng, precision)

  /** (hull, precision, layers) → cell ids on the grid. */
  def cells(grid: String)(hull: Seq[(Double, Double)], precision: Int,
                          layers: Int): Seq[String] =
    if (validate(grid) == H3) graft.geo.H3.polygonCells(hull, precision, layers)
    else graft.geo.GeoCell.polygonCells(hull, precision, layers)
}
