package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.geo.GeoCell

/** Spark bindings for the geo core (SURVEY §7.1 module 2; reference surface:
  * `to_h3` at `utils/spark_utils.py:6-9`, haversine at
  * `01_geofraud_clustering.py:20`).
  *
  * The point → cell functions (`geoCell`, `geoToH3`) build the native
  * codegen expressions in `graft.plans`; the index and distance helpers are
  * composed from built-in expressions. Either way no UDF runs on the hot
  * path and the work stays inside WholeStageCodegen. Ring expansion
  * (array-returning) is a UDF.
  */
object GeoFunctions {

  /** Point → uppercase-hex cell id at `res` — the native
    * [[graft.plans.GeoCellExpression]] (`GeoCell.cellId` per row). `res`
    * is checked here, when the column is built, not inside a task. */
  def geoCell(lat: Column, lng: Column, res: Int): Column = {
    require(res >= GeoCell.MinResolution && res <= GeoCell.MaxResolution,
      s"geo cell resolution $res out of [${GeoCell.MinResolution}, ${GeoCell.MaxResolution}]")
    ColumnBridge.column(graft.plans.GeoCellExpression(
      ColumnBridge.expression(lat), ColumnBridge.expression(lng), Literal(res)))
  }

  /** Clamped latitude row index at `res` — built-ins only, spelled
    * operand-for-operand like `Tables.latIdxSql` (cast-to-long before the
    * clamp) so index values hash-match the oracle. */
  def latIndexCol(lat: Column, res: Int): Column = {
    val step = GeoCell.stepDegrees(res)
    val rows = 1L << (res + 8)
    least(greatest(floor((lat + lit(90.0)) / lit(step)).cast("long"), lit(0L)), lit(rows - 1))
  }

  /** REAL H3 id column (uppercased, the reference's `to_h3` surface) —
    * the native codegen [[graft.plans.GeoToH3Expression]] as a Column,
    * for callers joining against tiles the real geoscan library wrote.
    * No DuckDB oracle exists for H3, so queries built on this carry
    * constant-law or vector oracles (q282/q283) instead of replays. */
  def geoToH3(lat: Column, lng: Column, res: Int): Column =
    ColumnBridge.column(graft.plans.GeoToH3Expression(
      ColumnBridge.expression(lat.cast("double")),
      ColumnBridge.expression(lng.cast("double")), Literal(res)))

  /** Wrapped longitude column index at `res` — `Tables.lngIdxSql` twin. */
  def lngIndexCol(lng: Column, res: Int): Column = {
    val step = GeoCell.stepDegrees(res)
    val cols = 1L << (res + 9)
    pmod(floor((lng + lit(180.0)) / lit(step)).cast("long"), lit(cols))
  }

  /** Great-circle meters between two points — built-ins only, bit-identical
    * to `Haversine.meters` (same operation order). */
  def haversineMeters(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLng = radians(lng2 - lng1)
    val a = sin(dLat / 2) * sin(dLat / 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLng / 2) * sin(dLng / 2)
    lit(2.0 * GeoCell.EarthRadiusMeters) * asin(least(lit(1.0), sqrt(a)))
  }

  /** All cells within Chebyshev distance `k` (the reference's `layers`
    * expansion) as an array column. UDF (array-returning, off hot path). */
  def cellRing(cell: Column, k: Int): Column = ringUdf(cell, lit(k))

  private val ringUdf = udf((cell: String, k: Int) => GeoCell.ring(cell, k))
}
