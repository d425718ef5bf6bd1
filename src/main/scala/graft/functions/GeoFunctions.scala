package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{GeoCell, Haversine}

/** Spark bindings for the geo core (SURVEY §7.1 module 2; reference surface:
  * `to_h3` at `utils/spark_utils.py:6-9`, haversine at
  * `01_geofraud_clustering.py:20`).
  *
  * The hot-path functions (`geoCell`, `haversineMeters`) are composed from
  * built-in codegen'd expressions — no UDF, no Python-worker hop, stays
  * inside WholeStageCodegen. UDF variants are registered for SQL callers and
  * for ring expansion (array-returning).
  */
object GeoFunctions {

  /** Point → uppercase-hex cell id at `res` — built-ins only.
    * Mirrors `GeoCell.cellId` exactly (same doubles, same floor). */
  def geoCell(lat: Column, lng: Column, res: Int): Column = {
    val step = GeoCell.stepDegrees(res)
    val rows = 1L << (res + 8)
    val cols = 1L << (res + 9)
    val i = least(greatest(floor((lat + lit(90.0)) / lit(step)), lit(0L)), lit(rows - 1))
    val j = pmod(floor((lng + lit(180.0)) / lit(step)).cast("long"), lit(cols))
    format_string("%X%07X%07X", lit(res), i.cast("long"), j)
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
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.GeoToH3Expression(
        org.apache.spark.sql.graft.ColumnBridge.expression(lat.cast("double")),
        org.apache.spark.sql.graft.ColumnBridge.expression(lng.cast("double")),
        org.apache.spark.sql.catalyst.expressions.Literal(res)))

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

  private val coverDiscUdf = udf((lat: Double, lng: Double, eps: Double, res: Int) =>
    GeoCell.coverDisc(lat, lng, eps, res))

  private val cellUdf = udf((lat: Double, lng: Double, res: Int) =>
    GeoCell.cellId(lat, lng, res))

  private val haversineUdf = udf((lat1: Double, lng1: Double, lat2: Double, lng2: Double) =>
    Haversine.meters(lat1, lng1, lat2, lng2))

  /** SQL-callable registrations: `geo_cell`, `cell_ring`, `haversine_m`,
    * `cover_disc` (parity with the reference registering `to_h3` for SQL). */
  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("geo_cell", cellUdf)
    spark.udf.register("cell_ring", ringUdf)
    spark.udf.register("haversine_m", haversineUdf)
    spark.udf.register("cover_disc", coverDiscUdf)
  }
}
