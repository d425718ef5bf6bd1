package graft.geo

/** Great-circle distance — the GEOSCAN edge predicate
  * (`01_geofraud_clustering.py:20`: pairwise haversine within cell groups,
  * compared against `epsilon` meters). */
object Haversine {

  /** Distance in meters between two (lat, lng) points, IUGG mean radius. */
  def meters(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    meters(lat1, lng1, math.cos(math.toRadians(lat1)), lat2, lng2, math.cos(math.toRadians(lat2)))

  /** [[meters]] with each point's `cos(toRadians(lat))` given, for callers
    * that measure one point against many — the same value, bit for bit. */
  def meters(lat1: Double, lng1: Double, cosLat1: Double,
             lat2: Double, lng2: Double, cosLat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLng = math.toRadians(lng2 - lng1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      cosLat1 * cosLat2 * math.sin(dLng / 2) * math.sin(dLng / 2)
    2.0 * GeoCell.EarthRadiusMeters * math.asin(math.min(1.0, math.sqrt(a)))
  }
}
