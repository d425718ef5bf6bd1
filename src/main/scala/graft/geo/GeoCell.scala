package graft.geo

/** Hierarchical square geo-cell index (geohash-style, aperture-4).
  *
  * Re-implements the *capability* of the reference's H3 usage
  * (`utils/spark_utils.py:6-9`, `01_geofraud_clustering.py:20-24`) without the
  * icosahedral hex grid: (i) point→cell at a resolution, (ii) k-ring
  * expansion, (iii) polygon fill, (iv) the GEOSCAN guarantee that two points
  * within `epsilon` meters share at least one cell after 1-ring tiling.
  *
  * A cell at resolution `r` is a `180/2^(r+8)` degree square; resolution 9 is
  * ~152 m, 10 is ~76 m, 11 is ~38 m — sized to mirror H3's res table as used
  * by the reference (`01_geofraud_clustering.py:84,177`: res 9 ≈ 150 m,
  * res 11 ≈ 30 m).
  *
  * Ids are uppercase hex strings (surface parity with the reference's
  * uppercased H3 ids, `utils/spark_utils.py:9`): one hex digit of resolution,
  * then 7 hex digits each of the latitude and longitude indices:
  * `"%X%07X%07X".format(res, i, j)`. The encoding is deliberately simple
  * enough to reproduce in ANSI SQL (`printf('%X%07X%07X', …)`) so every cell
  * operator has an exact DuckDB oracle.
  *
  * The same 60 bits as a `Long` are the numeric cell key ([[cellKey]]): the
  * resolution in bits 56-59, the row index in bits 28-55, the column index
  * in bits 0-27, so `idOf(key)` is the id's 15 hex digits. The cover and
  * ring math works on keys; the string operators are spelled through it.
  */
object GeoCell {

  /** Mean-earth radius (IUGG), meters. */
  val EarthRadiusMeters: Double = 6371008.8

  /** Meters per degree of latitude (2πR/360). */
  val MetersPerDegreeLat: Double = 2.0 * math.Pi * EarthRadiusMeters / 360.0

  val MinResolution = 0
  val MaxResolution = 15

  /** Cell edge length in degrees at `res`. Exact binary double (180/2^k). */
  def stepDegrees(res: Int): Double = 180.0 / (1L << (res + 8)).toDouble

  /** Cell edge length in meters along a meridian at `res`. */
  def stepMetersLat(res: Int): Double = stepDegrees(res) * MetersPerDegreeLat

  private def checkRes(res: Int): Unit =
    require(res >= MinResolution && res <= MaxResolution, s"resolution $res out of [0,15]")

  /** Latitude row index at `res` (0-based from the south pole). */
  def latIndex(lat: Double, res: Int): Long = {
    val i = math.floor((lat + 90.0) / stepDegrees(res)).toLong
    // clamp the degenerate lat=+90 edge into the last row
    math.min(math.max(i, 0L), (1L << (res + 8)) - 1)
  }

  /** Longitude column index at `res` (0-based from the antimeridian). */
  def lngIndex(lng: Double, res: Int): Long = {
    val cols = 1L << (res + 9)
    val j = math.floor((lng + 180.0) / stepDegrees(res)).toLong
    // wrap lng=+180 onto column 0
    ((j % cols) + cols) % cols
  }

  /** Numeric key of cell (`res`, `i`, `j`); see the object doc. */
  private def key(res: Int, i: Long, j: Long): Long = (res.toLong << 56) | (i << 28) | j

  private val IndexMask = (1L << 28) - 1
  private def keyRes(key: Long): Int = (key >>> 56).toInt
  private def keyRow(key: Long): Long = (key >>> 28) & IndexMask
  private def keyCol(key: Long): Long = key & IndexMask

  /** Point → numeric cell key (the id of [[cellId]] as a `Long`). */
  def cellKey(lat: Double, lng: Double, res: Int): Long = {
    checkRes(res)
    key(res, latIndex(lat, res), lngIndex(lng, res))
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /** Key → 15-digit uppercase-hex id: fixed-width, equal to
    * `"%X%07X%07X".format(res, i, j)` without the formatter. */
  def idOf(key: Long): String = {
    val out = new Array[Char](15)
    var k = key
    var p = 14
    while (p >= 0) {
      out(p) = HexDigits((k & 0xF).toInt)
      k >>>= 4
      p -= 1
    }
    new String(out)
  }

  /** Point → uppercase-hex cell id. The system's hottest function (reference
    * `to_h3`, `utils/spark_utils.py:6-9`). */
  def cellId(lat: Double, lng: Double, res: Int): String = idOf(cellKey(lat, lng, res))

  /** Parse a cell id back into (res, i, j). */
  def parse(id: String): (Int, Long, Long) = {
    require(id.length == 15, s"bad cell id '$id'")
    val res = Integer.parseInt(id.substring(0, 1), 16)
    val i = java.lang.Long.parseLong(id.substring(1, 8), 16)
    val j = java.lang.Long.parseLong(id.substring(8, 15), 16)
    (res, i, j)
  }

  private def encode(res: Int, i: Long, j: Long): String = idOf(key(res, i, j))

  /** Center of a cell as (lat, lng). */
  def center(id: String): (Double, Double) = {
    val (res, i, j) = parse(id)
    val s = stepDegrees(res)
    ((i + 0.5) * s - 90.0, (j + 0.5) * s - 180.0)
  }

  /** All cells within Chebyshev distance `k` of `id` (the (2k+1)² block,
    * including `id` itself) — the reference's `layers` ring expansion
    * (`01_geofraud_clustering.py:360-364`). Longitude wraps; latitude clips
    * at the poles. */
  def ring(id: String, k: Int): Seq[String] = {
    val (res, i, j) = parse(id)
    ringKeys(key(res, i, j), k).toSeq.map(idOf)
  }

  /** [[ring]] on numeric keys, row-major from the south-west corner. Each
    * cell appears once: a ring wider than the globe's column count wraps
    * onto every column exactly once. */
  def ringKeys(center: Long, k: Int): Array[Long] = {
    require(k >= 0, s"negative ring $k")
    val res = keyRes(center)
    val i = keyRow(center)
    val j = keyCol(center)
    val rows = 1L << (res + 8)
    val cols = 1L << (res + 9)
    val i0 = math.max(i - k, 0L)
    val i1 = math.min(i + k, rows - 1)
    val span = math.min(2L * k + 1, cols).toInt
    // no rows when a parsed id's row lies past its resolution's last one
    val out = new Array[Long](math.max(i1 - i0 + 1, 0L).toInt * span)
    var n = 0
    var ii = i0
    while (ii <= i1) {
      var d = 0
      while (d < span) {
        out(n) = key(res, ii, (((j - k + d) % cols) + cols) % cols)
        n += 1
        d += 1
      }
      ii += 1
    }
    out
  }

  /** True iff cell `b` lies in `ringKeys(a, k)` (both at one resolution):
    * rows at most `k` apart, columns at most `k` apart around the globe. */
  def withinRing(a: Long, b: Long, k: Int): Boolean = {
    val cols = 1L << (keyRes(a) + 9)
    val dj = (((keyCol(b) - keyCol(a)) % cols) + cols) % cols
    math.abs(keyRow(b) - keyRow(a)) <= k && (dj <= k || cols - dj <= k)
  }

  /** Ring count of the epsilon-disc cover at `lat`: enough rings that any
    * point within `epsilonMeters` shares ≥1 cell — the GEOSCAN grouping
    * guarantee (`01_geofraud_clustering.py:20`). Non-decreasing in |lat|. */
  def coverRings(lat: Double, epsilonMeters: Double, res: Int): Int = {
    val latMeters = stepMetersLat(res)
    // TRUE cos up to |lat| = 89.9° (the old 0.01 floor silently broke the
    // coverage guarantee above ~89.43°: cells narrower than assumed, two
    // points epsilon apart missing each other's ring). The 89.9° clamp
    // bounds the ring count at the pole itself — beyond it coverage
    // degrades BY DESIGN (documented), not silently at 89.5°.
    val lngMeters = latMeters *
      math.cos(math.toRadians(math.min(math.abs(lat), 89.9)))
    math.max(
      math.ceil(epsilonMeters / latMeters),
      math.ceil(epsilonMeters / lngMeters)).toInt
  }

  /** Keys of the cells covering an epsilon-disc around a point: the point's
    * cell ringed by [[coverRings]]. The single source of the cover. */
  def coverKeys(lat: Double, lng: Double, epsilonMeters: Double, res: Int): Array[Long] =
    ringKeys(cellKey(lat, lng, res), coverRings(lat, epsilonMeters, res))

  /** [[coverKeys]] as cell ids. */
  def coverDisc(lat: Double, lng: Double, epsilonMeters: Double, res: Int): Seq[String] =
    coverKeys(lat, lng, epsilonMeters, res).toSeq.map(idOf)

  /** Coarsest resolution whose cell edge (in the shorter, longitude
    * direction at `maxAbsLat`) still exceeds `epsilonMeters`, so that a
    * 1-ring expansion captures all epsilon-neighbors. */
  def resolutionForEpsilon(epsilonMeters: Double, maxAbsLat: Double = 66.0): Int = {
    require(epsilonMeters > 0, "epsilon must be positive")
    val cosLat = math.cos(math.toRadians(math.min(maxAbsLat, 89.0)))
    var res = MaxResolution
    while (res > MinResolution && stepMetersLat(res) * cosLat < epsilonMeters) res -= 1
    res
  }

  /** Cells covering a polygon (lat,lng vertex list): every cell in the
    * bounding box whose center lies inside the polygon, plus the cells of the
    * vertices themselves (so degenerate/small polygons still map to ≥1 cell),
    * then expanded by `layers` rings — the reference's
    * `getTiles(precision, layers)` (`01_geofraud_clustering.py:360-364`). */
  def polygonCells(vertices: Seq[(Double, Double)], res: Int, layers: Int): Seq[String] = {
    if (vertices.isEmpty) return Nil
    checkRes(res)
    val s = stepDegrees(res)
    val lats = vertices.map(_._1)
    val lngs = vertices.map(_._2)
    val i0 = latIndex(lats.min, res)
    val i1 = latIndex(lats.max, res)
    // UNWRAPPED bbox column range: lngIndex wraps +180 to column 0, which
    // would make j1 < j0 for a polygon touching the antimeridian vertex
    // and silently empty the interior loop — clamp instead (crossing
    // polygons remain out of scope, a single lng=180 vertex is legal)
    val cols = 1L << (res + 9)
    def jRaw(lng: Double): Long =
      math.min(math.max(((lng + 180.0) / s).toLong, 0L), cols - 1)
    val j0 = jRaw(lngs.min)
    val j1 = jRaw(lngs.max)
    val inside = for {
      i <- i0 to i1
      j <- j0 to j1 // no antimeridian-crossing polygons in scope (NYC data)
      cLat = (i + 0.5) * s - 90.0
      cLng = (j + 0.5) * s - 180.0
      if pointInPolygon(cLat, cLng, vertices)
    } yield encode(res, i, j)
    val vertexCells = vertices.map { case (la, ln) => cellId(la, ln, res) }
    val base = (inside ++ vertexCells).distinct
    if (layers <= 0) base
    else base.flatMap(ring(_, layers)).distinct
  }

  /** Ray-casting point-in-polygon on (lat, lng) treated as planar (valid at
    * city scale, matching the reference's tiling of local convex hulls). */
  def pointInPolygon(lat: Double, lng: Double, poly: Seq[(Double, Double)]): Boolean = {
    if (poly.length < 3) return false
    var inside = false
    var k = poly.length - 1
    var m = 0
    while (m < poly.length) {
      val (latM, lngM) = poly(m)
      val (latK, lngK) = poly(k)
      if (((latM > lat) != (latK > lat)) &&
          (lng < (lngK - lngM) * (lat - latM) / (latK - latM) + lngM)) {
        inside = !inside
      }
      k = m
      m += 1
    }
    inside
  }
}
