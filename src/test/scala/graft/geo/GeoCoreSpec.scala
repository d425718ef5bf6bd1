package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Unit + property-style tests for the pure-Scala geo core (SURVEY §5.2-5.3).
  * Properties use seeded `scala.util.Random` (the scalatest/scalacheck bridge
  * artifact is not on the offline classpath). */
class GeoCoreSpec extends AnyFunSuite {

  private def rng = new Random(42)

  test("cellId format: 15 uppercase hex chars, res prefix") {
    val id = GeoCell.cellId(40.7128, -74.0060, 10)
    assert(id.length == 15)
    assert(id.matches("[0-9A-F]{15}"))
    assert(id.startsWith("A")) // res 10
  }

  test("cellId round-trips through parse/center (property)") {
    val r = rng
    (1 to 500).foreach { _ =>
      val lat = r.nextDouble() * 170 - 85
      val lng = r.nextDouble() * 359.8 - 179.9
      val res = r.nextInt(16)
      val id = GeoCell.cellId(lat, lng, res)
      val (r2, _, _) = GeoCell.parse(id)
      assert(r2 == res)
      val (cLat, cLng) = GeoCell.center(id)
      val s = GeoCell.stepDegrees(res)
      assert(math.abs(cLat - lat) <= s)
      assert(math.abs(cLng - lng) <= s)
      assert(GeoCell.cellId(cLat, cLng, res) == id)
    }
  }

  test("cellId equals String.format(\"%X%07X%07X\") at every resolution, poles and lng ±180 included") {
    val r = rng
    val edges = for {
      lat <- Seq(-90.0, -89.9999999, -45.0, 0.0, 45.0, 89.9999999, 90.0)
      lng <- Seq(-180.0, -179.9999999, -0.0, 0.0, 179.9999999, 180.0)
    } yield (lat, lng)
    val pts = edges ++ Seq.fill(300)((r.nextDouble() * 180 - 90, r.nextDouble() * 360 - 180))
    (GeoCell.MinResolution to GeoCell.MaxResolution).foreach { res =>
      pts.foreach { case (lat, lng) =>
        val want = String.format("%X%07X%07X", Int.box(res),
          Long.box(GeoCell.latIndex(lat, res)), Long.box(GeoCell.lngIndex(lng, res)))
        assert(GeoCell.cellId(lat, lng, res) == want, s"($lat, $lng) at res $res")
        assert(GeoCell.idOf(GeoCell.cellKey(lat, lng, res)) == want)
      }
    }
  }

  test("ringKeys is the ring's cells in order; withinRing is its membership (property)") {
    val r = rng
    (1 to 300).foreach { _ =>
      val res = r.nextInt(16)
      // half the cells near a pole or the antimeridian, where rows clip
      // and columns wrap
      def near(edge: Double) = (if (r.nextBoolean()) 1 else -1) * (edge - r.nextDouble() * 0.01)
      val lat = if (r.nextBoolean()) r.nextDouble() * 180 - 90 else near(90)
      val lng = if (r.nextBoolean()) r.nextDouble() * 360 - 180 else near(180)
      val k = r.nextInt(4)
      val id = GeoCell.cellId(lat, lng, res)
      val (_, i, j) = GeoCell.parse(id)
      val rows = 1L << (res + 8)
      val cols = 1L << (res + 9)
      val expected = for {
        di <- -k to k
        ii = i + di
        if ii >= 0 && ii < rows
        dj <- -k to k
      } yield String.format("%X%07X%07X", Int.box(res), Long.box(ii),
        Long.box((((j + dj) % cols) + cols) % cols))
      assert(GeoCell.ring(id, k) == expected, s"$id k=$k")
      val center = GeoCell.cellKey(lat, lng, res)
      val block = GeoCell.ringKeys(center, k + 1)
      block.foreach { b =>
        assert(GeoCell.withinRing(center, b, k) == expected.contains(GeoCell.idOf(b)), s"$id k=$k")
      }
    }
    // a parsed id whose row lies past its resolution's last row has no ring
    assert(GeoCell.ring("0FFFFFFF0000000", 1).isEmpty)
    // a ring wider than the globe visits every column once
    val all = GeoCell.ringKeys(GeoCell.cellKey(0.0, 0.0, 0), 300)
    assert(all.length == all.distinct.length && all.length == 256 * 512)
  }

  test("resolution sizes mirror the reference's H3 res table (~150m res9, ~38m res11)") {
    assert(GeoCell.stepMetersLat(9) > 100 && GeoCell.stepMetersLat(9) < 200)
    assert(GeoCell.stepMetersLat(11) > 25 && GeoCell.stepMetersLat(11) < 50)
  }

  test("ring(id, 1) has 9 distinct cells away from poles and contains id") {
    val id = GeoCell.cellId(40.7, -74.0, 10)
    val r = GeoCell.ring(id, 1)
    assert(r.length == 9)
    assert(r.contains(id))
    assert(r.distinct.length == 9)
  }

  test("ring(id, 0) is just the cell") {
    val id = GeoCell.cellId(40.7, -74.0, 9)
    assert(GeoCell.ring(id, 0) == Seq(id))
  }

  test("ring wraps longitude at the antimeridian") {
    val id = GeoCell.cellId(0.0, 179.999, 5)
    val r = GeoCell.ring(id, 1)
    assert(r.length == 9)
    assert(r.distinct.length == 9)
  }

  test("GEOSCAN guarantee: epsilon-neighbors share a cell after disc cover (property)") {
    // 01_geofraud_clustering.py:20 — "2 points being at a distance of
    // epsilon away would be sharing at least 1 polygon"
    val eps = 100.0
    val r = rng
    val res = GeoCell.resolutionForEpsilon(eps)
    (1 to 500).foreach { _ =>
      val lat = r.nextDouble() * 120 - 60
      val lng = r.nextDouble() * 359.8 - 179.9
      val dMeters = eps * r.nextDouble()
      val theta = r.nextDouble() * 2 * math.Pi
      val dLat = dMeters * math.cos(theta) / GeoCell.MetersPerDegreeLat
      val dLng = dMeters * math.sin(theta) /
        (GeoCell.MetersPerDegreeLat * math.cos(math.toRadians(lat)))
      val (lat2, lng2) = (lat + dLat, lng + dLng)
      val cover = GeoCell.coverDisc(lat, lng, eps, res).toSet
      assert(cover.contains(GeoCell.cellId(lat2, lng2, res)),
        s"neighbor at $dMeters m of ($lat,$lng) not covered")
    }
  }

  test("haversine against known city pairs") {
    // JFK to LGA: ~17.3 km; Paris to London: ~343.5 km
    val jfkLga = Haversine.meters(40.6413, -73.7781, 40.7769, -73.8740)
    assert(jfkLga > 16000 && jfkLga < 19000)
    val parLon = Haversine.meters(48.8566, 2.3522, 51.5074, -0.1278)
    assert(parLon > 330000 && parLon < 350000)
    assert(Haversine.meters(40.0, -74.0, 40.0, -74.0) == 0.0)
  }

  test("haversine is symmetric and non-negative (property)") {
    val r = rng
    (1 to 500).foreach { _ =>
      val (a, b, c, d) = (r.nextDouble() * 170 - 85, r.nextDouble() * 359 - 179.5,
        r.nextDouble() * 170 - 85, r.nextDouble() * 359 - 179.5)
      val x = Haversine.meters(a, b, c, d)
      val y = Haversine.meters(c, d, a, b)
      assert(math.abs(x - y) < 1e-6)
      assert(x >= 0.0)
    }
  }

  test("convex hull of a square is the square") {
    val pts = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0), (0.5, 0.5), (0.2, 0.8))
    val h = ConvexHull.hull(pts)
    assert(h.toSet == Set((0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0)))
  }

  test("degenerate hulls are segments: contains holds on the span, not only at vertices") {
    // 2-point hull
    assert(ConvexHull.contains(Seq((0.0, 0.0), (0.0, 2.0)), 0.0, 1.0))
    assert(!ConvexHull.contains(Seq((0.0, 0.0), (0.0, 2.0)), 0.1, 1.0))
    // >=3 collinear points (hull() returns the sorted set)
    val h = ConvexHull.hull(Seq((0.0, 0.0), (0.0, 1.0), (0.0, 2.0)))
    assert(ConvexHull.contains(h, 0.0, 0.5))
    assert(ConvexHull.contains(h, 0.0, 1.5))
    assert(!ConvexHull.contains(h, 0.0, 2.5)) // beyond the span
    assert(!ConvexHull.contains(h, 0.5, 1.0)) // off the line
  }

  test("coverDisc guarantee survives high latitudes (the old cos floor broke >89.43°)") {
    val res = 11
    val eps = 150.0
    val lat = 89.6 // cos ≈ 0.0070 < the old 0.01 floor
    val lng = 10.0
    // an epsilon-east neighbor must share a covered cell
    val dLng = eps / (GeoCell.MetersPerDegreeLat * math.cos(math.toRadians(lat)))
    val cover = GeoCell.coverDisc(lat, lng, eps, res).toSet
    assert(cover.contains(GeoCell.cellId(lat, lng + dLng * 0.99, res)),
      "east-west epsilon neighbor above 89.43° fell outside the disc cover")
  }

  test("polygonCells with a +180 vertex keeps the interior (no wrapped-empty bbox)") {
    val res = 6
    val tri = Seq((10.0, 179.0), (11.0, 179.0), (10.5, 180.0))
    val cells = GeoCell.polygonCells(tri, res, 0)
    // an interior point's cell must be present — the wrapped j-range
    // produced ONLY the 3 vertex cells before the fix
    assert(cells.contains(GeoCell.cellId(10.5, 179.5, res)))
  }

  test("hull contains all input points (property)") {
    val r = rng
    (1 to 100).foreach { _ =>
      val pts = Seq.fill(2 + r.nextInt(40))((40.0 + r.nextDouble(), -74.0 + r.nextDouble()))
      val h = ConvexHull.hull(pts)
      pts.foreach { case (lat, lng) =>
        assert(ConvexHull.contains(h, lat, lng) ||
          h.exists { case (a, b) => math.abs(a - lat) < 1e-9 && math.abs(b - lng) < 1e-9 } ||
          // boundary points of the hull edges can fail planar ray-cast; re-check
          // with a tiny inward nudge toward the centroid
          {
            val cx = h.map(_._1).sum / h.length
            val cy = h.map(_._2).sum / h.length
            ConvexHull.contains(h, lat + (cx - lat) * 1e-9, lng + (cy - lng) * 1e-9)
          })
      }
    }
  }

  test("degenerate hulls (1-2 points) survive") {
    assert(ConvexHull.hull(Seq((1.0, 2.0))) == Seq((1.0, 2.0)))
    assert(ConvexHull.hull(Seq((1.0, 2.0), (1.0, 2.0))) == Seq((1.0, 2.0)))
    assert(ConvexHull.hull(Seq((1.0, 2.0), (3.0, 4.0))).length == 2)
  }

  test("geojson polygon is closed and RFC 7946-shaped") {
    val g = GeoJson.polygon(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0)))
    assert(g.startsWith("""{"type":"Polygon","coordinates":[[["""))
    val coords = g.split("\\[\\[")(1).dropRight(4)
    val positions = coords.split("\\],\\[").map(_.replaceAll("[\\[\\]]", ""))
    assert(positions.head == positions.last)
    assert(positions.length == 4)
  }

  test("geojson feature collection wraps clusters with labels") {
    val fc = GeoJson.featureCollection(Seq(
      ("0", Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0))),
      ("1", Seq((5.0, 5.0)))))
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(fc.contains(""""cluster":"0""""))
    assert(fc.contains(""""cluster":"1""""))
  }

  test("polygonCells covers polygon interior and respects layers") {
    val res = 10
    val s = GeoCell.stepDegrees(res)
    val poly = Seq((40.7, -74.0), (40.7 + 6 * s, -74.0),
      (40.7 + 6 * s, -74.0 + 6 * s), (40.7, -74.0 + 6 * s))
    val base = GeoCell.polygonCells(poly, res, 0)
    assert(base.nonEmpty)
    val interior = GeoCell.cellId(40.7 + 3 * s, -74.0 + 3 * s, res)
    assert(base.contains(interior))
    val expanded = GeoCell.polygonCells(poly, res, 2)
    assert(expanded.length > base.length)
    assert(base.toSet.subsetOf(expanded.toSet))
  }

  test("tiny polygon still yields vertex cells") {
    val cells = GeoCell.polygonCells(Seq((40.7, -74.0)), 10, 0)
    assert(cells == Seq(GeoCell.cellId(40.7, -74.0, 10)))
  }
}
