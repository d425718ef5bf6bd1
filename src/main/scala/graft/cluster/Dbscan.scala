package graft.cluster

import scala.collection.mutable

import graft.geo.{GeoCell, Haversine}

/** In-memory GEOSCAN clustering for one group of points — the per-key worker
  * of the personalized path (`01_geofraud_clustering.py:275-283`: one model
  * per user, "pseudo-distributed"), also the brute-force oracle for the
  * distributed variant's property tests.
  *
  * Semantics follow the reference's algorithm exactly
  * (`01_geofraud_clustering.py:16-32`):
  *   - edge between two points iff haversine ≤ epsilon meters;
  *   - drop vertices with degree < minPts ("we remove vertices with fewer
  *     than minPts connections");
  *   - clusters = connected components of the remaining (core) vertices.
  * Non-core points are noise (cluster = None — the reference's nullable
  * `cluster`, `01_geofraud_clustering.py:233`).
  *
  * Neighbor search is grid-bucketed (same trick as the distributed path) so
  * a group of n points costs O(n·k), not O(n²).
  */
object Dbscan {

  /** @return cluster label per input index: Some(label) for core points,
    *         None for noise. Labels are the minimum member index of the
    *         component — deterministic for a fixed input order. */
  def cluster(
      points: IndexedSeq[(Double, Double)],
      epsilonMeters: Double,
      minPts: Int): IndexedSeq[Option[Int]] = {
    val n = points.length
    if (n == 0) return IndexedSeq.empty

    val res = GeoCell.resolutionForEpsilon(epsilonMeters)
    // bucket points by numeric cell key; candidate neighbors come from the
    // cells of each point's epsilon-disc cover (distinct cells, and every
    // point sits in one bucket, so each candidate is met once)
    val byCell = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    var p = 0
    while (p < n) {
      val (lat, lng) = points(p)
      byCell.getOrElseUpdate(GeoCell.cellKey(lat, lng, res),
        new mutable.ArrayBuilder.ofInt) += p
      p += 1
    }
    val buckets = byCell.mapValuesNow(_.result())

    val neighbors = Array.tabulate(n) { idx =>
      val (lat, lng) = points(idx)
      val found = new mutable.ArrayBuilder.ofInt
      GeoCell.coverKeys(lat, lng, epsilonMeters, res).foreach { c =>
        buckets.get(c).foreach(_.foreach { other =>
          if (other != idx) {
            val (la, ln) = points(other)
            if (Haversine.meters(lat, lng, la, ln) <= epsilonMeters) found += other
          }
        })
      }
      found.result()
    }

    // core = degree >= minPts (degree counts epsilon-neighbors, i.e. graph
    // edges, reference `01_geofraud_clustering.py:28`)
    val core = Array.tabulate(n)(i => neighbors(i).length >= minPts)

    // connected components over core vertices only
    val label = Array.fill(n)(-1)
    var i = 0
    while (i < n) {
      if (core(i) && label(i) < 0) {
        // BFS; component label = min index = first discovered from ascending scan
        val queue = mutable.Queue(i)
        label(i) = i
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          neighbors(u).foreach { v =>
            if (core(v) && label(v) < 0) { label(v) = i; queue += v }
          }
        }
      }
      i += 1
    }
    IndexedSeq.tabulate(n)(k => if (label(k) >= 0) Some(label(k)) else None)
  }
}
