package perfbench

import graft.geo.Haversine

/** One transaction row, the program's input schema plus a row id. */
final case class Tx(txId: Long, user: String, lat: Double, lng: Double, amount: Double)

/** Shape of a fraud-pipeline input. `heavyUsers` users carry
  * `heavyFactor` × `medianTx` transactions; every other user carries a
  * log-normal count clamped to [`minTx`, `maxTx`], with `maxTx` below the
  * heavy count so the tail is exactly the heavy users. */
final case class FraudSpec(
    users: Int, medianTx: Int, sigma: Double, minTx: Int, maxTx: Int,
    heavyUsers: Int, heavyFactor: Int,
    spotsMin: Int, spotsMax: Int, spotRadiusM: Double,
    plantedRate: Double, offPatternMinM: Double,
    heldOutFraction: Double, unknownUsers: Int) {
  def heavyTx: Int = medianTx * heavyFactor
}

/** Shape of the dense point cloud: `blobs` uniform discs of `blobRadiusM`
  * with `pointsPerBlob` points, `gapM` apart edge to edge, plus isolated
  * background points that are never within epsilon of anything. */
final case class DenseSpec(blobs: Int, pointsPerBlob: Int, blobRadiusM: Double,
                           gapM: Double, noisePoints: Int)

final case class FraudData(
    history: Array[Tx], heldOut: Array[Tx],
    homes: Map[String, Array[(Double, Double)]],
    plantedHistory: Set[Long], plantedHeldOut: Set[Long],
    heavyUsers: Set[String]) {
  def userCounts: Map[String, Int] = history.groupBy(_.user).view.mapValues(_.length).toMap
}

final case class DenseData(lat: Array[Double], lng: Array[Double], blobOf: Array[Int],
                           centers: Array[(Double, Double)]) {
  def size: Int = lat.length
}

/** A serving request: a handful of transactions scored as one action. */
final case class Request(id: Int, rows: Array[Tx])

/** Seeded input generator shared by the three workloads. The same seed
  * always yields the same arrays (java.util.SplittableRandom, no global
  * state, no clock); the program only ever sees these rows through the
  * parquet files set-up writes. */
object Gen {
  /** The city box the points live in (New York, the reference's data). */
  val LatLo = 40.55; val LatHi = 40.90
  val LngLo = -74.10; val LngHi = -73.70
  private val MetersPerDegLat = graft.geo.GeoCell.MetersPerDegreeLat

  /** Offset a point by (north, east) meters. */
  def offset(lat: Double, lng: Double, northM: Double, eastM: Double): (Double, Double) =
    (lat + northM / MetersPerDegLat,
     lng + eastM / (MetersPerDegLat * math.cos(math.toRadians(lat))))

  private def inDisc(r: java.util.SplittableRandom, lat: Double, lng: Double,
                     radiusM: Double): (Double, Double) = {
    val rr = radiusM * math.sqrt(r.nextDouble())
    val th = 2 * math.Pi * r.nextDouble()
    offset(lat, lng, rr * math.sin(th), rr * math.cos(th))
  }

  private def inBox(r: java.util.SplittableRandom): (Double, Double) =
    (LatLo + (LatHi - LatLo) * r.nextDouble(), LngLo + (LngHi - LngLo) * r.nextDouble())

  private def amount(r: java.util.SplittableRandom): Double =
    math.rint(math.exp(3.0 + r.nextGaussian() * 0.8) * 100) / 100

  private def shuffle[T](r: java.util.SplittableRandom, a: Array[T]): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def userName(i: Int): String = f"u$i%06d"
  def unknownName(i: Int): String = f"x$i%06d"

  /** `n` values of `draw` from a fixed stream, dealt out in an order set
    * by `r`: every seed gets the same multiset of values. */
  private def dealt(r: java.util.SplittableRandom, n: Int)(draw: java.util.SplittableRandom => Int): Array[Int] = {
    val fixed = new java.util.SplittableRandom(0x5eedL)
    shuffle(r, Array.fill(n)(draw(fixed)))
  }

  /** Fraud-shaped history plus a held-out batch. Home spots of one user are
    * at least `2 × spotRadius + offPatternMinM / 4` apart; planted
    * off-pattern rows are at least `offPatternMinM` from every home spot of
    * their user and more than 2 × spot radius from each other. The seed
    * deals out per-user row counts, spot counts and planted rows, whose
    * totals are the same at every seed, so the input size does not vary
    * with it. */
  def fraud(spec: FraudSpec, seed: Long): FraudData = {
    val r = new java.util.SplittableRandom(seed * 7919L + 17L)
    // the heavy users are the same ids at every seed: which task their
    // groups hash to sets the fit's slowest task, and that skew shape
    // should not change with the seed
    val heavy = (0 until spec.heavyUsers).map(i => userName(i * (spec.users / spec.heavyUsers))).toSet
    val homes = scala.collection.mutable.LinkedHashMap.empty[String, Array[(Double, Double)]]
    val minSpotGap = 2 * spec.spotRadiusM + spec.offPatternMinM / 4
    val spotCounts = dealt(r, spec.users)(f => spec.spotsMin + f.nextInt(spec.spotsMax - spec.spotsMin + 1))
    val txCounts = dealt(r, spec.users - spec.heavyUsers)(f => math.max(spec.minTx, math.min(spec.maxTx,
      math.round(spec.medianTx * math.exp(spec.sigma * f.nextGaussian())).toInt))).iterator
    val nPlanted = math.round(spec.plantedRate * spec.users).toInt
    val plantedHistory = shuffle(r, Array.tabulate(spec.users)(_ < nPlanted))
    val plantedHeldOut = shuffle(r, Array.tabulate(spec.users)(_ < nPlanted))
    for (u <- 0 until spec.users) {
      val nSpots = spotCounts(u)
      val spots = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      val anchor = inBox(r)
      while (spots.length < nSpots) {
        // spots of one user cluster within ~8 km of an anchor, like a
        // person's home, work and usual shops
        val c = offset(anchor._1, anchor._2, (r.nextDouble() - 0.5) * 16000, (r.nextDouble() - 0.5) * 16000)
        if (spots.forall(s => Haversine.meters(s._1, s._2, c._1, c._2) > minSpotGap)) spots += c
      }
      homes(userName(u)) = spots.toArray
    }
    var nextId = 0L
    def tx(user: String, p: (Double, Double)): Tx = {
      val t = Tx(nextId, user, p._1, p._2, amount(r)); nextId += 1; t
    }
    def homeRow(user: String): Tx = {
      val spots = homes(user)
      val s = spots(r.nextInt(spots.length))
      tx(user, inDisc(r, s._1, s._2, spec.spotRadiusM))
    }
    def offPattern(user: String, others: Seq[(Double, Double)]): (Double, Double) = {
      val spots = homes(user)
      var p = inBox(r)
      while (spots.exists(s => Haversine.meters(s._1, s._2, p._1, p._2) < spec.offPatternMinM) ||
             others.exists(o => Haversine.meters(o._1, o._2, p._1, p._2) < 2 * spec.spotRadiusM))
        p = inBox(r)
      p
    }
    val history = scala.collection.mutable.ArrayBuffer.empty[Tx]
    val heldOut = scala.collection.mutable.ArrayBuffer.empty[Tx]
    val plantedH = scala.collection.mutable.Set.empty[Long]
    val plantedO = scala.collection.mutable.Set.empty[Long]
    for (u <- 0 until spec.users) {
      val user = userName(u)
      val n = if (heavy(user)) spec.heavyTx else txCounts.next()
      val planted = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      for (_ <- 0 until n) history += homeRow(user)
      if (plantedHistory(u)) {
        val p = offPattern(user, planted.toSeq); planted += p
        val t = tx(user, p); history += t; plantedH += t.txId
      }
      val nOut = math.max(1, math.round(n * spec.heldOutFraction).toInt)
      for (_ <- 0 until nOut) heldOut += homeRow(user)
      if (plantedHeldOut(u)) {
        val p = offPattern(user, planted.toSeq); planted += p
        val t = tx(user, p); heldOut += t; plantedO += t.txId
      }
    }
    val unknown = (0 until spec.unknownUsers).map(unknownName)
    for (u <- unknown; _ <- 0 until 3) heldOut += tx(u, inBox(r))
    FraudData(shuffle(r, history.toArray), shuffle(r, heldOut.toArray), homes.toMap,
      plantedH.toSet, plantedO.toSet, heavy)
  }

  /** Dense city cloud: blob centers on a jittered row-major grid whose
    * spacing keeps blob edges `gapM` apart; background points sit farther
    * than `noiseClearM` from every blob center's disc and from each other. */
  def dense(spec: DenseSpec, epsilonM: Double, seed: Long): DenseData = {
    val r = new java.util.SplittableRandom(seed * 104729L + 3L)
    val cols = math.ceil(math.sqrt(spec.blobs.toDouble)).toInt
    val pitch = 2 * spec.blobRadiusM + spec.gapM
    val jitter = spec.gapM / 4
    val origin = (LatLo + 0.05 + 0.1 * r.nextDouble(), LngLo + 0.05 + 0.1 * r.nextDouble())
    val centers = Array.tabulate(spec.blobs) { b =>
      val (row, col) = (b / cols, b % cols)
      offset(origin._1, origin._2,
        row * pitch + (r.nextDouble() - 0.5) * jitter,
        col * pitch + (r.nextDouble() - 0.5) * jitter)
    }
    val n = spec.blobs * spec.pointsPerBlob + spec.noisePoints
    val lat = new Array[Double](n); val lng = new Array[Double](n); val blob = new Array[Int](n)
    var k = 0
    for (b <- 0 until spec.blobs; _ <- 0 until spec.pointsPerBlob) {
      val p = inDisc(r, centers(b)._1, centers(b)._2, spec.blobRadiusM)
      lat(k) = p._1; lng(k) = p._2; blob(k) = b; k += 1
    }
    // background: a box around the blob grid, kept clear of every disc and
    // of other background points by more than epsilon
    val rows = (spec.blobs + cols - 1) / cols
    val boxLo = offset(origin._1, origin._2, -pitch, -pitch)
    val boxHi = offset(origin._1, origin._2, rows * pitch, cols * pitch)
    val noise = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val clear = spec.blobRadiusM + 2 * epsilonM
    while (noise.length < spec.noisePoints) {
      val p = (boxLo._1 + (boxHi._1 - boxLo._1) * r.nextDouble(),
               boxLo._2 + (boxHi._2 - boxLo._2) * r.nextDouble())
      if (centers.forall(c => Haversine.meters(c._1, c._2, p._1, p._2) > clear) &&
          noise.forall(o => Haversine.meters(o._1, o._2, p._1, p._2) > 2 * epsilonM)) {
        noise += p
        lat(k) = p._1; lng(k) = p._2; blob(k) = -1; k += 1
      }
    }
    // shuffle rows so blobs interleave across input partitions
    val order = shuffle(r, Array.tabulate(n)(identity))
    DenseData(order.map(lat), order.map(lng), order.map(blob), centers)
  }

  /** Serving traffic over a fitted history: `n` requests of 1–50 rows.
    * Sizes come in shuffled blocks of 1..50, so any 50 consecutive
    * requests carry the same number of rows. Rows are 85 % a known user at
    * a home spot, 5 % a known user far off pattern, 10 % an unknown user
    * anywhere in the city. */
  def requests(data: FraudData, spec: FraudSpec, n: Int, seed: Long): Array[Request] = {
    val r = new java.util.SplittableRandom(seed * 15485863L + 11L)
    val users = data.homes.keys.toArray.sorted
    val sizes = Array.fill((n + 49) / 50)(shuffle(r, Array.tabulate(50)(_ + 1))).flatten
    var nextId = 1L << 40
    Array.tabulate(n) { q =>
      Request(q, Array.fill(sizes(q)) {
        val x = r.nextDouble()
        val (user, p) =
          if (x < 0.10) (unknownName(spec.unknownUsers + r.nextInt(1000)), inBox(r))
          else {
            val u = users(r.nextInt(users.length))
            val spots = data.homes(u)
            if (x < 0.15) {
              var p = inBox(r)
              while (spots.exists(s => Haversine.meters(s._1, s._2, p._1, p._2) < spec.offPatternMinM))
                p = inBox(r)
              (u, p)
            } else {
              val s = spots(r.nextInt(spots.length))
              (u, inDisc(r, s._1, s._2, spec.spotRadiusM))
            }
          }
        val t = Tx(nextId, user, p._1, p._2, amount(r)); nextId += 1; t
      })
    }
  }

  /** Order-sensitive digest of the generated rows (exact double bits). */
  def digest(rows: Array[Tx]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(32)
    rows.foreach { t =>
      bb.clear()
      bb.putLong(t.txId).putLong(java.lang.Double.doubleToLongBits(t.lat))
        .putLong(java.lang.Double.doubleToLongBits(t.lng))
        .putLong(java.lang.Double.doubleToLongBits(t.amount))
      md.update(bb.array()); md.update(t.user.getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
