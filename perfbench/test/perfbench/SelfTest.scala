package perfbench

import graft.geo.Haversine

/** Tests of the benchmark itself: the seeded generator's laws and the
  * output checks' ability to catch a wrong answer.
  *
  *   python3 perfbench/run.py --selftest
  *
  * Prints one line per test and exits non-zero if any fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: ${e.getMessage}") }

  private def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private val fraudSpec = new FraudPipelineWorkload().Spec
  private val serveSpec = new ServeStreamWorkload().Spec
  private val denseW = new GeoscanDenseWorkload()

  /** Distance covered by the tile ring around a hull: the vertex cell plus
    * `layers` rings, each at most one GeoCell diagonal at precision 10. */
  private def ringM(layers: Int): Double = {
    val step = graft.geo.GeoCell.stepMetersLat(10)
    (layers + 1) * step * math.sqrt(2)
  }

  def main(args: Array[String]): Unit = {
    val scratch = args.headOption.getOrElse("selftest-scratch")

    test("same seed gives byte-identical inputs") {
      val a = Gen.fraud(fraudSpec, 7); val b = Gen.fraud(fraudSpec, 7)
      expect(Gen.digest(a.history) == Gen.digest(b.history), "history differs")
      expect(Gen.digest(a.heldOut) == Gen.digest(b.heldOut), "held-out batch differs")
      val c = Gen.fraud(fraudSpec, 8)
      expect(Gen.digest(a.history) != Gen.digest(c.history), "a different seed gave the same history")
      val d1 = Gen.dense(denseW.Spec, denseW.Epsilon, 7); val d2 = Gen.dense(denseW.Spec, denseW.Epsilon, 7)
      expect(d1.lat.sameElements(d2.lat) && d1.lng.sameElements(d2.lng), "dense cloud differs")
      val s = Gen.fraud(serveSpec, 7)
      val r1 = Gen.requests(s, serveSpec, 200, 7); val r2 = Gen.requests(s, serveSpec, 200, 7)
      expect(r1.map(r => Gen.digest(r.rows)).sameElements(r2.map(r => Gen.digest(r.rows))), "requests differ")
    }

    test("same seed gives byte-identical parquet inputs") {
      val spark = Main.session(2, scratch)
      try {
        val data = Gen.fraud(fraudSpec.copy(users = 50, heavyUsers = 1), 3)
        def bytes(dir: String): Seq[Array[Byte]] = {
          IO.writeTx(spark, data.history, dir, 2)
          new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName.take(10))
            .map(f => java.nio.file.Files.readAllBytes(f.toPath)).toSeq
        }
        val a = bytes(s"$scratch/p1"); val b = bytes(s"$scratch/p2")
        expect(a.nonEmpty && a.length == b.length, s"${a.length} vs ${b.length} files")
        expect(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }, "parquet bytes differ")
      } finally spark.stop()
    }

    test("dense blobs are separated by more than epsilon") {
      val d = Gen.dense(denseW.Spec, denseW.Epsilon, 11)
      val c = d.centers
      val r = denseW.Spec.blobRadiusM
      for (i <- c.indices; j <- c.indices if i < j)
        expect(Haversine.meters(c(i)._1, c(i)._2, c(j)._1, c(j)._2) - 2 * r > denseW.Epsilon,
          s"blobs $i and $j closer than epsilon")
      for (k <- 0 until d.size) {
        val b = d.blobOf(k)
        if (b >= 0)
          expect(Haversine.meters(c(b)._1, c(b)._2, d.lat(k), d.lng(k)) <= r + 1e-6, s"point $k outside blob $b")
        else
          expect(c.forall(x => Haversine.meters(x._1, x._2, d.lat(k), d.lng(k)) > r + denseW.Epsilon),
            s"background point $k within epsilon of a blob")
      }
      expect(d.blobOf.count(_ >= 0) == denseW.Spec.blobs * denseW.Spec.pointsPerBlob, "blob point count")
    }

    test("planted off-pattern rows lie beyond epsilon plus the tile ring") {
      val w = new FraudPipelineWorkload()
      val data = Gen.fraud(fraudSpec, 5)
      val limit = fraudSpec.spotRadiusM + w.Epsilon + ringM(w.TileLayers)
      val planted = data.plantedHistory ++ data.plantedHeldOut
      expect(planted.nonEmpty, "nothing planted")
      (data.history ++ data.heldOut).filter(t => planted(t.txId)).foreach { t =>
        data.homes(t.user).foreach { h =>
          expect(Haversine.meters(h._1, h._2, t.lat, t.lng) > limit,
            s"planted row ${t.txId} within $limit m of a home spot of ${t.user}")
        }
      }
    }

    test("heavy-user tail has the stated size") {
      val data = Gen.fraud(fraudSpec, 9)
      val counts = data.userCounts
      val heavy = counts.filter(_._2 >= fraudSpec.heavyTx).keySet
      expect(heavy == data.heavyUsers, s"${heavy.size} users at >= ${fraudSpec.heavyTx} rows")
      expect(data.heavyUsers.size == fraudSpec.heavyUsers, s"${data.heavyUsers.size} heavy users")
      val median = Stats.median(counts.values.map(_.toDouble).toSeq)
      expect(fraudSpec.heavyTx >= 9 * median && fraudSpec.heavyTx <= 11 * median,
        s"heavy users carry ${fraudSpec.heavyTx} rows, median user $median")
    }

    test("fraud input size is the same at every seed") {
      val sizes = Seq(1L, 2L).map { seed =>
        val d = Gen.fraud(fraudSpec, seed)
        (d.history.length, d.heldOut.length, d.plantedHistory.size, d.plantedHeldOut.size)
      }
      expect(sizes.distinct.size == 1, s"sizes differ between seeds: $sizes")
    }

    test("check catches an unflagged planted row") {
      expect(Checks.plantedFlagged(Set(1L, 2L), Set(1L, 2L, 3L), "t").isEmpty, "false alarm")
      expect(Checks.plantedFlagged(Set(1L, 2L), Set(1L, 3L), "t").nonEmpty, "missed row not caught")
    }

    test("check catches a bloom false negative") {
      val rows = Set(1L, 2L, 3L)
      expect(Checks.bloomWithinJoin(rows, Set(2L, 3L), Set(3L), rows).isEmpty, "false alarm")
      expect(Checks.bloomWithinJoin(rows, Set(2L), Set(1L, 2L), rows).nonEmpty, "bloom-only anomaly not caught")
      expect(Checks.bloomWithinJoin(rows, Set(2L), Set(2L), Set(2L, 3L)).nonEmpty, "missing verdict not caught")
    }

    test("check catches a wrong cluster count and an uncovered vertex") {
      expect(Checks.clusterCount(4, 4).isEmpty && Checks.clusterCount(3, 4).nonEmpty, "cluster count")
      val hull = Seq((40.70, -73.90), (40.71, -73.90), (40.71, -73.89))
      val cells = hull.map { case (a, b) => graft.geo.H3.geoToH3String(a, b, 10).toUpperCase }.toSet
      expect(Checks.vertexCellsCovered(Seq(1L -> hull), Map(1L -> cells), 10).isEmpty, "false alarm")
      expect(Checks.vertexCellsCovered(Seq(1L -> hull), Map(1L -> cells.tail), 10).nonEmpty,
        "dropped vertex cell not caught")
      expect(Checks.vertexCellsCovered(Seq(1L -> hull), Map(2L -> cells), 10).nonEmpty,
        "cover of another cluster accepted")
    }

    test("check catches a flagged known tile and an unflagged unknown user") {
      val req = Request(0, Array(Tx(1, "u1", 0, 0, 1), Tx(2, "x1", 0, 0, 1)))
      val known = (u: String, c: String) => u == "u1" && c == "A"
      val isUser = (u: String) => u.startsWith("u")
      val good = Seq((1L, "u1", "A", 0), (2L, "x1", "B", 1))
      expect(Checks.serveResponse(req, good, known, isUser).isEmpty, "false alarm")
      expect(Checks.serveResponse(req, Seq((1L, "u1", "A", 1), (2L, "x1", "B", 1)), known, isUser).nonEmpty,
        "known tile flagged not caught")
      expect(Checks.serveResponse(req, Seq((1L, "u1", "A", 0), (2L, "x1", "B", 0)), known, isUser).nonEmpty,
        "unknown user passed not caught")
      expect(Checks.serveResponse(req, good.take(1), known, isUser).nonEmpty, "dropped row not caught")
    }

    println(if (failures == 0) "all tests passed" else s"$failures test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
