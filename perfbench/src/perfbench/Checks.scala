package perfbench

/** Output laws each workload checks after its timed section. Every
  * function is pure and returns the list of violations (empty = pass), so
  * a test can feed it a wrong answer and see it fail. */
object Checks {

  private def sample[T](xs: Iterable[T]): String = xs.take(5).mkString(", ")

  /** The exact anti-join flags every planted off-pattern row. */
  def plantedFlagged(planted: Set[Long], flagged: Set[Long], what: String): Seq[String] = {
    val missed = planted.diff(flagged)
    if (missed.isEmpty) Nil
    else Seq(s"$what: ${missed.size} planted off-pattern rows not flagged (${sample(missed)})")
  }

  /** Bloom verdicts against the exact anti-join on the same rows: a row the
    * join calls known is never flagged by the bloom path (FN = 0), i.e.
    * bloom anomalies are a subset of join anomalies. Every row must have a
    * bloom verdict. */
  def bloomWithinJoin(rows: Set[Long], joinAnomalies: Set[Long],
                      bloomAnomalies: Set[Long], scored: Set[Long]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val unscored = rows.diff(scored)
    if (unscored.nonEmpty) out += s"bloom: ${unscored.size} rows missing from the scored output (${sample(unscored)})"
    val fn = bloomAnomalies.diff(joinAnomalies)
    if (fn.nonEmpty) out += s"bloom: ${fn.size} rows flagged that the exact join calls known (${sample(fn)})"
    out.result()
  }

  /** The distributed fit finds exactly the planted blobs. */
  def clusterCount(found: Int, planted: Int): Seq[String] =
    if (found == planted) Nil else Seq(s"dense: $found clusters, $planted blobs planted")

  /** Every hull vertex's cell (H3 at `res`) is in the cover of its own
    * cluster — the `a_vertex_miss = 0` law. */
  def vertexCellsCovered(hulls: Seq[(Long, Seq[(Double, Double)])],
                         cover: Map[Long, Set[String]], res: Int): Seq[String] = {
    val missing = for {
      (c, hull) <- hulls
      (lat, lng) <- hull
      cell = graft.geo.H3.geoToH3String(lat, lng, res).toUpperCase(java.util.Locale.ROOT)
      if !cover.getOrElse(c, Set.empty[String]).contains(cell)
    } yield s"$c:$cell"
    if (missing.isEmpty) Nil
    else Seq(s"dense: ${missing.size} hull vertex cells outside their cover (${sample(missing)})")
  }

  /** One serving response: `rows` are (txId, user, cell, anomaly). A row
    * whose (user, cell) is a known tile must not be flagged (FN = 0); every
    * row of an unknown user must be flagged; every request row answered
    * exactly once. */
  def serveResponse(request: Request, rows: Seq[(Long, String, String, Int)],
                    knownTile: (String, String) => Boolean,
                    knownUser: String => Boolean): Seq[String] = {
    val out = Seq.newBuilder[String]
    val ids = rows.map(_._1)
    if (ids.size != request.rows.length || ids.toSet != request.rows.map(_.txId).toSet)
      out += s"serve: request ${request.id} sent ${request.rows.length} rows, got ${ids.size} back"
    rows.foreach { case (id, user, cell, anomaly) =>
      if (anomaly != 0 && anomaly != 1) out += s"serve: row $id anomaly=$anomaly"
      else if (!knownUser(user) && anomaly != 1) out += s"serve: unknown user $user row $id not flagged"
      else if (anomaly == 1 && knownTile(user, cell)) out += s"serve: row $id of $user flagged on known tile $cell"
    }
    out.result()
  }
}
