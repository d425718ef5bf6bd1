package graft.tracking

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TileGrid

/** MLflow **pyfunc model directory** export for the bloom scorer — the
  * interop the reference ships its serving model through
  * (`02_geofraud_fraud.py:220-264`: `mlflow.pyfunc.log_model` + a
  * third-party `mlflow.pyfunc.load_model`). The exported directory
  * follows the PUBLIC MLmodel schema for the `python_function` flavor in
  * its `loader_module` form:
  *
  * {{{
  * dst/
  *   MLmodel                    # YAML: flavors.python_function{...}
  *   conda.yaml  python_env.yaml  requirements.txt
  *   code/graft_bloom_scorer.py # loader module (_load_pyfunc contract)
  *   data/blooms.parquet        # per-user Spark BloomFilter bytes
  *   data/params.txt            # precision=<res>
  * }}}
  *
  * A real mlflow client resolves `loader_module: graft_bloom_scorer`
  * from `code/` (added to sys.path), calls `_load_pyfunc(data_path)`,
  * and gets a `predict(pandas_df[user, latitude, longitude])` that
  * appends the reference's 0/1 `anomaly` column. No pickle is shipped —
  * the loader-module form is the public pyfunc contract for exactly
  * this "model is code + data" case, and it keeps the artifact
  * language-neutral and auditable.
  *
  * The Python side is a PURE-STDLIB twin of the JVM scorer: it parses
  * Spark's public BloomFilter serialization (V1: int version, int
  * numHashFunctions, int numWords, big-endian longs) and replays
  * Murmur3_x86_32 membership plus [[graft.geo.GeoCell]]'s cell id —
  * PyfuncExportSpec pins bit-parity of `predict` against
  * [[graft.score.Blooms.score]] by running the module under python3
  * when one is on PATH. */
object PyfuncExport {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One ENGINE-grid id check, JVM side — the same decode the SQL guard
    * runs distributed: precision nibble + 7-hex latIndex < 2^(res+8) +
    * 7-hex lngIndex < 2^(res+9). */
  private def engineIdOk(id: String, precision: Int): Boolean =
    id != null && id.matches(f"$precision%X[0-9A-F]{14}") &&
      java.lang.Long.parseLong(id.substring(1, 8), 16) < (1L << (precision + 8)) &&
      java.lang.Long.parseLong(id.substring(8, 15), 16) < (1L << (precision + 9))

  /** Resolve + VALIDATE the tile-id grid of `frame` (a checkpointed
    * `(…, h3 string)` cover). `grid` is `"auto"` (sniff engine-first from
    * the first id — unambiguous: a real-H3 id's reserved/res bits never
    * decode as an engine index at the same declared precision, and vice
    * versa) or any [[TileGrid]] name. Every row is checked against the
    * RESOLVED grid; nulls refuse eagerly on both lanes (a null key would
    * otherwise reach the python twin as a bogus `'None'` tile). Returns
    * the grid's [[TileGrid.exportName]]. */
  private def resolveGrid(frame: DataFrame, precision: Int, grid: String,
                          what: String): String = {
    val nullId = frame.where(col("h3").isNull).limit(1).count()
    require(nullId == 0,
      s"$what: the tiles frame carries a NULL tile id — refusing (a null " +
        "key cannot be served; drop or fix those rows first)")
    val resolved = TileGrid.validate(grid, auto = true) match {
      case TileGrid.Auto =>
        frame.select("h3").limit(1).collect().headOption
          .map(_.getString(0)) match {
          case Some(id) if !engineIdOk(id, precision) => TileGrid.H3
          case _ => TileGrid.GeoCell // an empty cover is trivially engine
        }
      case g => g
    }
    val offGrid =
      if (resolved == TileGrid.GeoCell) {
        val rows = 1L << (precision + 8)
        val colsMax = 1L << (precision + 9)
        frame.where(
          !col("h3").rlike(f"^$precision%X[0-9A-F]{14}$$") ||
            expr("CAST(conv(substring(h3, 2, 7), 16, 10) AS BIGINT)") >= rows ||
            expr("CAST(conv(substring(h3, 9, 7), 16, 10) AS BIGINT)") >= colsMax)
          .limit(1).select("h3").collect()
      } else {
        val ok = udf((s: String) => graft.geo.H3.isValidCell(s, precision))
        frame.where(!ok(upper(col("h3")))).limit(1).select("h3").collect()
      }
    val name = TileGrid.exportName(resolved)
    require(offGrid.isEmpty,
      s"$what serves the ${name.toUpperCase(java.util.Locale.ROOT)} " +
        s"grid at precision $precision — tile id " +
        s"'${offGrid.headOption.map(_.getString(0)).getOrElse("")}' is " +
        (if (resolved == TileGrid.GeoCell)
          "not an engine cell at that precision (for real-H3 tile " +
            "tables pass grid=\"h3\")"
        else
          "not a valid H3 cell at that resolution (for engine tile " +
            "tables pass grid=\"engine\")"))
    name
  }

  private def writeText(spark: SparkSession, p: Path, text: String): Unit = {
    val f = fs(spark, p)
    val out = f.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Default shard budget for `data/blooms.parquet` — a serving artifact
    * at reference scale (5–200 users) stays single-part; past the budget
    * the write shards so a millions-of-users bloom frame never funnels
    * through one task (the measured-cutover idiom, [[graft.score.Blooms]]). */
  val DefaultShardBytes: Long = 64L << 20

  /** Export `trained` ([[graft.score.Blooms.train]] output: user string,
    * bloom binary) as a loadable pyfunc model directory at `dst`. The
    * Python loader reads the parquet DIRECTORY (pyarrow ignores the
    * `_`-prefixed marker files), so shard count is invisible to it. */
  def exportBloomScorer(spark: SparkSession, trained: DataFrame, dst: String,
                        precision: Int = 10, userCol: String = "user",
                        maxShardBytes: Long = DefaultShardBytes,
                        grid: String = TileGrid.GeoCell): Unit = {
    require(precision >= 0 && precision <= 15, s"precision $precision out of [0,15]")
    require(maxShardBytes > 0, s"maxShardBytes must be positive, got $maxShardBytes")
    // a bloom frame carries no tile ids to sniff — the caller DECLARES
    // the id space the filters were trained on, exactly like precision
    val gridN = TileGrid.exportName(grid)
    val root = new Path(dst)
    val f = fs(spark, root)
    f.delete(root, true)
    f.mkdirs(root)
    // EAGER checkpoint: the size agg and the write would otherwise each
    // replay the (potentially expensive) training lineage
    val blooms = trained
      .select(col(userCol).cast("string").as("user"), col("bloom"))
      .localCheckpoint(true)
    // measure, don't guess: one agg pass sizes the shard count
    val sized = blooms.agg(coalesce(sum(length(col("bloom"))), lit(0L))).head
    val parts = math.max(1L,
      (sized.getLong(0) + maxShardBytes - 1) / maxShardBytes).toInt
    blooms.repartition(parts)
      .write.parquet(new Path(root, "data/blooms.parquet").toString)
    writeText(spark, new Path(root, "data/params.txt"),
      s"precision=$precision\ngrid=$gridN\n")
    writeText(spark, new Path(root, "code/graft_bloom_scorer.py"), loaderModule)
    writeText(spark, new Path(root, "conda.yaml"),
      """channels:
        |- conda-forge
        |dependencies:
        |- python=3.10
        |- pip
        |- pip:
        |  - pandas
        |  - pyarrow
        |name: graft_bloom_env
        |""".stripMargin)
    writeText(spark, new Path(root, "python_env.yaml"),
      """python: 3.10.12
        |build_dependencies:
        |- pip
        |dependencies:
        |- -r requirements.txt
        |""".stripMargin)
    writeText(spark, new Path(root, "requirements.txt"), "pandas\npyarrow\n")
    val created = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.now())
    writeText(spark, new Path(root, "MLmodel"),
      s"""artifact_path: pipeline
         |flavors:
         |  python_function:
         |    code: code
         |    data: data
         |    env:
         |      conda: conda.yaml
         |      virtualenv: python_env.yaml
         |    loader_module: graft_bloom_scorer
         |    python_version: 3.10.12
         |model_uuid: ${java.util.UUID.randomUUID()}
         |utc_time_created: '$created'
         |""".stripMargin)
  }

  /** Export a fitted GEOSCAN model's TILE COVER as a loadable pyfunc
    * model directory — the clustering-model serving interop
    * (`01_geofraud_clustering.py:133-149` logs the fitted model;
    * third-party consumers load and `transform`). The artifact IS the
    * reference's own serving shape: `transform` is a tiling join on the
    * cell id (`01_geofraud_clustering.py:210`), so the model's entire
    * inference surface is (tiles table, precision) — no JVM, no pickle.
    *
    * `tiles` is `getTiles(precision, layers)` output on the ENGINE grid:
    * global `(cluster, h3)` or personalized `(user, cluster, h3)` —
    * sniffed by the `user` column. The Python twin replays
    * [[graft.geo.GeoCell]]'s cell id (the same `_cell_id` the bloom twin
    * ships) and appends the reference's nullable `cluster` via dict
    * lookup; PyfuncExportSpec pins bit-parity of `predict` against
    * `GeoscanModel.transform` / the personalized twin under python3.
    * Real-H3 tile tables refuse by name: the serving twin is pure-stdlib
    * and replays the engine grid only — join h3-grid tiles in Spark. */
  def exportGeoscanScorer(spark: SparkSession, tiles: DataFrame, dst: String,
                          precision: Int,
                          maxShardBytes: Long = DefaultShardBytes,
                          grid: String = "auto"): Unit = {
    require(precision >= 0 && precision <= 15, s"precision $precision out of [0,15]")
    require(maxShardBytes > 0, s"maxShardBytes must be positive, got $maxShardBytes")
    val personalized = tiles.columns.contains("user")
    require(tiles.columns.contains("cluster") && tiles.columns.contains("h3"),
      s"tiles frame must carry (cluster, h3) [+ user] — got " +
        tiles.columns.mkString("(", ", ", ")"))
    val root = new Path(dst)
    val f = fs(spark, root)
    f.delete(root, true)
    f.mkdirs(root)
    val cols =
      (if (personalized) Seq(col("user").cast("string").as("user")) else Nil) ++
        Seq(col("cluster").cast("long").as("cluster"),
          col("h3").cast("string").as("h3"))
    // EAGER checkpoint: a getTiles lineage is a per-hull polyfill — the
    // grid guard, the size agg and the write must not replay it 3×
    val frame = tiles.select(cols: _*).localCheckpoint(true)
    // grid DISPATCH (not refusal): engine covers serve through the
    // GeoCell twin, real-H3 covers (`getTiles(…, grid="h3")`) through the
    // generated pure-python geo_to_h3 — every id validated either way
    val g = resolveGrid(frame, precision, grid, "exportGeoscanScorer")
    // the loader keys its dict on (user,) h3 → int(cluster): a null
    // cluster crashes `int(None)`, and a null user would key as the
    // bogus 'None' string — refuse both eagerly (a fitted cover never
    // carries them; a hand-built frame must be fixed, not mis-served)
    val badRow = frame.where(col("cluster").isNull ||
        (if (personalized) col("user").isNull else lit(false)))
      .limit(1).count()
    require(badRow == 0,
      "exportGeoscanScorer: the tiles frame carries a NULL cluster" +
        (if (personalized) " or user" else "") +
        " — refusing (the python twin cannot key or label those rows)")
    val sized = frame.agg(coalesce(sum(length(col("h3")) + 16L), lit(0L))).head
    val parts = math.max(1L,
      (sized.getLong(0) + maxShardBytes - 1) / maxShardBytes).toInt
    frame.repartition(parts)
      .write.parquet(new Path(root, "data/tiles.parquet").toString)
    writeText(spark, new Path(root, "data/params.txt"),
      s"precision=$precision\npersonalized=$personalized\ngrid=$g\n")
    writeText(spark, new Path(root, "code/graft_geoscan_transform.py"),
      geoscanLoaderModule)
    writeText(spark, new Path(root, "conda.yaml"),
      """channels:
        |- conda-forge
        |dependencies:
        |- python=3.10
        |- pip
        |- pip:
        |  - pandas
        |  - pyarrow
        |name: graft_geoscan_env
        |""".stripMargin)
    writeText(spark, new Path(root, "python_env.yaml"),
      """python: 3.10.12
        |build_dependencies:
        |- pip
        |dependencies:
        |- -r requirements.txt
        |""".stripMargin)
    writeText(spark, new Path(root, "requirements.txt"), "pandas\npyarrow\n")
    val created = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.now())
    writeText(spark, new Path(root, "MLmodel"),
      s"""artifact_path: pipeline
         |flavors:
         |  python_function:
         |    code: code
         |    data: data
         |    env:
         |      conda: conda.yaml
         |      virtualenv: python_env.yaml
         |    loader_module: graft_geoscan_transform
         |    python_version: 3.10.12
         |model_uuid: ${java.util.UUID.randomUUID()}
         |utc_time_created: '$created'
         |""".stripMargin)
  }

  /** Pure-stdlib python `geo_to_h3` — the reference's served model
    * computes REAL H3 in Python at predict time (`utils/bloom_utils
    * .py:29-31`: `h3.geo_to_h3(lat, lng, 10)`), so the exported scorers
    * must too when the model was fitted on `grid="h3"`. GENERATED, not
    * transcribed: every table and trig-derived constant is printed from
    * [[graft.geo.H3]]'s own arrays at class-load, so the Python twin and
    * the JVM can never drift — the tables the serving artifact ships ARE
    * the tables this JVM computed with (`Double.toString` shortest-repr
    * round-trips bit-exactly through Python's float parser). Per-row
    * trig (sin/cos/tan/atan2/acos) runs in libm and may differ from the
    * JVM by ≤ 1 ulp — only a point astronomically close to a cell
    * boundary could flip; PyfuncExportSpec pins bit-parity over the
    * published q282 vectors and fixture sweeps. */
  private[tracking] lazy val h3PySnippet: String = {
    import graft.geo.H3
    def d(x: Double): String = java.lang.Double.toString(x)
    val fcg = H3.tblFaceCenterGeo
      .map { case (a, b) => s"(${d(a)}, ${d(b)})" }.mkString("[", ", ", "]")
    val fcp = H3.tblFaceCenterPoint
      .map { case (a, b, c) => s"(${d(a)}, ${d(b)}, ${d(c)})" }
      .mkString("[", ", ", "]")
    val azi = H3.tblFaceAxesAzI.map(d).mkString("[", ", ", "]")
    val bcs = H3.tblFaceIjkBaseCell.mkString("[", ", ", "]")
    val rots = H3.tblFaceIjkCcwRot60.mkString("[", ", ", "]")
    val pents = H3.Pentagons.toSeq.sorted.mkString("frozenset([", ", ", "])")
    val cwo = H3.tblCwOffsetPent.toSeq.sortBy(_._1)
      .map { case (k, (a, b)) => s"$k: ($a, $b)" }.mkString("{", ", ", "}")
    s"""# ---- real-H3 geo_to_h3 (pure stdlib; twin of graft.geo.H3.geoToH3).
       |# Tables + trig-derived constants GENERATED from the JVM's own
       |# arrays at export time — drift is structurally impossible. Per-row
       |# libm trig may differ from the JVM by <= 1 ulp (boundary-adjacent
       |# points only); the export's parity spec sweeps published vectors.
       |_FACE_CENTER_GEO = $fcg
       |_FACE_CENTER_POINT = $fcp
       |_FACE_AXES_AZ_I = $azi
       |_FACE_IJK_BASE_CELL = $bcs
       |_FACE_IJK_CCW_ROT60 = $rots
       |_H3_PENTAGONS = $pents
       |_CW_OFFSET_PENT = $cwo
       |_SIN60 = ${d(H3.constSin60)}
       |_SQRT7 = ${d(H3.constSqrt7)}
       |_AP7_ROT = ${d(H3.constAp7Rot)}
       |_RES0_U = ${d(H3.constRes0U)}
       |_H3_EPS = 1e-16
       |_ROT60_CCW = [0, 5, 3, 1, 6, 4, 2]
       |_ROT60_CW = [0, 3, 6, 2, 5, 1, 4]
       |
       |
       |def _ijk_normalize(i, j, k):
       |    if i < 0:
       |        j -= i; k -= i; i = 0
       |    if j < 0:
       |        i -= j; k -= j; j = 0
       |    if k < 0:
       |        i -= k; j -= k; k = 0
       |    m = min(i, j, k)
       |    return i - m, j - m, k - m
       |
       |
       |def _hex2d_to_ijk(x, y):
       |    a1 = abs(x); a2 = abs(y)
       |    x2 = a2 / _SIN60
       |    x1 = a1 + x2 / 2.0
       |    m1 = int(x1); m2 = int(x2)
       |    r1 = x1 - m1; r2 = x2 - m2
       |    if r1 < 0.5:
       |        if r1 < 1.0 / 3.0:
       |            i = m1
       |            j = m2 if r2 < (1.0 + r1) / 2.0 else m2 + 1
       |        else:
       |            j = m2 if r2 < 1.0 - r1 else m2 + 1
       |            i = m1 + 1 if 1.0 - r1 <= r2 < 2.0 * r1 else m1
       |    else:
       |        if r1 < 2.0 / 3.0:
       |            j = m2 if r2 < 1.0 - r1 else m2 + 1
       |            i = m1 if 2.0 * r1 - 1.0 < r2 < 1.0 - r1 else m1 + 1
       |        else:
       |            i = m1 + 1
       |            j = m2 if r2 < r1 / 2.0 else m2 + 1
       |    if x < 0.0:
       |        axisi = (j + 1) // 2 if j % 2 else j // 2
       |        i = i - 2 * (i - axisi) - (1 if j % 2 else 0)
       |    if y < 0.0:
       |        i = i - (2 * j + 1) // 2
       |        j = -j
       |    return _ijk_normalize(i, j, 0)
       |
       |
       |def _jround(v):
       |    # Java Math.round: floor(v + 0.5) — NOT python banker's round()
       |    return int(math.floor(v + 0.5))
       |
       |
       |def _up_ap7(i, j, k):
       |    i -= k; j -= k
       |    return _ijk_normalize(_jround((3.0 * i - j) / 7.0),
       |                          _jround((i + 2.0 * j) / 7.0), 0)
       |
       |
       |def _up_ap7r(i, j, k):
       |    i -= k; j -= k
       |    return _ijk_normalize(_jround((2.0 * i + j) / 7.0),
       |                          _jround((3.0 * j - i) / 7.0), 0)
       |
       |
       |def _down_ap7(i, j, k):
       |    return _ijk_normalize(3 * i + j, 3 * j + k, i + 3 * k)
       |
       |
       |def _down_ap7r(i, j, k):
       |    return _ijk_normalize(3 * i + k, i + 3 * j, j + 3 * k)
       |
       |
       |def _get_digit(h, r):
       |    return (h >> ((15 - r) * 3)) & 7
       |
       |
       |def _set_digit(h, r, d):
       |    s = (15 - r) * 3
       |    return (h & ~(7 << s)) | (d << s)
       |
       |
       |def _leading_nonzero(h, res):
       |    for r in range(1, res + 1):
       |        d = _get_digit(h, r)
       |        if d:
       |            return d
       |    return 0
       |
       |
       |def _rotate60(h, res, table):
       |    for r in range(1, res + 1):
       |        h = _set_digit(h, r, table[_get_digit(h, r)])
       |    return h
       |
       |
       |def _rotate_pent60_ccw(h, res):
       |    found = False
       |    for r in range(1, res + 1):
       |        h = _set_digit(h, r, _ROT60_CCW[_get_digit(h, r)])
       |        if not found and _get_digit(h, r) != 0:
       |            found = True
       |            if _leading_nonzero(h, res) == 1:
       |                h = _rotate60(h, res, _ROT60_CCW)
       |    return h
       |
       |
       |def _pos_angle(a):
       |    if a < 0:
       |        return a + 2 * math.pi
       |    if a > 2 * math.pi:
       |        return a - 2 * math.pi
       |    return a
       |
       |
       |def _geo_to_h3(lat_deg, lng_deg, res):
       |    lat = math.radians(lat_deg)
       |    lng = math.radians(lng_deg)
       |    vx = math.cos(lng) * math.cos(lat)
       |    vy = math.sin(lng) * math.cos(lat)
       |    vz = math.sin(lat)
       |    face, sqd = 0, 1e300
       |    for f in range(20):
       |        cx, cy, cz = _FACE_CENTER_POINT[f]
       |        dd = ((cx - vx) * (cx - vx) + (cy - vy) * (cy - vy) +
       |              (cz - vz) * (cz - vz))
       |        if dd < sqd:
       |            face, sqd = f, dd
       |    r_ang = math.acos(1.0 - sqd / 2.0)
       |    x = y = 0.0
       |    if r_ang >= _H3_EPS:
       |        fc_lat, fc_lng = _FACE_CENTER_GEO[face]
       |        az = math.atan2(
       |            math.cos(lat) * math.sin(lng - fc_lng),
       |            math.cos(fc_lat) * math.sin(lat) -
       |            math.sin(fc_lat) * math.cos(lat) * math.cos(lng - fc_lng))
       |        theta = _pos_angle(_FACE_AXES_AZ_I[face] - _pos_angle(az))
       |        if res % 2 == 1:
       |            theta = _pos_angle(theta - _AP7_ROT)
       |        rr = math.tan(r_ang) / _RES0_U
       |        for _ in range(res):
       |            rr *= _SQRT7
       |        x = rr * math.cos(theta)
       |        y = rr * math.sin(theta)
       |    i, j, k = _hex2d_to_ijk(x, y)
       |    h = (1 << 59) | (res << 52) | ((1 << 45) - 1)
       |    r = res
       |    while r > 0:
       |        li, lj, lk = i, j, k
       |        if r % 2 == 1:
       |            i, j, k = _up_ap7(i, j, k)
       |            ci, cj, ck = _down_ap7(i, j, k)
       |        else:
       |            i, j, k = _up_ap7r(i, j, k)
       |            ci, cj, ck = _down_ap7r(i, j, k)
       |        di, dj, dk = _ijk_normalize(li - ci, lj - cj, lk - ck)
       |        if di > 1 or dj > 1 or dk > 1:
       |            raise ValueError('non-unit ijk (%d,%d,%d)' % (di, dj, dk))
       |        h = _set_digit(h, r, di * 4 + dj * 2 + dk)
       |        r -= 1
       |    if i > 2 or j > 2 or k > 2:
       |        raise ValueError(
       |            'H3 base coordinates out of range for (%r, %r)'
       |            % (lat_deg, lng_deg))
       |    idx = face * 27 + i * 9 + j * 3 + k
       |    bc = _FACE_IJK_BASE_CELL[idx]
       |    rot = _FACE_IJK_CCW_ROT60[idx]
       |    h = (h & ~(0x7F << 45)) | (bc << 45)
       |    if bc in _H3_PENTAGONS:
       |        if _leading_nonzero(h, res) == 1:
       |            f1, f2 = _CW_OFFSET_PENT[bc]
       |            tbl = _ROT60_CW if face == f1 or face == f2 else _ROT60_CCW
       |            h = _rotate60(h, res, tbl)
       |        for _ in range(rot):
       |            h = _rotate_pent60_ccw(h, res)
       |    else:
       |        for _ in range(rot):
       |            h = _rotate60(h, res, _ROT60_CCW)
       |    return h
       |
       |
       |def _h3_id(lat, lng, res):
       |    # graft.geo.H3.geoToH3String: uppercase hex, no padding — the
       |    # reference's to_h3 spelling (utils/spark_utils.py:9)
       |    if lat is None or lng is None or math.isnan(lat) or math.isnan(lng):
       |        return None
       |    return ('%x' % _geo_to_h3(lat, lng, res)).upper()
       |# ---- end generated real-H3 twin -----------------------------------
       |""".stripMargin
  }

  /** The geoscan-transform loader module — the pure-stdlib twin of the
    * tiling-join `transform` (nullable cluster label). */
  private[tracking] lazy val geoscanLoaderModule: String =
    """# graft_geoscan_transform: mlflow.pyfunc loader module for the graft
      |# GEOSCAN tile scorer. Pure-stdlib twin of GeoscanModel.transform /
      |# GeoscanPersonalizedModel.transform: the reference's tiling join —
      |# cell id at `precision`, dict lookup into the model's tile cover,
      |# nullable `cluster` appended (pandas Int64, <NA> for misses).
      |# Contract: _load_pyfunc(data_path) -> model; model.predict(pdf)
      |# with columns (latitude, longitude [, user]) appends cluster.
      |import math
      |import os
      |
      |
      |def _cell_id(lat, lng, res):
      |    # graft.geo.GeoCell.cellId: 180/2^(res+8) degree squares,
      |    # "%X%07X%07X" % (res, latIndex, lngIndex)
      |    if lat is None or lng is None or math.isnan(lat) or math.isnan(lng):
      |        return None
      |    step = 180.0 / float(1 << (res + 8))
      |    rows = 1 << (res + 8)
      |    cols = 1 << (res + 9)
      |    i = int(math.floor((lat + 90.0) / step))
      |    i = min(max(i, 0), rows - 1)
      |    j = int(math.floor((lng + 180.0) / step)) % cols
      |    return '%X%07X%07X' % (res, i, j)
      |
      |
      |""".stripMargin + h3PySnippet +
    """|
      |
      |class GraftGeoscanScorer:
      |    def __init__(self, tiles, precision, personalized, grid):
      |        self._tiles = tiles
      |        self._precision = precision
      |        self._personalized = personalized
      |        self._cell = _h3_id if grid == 'h3' else _cell_id
      |
      |    def predict(self, df):
      |        import pandas as pd
      |
      |        def row_cluster(row):
      |            cell = self._cell(row['latitude'], row['longitude'],
      |                              self._precision)
      |            if cell is None:
      |                return None
      |            key = (str(row['user']), cell) if self._personalized else cell
      |            return self._tiles.get(key)
      |        out = df.copy()
      |        out['cluster'] = pd.array(
      |            [row_cluster(r) for _, r in df.iterrows()], dtype='Int64')
      |        return out
      |
      |
      |def _load_pyfunc(data_path):
      |    import pandas as pd
      |    pdf = pd.read_parquet(os.path.join(data_path, 'tiles.parquet'))
      |    precision, personalized, grid = 10, False, 'engine'
      |    with open(os.path.join(data_path, 'params.txt')) as fh:
      |        for line in fh:
      |            k, _, v = line.strip().partition('=')
      |            if k == 'precision':
      |                precision = int(v)
      |            elif k == 'personalized':
      |                personalized = v == 'true'
      |            elif k == 'grid':
      |                grid = v
      |    # h3 ids join case-normalized (the engine emits uppercase; a
      |    # foreign lowercase cover must still serve)
      |    def key(h):
      |        return str(h).upper() if grid == 'h3' else str(h)
      |    if personalized:
      |        tiles = {(str(u), key(h)): int(c) for u, c, h in
      |                 zip(pdf['user'], pdf['cluster'], pdf['h3'])}
      |    else:
      |        tiles = {key(h): int(c) for c, h in
      |                 zip(pdf['cluster'], pdf['h3'])}
      |    return GraftGeoscanScorer(tiles, precision, personalized, grid)
      |""".stripMargin

  /** The shipped loader module — kept here (not a resource file) so the
    * Scala scorer and its Python twin live one screen apart and drift is
    * a code-review diff, not an artifact surprise. */
  private[tracking] val loaderModule: String =
    """# graft_bloom_scorer: mlflow.pyfunc loader module for the graft bloom
      |# anomaly scorer. Pure-stdlib twin of graft.score.Blooms.score:
      |#  - Spark BloomFilter V1 wire format (big-endian: int version, int
      |#    numHashFunctions, int numWords, long[numWords])
      |#  - Murmur3_x86_32 membership (h1 + i*h2 double hashing, 32-bit
      |#    signed arithmetic, sign-extended tail bytes)
      |#  - graft.geo.GeoCell cell ids (aperture-4 grid, uppercase hex)
      |# Contract: _load_pyfunc(data_path) -> model; model.predict(pdf) with
      |# columns (user, latitude, longitude) appends anomaly 0/1.
      |import math
      |import os
      |import struct
      |
      |_M = 0xFFFFFFFF
      |
      |
      |def _mix_h1(h1, k1):
      |    k1 = (k1 * 0xCC9E2D51) & _M
      |    k1 = ((k1 << 15) | (k1 >> 17)) & _M
      |    k1 = (k1 * 0x1B873593) & _M
      |    h1 ^= k1
      |    h1 = ((h1 << 13) | (h1 >> 19)) & _M
      |    return (h1 * 5 + 0xE6546B64) & _M
      |
      |
      |def _murmur3_32(data, seed):
      |    # Spark Murmur3_x86_32.hashUnsafeBytes: 4-byte little-endian
      |    # words, then tail bytes one at a time SIGN-EXTENDED (Java byte)
      |    h1 = seed & _M
      |    n = len(data) - len(data) % 4
      |    for i in range(0, n, 4):
      |        h1 = _mix_h1(h1, int.from_bytes(data[i:i + 4], 'little'))
      |    for i in range(n, len(data)):
      |        b = data[i] - 256 if data[i] > 127 else data[i]
      |        h1 = _mix_h1(h1, b & _M)
      |    h1 ^= len(data)
      |    h1 ^= h1 >> 16
      |    h1 = (h1 * 0x85EBCA6B) & _M
      |    h1 ^= h1 >> 13
      |    h1 = (h1 * 0xC2B2AE35) & _M
      |    h1 ^= h1 >> 16
      |    return h1
      |
      |
      |def _signed32(x):
      |    return x - 0x100000000 if x >= 0x80000000 else x
      |
      |
      |class _Bloom:
      |    # Spark BloomFilter wire formats:
      |    #  V1: int version, int k,            int numWords, long[numWords]
      |    #  V2: int version, int k, int seed,  int numWords, long[numWords]
      |    def __init__(self, raw):
      |        self.version, self.k = struct.unpack_from('>ii', raw, 0)
      |        if self.version == 1:
      |            self.seed, off = 0, 8
      |        elif self.version == 2:
      |            (self.seed,), off = struct.unpack_from('>i', raw, 8), 12
      |        else:
      |            raise ValueError(
      |                'unsupported Spark BloomFilter version %d' % self.version)
      |        (num_words,) = struct.unpack_from('>i', raw, off)
      |        self.words = struct.unpack_from('>%dq' % num_words, raw, off + 4)
      |        self.bit_size = num_words * 64
      |
      |    def _get(self, idx):
      |        return (self.words[idx >> 6] >> (idx & 63)) & 1
      |
      |    def might_contain(self, s):
      |        data = s.encode('utf-8')
      |        h1 = _murmur3_32(data, self.seed)
      |        h2 = _murmur3_32(data, h1)
      |        if self.version == 1:
      |            # int arithmetic: combined = h1 + i*h2, ~ when negative
      |            for i in range(1, self.k + 1):
      |                ch = (h1 + i * h2) & _M
      |                if ch >= 0x80000000:
      |                    ch = (~(ch - 0x100000000)) & _M
      |                if not self._get(ch % self.bit_size):
      |                    return False
      |            return True
      |        # V2: LONG arithmetic — combined starts hi * Integer.MAX_VALUE
      |        # and accumulates lo per probe (no 64-bit overflow possible)
      |        combined = _signed32(h1) * 2147483647
      |        lo = _signed32(h2)
      |        for _ in range(self.k):
      |            combined += lo
      |            idx = (~combined if combined < 0 else combined) % self.bit_size
      |            if not self._get(idx):
      |                return False
      |        return True
      |
      |
      |def _cell_id(lat, lng, res):
      |    # graft.geo.GeoCell.cellId: 180/2^(res+8) degree squares,
      |    # "%X%07X%07X" % (res, latIndex, lngIndex)
      |    if lat is None or lng is None or math.isnan(lat) or math.isnan(lng):
      |        return None
      |    step = 180.0 / float(1 << (res + 8))
      |    rows = 1 << (res + 8)
      |    cols = 1 << (res + 9)
      |    i = int(math.floor((lat + 90.0) / step))
      |    i = min(max(i, 0), rows - 1)
      |    j = int(math.floor((lng + 180.0) / step)) % cols
      |    return '%X%07X%07X' % (res, i, j)
      |
      |
      |""".stripMargin + h3PySnippet +
    """|
      |
      |class GraftBloomScorer:
      |    def __init__(self, blooms, precision, grid):
      |        self._blooms = blooms
      |        self._precision = precision
      |        self._cell = _h3_id if grid == 'h3' else _cell_id
      |
      |    def predict(self, df):
      |        def row_anomaly(row):
      |            cell = self._cell(row['latitude'], row['longitude'],
      |                              self._precision)
      |            if cell is None:
      |                return 1
      |            bf = self._blooms.get(str(row['user']))
      |            if bf is None:
      |                return 1
      |            return 0 if bf.might_contain(cell) else 1
      |        out = df.copy()
      |        out['anomaly'] = df.apply(row_anomaly, axis=1)
      |        return out
      |
      |
      |def _load_pyfunc(data_path):
      |    import pandas as pd
      |    blooms_dir = os.path.join(data_path, 'blooms.parquet')
      |    pdf = pd.read_parquet(blooms_dir)
      |    blooms = {str(u): _Bloom(bytes(b))
      |              for u, b in zip(pdf['user'], pdf['bloom'])}
      |    precision, grid = 10, 'engine'
      |    with open(os.path.join(data_path, 'params.txt')) as fh:
      |        for line in fh:
      |            k, _, v = line.strip().partition('=')
      |            if k == 'precision':
      |                precision = int(v)
      |            elif k == 'grid':
      |                grid = v
      |    return GraftBloomScorer(blooms, precision, grid)
      |""".stripMargin
}
