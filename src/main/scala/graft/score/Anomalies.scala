package graft.score

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TileGrid

/** Batch anomaly extraction — the flagship query (SURVEY §3.3,
  * `02_geofraud_fraud.py:62-68`): transactions against the known-tiles table;
  * no tile for (user, cell) ⇒ anomalous. The point's cell is on `grid`
  * ([[TileGrid]]; the reference uses H3, `02_geofraud_fraud.py:64`). */
object Anomalies {

  /** The reference's literal spelling: left_outer join + `cluster IS NULL`
    * filter + drop — kept for parity (its plan carries the full right side
    * through the join before filtering). */
  def extractLeftOuter(points: DataFrame, tiles: DataFrame, precision: Int = 10,
                       userCol: String = "user",
                       grid: String = "geocell"): DataFrame = {
    points
      .withColumn("h3", TileGrid.cellCol(grid, col("latitude"), col("longitude"), precision))
      .join(tiles, Seq(userCol, "h3"), "left_outer")
      .filter(col("cluster").isNull)
      .drop("h3", "cluster", "tf_idf")
  }

  /** The efficient spelling: LEFT ANTI join — semantically identical
    * (SURVEY §3.3: Catalyst does not rewrite left_outer+IsNull to anti, so we
    * author it directly). The anti join never materializes right-side
    * columns and can broadcast the tile side. */
  /** `keepCell = true` keeps the computed probe-cell column (`h3`) in the
    * output instead of dropping it — for consumers that need the cell again
    * downstream (e.g. a known-tile leak audit over a persisted stream sink):
    * recomputing it there costs a second full per-row cell pass over the
    * output (guide §2.3, shuffle/write keys once). Row set is identical. */
  def extract(points: DataFrame, tiles: DataFrame, precision: Int = 10,
              userCol: String = "user", grid: String = "geocell",
              keepCell: Boolean = false): DataFrame = {
    val joined = points
      .withColumn("h3", TileGrid.cellCol(grid, col("latitude"), col("longitude"), precision))
      .join(tiles.select(col(userCol), col("h3")), Seq(userCol, "h3"), "left_anti")
    if (keepCell) joined else joined.drop("h3")
  }
}
