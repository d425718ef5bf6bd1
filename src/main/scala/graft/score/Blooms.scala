package graft.score

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.lang.ref.WeakReference

import graft.functions.TileGrid
import graft.plans.BloomProbe

/** Per-user Bloom-filter reference data — the real-time serving path
  * (`utils/bloom_utils.py:8-42`, `02_geofraud_fraud.py:109-196`): one filter
  * per user over that user's known tiles; membership miss = anomaly.
  *
  * Guarantees mirrored from the reference's own checks:
  * false-negative rate 0 (every inserted tile matches,
  * `02_geofraud_fraud.py:141-147`), false-positive rate ≤ fpp
  * (`02_geofraud_fraud.py:152-164`). fpp defaults: 0.01 at build
  * (`utils/bloom_utils.py:9`), 0.1 in the reference's serving pyfunc
  * (`utils/bloom_utils.py:22`) — both intentional, both supported. */
object Blooms {

  /** Train one Bloom filter per user from a (user, h3) tile table —
    * `train_bloom` + `records_df` (`utils/bloom_utils.py:8-11`,
    * `02_geofraud_fraud.py:173-178`). One shuffle (groupByKey). */
  def train(tiles: DataFrame, fpp: Double = 0.01,
            userCol: String = "user", tileCol: String = "h3"): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.select(col(userCol).cast("string"), col(tileCol).cast("string"))
      .filter(col(userCol).isNotNull && col(tileCol).isNotNull) // putString NPEs on null
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        val cells = it.map(_._2).toSeq.distinct
        val bf = BloomFilter.create(math.max(cells.size, 1).toLong, fpp)
        cells.foreach(bf.putString)
        val bos = new ByteArrayOutputStream()
        bf.writeTo(bos)
        (user, bos.toByteArray)
      }
      .toDF(userCol, "bloom")
  }

  /** Deserialize a trained frame into a driver-side map (the reference ships
    * this to its pyfunc as a CSV artifact, `02_geofraud_fraud.py:200-206`). */
  def toMap(trained: DataFrame, userCol: String = "user"): Map[String, BloomFilter] =
    trained.select(col(userCol), col("bloom")).collect().map { r =>
      r.getString(0) -> BloomFilter.readFrom(new ByteArrayInputStream(r.getAs[Array[Byte]](1)))
    }.toMap

  /** Default broadcast budget for [[scoreAuto]] — matches Spark's own
    * `autoBroadcastJoinThreshold` default (10 MB): the filter map rides the
    * same executor-memory path a broadcast join does. */
  val DefaultBroadcastBudgetBytes: Long = 10L * 1024 * 1024

  /** True when the trained frame's total serialized size fits the
    * broadcast budget. One metadata-light aggregate over the trained frame
    * (sum of filter byte lengths — the exact payload [[toMap]] would
    * collect), not a guess from user counts. */
  def fitsBroadcast(trained: DataFrame,
                    budgetBytes: Long = DefaultBroadcastBudgetBytes): Boolean = {
    val sz = trained.agg(coalesce(sum(length(col("bloom"))), lit(0L)))
      .head.getLong(0)
    sz <= budgetBytes
  }

  /** Path-picking scorer — the serving entry point: broadcast-map probe
    * ([[toMap]]+[[score]], zero shuffle) when the filters fit the broadcast
    * budget, distributed [[scoreByJoin]] when they don't. The unconditional
    * [[toMap]] collect is an OOM at millions of users × KB filters; the
    * cutover makes the scale path automatic instead of a caller burden.
    * Both paths are bit-identical on the same trained frame (BloomsSpec). */
  def scoreAuto(points: DataFrame, trained: DataFrame, precision: Int = 10,
                userCol: String = "user", latCol: String = "latitude",
                lngCol: String = "longitude",
                broadcastBudgetBytes: Long = DefaultBroadcastBudgetBytes,
                grid: String = "geocell"): DataFrame = {
    // cache the trained aggregation across the two EAGER consumers (the
    // budget probe and the broadcast path's collect) — un-cached, the
    // whole train lineage (tiles explode + groupBy + per-user bloom
    // build) ran twice per scoring call. persist, NOT localCheckpoint:
    // the join path returns a LAZY frame to the caller, and checkpoint
    // blocks escaping the call would fail (not recompute) after an
    // executor loss — so the lazy path is built on the original
    // recompute-safe lineage and the cache is dropped before returning.
    val t = trained.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (fitsBroadcast(t, broadcastBudgetBytes))
        score(points, toMap(t, userCol), precision, userCol, latCol, lngCol, grid)
      else
        scoreByJoin(points, trained, precision, userCol, latCol, lngCol, grid)
    } finally t.unpersist(false)
  }

  /** Join-based scorer — same contract as [[score]] but the filters stay
    * distributed: points shuffle-join the trained frame on user (sort-merge
    * clusters each user's rows next to its one filter row), and a
    * partition-local pass probes with a single-entry deserialization memo.
    * Use this at scale — [[toMap]]+[[score]] collects every filter to the
    * driver, which is an OOM at millions of users × KB-size filters; the
    * broadcast map stays the fast path for small user counts. Output is
    * bit-identical to [[score]] on the same trained frame (same bytes, same
    * probe; BloomsSpec asserts equality). */
  def scoreByJoin(points: DataFrame, trained: DataFrame, precision: Int = 10,
                  userCol: String = "user", latCol: String = "latitude",
                  lngCol: String = "longitude",
                  grid: String = "geocell"): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val nPoint = points.schema.length
    // helper names no points column takes (resolution ignores case): the
    // probe reads them by position, right after the points columns
    val taken = points.columns.map(_.toLowerCase).toSet
    def fresh(name: String) = Iterator.iterate(name)(_ + "_").find(n => !taken(n.toLowerCase)).get
    val (cellCol, bfUserCol, bloomCol) = (fresh("__cell"), fresh("__bf_user"), fresh("__bloom"))
    val tr = trained.select(col(userCol).cast("string").as(bfUserCol), col("bloom").as(bloomCol))
    // MERGE hint: a small trained side would otherwise broadcast-hash-join,
    // leaving probe rows in points order — the per-partition deserialization
    // memo below would thrash on every user switch (measured 4× slower).
    // Sort-merge clusters and sorts each partition by user, so each filter
    // deserializes once per partition.
    val joined = points
      .withColumn(cellCol, TileGrid.cellCol(grid, col(latCol), col(lngCol), precision))
      .join(tr.hint("merge"), col(userCol).cast("string") === col(bfUserCol), "left_outer")
    implicit val enc: Encoder[Row] = Encoders.row(
      StructType(points.schema.fields :+ StructField("anomaly", IntegerType, nullable = false)))
    joined.mapPartitions { it =>
      var lastUser: String = null
      var lastBf: BloomFilter = null
      it.map { r =>
        val cell = r.getString(nPoint) // null coords map to no tile
        val bf =
          if (cell == null || r.isNullAt(nPoint + 2)) null // no filter: unknown or null user
          else {
            val user = r.getString(nPoint + 1)
            if (lastBf == null || user != lastUser) {
              lastBf = BloomFilter.readFrom(new ByteArrayInputStream(r.getAs[Array[Byte]](nPoint + 2)))
              lastUser = user
            }
            lastBf
          }
        Row.fromSeq(r.toSeq.take(nPoint) :+ verdict(bf, cell))
      }
    }
  }

  /** Cell-granularity scorer: (user, h3) pairs → + `anomaly` 0/1, one probe
    * per pair. Feed it DISTINCT pairs and join the verdicts back to points —
    * at 100 TB that probes |user×cell| combinations instead of every
    * transaction row (the same broadcast-map probe as [[score]]). */
  def scoreCells(pairs: DataFrame, blooms: Map[String, BloomFilter],
                 userCol: String = "user", cellCol: String = "h3"): DataFrame =
    pairs.withColumn("anomaly", probeCol(pairs, blooms, col(userCol), col(cellCol)))

  /** Batch/streaming scorer — the `H3Lookup` pyfunc
    * (`utils/bloom_utils.py:27-42`): df[user, latitude, longitude] →
    * + `anomaly` 0/1. The lookup is the native [[BloomProbe]] expression
    * over a broadcast of the filter map: O(1) per row, no join — the
    * serving-path trade the reference makes. Works unchanged on streaming
    * DataFrames (no shuffle, no state).
    *
    * Calls with the same map object on the same running context reuse one
    * broadcast ([[scoreAuto]] collects a new map per call, so never does).
    * The one-slot memo holds the last (context, map, broadcast) weakly: it
    * pins nothing, so Spark's cleaner still drops a broadcast no query
    * holds, and nothing is destroyed under a query still running. */
  def score(points: DataFrame, blooms: Map[String, BloomFilter], precision: Int = 10,
            userCol: String = "user", latCol: String = "latitude",
            lngCol: String = "longitude", grid: String = "geocell"): DataFrame =
    points.withColumn("anomaly", probeCol(points, blooms, col(userCol),
      TileGrid.cellCol(grid, col(latCol), col(lngCol), precision)))

  private var memo: Seq[WeakReference[AnyRef]] = Nil

  /** The [[BloomProbe]] column over the memoized broadcast of `blooms`. */
  private def probeCol(frame: DataFrame, blooms: Map[String, BloomFilter],
                       user: Column, cell: Column): Column = {
    val sc = frame.sparkSession.sparkContext
    val bc = synchronized {
      memo.map(_.get) match {
        case Seq(c, m, b: Broadcast[Map[String, BloomFilter]] @unchecked)
            if (c eq sc) && (m eq blooms) && !sc.isStopped => b
        case _ =>
          val b = sc.broadcast(blooms)
          memo = Seq(sc, blooms, b).map(new WeakReference[AnyRef](_))
          b
      }
    }
    ColumnBridge.column(BloomProbe(ColumnBridge.expression(user.cast("string")),
      ColumnBridge.expression(cell), bc))
  }

  /** The probe kernel [[BloomProbe]] runs per row, and the rule every
    * scorer applies: a point without a tile (null coords) or without a
    * filter (unknown or null user) is anomalous; otherwise a filter miss is. */
  def probe(blooms: Map[String, BloomFilter], user: UTF8String, cell: UTF8String): Int =
    if (user == null || cell == null) 1
    else verdict(blooms.getOrElse(user.toString, null), cell.toString)

  private def verdict(bf: BloomFilter, cell: String): Int =
    if (bf == null || cell == null || !bf.mightContainString(cell)) 1 else 0
}
