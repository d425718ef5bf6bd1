package graft.tools

import graft.{Bench, SparkEntry}
import graft.tracking.{MetricsListener, ResourceListener}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The profiling main: `runMain graft.tools.Profile <sfDir> <outDir> <query>...`
  *
  * Unknown names are refused before the session starts; the session is
  * `Bench.session` at `SPARK_GRAFT_CPUS` (default 4, as in Bench). Each
  * query's frame is built in argument order and `explainString(FormattedMode)`
  * of it written to `<outDir>/<query>.txt`. Then each query runs one untimed
  * warm lap (staging, JIT) and [[TimedLaps]] timed laps of
  * `fn(spark, sfDir).count()`, the call Bench times, printing per lap the
  * wall, each action, task run/cpu/gc ms and, for stream queries, the
  * micro-batch `durationMs` summed per phase; per query, the median and
  * min–max wall. */
object Profile {

  val TimedLaps = 3

  final case class Lap(wallMs: Double, actions: Seq[(String, Double)],
                       runMs: Long, cpuMs: Long, gcMs: Long,
                       streamPhasesMs: Map[String, Long])

  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Profile <sfDir> <outDir> <query>...")
    val queries = resolve(args.drop(2).toSeq)
    val spark = Bench.session(Bench.cpus(4))
    try run(spark, args(0), args(1), queries) finally spark.stop()
  }

  /** `names` with their query functions; every unknown name is refused in
    * one message. */
  private[tools] def resolve(names: Seq[String]): Seq[(String, Query)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    names.map(n => n -> SparkEntry.queries(n))
  }

  /** (median, min, max) of `xs`. */
  private[tools] def spread(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    (s(s.size / 2), s.head, s.last)
  }

  private[tools] def run(spark: SparkSession, sfDir: String, outDir: String,
                         queries: Seq[(String, Query)],
                         out: String => Unit = println): Seq[(String, Seq[Lap])] = {
    Files.createDirectories(Paths.get(outDir))
    val frames = queries.map { case (name, fn) =>
      val df = fn(spark, sfDir)
      Files.writeString(Paths.get(outDir, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode))
      out(s"[profile] wrote $outDir/$name.txt")
      (name, fn, df)
    }
    val ml = new MetricsListener
    val rl = new ResourceListener
    val batches = new ConcurrentLinkedQueue[Map[String, Long]]()
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.listenerManager.register(ml)
    spark.sparkContext.addSparkListener(rl)
    spark.streams.addListener(streams)
    try frames.map { case (name, fn, df) =>
      val w0 = ml.snapshot().size
      df.count()
      Bench.quiescentRecords(ml, w0) // keep the warm lap's records out of lap 1
      val laps = (1 to TimedLaps).map { i =>
        val n0 = ml.snapshot().size
        val b0 = batches.size
        val r0 = rl.totals()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wallMs = (System.nanoTime() - t0) / 1e6
        val actions = Bench.quiescentRecords(ml, n0).map(r => r.funcName -> r.durationNs / 1e6)
        val r1 = rl.totals()
        val phases = batches.asScala.drop(b0).flatten
          .groupMapReduce(_._1)(_._2)(_ + _)
        val lap = Lap(wallMs, actions, r1.runTimeMs - r0.runTimeMs,
          r1.cpuTimeMs - r0.cpuTimeMs, r1.gcTimeMs - r0.gcTimeMs, phases)
        out(f"[profile] $name lap $i/$TimedLaps: ${lap.wallMs}%.1f ms wall, " +
          s"task run ${lap.runMs} / cpu ${lap.cpuMs} / gc ${lap.gcMs} ms")
        lap.actions.foreach { case (f, ms) => out(f"[profile]   action $f $ms%.1f ms") }
        if (lap.streamPhasesMs.nonEmpty) out("[profile]   micro-batch ms: " +
          lap.streamPhasesMs.toSeq.sortBy(-_._2).map { case (k, v) => s"$k $v" }.mkString(", "))
        lap
      }
      val (median, lo, hi) = spread(laps.map(_.wallMs))
      out(f"[profile] $name: median $median%.1f ms (min $lo%.1f, max $hi%.1f) over $TimedLaps laps")
      name -> laps
    } finally {
      spark.listenerManager.unregister(ml)
      spark.sparkContext.removeSparkListener(rl)
      spark.streams.removeListener(streams)
    }
  }
}
