package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The layers a traced run splits time across, and how a driver call site
  * maps to one. */
object Layers {
  val Spans: Seq[String] = Seq(
    "cluster.fit", "cluster.cc", "cluster.tiles",
    "pipeline.run", "pipeline.tfidf", "pipeline.tiles_write",
    "score.anomalies", "score.bloom_train", "score.bloom_probe")
  val Measures: Seq[String] = Seq(
    "wall_ms", "task_ms", "cpu_ms", "gc_ms", "plan_ms", "driver_ms",
    "jobs", "tasks", "failed_tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
  val Unattributed = "unattributed"

  /** (class, methods or empty = any) → layer, for program frames. */
  private val rules: Seq[(String, Set[String], String)] = Seq(
    ("graft.cluster.ConnectedComponents", Set(), "cluster.cc"),
    ("graft.cluster.TileCache", Set(), "cluster.tiles"),
    ("graft.cluster.GeoscanModel", Set(), "cluster.tiles"),
    ("graft.cluster.GeoscanPersonalizedModel", Set(), "cluster.tiles"),
    ("graft.cluster.Geoscan", Set(), "cluster.fit"),
    ("graft.cluster.GeoscanPersonalized", Set(), "cluster.fit"),
    ("graft.cluster.Dbscan", Set(), "cluster.fit"),
    ("graft.pipeline.GeoFraudPipeline", Set("tfidfTiles"), "pipeline.tfidf"),
    ("graft.pipeline.GeoFraudPipeline", Set("run"), "pipeline.tiles_write"),
    ("graft.score.Anomalies", Set(), "score.anomalies"),
    ("graft.score.Blooms", Set("train", "toMap", "fitsBroadcast"), "score.bloom_train"),
    ("graft.score.Blooms", Set("score", "scoreAuto", "scoreByJoin", "scoreCells"), "score.bloom_probe"))

  sealed trait Site
  final case class Program(layer: String) extends Site
  case object Bench extends Site
  case object Unknown extends Site

  /** Resolve a long-form call site (one frame per line, innermost first):
    * the first program frame a rule names decides; a benchmark frame
    * before any such program frame means "the enclosing benchmark span". */
  def resolve(longCallSite: String): Site = {
    if (longCallSite == null) return Unknown
    val it = longCallSite.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
    while (it.hasNext) {
      val frame = it.next()
      val paren = frame.indexOf('(')
      val qual = if (paren >= 0) frame.substring(0, paren) else frame
      val dot = qual.lastIndexOf('.')
      if (dot > 0) {
        val cls = qual.substring(0, dot).stripSuffix("$")
        val method = qual.substring(dot + 1)
        if (cls.startsWith("perfbench.")) return Bench
        if (cls.startsWith("graft.")) {
          rules.find { case (c, ms, _) => c == cls && (ms.isEmpty || ms(method)) }
            .foreach { case (_, _, layer) => return Program(layer) }
        }
      }
    }
    Unknown
  }
}

/** Spans opened by the benchmark around each public call, plus a Spark
  * listener that attributes every SQL execution and job to a layer.
  *
  * Attribution: an execution's call site (its long form, from the SQL
  * execution start event) picks the layer by [[Layers.resolve]]; a job
  * takes its execution's layer, or — outside SQL — the call site of its
  * result stage. Call sites inside the benchmark fall back to the
  * benchmark span active on the submitting thread, carried to Spark as a
  * job tag. Planning time is the execution's `tracker.phases` total.
  * Everything stays in memory until [[report]] / [[spansJson]]. */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {
  @volatile private var enabled = false
  private val nextId = new AtomicLong(1)
  private val TagPrefix = "perfbench-span-"
  /** Tag of the traced section: units without it are ignored, so work
    * outside the traced pass stays out of the trace. */
  private val TracedTag = "perfbench-traced"

  /** Register the listener and start tagging this thread's work. */
  def start(): Unit = {
    sc.addSparkListener(this)
    sc.addJobTag(TracedTag)
    enabled = true
  }

  /** Stop tagging, wait for the listener bus to catch up, unregister. */
  def stop(): Unit = {
    enabled = false
    sc.removeJobTag(TracedTag)
    drain()
    sc.removeSparkListener(this)
  }

  final class BenchSpan(val id: Long, val name: String, val parent: Long,
                        val request: Long, val start: Long) {
    @volatile var end: Long = -1
  }
  private final class Exec(val id: Long, val root: Boolean, val layer: String,
                           val span: Long, val start: Long, val desc: String) {
    var end: Long = -1
    var planMs: Double = 0
  }
  private final class Job(val id: Int, val exec: Option[Long], val layer: String,
                          val span: Long, val start: Long) {
    var end: Long = -1
    var taskMs, cpuMs, gcMs, shuffleRead, shuffleWrite, spill = 0.0
    var tasks, failedTasks = 0L
  }

  private val spans = new java.util.concurrent.ConcurrentHashMap[Long, BenchSpan]()
  private val current = new ThreadLocal[BenchSpan]
  // listener state: written only on the listener-bus thread, read after drain
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  /** Run `body` as a benchmark span named after its layer. No-op (no tag,
    * no record) while tracing is off. */
  def span[T](name: String, request: Long = -1)(body: => T): T = {
    if (!enabled) return body
    val parent = current.get()
    val s = new BenchSpan(nextId.getAndIncrement(), name,
      if (parent == null) 0 else parent.id, request, System.currentTimeMillis())
    spans.put(s.id, s)
    if (parent != null) sc.removeJobTag(TagPrefix + parent.id)
    sc.addJobTag(TagPrefix + s.id)
    current.set(s)
    try body
    finally {
      s.end = System.currentTimeMillis()
      sc.removeJobTag(TagPrefix + s.id)
      current.set(parent)
      if (parent != null) sc.addJobTag(TagPrefix + parent.id)
    }
  }

  private def spanOf(tags: Iterable[String]): Long =
    tags.collect { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toLong }
      .foldLeft(0L)(math.max)

  private def layerFor(site: Layers.Site, span: Long): String = site match {
    case Layers.Program(l) => l
    case _ => Option(spans.get(span)).map(_.name).getOrElse(Layers.Unattributed)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized { event match {
    case s: SparkListenerSQLExecutionStart if s.jobTags.contains(TracedTag) =>
      val span = spanOf(s.jobTags)
      execs(s.executionId) = new Exec(s.executionId, s.rootExecutionId.forall(_ == s.executionId),
        layerFor(Layers.resolve(s.details), span), span, s.time, s.description)
    case s: SparkListenerSQLExecutionEnd =>
      execs.get(s.executionId).foreach { e =>
        e.end = s.time
        // the QueryExecution rides on the end event (the same object a
        // QueryExecutionListener receives); its field is package-private
        // in Scala, public in bytecode
        val qe = scala.util.Try(s.getClass.getMethod("qe").invoke(s))
          .toOption.collect { case q: QueryExecution => q }
        qe.foreach(q => e.planMs = q.tracker.phases.valuesIterator.map(_.durationMs.toDouble).sum)
      }
    case _ =>
  } }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val p = js.properties
    val exec = Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val tags = Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    if (tags.contains(TracedTag)) {
      val span = spanOf(tags)
      val layer = exec.flatMap(execs.get).map(_.layer).getOrElse {
        val resultStage = js.stageInfos.sortBy(_.stageId).lastOption
        layerFor(resultStage.map(st => Layers.resolve(st.details)).getOrElse(Layers.Unknown), span)
      }
      val j = new Job(js.jobId, exec, layer, span, js.time)
      jobs(j.id) = j
      js.stageIds.foreach(s => stageJob(s) = j)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(te.stageId).foreach { j =>
      j.tasks += 1
      if (te.reason != org.apache.spark.Success) j.failedTasks += 1
      val m = te.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  /** Wait until the listener bus has delivered the end of every execution
    * and job it has announced (bounded). */
  private def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open: Boolean = synchronized {
      execs.valuesIterator.exists(_.end < 0) || jobs.valuesIterator.exists(_.end < 0)
    }
    Thread.sleep(200)
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total.toDouble
  }

  /** Units of wall time: root SQL executions and jobs outside SQL. */
  private def units: Seq[(String, Long, Long, Long)] =
    execs.valuesIterator.filter(e => e.root && e.end >= 0).map(e => (e.layer, e.span, e.start, e.end)).toSeq ++
      jobs.valuesIterator.filter(j => j.exec.isEmpty && j.end >= 0).map(j => (j.layer, j.span, j.start, j.end))

  /** Per layer: the 12 measures, plus the unattributed task share. */
  def report(): (Map[String, Map[String, Double]], Double) = synchronized {
    val acc = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
    def add(layer: String, m: String, v: Double): Unit = {
      val row = acc.getOrElseUpdate(layer, mutable.HashMap.empty)
      row(m) = row.getOrElse(m, 0.0) + v
    }
    val us = units
    val bySpan = us.groupBy(_._2)
    import scala.jdk.CollectionConverters._
    val closed = spans.values.asScala.filter(_.end >= 0).toSeq
    closed.foreach { s =>
      val kids = bySpan.getOrElse(s.id, Nil).map(u => (u._1, math.max(u._3, s.start), math.min(u._4, s.end)))
      kids.groupBy(_._1).foreach { case (layer, iv) => add(layer, "wall_ms", unionMs(iv.map(x => (x._2, x._3)))) }
      add(s.name, "wall_ms", (s.end - s.start) - unionMs(kids.map(x => (x._2, x._3))))
    }
    bySpan.foreach { case (sp, iv) =>
      if (sp == 0 || !spans.containsKey(sp))
        iv.groupBy(_._1).foreach { case (layer, xs) => add(layer, "wall_ms", unionMs(xs.map(x => (x._3, x._4)))) }
    }
    jobs.valuesIterator.foreach { j =>
      add(j.layer, "jobs", 1); add(j.layer, "tasks", j.tasks); add(j.layer, "failed_tasks", j.failedTasks)
      add(j.layer, "task_ms", j.taskMs); add(j.layer, "cpu_ms", j.cpuMs); add(j.layer, "gc_ms", j.gcMs)
      add(j.layer, "shuffle_read_bytes", j.shuffleRead); add(j.layer, "shuffle_write_bytes", j.shuffleWrite)
      add(j.layer, "spill_bytes", j.spill)
    }
    execs.valuesIterator.foreach(e => add(e.layer, "plan_ms", e.planMs))
    val out = Layers.Spans.map { layer =>
      val row = acc.getOrElse(layer, mutable.HashMap.empty[String, Double])
      val wall = row.getOrElse("wall_ms", 0.0)
      row("driver_ms") = wall - row.getOrElse("task_ms", 0.0) / cores
      layer -> Layers.Measures.map(m => m -> row.getOrElse(m, 0.0)).toMap
    }.toMap
    val totalTask = jobs.valuesIterator.map(_.taskMs).sum
    val unattributed = acc.get(Layers.Unattributed).flatMap(_.get("task_ms")).getOrElse(0.0) +
      acc.collect { case (l, row) if l != Layers.Unattributed && !Layers.Spans.contains(l) =>
        row.getOrElse("task_ms", 0.0) }.sum
    (out, if (totalTask > 0) 100.0 * unattributed / totalTask else 0.0)
  }

  /** Every benchmark span (with its self time: wall minus the part its
    * executions and jobs cover) and every execution and job, as JSON. */
  def spansJson(): String = synchronized {
    import scala.jdk.CollectionConverters._
    val us = units
    val bench = spans.values.asScala.toSeq.sortBy(_.id).map { s =>
      val kids = us.filter(_._2 == s.id).map(u => (math.max(u._3, s.start), math.min(u._4, s.end)))
      val wall = (s.end - s.start).toDouble
      Json.obj("kind" -> "span", "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ms" -> s.start, "end_ms" -> s.end,
        "wall_ms" -> wall, "self_ms" -> (wall - unionMs(kids)))
    }
    val ex = execs.valuesIterator.toSeq.map { e =>
      Json.obj("kind" -> "execution", "id" -> e.id, "root" -> e.root, "layer" -> e.layer,
        "span" -> e.span, "call_site" -> e.desc, "start_ms" -> e.start, "end_ms" -> e.end,
        "plan_ms" -> e.planMs)
    }
    val jb = jobs.valuesIterator.toSeq.map { j =>
      Json.obj("kind" -> "job", "id" -> j.id, "execution" -> j.exec.map(_.toDouble).getOrElse(-1.0),
        "layer" -> j.layer, "span" -> j.span, "start_ms" -> j.start, "end_ms" -> j.end,
        "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks, "task_ms" -> j.taskMs, "cpu_ms" -> j.cpuMs,
        "gc_ms" -> j.gcMs, "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)
    }
    Json.arr(bench ++ ex ++ jb)
  }
}
