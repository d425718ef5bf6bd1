package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

/** Minimal JSON writer: strings, numbers, booleans, nested raw JSON. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[\n", ",\n", "\n]")
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (0–100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the usual tail percentiles that still has at least
    * `beyond` samples above it; falls back to the median. */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100.0) >= beyond).getOrElse(50.0)
}

/** Peak heap occupancy right after a collection, from the JVM's own GC
  * notifications: the live set plus whatever the program keeps cached. */
final class HeapWatch {
  @volatile private var peak = 0L
  @volatile var active = false
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (active && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (used > peak) peak = used
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def peakMb: Double = peak / (1024.0 * 1024.0)
  def close(): Unit = beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
}
