package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

import graft.{SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("unknown names are refused in one message, naming each, before a session starts") {
    val ctx = spark.sparkContext
    val out = Files.createTempDirectory("profile").resolve("plans")
    val e = intercept[IllegalArgumentException](
      Profile.main(Array(sf, out.toString, "nope_a", "q14_geo_cell", "nope_b")))
    assert(e.getMessage.contains("nope_a, nope_b"))
    assert(!e.getMessage.contains("q14_geo_cell"))
    // main stops the session it builds, and writes plans only inside one
    assert(!ctx.isStopped && !Files.exists(out))
  }

  test("a batch query: the plan file is the frame's formatted plan; 3 timed laps with their spread") {
    val out = Files.createTempDirectory("profile")
    val lines = ArrayBuffer.empty[String]
    val Seq((name, laps)) =
      Profile.run(spark, sf, out.toString, Profile.resolve(Seq("q14_geo_cell")), lines += _)
    assert(name == "q14_geo_cell")
    // a second build of the frame differs only in expression and plan ids
    def ids(plan: String) = plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    val plan = Files.readString(out.resolve("q14_geo_cell.txt"))
    val frame = SparkEntry.queries(name)(spark, sf)
    assert(plan.startsWith("== Physical Plan =="))
    assert(ids(plan) == ids(frame.queryExecution.explainString(FormattedMode)))

    assert(laps.size == Profile.TimedLaps && Profile.TimedLaps == 3)
    assert(lines.count(_.startsWith("[profile] q14_geo_cell lap ")) == 3)
    assert(laps.forall(l => l.wallMs > 0 && l.actions.map(_._1).contains("count")))
    val (median, lo, hi) = Profile.spread(laps.map(_.wallMs))
    assert(lo <= median && median <= hi)
    assert(lines.last == f"[profile] q14_geo_cell: median $median%.1f ms " +
      f"(min $lo%.1f, max $hi%.1f) over 3 laps")
  }
}
