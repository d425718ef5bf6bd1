package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's self-describing contamination evidence (r14
  * verdict items 1–2): the `dirty` flag must be LAP-scoped — the boot
  * sample alone passed a loadAvgStart-8.0 lap as clean — and a query
  * that re-materialized an evicted session cache inside its timed lap
  * must carry a `cache_rebuilt` marker. Pure-function specs; the wiring
  * is exercised by every bench run. */
class BenchGateSpec extends AnyFunSuite {

  test("dirtyVerdict: clean only when boot, lap external cpu AND run/cpu are all quiet") {
    assert(!Bench.dirtyVerdict(1.0, 1.2, 1.1, loadThreshold = 4.0))
    // the r14 artifact's shape: boot quiet, co-tenant cpu across the lap —
    // MUST stamp dirty (a co-tenant's cycles are external by definition;
    // the bench's own 32-way parallelism never lands in this axis — the
    // r19 fix for fan-out laps self-stamping dirty)
    assert(Bench.dirtyVerdict(3.4, 5.9, 3.37, loadThreshold = 4.0))
    // boot loaded, lap decayed — still dirty (the first queries paid it)
    assert(Bench.dirtyVerdict(8.0, 2.0, 1.2, loadThreshold = 4.0))
    // external cpu quiet but tasks queued (runCpuRatio > 2.5) — dirty
    assert(Bench.dirtyVerdict(1.0, 1.0, 2.6, loadThreshold = 4.0))
    assert(!Bench.dirtyVerdict(1.0, 1.0, 2.5, loadThreshold = 4.0))
  }

  test("dirtyVerdict: unmeasured (-1) inputs never dirty the verdict") {
    assert(!Bench.dirtyVerdict(-1.0, -1.0, -1.0, loadThreshold = 4.0))
    assert(!Bench.dirtyVerdict(1.0, -1.0, 1.0, loadThreshold = 4.0))
  }

  test("cacheRebuilds: counts gaps that CLOSED during the lap, nothing else") {
    // rdd 7 had 3 evicted partitions before, 0 after: one rebuild
    assert(Bench.cacheRebuilds(Map(7 -> 3), Map(7 -> 0)) == 1)
    // partial re-materialization still counts
    assert(Bench.cacheRebuilds(Map(7 -> 3), Map(7 -> 1)) == 1)
    // a gap that stayed (the query never touched that cache): no rebuild
    assert(Bench.cacheRebuilds(Map(7 -> 3), Map(7 -> 3)) == 0)
    // a gap that GREW (eviction during the lap, not rebuild): no marker
    assert(Bench.cacheRebuilds(Map(7 -> 1), Map(7 -> 2)) == 0)
    // fully-cached before: nothing to rebuild
    assert(Bench.cacheRebuilds(Map(7 -> 0), Map(7 -> 0)) == 0)
    // an rdd first persisted DURING the lap is the query's own caching
    assert(Bench.cacheRebuilds(Map.empty, Map(9 -> 0)) == 0)
    // an rdd unpersisted during the lap (absent after) is not a rebuild
    assert(Bench.cacheRebuilds(Map(7 -> 2), Map.empty) == 0)
    // independent rdds count independently
    assert(Bench.cacheRebuilds(
      Map(1 -> 2, 2 -> 0, 3 -> 4), Map(1 -> 0, 2 -> 0, 3 -> 1)) == 2)
  }

  test("envOr: a malformed env value warns, naming it, and falls back to the default") {
    val warned = scala.collection.mutable.ArrayBuffer.empty[String]
    def load(env: Map[String, String]) =
      Bench.envOr("SPARK_GRAFT_DIRTY_LOAD", 4.0, env, warned += _)(_.toDouble)
    def idle(env: Map[String, String]) =
      Bench.envOr("SPARK_GRAFT_IDLE_WAIT_S", 120L, env, warned += _)(_.toLong)
    assert(load(Map.empty) == 4.0 && idle(Map.empty) == 120L && warned.isEmpty)
    assert(load(Map("SPARK_GRAFT_DIRTY_LOAD" -> " 2.5 ")) == 2.5)
    assert(idle(Map("SPARK_GRAFT_IDLE_WAIT_S" -> "30")) == 30L && warned.isEmpty)
    assert(load(Map("SPARK_GRAFT_DIRTY_LOAD" -> "high")) == 4.0)
    assert(idle(Map("SPARK_GRAFT_IDLE_WAIT_S" -> "1.5")) == 120L)
    assert(idle(Map("SPARK_GRAFT_IDLE_WAIT_S" -> "")) == 120L)
    assert(warned.size == 3)
    assert(warned(0).contains("SPARK_GRAFT_DIRTY_LOAD") && warned(0).contains("'high'"))
    assert(warned(1).contains("SPARK_GRAFT_IDLE_WAIT_S") && warned(1).contains("'1.5'"))
    // SPARK_GRAFT_CPUS must be a positive Int; each main keeps its default
    def cpus(env: Map[String, String]) = Bench.cpus(32, env, warned += _)
    assert(cpus(Map.empty) == 32 && cpus(Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    assert(warned.size == 3)
    Seq("0", "-2", "x").foreach(v => assert(cpus(Map("SPARK_GRAFT_CPUS" -> v)) == 32))
    assert(warned.size == 6)
    warned.drop(3).zip(Seq("'0'", "'-2'", "'x'")).foreach { case (w, v) =>
      assert(w.contains("SPARK_GRAFT_CPUS") && w.contains(v) && w.contains("is not valid"))
    }
  }
}
