package graft.cluster

import graft.SparkSpec
import scala.util.Random

class ConnectedComponentsSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)], localFinishEdges: Long = 2000000L): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(edges.toDF("src", "dst"), localFinishEdges = localFinishEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two chains and a triangle") {
    val comp = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L), (21L, 22L), (22L, 20L)))
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(12L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L && comp(22L) == 20L)
  }

  test("long path (high diameter) converges in bounded rounds") {
    // a 2000-vertex path: Pregel-style propagation would need 2000 rounds
    val edges = (0L until 1999L).map(i => (i, i + 1))
    val comp = cc(edges)
    assert(comp.values.toSet == Set(0L))
    assert(comp.size == 2000)
  }

  test("matches brute-force union-find on random graphs (property)") {
    val r = new Random(3)
    (1 to 5).foreach { _ =>
      val n = 200
      val edges = Seq.fill(150)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // brute force union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var i = x; while (parent(i) != i) i = parent(i); i }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // component min = min over all vertices with same root
          val root = find(v.toInt)
          (0 until n).filter(u => find(u) == root)
            .filter(u => edges.exists(e => e._1 == u || e._2 == u))
            .min.toLong
        }).toMap
      assert(cc(edges) == expected)
    }
  }

  test("empty edge list") {
    import spark.implicits._
    assert(ConnectedComponents.run(Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
  }

  test("self-loop-only vertices keep their own singleton component") {
    val comp = cc(Seq((7L, 7L), (1L, 2L)))
    assert(comp == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("distributed path (cap 0) matches the local union-find finish") {
    val r = new Random(29)
    (1 to 3).foreach { _ =>
      val n = 300
      val edges = Seq.fill(220)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(cc(edges, localFinishEdges = 0L) == cc(edges))
    }
    // high-diameter input through the pure distributed (batched) loop:
    // exercises the 2-rounds-per-job batching and the single-round
    // fixpoint confirmation tail
    val path = (0L until 499L).map(i => (i, i + 1))
    val comp = cc(path, localFinishEdges = 0L)
    assert(comp.values.toSet == Set(0L) && comp.size == 500)
    // self-loop-only vertex survives both paths
    assert(cc(Seq((7L, 7L), (1L, 2L)), localFinishEdges = 0L) ==
      Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("raw-row local finish, contracted local finish and distributed path agree on messy edges") {
    val r = new Random(41)
    (1 to 4).foreach { _ =>
      val n = 120
      val base = Seq.fill(80)((r.nextInt(n).toLong, r.nextInt(n).toLong))
      // duplicates, both orientations, self-loops on edge vertices, and
      // vertices whose only edge is a self-loop
      val edges = r.shuffle(base ++ base.take(20) ++ base.take(30).map(_.swap) ++
        base.take(10).map(e => (e._1, e._1)) ++
        Seq.fill(5)(n + r.nextInt(50).toLong).map(v => (v, v)))
      val raw = edges.size.toLong
      // cap = raw rows: the raw checkpoint is union-found; raw - 1: round
      // 0's normalized set (smaller, for the duplicates) is union-found;
      // 0: contraction to the fixpoint
      val viaRaw = cc(edges, localFinishEdges = raw)
      assert(viaRaw == cc(edges, localFinishEdges = raw - 1))
      assert(viaRaw == cc(edges, localFinishEdges = 0L))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      assert(viaRaw == parent.keys.map(v => v -> find(v)).toMap)
    }
  }

  test("a null endpoint gives the same rows on every path") {
    import spark.implicits._
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)), (Some(3L), Some(3L)),
      (Some(2L), Some(1L)))
    def rows(cap: Long) = ConnectedComponents.run(edges.toDF("src", "dst"), localFinishEdges = cap)
      .as[(Option[Long], Option[Long])].collect().toSet
    val expected = Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(3L)),
      (Some(5L), Some(5L)), (None, None))
    assert(rows(edges.size) == expected)
    assert(rows(edges.size - 1) == expected)
    assert(rows(0L) == expected)
  }

  test("GraphX twin computes identical components (random graphs)") {
    import spark.implicits._
    val r = new Random(17)
    (1 to 3).foreach { _ =>
      val n = 120
      val edges = Seq.fill(90)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("src", "dst")
      val star = ConnectedComponents.run(df)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val gx = ConnectedComponentsGraphX.run(df)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(gx == star)
    }
  }
}
