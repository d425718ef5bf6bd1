package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

class PlansSpec extends SparkSpec {

  private def withRule[A](f: => A): A = {
    spark.experimental.extraOptimizations = Seq(AntiJoinRewrite)
    try f finally spark.experimental.extraOptimizations = Nil
  }

  test("AntiJoinRewrite turns left_outer + IS NULL into LeftAnti (flagship shape)") {
    import spark.implicits._
    val tx = Seq(("u1", "C1"), ("u1", "C9"), ("u2", "C2")).toDF("user", "h3")
    val tiles = Seq(("u1", "C1"), ("u2", "C2")).toDF("tuser", "th3")

    withRule {
      val q = tx.join(tiles, $"user" === $"tuser" && $"h3" === $"th3", "left_outer")
        .filter($"th3".isNull)
      val optimized = q.queryExecution.optimizedPlan
      assert(optimized.toString.contains("LeftAnti"), optimized.toString)
      // results identical to the direct anti-join spelling
      val expected = tx.join(tiles, $"user" === $"tuser" && $"h3" === $"th3", "left_anti")
      assert(q.select($"user", $"h3").exceptAll(expected.select($"user", $"h3")).count() == 0)
      assert(q.count() == 1)
      // schema preserved: right columns still present, all NULL
      assert(q.columns.toSeq == Seq("user", "h3", "tuser", "th3"))
      assert(q.select($"tuser").head.isNullAt(0))
    }
  }

  test("AntiJoinRewrite fires on the exact q12 driver-query shape") {
    // the spelling Verify/Bench actually run (their sessions now carry
    // GraftExtensions): left_outer against a distinct subquery + IS NULL
    withRule {
      val q = graft.queries.CoreQueries.queries("q12_leftouter_isnull")(
        spark, "/root/testdata/sf0.001")
      assert(q.queryExecution.optimizedPlan.toString.contains("LeftAnti"),
        q.queryExecution.optimizedPlan.toString)
    }
  }

  test("AntiJoinRewrite does NOT fire when the right attribute is nullable pre-join") {
    import spark.implicits._
    val l = Seq(1, 2).toDF("id")
    val r = Seq((1, Some("x")), (2, None)).toDF("rid", "tag") // tag nullable with real nulls
    withRule {
      val q = l.join(r, $"id" === $"rid", "left_outer").filter($"tag".isNull)
      assert(!q.queryExecution.optimizedPlan.toString.contains("LeftAnti"))
      // matched-but-null row must survive — anti join would wrongly drop it
      assert(q.count() == 1)
      assert(q.select($"rid").head.getInt(0) == 2)
    }
  }

  test("native geo_cell expression matches the built-in composition and the geo core") {
    import spark.implicits._
    // register the native expression the same way GraftExtensions does
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("geo_cell_native"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GeoCellExpression].getName, "geo_cell_native"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GeoCellExpression(children(0), children(1), children(2)))

    val df = Seq((40.7128, -74.0060), (51.5074, -0.1278), (-33.8688, 151.2093))
      .toDF("lat", "lng")
    val rows = df.select(
      expr("geo_cell_native(lat, lng, 10)").as("n"),
      graft.functions.GeoFunctions.geoCell($"lat", $"lng", 10).as("b"),
      $"lat", $"lng").collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getString(0) == graft.geo.GeoCell.cellId(r.getDouble(2), r.getDouble(3), 10))
    }
    // null-safety + type coercion (ImplicitCastInputTypes: built-in rules)
    assert(spark.sql("SELECT geo_cell_native(CAST(NULL AS DOUBLE), -74.0D, 10)").head.isNullAt(0))
    // a plain decimal literal coerces — the natural SQL spelling works
    assert(spark.sql("SELECT geo_cell_native(40.7, -74.0, 10)").head.getString(0) ==
      graft.geo.GeoCell.cellId(40.7, -74.0, 10))
    // a non-numeric string coerces at analysis and fails AT RUNTIME under
    // ANSI (exactly how built-ins treat sqrt('a')); an uncastable TYPE
    // still fails analysis
    intercept[Exception] {
      spark.sql("SELECT geo_cell_native('a', 1.0D, 10)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT geo_cell_native(array(1), 1.0D, 10)").collect()
    }
  }

  test("native geo_cell participates in whole-stage codegen") {
    import spark.implicits._
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("geo_cell_native"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GeoCellExpression].getName, "geo_cell_native"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GeoCellExpression(children(0), children(1), children(2)))
    // literals constant-fold to a LocalTableScan; a range input forces the
    // expression through a real codegen stage
    val df = spark.range(100)
      .selectExpr("CAST(40.0 + id * 0.001 AS DOUBLE) AS lat",
        "CAST(-74.0 + id * 0.001 AS DOUBLE) AS lng")
      .selectExpr("geo_cell_native(lat, lng, 10) AS c", "lat", "lng")
    // '*(n)' prefixes mark operators inside a WholeStageCodegen stage
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("*(1) Project [geo_cell("), physical)
    df.collect().foreach { r =>
      assert(r.getString(0) == graft.geo.GeoCell.cellId(r.getDouble(1), r.getDouble(2), 10))
    }
  }

  test("GeoFunctions.geoCell equals the format_string composite it replaced") {
    import spark.implicits._
    // the built-in composition geoCell was spelled as before the native
    // expression took over
    def composite(lat: Column, lng: Column, res: Int): Column = {
      val step = graft.geo.GeoCell.stepDegrees(res)
      val rows = 1L << (res + 8)
      val cols = 1L << (res + 9)
      val i = least(greatest(floor((lat + lit(90.0)) / lit(step)), lit(0L)), lit(rows - 1))
      val j = pmod(floor((lng + lit(180.0)) / lit(step)).cast("long"), lit(cols))
      format_string("%X%07X%07X", lit(res), i.cast("long"), j)
    }
    val edges = Seq(90.0, -90.0, 180.0, -180.0, 0.0, 40.7128, -74.006, 1e3, -1e3,
      1e300, -1e300, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .map(Option(_)) :+ None
    val df = (for (a <- edges; b <- edges) yield (a, b)).toDF("lat", "lng")
    for (res <- graft.geo.GeoCell.MinResolution to graft.geo.GeoCell.MaxResolution) {
      val rows = df.select(graft.functions.GeoFunctions.geoCell($"lat", $"lng", res),
        composite($"lat", $"lng", res), $"lat", $"lng").collect()
      rows.foreach { r =>
        if (r.isNullAt(2) || r.isNullAt(3))
          // the one difference: a null coordinate has no cell. The composite
          // clamped a null latitude to row 0 (greatest/least skip nulls) and
          // printed a null longitude as "null" — ids that name no point
          assert(r.isNullAt(0) && !r.isNullAt(1), r)
        else assert(r.getString(0) == r.getString(1), s"res $res: $r")
      }
    }
    // the resolution is checked when the column is built
    val e = intercept[IllegalArgumentException](
      graft.functions.GeoFunctions.geoCell($"lat", $"lng", 16))
    assert(e.getMessage.contains("resolution 16"), e.getMessage)
  }

  test("vec_dot is SQL-callable via the function registry with type checking") {
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot_native"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[VecDotExpression].getName, "vec_dot_native"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecDotExpression(children(0), children(1)))
    assert(spark.sql("SELECT vec_dot_native(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head.getDouble(0) == 11.0)
    assert(spark.sql("SELECT vec_dot_native(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .head.isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot_native(array('a'), array(1.0D))").collect()
    }
  }

  test("vec_dot matches the HOF spelling bit-for-bit (incl. null semantics)") {
    import spark.implicits._
    import graft.sim.Similarity
    val rows = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),        // plain
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, -0.6f)),     // signs
      (Array.empty[Float], Array.empty[Float]),                   // empty → 0.0
      (Array(1e30f, 1e30f, -1e30f), Array(1e30f, -1e30f, 1e30f))) // magnitude
    val df = rows.toDF("a", "b")
    val hofDot = aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val got = df.select(Similarity.vecDot($"a", $"b").as("native"), hofDot.as("hof")).collect()
    got.foreach { r =>
      // bit equality, not approx: same left-to-right double accumulation
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    // length mismatch and null elements → null, as with zip_with/aggregate
    val weird = Seq(
      (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f)),
      (Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 2.0f)))
      .toDF("a", "b")
    val w = weird.select(Similarity.vecDot($"a", $"b")).collect()
    assert(w.forall(_.isNullAt(0)), w.mkString(","))
    // null input arrays → null
    val nin = Seq((null.asInstanceOf[Array[Float]], Array(1.0f)))
      .toDF("a", "b").select(Similarity.vecDot($"a", $"b")).collect()
    assert(nin.head.isNullAt(0))
  }

  test("vec_dot participates in whole-stage codegen and works on double arrays") {
    import spark.implicits._
    import graft.sim.Similarity
    val df = spark.range(1000)
      .selectExpr("array(CAST(id AS DOUBLE), CAST(id+1 AS DOUBLE)) AS a")
      .select(Similarity.vecDot($"a", $"a").as("d"), $"a")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("*(1) Project [vec_dot("), physical)
    df.collect().foreach { r =>
      val a = r.getSeq[Double](1)
      assert(r.getDouble(0) == a.map(x => x * x).sum)
    }
  }
}
