package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.GeoCell

/** Native Catalyst expression for `geo_cell(lat, lng, res)` — the system's
  * hottest scalar (the reference's `to_h3` Python UDF,
  * `utils/spark_utils.py:6-9`, paid a Python-worker round trip per row; a
  * Scala UDF still pays boxing + serialization of the closure; this is a
  * first-class expression with `doGenCode`, so it inlines into whole-stage
  * codegen like a built-in).
  *
  * The one Spark implementation of the engine cell id: built by
  * [[graft.functions.GeoFunctions.geoCell]], registered as SQL `geo_cell`. */
case class GeoCellExpression(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "geo_cell"
  override def dataType: DataType = StringType

  /** ImplicitCastInputTypes (not a bare type check): SQL callers write
    * `geo_cell(40.7, -74.0, 9)` — decimal literals, float columns — and
    * the analyzer coerces them like it does for built-ins instead of
    * demanding manual CASTs. */
  override def inputTypes: Seq[DataType] = // covariant override (AbstractDataType is private[sql])
    Seq(DoubleType, DoubleType, IntegerType)

  override protected def nullSafeEval(lat: Any, lng: Any, res: Any): Any =
    UTF8String.fromString(GeoCell.cellId(
      lat.asInstanceOf[Double], lng.asInstanceOf[Double], res.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat, lng, res) =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.geo.GeoCell.cellId($lat, $lng, $res));""".stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
