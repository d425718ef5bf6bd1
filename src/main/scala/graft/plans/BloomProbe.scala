package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expression for the serving probe `bloom_probe(user,
  * cell)`: 0 when the user's Bloom filter holds the cell, else 1 — the
  * reference's `H3Lookup` check (`utils/bloom_utils.py:27-42`) inside
  * whole-stage codegen, with no typed-UDF encoders around it.
  *
  * The filter-map broadcast is a field, not a child: codegen passes it to
  * the generated class with `addReferenceObj`, so a task carries the
  * broadcast handle, never the map. Every row goes through the one kernel
  * [[graft.score.Blooms.probe]]; the result is never null. */
case class BloomProbe(left: Expression, right: Expression,
                      filters: Broadcast[Map[String, BloomFilter]])
  extends BinaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "bloom_probe"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def eval(input: InternalRow): Any =
    graft.score.Blooms.probe(filters.value, left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("bloomFilters", filters, classOf[Broadcast[_]].getName)
    val u = left.genCode(ctx)
    val c = right.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code =
      code"""
        |${u.code}
        |${c.code}
        |int ${ev.value} = graft.score.Blooms.probe((scala.collection.immutable.Map) $bc.value(),
        |  ${u.isNull} ? null : ${u.value}, ${c.isNull} ? null : ${c.value});""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
