package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** All i<j pairs of an array's elements, in member order, as a native
  * Catalyst expression: `array<T>` → `array<struct<a: T, b: T>>`, the
  * in-bucket candidate fan-out of the near-dup family (LSH buckets,
  * shared shingles). Arrays under two elements give an empty array; a
  * null array gives null.
  *
  * The nested `transform(sequence(…))` lambda form builds the same
  * pairs through interpreted lambda calls, two `element_at` lookups
  * and a struct allocation each; here generated and interpreted code
  * both call one double loop, [[PairUp.pairs]], that references the
  * original element values. */
case class PairUp(child: Expression) extends UnaryExpression {

  private def elementType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", elementType), StructField("b", elementType))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"PairUp needs an array arg, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    PairUp.pairs(input.asInstanceOf[ArrayData], elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elementType", elementType)
    defineCodeGen(ctx, ev, members => s"graft.expr.PairUp.pairs($members, $et)")
  }

  override protected def withNewChildInternal(newChild: Expression): PairUp =
    copy(child = newChild)
}

object PairUp {
  /** The pairs of one member array. The pair count m·(m−1)/2 must fit
    * an int, as any Spark array's length must. */
  def pairs(members: ArrayData, elementType: DataType): ArrayData = {
    val m = members.numElements()
    val out = new Array[Any](Math.toIntExact(m.toLong * math.max(0, m - 1) / 2))
    var p = 0
    for (i <- 0 until m; j <- i + 1 until m) {
      out(p) = InternalRow(members.get(i, elementType), members.get(j, elementType))
      p += 1
    }
    new GenericArrayData(out)
  }
}

object ArrayExprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** All i<j element pairs `struct<a, b>` — see [[PairUp]]. */
  def pairUp(members: Column): Column =
    ColumnBridge.column(PairUp(ColumnBridge.expression(members)))
}
