package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Reference expression for specs: the 64 SimHash bit votes of a hash
  * — votes[i] = +1 if bit i of the input is set, else −1. Equivalent to
  * `transform(sequence(0, 63), i -> CASE WHEN (shiftright(h, i) & 1) =
  * 1 THEN 1 ELSE -1 END)`. With [[ReferenceAggregators.ElementwiseSum]]
  * it spells out the unfused SimHash pipeline that
  * [[ArrayAggregators.SimhashFingerprint]] fuses, and the specs compare
  * the two. */
case class BitVotes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bit_votes expects a bigint input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bit_votes"

  def compute(h: Long): ArrayData = {
    val out = new Array[Long](64)
    var i = 0
    while (i < 64) {
      out(i) = if (((h >>> i) & 1L) == 1L) 1L else -1L
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bitVotes", this, classOf[BitVotes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BitVotes =
    copy(child = newChild)
}

object BitVotes {
  def bitVotes(c: Column): Column =
    GraftColumnBridge.column(BitVotes(GraftColumnBridge.expression(c)))
}
