package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise array aggregators the specs use as reference
  * implementations. [[ElementwiseSum]] tallies the ±1 bit votes of the
  * unfused SimHash pipeline that [[ArrayAggregators.SimhashFingerprint]]
  * replaced; [[ElementwiseMin]] is the parity witness for the native
  * one-pass `MinHashSignature` expression (ShingleExprSpec). */
object ReferenceAggregators {

  private def longArrayEnc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  private def longSeqEnc: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()

  class ElementwiseMin(dim: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.fill(dim)(Long.MaxValue)
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { val v = a(i); if (v < b(i)) b(i) = v; i += 1 }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
      x
    }
    def finish(r: Array[Long]): Seq[Long] = r.toSeq
    def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    def outputEncoder: Encoder[Seq[Long]] = longSeqEnc
  }

  class ElementwiseSum(dim: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.fill(dim)(0L)
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { b(i) += a(i); i += 1 }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { x(i) += y(i); i += 1 }
      x
    }
    def finish(r: Array[Long]): Seq[Long] = r.toSeq
    def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    def outputEncoder: Encoder[Seq[Long]] = longSeqEnc
  }

  def elementwiseMin(dim: Int)(c: Column): Column =
    udaf(new ElementwiseMin(dim), longSeqEnc).apply(c)

  def elementwiseSum(dim: Int)(c: Column): Column =
    udaf(new ElementwiseSum(dim), longSeqEnc).apply(c)
}
