package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** The engine's typed-UDAF surface (`Aggregator[IN, BUF, OUT]`
  * registered through `functions.udaf`). The aggregate is associative
  * + commutative, so Spark computes it with map-side partial
  * aggregation — one shuffled buffer per group per partition, not one
  * row per input, which is what makes cross-row sketching viable at
  * 100 TB. The element-wise sum and min it replaced are kept in test
  * scope as reference implementations (`ReferenceAggregators`).
  */
object ArrayAggregators {

  private def longArrayEnc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

  /** SimHash fingerprint straight from the token HASH stream: 64 vote
    * counters (+1 per set bit, −1 per clear bit) folded to the
    * majority-bit long, fused into ONE aggregate. Replaces the
    * bit_votes → elementwise-sum → fold-HOF pipeline, which
    * materialized a 64-long array PER TOKEN OCCURRENCE (2.5M rows ×
    * 64 longs at sf0.1 — the allocation was the measured bulk of the
    * SimHash fingerprint stage, OPTIMIZATION_r17.md §7: 2.4 s → see
    * spec). Vote arithmetic, merge commutativity, and the `> 0`
    * majority threshold are identical term by term, so fingerprints
    * are bit-equal (pinned by GraftFunctionsSpec's parity test). */
  class SimhashFingerprint extends Aggregator[Long, Array[Long], Long] {
    def zero: Array[Long] = new Array[Long](64)
    def reduce(b: Array[Long], h: Long): Array[Long] = {
      var i = 0
      while (i < 64) {
        b(i) += (if (((h >>> i) & 1L) == 1L) 1L else -1L)
        i += 1
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < 64) { x(i) += y(i); i += 1 }
      x
    }
    def finish(r: Array[Long]): Long = {
      var acc = 0L
      var i = 0
      while (i < 64) { if (r(i) > 0L) acc |= 1L << i; i += 1 }
      acc
    }
    def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    def outputEncoder: Encoder[Long] = ExpressionEncoder[Long]()
  }

  def simhashFingerprint(hash: Column): Column =
    udaf(new SimhashFingerprint, ExpressionEncoder[Long]()).apply(hash)
}
