package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native banded sign-random-projection signatures: for a vector `v`
  * and a FOLDABLE plane matrix (nBands·rowsPerBand × dim), returns the
  * array of nBands band signatures, sig_b = Σ_r bit(b·rpb + r)·2^r
  * with bit(p) = (v · plane_p ≥ 0).
  *
  * Why a native expression (round-17, the s_ann_lsh worst-line fix):
  * the expression form — 96 separate `DotProduct(vec, lit(plane))`
  * trees feeding 24 struct constructors inside one `explode(array(…))`
  * — generates a projection method past janino/JIT limits, so every
  * run of the query re-paid a multi-second compile-and-fall-back
  * before a single row moved (probed: the NARROW band-key projection
  * alone was 2.9 s/run over 2 000 rows at sf0.1; the arithmetic is
  * ~12 M flops ≈ microseconds). Here the matrix rides the plan as ONE
  * boxed reference (`addReferenceObj`, same pattern as
  * [[NearestCentroids]]), the per-row work is a tight primitive loop,
  * and codegen calls back into the SAME implementation — O(1) plan
  * size, nothing for janino to choke on.
  *
  * Bit-exactness with the form it replaces: the dot accumulates
  * STRICTLY left-to-right from index 0 with each element widened to
  * double ([[DotProduct]]'s association, zip semantics on the shorter
  * side), and the sign test replicates Spark's double comparison
  * (`GreaterThanOrEqual` → `nanSafeCompareDoubles`: NaN ≥ 0 true,
  * −0.0 ≥ 0 FALSE — java.lang.Double.compare, not the primitive `>=`).
  * Null vector or null element yields null, as the old form's null
  * propagation did. */
case class LshBandSigs(vec: Expression, planes: Expression, rowsPerBand: Expression)
  extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = planes
  override def third: Expression = rowsPerBand

  private def vecElemType: DataType = vec.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vecElemType match {
      case FloatType | DoubleType | LongType | IntegerType | ShortType => true
      case _ => false
    }
    val planesOk = planes.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => planes.foldable
      case _ => false
    }
    val rpbOk = rowsPerBand.dataType == IntegerType && rowsPerBand.foldable
    if (vecOk && planesOk && rpbOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "lsh_band_sigs expects (numeric array, foldable array<array<double>>, " +
        s"foldable int), got ${vec.dataType.catalogString} / " +
        s"${planes.dataType.catalogString} / ${rowsPerBand.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = vec.nullable || (vec.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  /** Folded plane matrix, flattened row-major — once per (executor,
    * expression). */
  @transient private lazy val matrix: (Array[Double], Int, Int) = {
    val m = planes.eval(null).asInstanceOf[ArrayData]
    val p = m.numElements()
    require(p > 0, "lsh_band_sigs: empty plane matrix")
    val d = m.getArray(0).numElements()
    val f = new Array[Double](p * d)
    var i = 0
    while (i < p) {
      val row = m.getArray(i)
      require(row.numElements() == d,
        s"lsh_band_sigs: ragged plane matrix (row $i has ${row.numElements()} != $d)")
      var j = 0
      while (j < d) { f(i * d + j) = row.getDouble(j); j += 1 }
      i += 1
    }
    (f, p, d)
  }
  @transient private lazy val flat: Array[Double] = matrix._1
  @transient private lazy val nPlanes: Int = matrix._2
  @transient private lazy val dim: Int = matrix._3
  @transient private lazy val rpb: Int = {
    val r = rowsPerBand.eval(null).asInstanceOf[Int]
    require(r > 0 && nPlanes % r == 0,
      s"lsh_band_sigs: $nPlanes planes not divisible into bands of $r")
    r
  }

  @transient private lazy val etTag: Int = vecElemType match {
    case FloatType => 0; case DoubleType => 1; case LongType => 2
    case IntegerType => 3; case ShortType => 4
    case other => throw new IllegalStateException(s"unsupported $other")
  }

  /** One implementation for both paths (interpreted eval and codegen's
    * reference-object callback). Null on a null vector element. */
  def sigs(a: ArrayData): GenericArrayData = {
    val n = a.numElements()
    val tag = etTag
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      v(i) = tag match {
        case 0 => a.getFloat(i).toDouble
        case 1 => a.getDouble(i)
        case 2 => a.getLong(i).toDouble
        case 3 => a.getInt(i).toDouble
        case _ => a.getShort(i).toDouble
      }
      i += 1
    }
    val lim = math.min(n, dim) // zip semantics: shorter side decides
    val nBands = nPlanes / rpb
    val out = new Array[Int](nBands)
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      var j = 0
      val base = p * dim
      while (j < lim) { acc += v(j) * flat(base + j); j += 1 }
      // Spark's double GreaterThanOrEqual (SQLOrderingUtil
      // .compareDoubles) is NaN ≥ 0 true, and it short-circuits on
      // `x == y`, so −0.0 ≥ 0.0 is TRUE in Spark. `Double.compare`
      // would put −0.0 below 0.0, but `acc` can never be −0.0: it
      // starts at +0.0, and an IEEE sum is −0.0 only when both addends
      // are −0.0 — so for every reachable `acc` this test and Spark's
      // agree.
      val bit =
        if (java.lang.Double.isNaN(acc)) 1
        else if (java.lang.Double.compare(acc, 0.0) >= 0) 1
        else 0
      out(p / rpb) |= bit << (p % rpb)
      p += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null else sigs(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("lshBandSigs", this)
    val vecCode = vec.genCode(ctx)
    val result = ctx.freshName("lshSigs")
    ev.copy(code =
      code"""
        |${vecCode.code}
        |boolean ${ev.isNull} = true;
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        |if (!${vecCode.isNull}) {
        |  org.apache.spark.sql.catalyst.util.GenericArrayData $result =
        |    $self.sigs(${vecCode.value});
        |  if ($result != null) { ${ev.isNull} = false; ${ev.value} = $result; }
        |}
      """.stripMargin)
  }

  override def prettyName: String = "lsh_band_sigs"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LshBandSigs =
    copy(vec = newFirst, planes = newSecond, rowsPerBand = newThird)
}

object LshBandSigs {
  def lshBandSigs(vec: Column, planes: Column, rowsPerBand: Column): Column =
    GraftColumnBridge.column(LshBandSigs(
      GraftColumnBridge.expression(vec),
      GraftColumnBridge.expression(planes),
      GraftColumnBridge.expression(rowsPerBand)))
}
