package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native product-quantization encode of one `array<bigint>` micro-unit
  * vector against `m` fixed codebooks of `kSub` codewords each (every
  * codeword `d0` longs): per subspace `mi`, the slice
  * `[mi·d0, (mi+1)·d0)` of the vector goes to its nearest codeword by
  * exact int64 squared L2 (the [[LongSqDist]] metric). Returns
  * `struct<codes array<int>, dist bigint, prefix_dist bigint,
  * recon array<bigint>>`: the chosen code per subspace, the summed
  * distance to them, the summed distance when each subspace may only
  * use its first `prefix` codewords, and the concatenated chosen
  * codewords. With `m = 1` it is a plain nearest-centroid argmin
  * ([[graft.operators.IvfIndex.kmeansExact]]).
  *
  * It computes what the composed form
  * `array_min(array(struct(long_sqdist(slice(v, mi·d0 + 1, d0), codeword_j), j) …))`
  * per subspace computed, value for value:
  *  - the smallest distance wins, and a tie goes to the smallest code
  *    (struct order);
  *  - a subspace whose slice is short or holds a null element has every
  *    distance null, so it takes code 0 (nulls sort first in the struct
  *    order) and that row's `dist` and `prefix_dist` are null (a null
  *    term poisons the `+` chain); `recon` still carries codeword 0;
  *  - elements past `m·d0` are never read (slice semantics);
  *  - arithmetic overflow throws, as ANSI `+` and [[LongSqDist]] did.
  * A null input array gives a null struct.
  *
  * The codebooks are constructor fields fixed when the expression is
  * built, not child literals: the plan prints `m`, `kSub` and `prefix`
  * only, where the composed form spelled out m × (kSub + prefix)
  * distance terms over codeword literals.
  */
case class NearestCodewords(child: Expression, codebooks: Array[Array[Array[Long]]],
    prefix: Int) extends UnaryExpression {
  require(codebooks.length >= 1, s"nearest_codewords: m=${codebooks.length} must be >= 1")
  private val m = codebooks.length
  private val kSub = codebooks(0).length
  require(prefix >= 1 && prefix <= kSub,
    s"nearest_codewords: prefix=$prefix must satisfy 1 <= prefix <= kSub=$kSub")
  require(codebooks.forall(_.length == kSub),
    s"nearest_codewords: every subspace needs kSub=$kSub codewords")
  private val d0 = codebooks(0)(0).length
  require(d0 >= 1 && codebooks.forall(_.forall(_.length == d0)),
    s"nearest_codewords: every codeword must have length d0=$d0 (>= 1)")

  /** Codeword `j` of subspace `mi` starts at `(mi·kSub + j)·d0`. */
  @transient private lazy val table: Array[Long] = codebooks.flatMap(_.flatten)

  override def dataType: DataType = NearestCodewords.resultType
  override def prettyName: String = "nearest_codewords"

  /** Plan strings show the shape, never the codeword values. */
  override protected def stringArgs: Iterator[Any] = Iterator(child, m, kSub, prefix)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_codewords expects array<bigint>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    NearestCodewords.encode(input.asInstanceOf[ArrayData], table, m, kSub, d0, prefix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("pqCodebooks", table, "long[]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.NearestCodewords.encode($v, $t, $m, $kSub, $d0, $prefix)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCodewords =
    copy(child = newChild)
}

object NearestCodewords {
  import org.apache.spark.sql.{Column, GraftShims}

  val resultType: StructType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("dist", LongType, nullable = true),
    StructField("prefix_dist", LongType, nullable = true),
    StructField("recon", ArrayType(LongType, containsNull = false), nullable = false)))

  /** One row's encode over the flattened codebook `table` (see the
    * class doc for the value and null domain).
    */
  def encode(v: ArrayData, table: Array[Long], m: Int, kSub: Int, d0: Int,
      prefix: Int): InternalRow = {
    val n = v.numElements()
    val codes = new Array[Int](m)
    val recon = new Array[Long](m * d0)
    var dist = 0L
    var prefixDist = 0L
    var defined = true
    var mi = 0
    while (mi < m) {
      val off = mi * d0
      var ok = off + d0 <= n
      var e = 0
      while (ok && e < d0) { if (v.isNullAt(off + e)) ok = false; e += 1 }
      var best = 0
      if (ok) {
        var bestD = 0L
        var prefixD = 0L
        var j = 0
        while (j < kSub) {
          val base = (mi * kSub + j) * d0
          var acc = 0L
          e = 0
          while (e < d0) {
            val d = Math.subtractExact(v.getLong(off + e), table(base + e))
            acc = Math.addExact(acc, Math.multiplyExact(d, d))
            e += 1
          }
          if (j == 0 || acc < bestD) { bestD = acc; best = j }
          if (j == prefix - 1) prefixD = bestD
          j += 1
        }
        if (defined) {
          dist = Math.addExact(dist, bestD)
          prefixDist = Math.addExact(prefixDist, prefixD)
        }
      } else defined = false
      codes(mi) = best
      System.arraycopy(table, (mi * kSub + best) * d0, recon, off, d0)
      mi += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(codes),
      if (defined) dist else null, if (defined) prefixDist else null,
      new GenericArrayData(recon)))
  }

  /** Column-API entry: `codebooks(mi)(j)` is codeword `j` of subspace `mi`. */
  def nearestCodewords(v: Column, codebooks: Array[Array[Array[Long]]], prefix: Int): Column =
    GraftShims.toColumn(NearestCodewords(GraftShims.toExpression(v), codebooks, prefix))
}
