package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for per-document 2-gram repetition counters (see
  * [[graft.operators.TextOps.repetitionStats]] for the metric
  * definitions). One fused pass per row:
  *
  *  - gram identity is the (token i, token i+1) PAIR — never a
  *    materialized gram string;
  *  - an index array over gram positions is sorted with a pairwise
  *    UTF8String comparator (integer indices, no per-gram allocation);
  *  - all four counters fall out of one scan over the sorted runs.
  *
  * Exactly the counts of the higher-order-function formulation (the
  * referee in `DecontamSpec`, equality asserted on the fixture) — but HOFs run interpreted per
  * element (lambda dispatch + row boxing per gram), measured ~0.3 ms/doc
  * on ~50-token docs; this kernel is a plain sorted scan inside
  * WholeStageCodegen.
  */
object RepetitionCountsUtil {

  private val empty = UTF8String.EMPTY_UTF8

  /** Returns {n_grams, n_distinct_grams, top_gram_count, dup_gram_count}.
    * Documents with fewer than 2 tokens have no grams: all-zero counters
    * (never null — generated code for a non-nullable child assumes a
    * non-null result).
    */
  def counts(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val m = n - 1
    if (m <= 0)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L))
    val ts = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      ts(i) = if (toks.isNullAt(i)) empty else toks.getUTF8String(i)
      i += 1
    }
    val idx = new Array[Integer](m)
    i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = ts(a).compareTo(ts(b))
        if (c != 0) c else ts(a + 1).compareTo(ts(b + 1))
      }
    })
    var nDistinct = 0L
    var top = 0L
    var dup = 0L
    var runLen = 0L
    i = 0
    while (i <= m) {
      val newRun = i == 0 || i == m || {
        val p = idx(i - 1); val c = idx(i)
        !(ts(p).equals(ts(c)) && ts(p + 1).equals(ts(c + 1)))
      }
      if (newRun && i > 0) {
        nDistinct += 1
        if (runLen > top) top = runLen
        if (runLen > 1L) dup += runLen
        runLen = 0L
      }
      runLen += 1L
      i += 1
    }
    new GenericInternalRow(Array[Any](m.toLong, nDistinct, top, dup))
  }
}

/** Custom Catalyst expression over a token array column (codegen'd via
  * the shared static kernel).
  */
case class RepetitionCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct_grams", LongType, nullable = false),
    StructField("top_gram_count", LongType, nullable = false),
    StructField("dup_gram_count", LongType, nullable = false)))
  override def prettyName: String = "repetition_counts"

  override protected def nullSafeEval(input: Any): Any =
    RepetitionCountsUtil.counts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RepetitionCountsUtil.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionCounts =
    copy(child = newChild)
}

object RepetitionCounts {
  def repetitionCounts(toks: Column): Column =
    GraftShims.toColumn(RepetitionCounts(GraftShims.toExpression(toks)))
}
