package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static kernel shared by interpreted eval and generated code. */
object MinHashUtil {
  final val Seed = 42L

  /** Mix a base hash into the k-th independent hash family member —
    * splitmix64-style finalizer over (h ^ f(k)); avalanche-quality and far
    * cheaper than re-hashing the string k times.
    */
  @inline def scramble(h: Long, k: Int): Long = {
    var z = h ^ (0x9e3779b97f4a7c15L * (k + 1))
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** One pass over the shingles: each string is xxhash64'd ONCE, then all
    * `numHashes` signature minima update from cheap integer scrambles.
    * (The naive 32-column formulation re-builds and re-hashes the shingle
    * array per signature row — 32× the string work; this kernel is why
    * MinHash stays scan-bound at 100 TB.)
    */
  def minhash(shingles: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = shingles.numElements()
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = XxHash64Function.hash(shingles.getUTF8String(i), StringType, Seed)
        var k = 0
        while (k < numHashes) {
          val g = scramble(h, k)
          if (g < mins(k)) mins(k) = g
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  @inline private def mix3(a: Long, b: Long, c: Long): Long =
    scramble(a * 0xff51afd7ed558ccdL + b * 0xc4ceb9fe1a85ec53L + c, 0)

  /** Rolling word-3-gram MinHash straight from the TOKEN array: each token
    * is hashed once, each 3-gram shingle identity is a mix of three
    * consecutive token hashes — no shingle strings are ever materialized.
    * (Building shingles via `transform(sequence...)` + `concat_ws` runs in
    * Spark's interpreted higher-order-function path at ~1ms/doc; this
    * kernel is ~20× cheaper and allocation-free per shingle.) Duplicate
    * shingles need no dedup: MinHash of a multiset equals MinHash of its
    * set. Documents with <3 tokens use one all-token shingle, matching
    * `TextFunctions.shingles3`'s degenerate case.
    */
  def minhashTokens(tokens: ArrayData, numHashes: Int): ArrayData = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (tokens.isNullAt(i)) 0L
        else XxHash64Function.hash(tokens.getUTF8String(i), StringType, Seed)
      i += 1
    }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    def update(h: Long): Unit = {
      var k = 0
      while (k < numHashes) {
        val g = scramble(h, k)
        if (g < mins(k)) mins(k) = g
        k += 1
      }
    }
    if (n < 3) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = acc * 0xff51afd7ed558ccdL + th(j); j += 1 }
      update(scramble(acc, 0))
    } else {
      var j = 0
      while (j + 2 < n) { update(mix3(th(j), th(j + 1), th(j + 2))); j += 1 }
    }
    new GenericArrayData(mins)
  }
}

/** Custom Catalyst expression: k-permutation MinHash signature of an
  * `array<string>` shingle column in a single pass (see
  * [[MinHashUtil.minhash]]). Native expression with `doGenCode` so the
  * signature computation stays inside WholeStageCodegen.
  */
case class MinHash(child: Expression, numHashes: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash"

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.minhash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashUtil.minhash($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHash =
    copy(child = newChild)
}

/** Rolling-3-gram variant over a token array (see
  * [[MinHashUtil.minhashTokens]]).
  */
case class MinHashTokens(child: Expression, numHashes: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_tokens"

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.minhashTokens(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashUtil.minhashTokens($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashTokens =
    copy(child = newChild)
}

object MinHash {
  def minhashTokens(tokens: Column, numHashes: Int): Column =
    GraftShims.toColumn(MinHashTokens(GraftShims.toExpression(tokens), numHashes))
}
