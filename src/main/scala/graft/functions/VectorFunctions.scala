package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static kernels shared by interpreted eval and generated code. */
object VectorUtil {
  /** Cosine similarity of two float vectors, accumulated in double in
    * element order (matches a sequential C++ loop — oracle-alignable).
    * Returns NaN for zero-norm inputs, 0-similarity on length mismatch.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }
}

/** Custom Catalyst expression: cosine similarity over two `array<float>`
  * columns. Preference order per the design brief: built-ins can express
  * this via `aggregate(zip_with(...))`, but that allocates an intermediate
  * array per row and evaluates a lambda per element; a native binary
  * expression with `doGenCode` is one fused loop inside WholeStageCodegen —
  * the hot path of 100 TB similarity search.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorUtil.cosine($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Custom Catalyst expression: raw inner product over two `array<float>`
  * columns — the ranking kernel MIPS retrieval needs (recommendation
  * scores are inner products, NOT cosines: popular items earn long
  * vectors and cosine normalization erases exactly that popularity
  * signal). Same fused-loop/codegen rationale as [[CosineSimilarity]];
  * accumulation is double in element order, so an engine replaying the
  * same loop agrees bit-for-bit.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorUtil.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Static kernel for random-hyperplane LSH signatures (`lsh_signature`):
  * [[signature]] signs an `array<float>` value, [[signatureOf]] a
  * driver-side `Array[Float]` by the same planes. Planes are deterministic
  * pseudo-random from a splitmix64 scramble of (plane, dim); the dot
  * product runs over the VECTOR's own length (no fixed-dim assumption).
  */
object LshSignatureUtil {
  final val Seed = 42

  def planeComponent(plane: Int, d: Int): Double = {
    var z = (plane.toLong << 32 | d.toLong) + 0x9e3779b97f4a7c15L + Seed
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z & 0xFFFFFL).toDouble / 0x80000L.toDouble - 1.0
  }

  /** `offset` selects an independent plane family (planes `offset` to
    * `offset + planes - 1`) — how multiband LSH derives band b's planes
    * (offset = b * planes) from the same deterministic stream.
    */
  def signatureOf(vec: Array[Float], planes: Int, offset: Int): Int = {
    var sig = 0
    var i = 0
    while (i < planes) {
      var dot = 0.0
      var d = 0
      while (d < vec.length) { dot += vec(d) * planeComponent(offset + i, d); d += 1 }
      if (dot >= 0) sig |= (1 << i)
      i += 1
    }
    sig
  }

  def signature(vec: ArrayData, planes: Int, offset: Int): Int = {
    var sig = 0
    var i = 0
    while (i < planes) {
      var dot = 0.0
      var d = 0
      val n = vec.numElements()
      while (d < n) { dot += vec.getFloat(d) * planeComponent(offset + i, d); d += 1 }
      if (dot >= 0) sig |= (1 << i)
      i += 1
    }
    sig
  }
}

/** Custom Catalyst expression: all-planes LSH signature in one fused pass
  * (the builtin formulation runs `planes` separate interpreted
  * zip_with+aggregate lambda chains per row).
  */
case class LshSignature(child: Expression, planes: Int, offset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes > 0 && planes <= 30, "bucket is an int bitmask")
  require(offset >= 0, "offset selects a plane family; must be >= 0")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "lsh_signature"

  override protected def nullSafeEval(input: Any): Any =
    LshSignatureUtil.signature(input.asInstanceOf[ArrayData], planes, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LshSignatureUtil.signature($c, $planes, $offset)")

  override protected def withNewChildInternal(newChild: Expression): LshSignature =
    copy(child = newChild)
}

/** Static kernels for EXACT integer (micro-unit) vector arithmetic —
  * shared by interpreted eval and generated code. The engine's
  * oracle-exact similarity tier renders embeddings as `array<bigint>`
  * micro-units and does all dot/distance work in int64 (order-free, so
  * any engine agrees bit-for-bit); these kernels are the fused-loop
  * replacements for the interpreted `aggregate(zip_with(...))` lambda
  * chains that dominated the s17 profile at 100× (one interpreted
  * closure dispatch per ELEMENT per candidate — the r10 ladder's one
  * super-linear-LOOKING constant). Overflow uses `Math.*Exact` (JIT
  * intrinsics), mirroring the ANSI-mode failure the builtin aggregate
  * would raise — callers bound |element| so it never fires in practice.
  */
object LongVectorUtil {
  /** The builtin `aggregate(zip_with(a, b, (x, y) -> x*y), 0L, +)`
    * yields NULL when lengths differ (zip_with pads with null → null
    * product poisons the sum) or any element is null; this predicate
    * mirrors that domain so the native expressions return null exactly
    * where the composed form did.
    */
  def defined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Exact Σ a(i)·b(i) over two equal-length `array<bigint>`. */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    acc
  }

  /** Exact Σ (a(i)−b(i))² over two equal-length `array<bigint>`. */
  def sqDist(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = Math.subtractExact(a.getLong(i), b.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }

  /** All `planes` LCG-weighted plane dots of one micro-unit vector in a
    * single fused pass (weights precomputed once per task, laid out
    * plane-major). Mirrors the composed
    * `transform(wRows, w -> aggregate(zip_with(m, w, ...)))`: a vector
    * of the wrong length or with a null element produced an all-null
    * dots array there (zip_with padding), so it does here.
    */
  def planeDots(m: ArrayData, weights: Array[Long], planes: Int,
      dims: Int): ArrayData = {
    if (m.numElements() != dims) return new GenericArrayData(new Array[Any](planes))
    var i = 0
    while (i < dims) {
      if (m.isNullAt(i)) return new GenericArrayData(new Array[Any](planes))
      i += 1
    }
    val out = new Array[Long](planes)
    var p = 0
    while (p < planes) {
      val off = p * dims
      var acc = 0L
      var d = 0
      while (d < dims) {
        acc = Math.addExact(acc, Math.multiplyExact(m.getLong(d), weights(off + d)))
        d += 1
      }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Static kernel for [[AnnCosVerify]] — the fused exact-cosine verify. */
object AnnVerifyUtil {
  /** Unsigned 128-bit high word of a·b (JDK 17 ships only the signed
    * `Math.multiplyHigh`; this is the standard correction).
    */
  private def unsignedMulHigh(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)

  /** cos(a, b) ≥ 2/5 with a non-negative dot, decided EXACTLY in
    * unsigned 128-bit integer arithmetic:
    * `dot ≥ 0 && 25·dot² ≥ 4·na·nb` — the same predicate the composed
    * form evaluates through DECIMAL(38,0) (and the DuckDB oracle through
    * HUGEINT), fused so the dot is computed ONCE per candidate. Join
    * conditions are a single expression tree with no subexpression
    * elimination: spelled as `filter(dot ≥ 0 && 25·dot·dot ≥ …)` the
    * optimizer inlines the dot THREE times into the pushed join
    * condition and evaluates all three per candidate pair.
    *
    * Bounds: |mᵢ| ≤ 10⁶ (micro-units of [−1, 1] floats) ⇒ dot ≤ 2⁴⁶,
    * 25·dot² < 2⁹⁷, 4·na·nb < 2⁹⁴ — both inside unsigned 128. The
    * 128-bit arithmetic is exact only while 25·dot² and 4·na·nb stay
    * under 2¹²⁸, i.e. all operands < 2⁶⁰ — enforced loudly below so an
    * out-of-contract embedding (|mᵢ| ≳ 1.3e8) fails like the composed
    * DECIMAL(38) form's ANSI overflow did, instead of silently wrapping.
    */
  def cosVerify(a: ArrayData, b: ArrayData, na: Long, nb: Long): Boolean = {
    if (!LongVectorUtil.defined(a, b)) return false
    val d = LongVectorUtil.dot(a, b)
    val bound = 1L << 60
    if (d >= bound || na < 0L || na >= bound || nb < 0L || nb >= bound)
      throw new ArithmeticException(
        s"ann_cos_verify: operand outside exact 128-bit range " +
          s"(dot=$d, na=$na, nb=$nb; |each| must be < 2^60)")
    if (d < 0L) return false
    // lhs = 25·d²; rhs = 4·na·nb (all operands non-negative)
    val d2hi = Math.multiplyHigh(d, d) // d < 2^63 ⇒ signed == unsigned
    val d2lo = d * d
    val lhsHi = d2hi * 25L + unsignedMulHigh(d2lo, 25L)
    val lhsLo = d2lo * 25L
    val phi = Math.multiplyHigh(na, nb)
    val plo = na * nb
    val rhsHi = phi * 4L + unsignedMulHigh(plo, 4L)
    val rhsLo = plo * 4L
    if (lhsHi != rhsHi) java.lang.Long.compareUnsigned(lhsHi, rhsHi) > 0
    else java.lang.Long.compareUnsigned(lhsLo, rhsLo) >= 0
  }
}

/** Custom Catalyst expression: the ANN band join's exact-cosine verify
  * `dot(a, b) ≥ 0 AND 25·dot(a, b)² ≥ 4·na·nb` as ONE fused boolean —
  * see [[AnnVerifyUtil.cosVerify]] for why the composed form costs three
  * dot evaluations per candidate inside the join condition. Returns
  * false wherever the composed predicate was false OR null (a null
  * condition drops the join row exactly like false), so join output is
  * identical.
  */
case class AnnCosVerify(ma: Expression, mb: Expression,
    na: Expression, nb: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = ma
  override def second: Expression = mb
  override def third: Expression = na
  override def fourth: Expression = nb
  override def dataType: DataType = BooleanType
  override def prettyName: String = "ann_cos_verify"

  override protected def nullSafeEval(a: Any, b: Any, x: Any, y: Any): Any =
    AnnVerifyUtil.cosVerify(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, x, y) =>
      s"graft.functions.AnnVerifyUtil.cosVerify($a, $b, $x, $y)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): AnnCosVerify =
    copy(ma = newFirst, mb = newSecond, na = newThird, nb = newFourth)
}

/** Deterministic pseudo-random integer hyperplane weights for the
  * oracle-exact ANN tier: plain LCG over the flattened (plane, dim)
  * index, range [−1000, 1000]. A FUNCTION of the index, not stored
  * state — the Spark kernel and the generated DuckDB oracle SQL both
  * compute this formula, so the planes are a single source of truth.
  */
object AnnPlaneWeights {
  def weight(plane: Int, dim: Int, dims: Int): Long =
    ((1103515245L * (plane.toLong * dims + dim) + 12345L) % 2001L) - 1000L

  /** Plane-major weight table for [[LongVectorUtil.planeDots]]. */
  def table(planes: Int, dims: Int): Array[Long] =
    Array.tabulate(planes * dims)(i => weight(i / dims, i % dims, dims))
}

/** Custom Catalyst expression: exact int64 inner product over two
  * `array<bigint>` micro-unit vectors — the verify kernel of the
  * oracle-exact ANN/MIPS tier. The composed
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0L, +)` allocates an
  * intermediate array and dispatches two interpreted lambdas per
  * element PER CANDIDATE PAIR (∝ n·dims at serving scale — the r10
  * 100× ladder measured it as s17's dominant constant); this is one
  * fused loop inside WholeStageCodegen. Null domain mirrors the
  * composed form exactly ([[LongVectorUtil.defined]]).
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "long_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (LongVectorUtil.defined(aa, bb)) LongVectorUtil.dot(aa, bb) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if (graft.functions.LongVectorUtil.defined($a, $b)) {
      |  ${ev.value} = graft.functions.LongVectorUtil.dot($a, $b);
      |} else {
      |  ${ev.isNull} = true;
      |}""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

/** Custom Catalyst expression: exact int64 squared L2 distance over two
  * `array<bigint>` micro-unit vectors — the assignment kernel of the
  * integer-exact k-means / PQ / truncation tiers (k such distances per
  * row against broadcast centroid literals). Same fused-loop rationale
  * and null domain as [[LongDot]].
  */
case class LongSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "long_sqdist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (LongVectorUtil.defined(aa, bb)) LongVectorUtil.sqDist(aa, bb) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if (graft.functions.LongVectorUtil.defined($a, $b)) {
      |  ${ev.value} = graft.functions.LongVectorUtil.sqDist($a, $b);
      |} else {
      |  ${ev.isNull} = true;
      |}""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LongSqDist =
    copy(left = newLeft, right = newRight)
}

/** Custom Catalyst expression: ALL `planes` integer hyperplane dots of a
  * micro-unit vector in one fused pass — the signing stage of the
  * oracle-exact ANN pipeline ([[graft.operators.Similarity.annOraclePairs]]).
  * Replaces a `transform(<planes×dims literal arrays>, w ->
  * aggregate(zip_with(m, w, ...)))` whose weight table alone was up to
  * 7,680 literals of plan text and whose lambdas ran interpreted per
  * element; weights are recomputed per task from the
  * [[AnnPlaneWeights]] index formula (serialization-free) and the loop
  * is codegen'd.
  *
  * Null domain: wrong-length / null-element vectors mirror the composed
  * form (all-null dots array). A null INPUT ARRAY is the one pinned
  * divergence — this expression short-circuits to a NULL result
  * (UnaryExpression semantics) where the composed transform returned
  * `array(planes × null)`; downstream band-code packing drops both
  * identically, and `LongVectorSpec` pins both behaviors.
  */
case class AnnPlaneDots(child: Expression, planes: Int, dims: Int)
    extends UnaryExpression {
  require(planes > 0 && dims > 0, "ann_plane_dots: planes and dims must be positive")

  @transient private lazy val weights: Array[Long] = AnnPlaneWeights.table(planes, dims)

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "ann_plane_dots"

  override protected def nullSafeEval(input: Any): Any =
    LongVectorUtil.planeDots(input.asInstanceOf[ArrayData], weights, planes, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("planeWeights", weights, "long[]")
    defineCodeGen(ctx, ev,
      m => s"graft.functions.LongVectorUtil.planeDots($m, $w, $planes, $dims)")
  }

  override protected def withNewChildInternal(newChild: Expression): AnnPlaneDots =
    copy(child = newChild)
}

object VectorFunctions {
  /** Native-expression cosine similarity (codegen'd fused loop). */
  def cosineSim(a: Column, b: Column): Column =
    GraftShims.toColumn(
      CosineSimilarity(GraftShims.toExpression(a), GraftShims.toExpression(b)))

  /** Native-expression inner product (codegen'd fused loop) — the MIPS
    * ranking kernel; see [[DotProduct]].
    */
  def dotProduct(a: Column, b: Column): Column =
    GraftShims.toColumn(
      DotProduct(GraftShims.toExpression(a), GraftShims.toExpression(b)))

  /** Native exact int64 inner product (codegen'd fused loop) over
    * `array<bigint>` micro-unit vectors — see [[LongDot]].
    */
  def longDot(a: Column, b: Column): Column =
    GraftShims.toColumn(
      LongDot(GraftShims.toExpression(a), GraftShims.toExpression(b)))

  /** Native exact int64 squared L2 distance (codegen'd fused loop) over
    * `array<bigint>` micro-unit vectors — see [[LongSqDist]].
    */
  def longSqDist(a: Column, b: Column): Column =
    GraftShims.toColumn(
      LongSqDist(GraftShims.toExpression(a), GraftShims.toExpression(b)))

  /** Native all-planes integer hyperplane dots (codegen'd fused pass) —
    * see [[AnnPlaneDots]].
    */
  def annPlaneDots(m: Column, planes: Int, dims: Int): Column =
    GraftShims.toColumn(AnnPlaneDots(GraftShims.toExpression(m), planes, dims))

  /** Fused exact-cosine ANN verify (codegen'd, one dot per candidate) —
    * see [[AnnCosVerify]].
    */
  def annCosVerify(ma: Column, mb: Column, na: Column, nb: Column): Column =
    GraftShims.toColumn(AnnCosVerify(
      GraftShims.toExpression(ma), GraftShims.toExpression(mb),
      GraftShims.toExpression(na), GraftShims.toExpression(nb)))
}
