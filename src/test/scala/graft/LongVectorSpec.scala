package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{AnnPlaneWeights, VectorFunctions}

/** The exact-int64 vector kernels ([[graft.functions.LongDot]],
  * [[graft.functions.LongSqDist]], [[graft.functions.AnnPlaneDots]]) must be
  * drop-in replacements for the composed `aggregate(zip_with(...))` forms
  * they retired from the ANN hot paths — same values on the defined domain,
  * same NULL domain (length mismatch, null element, null array), on both
  * the codegen and interpreted evaluation paths.
  */
class LongVectorSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic pseudo-random micro-unit vectors (LCG — no Random state)
  private def vec(seed: Long, n: Int): Seq[Long] =
    (0 until n).map(i => ((seed * 6364136223846793005L + i * 1442695040888963407L) >> 20) % 2000000L)

  private def pairs: DataFrame = (0 until 32)
    .map(i => (i.toLong, vec(i + 1, 64), vec(i + 101, 64)))
    .toDF("id", "a", "b")

  private val composedDot =
    expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
  private val composedSq =
    expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")

  test("long_dot and long_sqdist match the composed fold bit-for-bit") {
    val r = pairs.select(
      VectorFunctions.longDot(col("a"), col("b")).as("nd"),
      composedDot.as("cd"),
      VectorFunctions.longSqDist(col("a"), col("b")).as("ns"),
      composedSq.as("cs")).collect()
    assert(r.length === 32)
    r.foreach { row =>
      assert(row.getLong(0) === row.getLong(1))
      assert(row.getLong(2) === row.getLong(3))
    }
  }

  test("null domain mirrors zip_with padding: length mismatch and null element") {
    val ragged = Seq(
      (0L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L)), // length mismatch
      (1L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](4L, 5L, 6L)), // null element
      (2L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L, 6L)) // defined
    ).toDF("id", "a", "b")
    val r = ragged.select(col("id"),
      VectorFunctions.longDot(col("a"), col("b")).as("nd"), composedDot.as("cd"),
      VectorFunctions.longSqDist(col("a"), col("b")).as("ns"), composedSq.as("cs"))
      .orderBy("id").collect()
    r.foreach { row =>
      assert(row.isNullAt(1) === row.isNullAt(2), s"dot null domain diverges: $row")
      assert(row.isNullAt(3) === row.isNullAt(4), s"sqdist null domain diverges: $row")
    }
    assert(r(0).isNullAt(1) && r(1).isNullAt(1) && !r(2).isNullAt(1))
    assert(r(2).getLong(1) === (1 * 4 + 2 * 5 + 3 * 6).toLong)
    // null ARRAY propagates to null result on both forms
    val nullArr = Seq((0L, Seq(1L, 2L), null: Seq[java.lang.Long]))
      .toDF("id", "a", "b")
      .select(VectorFunctions.longDot(col("a"), col("b")).as("nd"), composedDot.as("cd"))
      .collect()(0)
    assert(nullArr.isNullAt(0) && nullArr.isNullAt(1))
  }

  test("ann_plane_dots matches the literal-weight transform formulation") {
    val planes = 12; val dims = 64
    val wRows = (0 until planes).map { i =>
      (0 until dims).map(j => AnnPlaneWeights.weight(i, j, dims))
        .mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")
    val df = (0 until 16).map(i => (i.toLong, vec(i + 7, dims))).toDF("id", "m")
    val r = df.select(
      VectorFunctions.annPlaneDots(col("m"), planes, dims).as("nd"),
      expr(s"transform($wRows, w -> aggregate(zip_with(m, w, (x, y) -> x * y)," +
        " 0L, (acc, v) -> acc + v))").as("cd")).collect()
    r.foreach { row =>
      assert(row.getSeq[Long](0) === row.getSeq[Long](1))
    }
    // wrong-length vector → all-null dots on both forms
    val short = Seq((0L, vec(3, dims - 1))).toDF("id", "m").select(
      VectorFunctions.annPlaneDots(col("m"), planes, dims).as("nd"),
      expr(s"transform($wRows, w -> aggregate(zip_with(m, w, (x, y) -> x * y)," +
        " 0L, (acc, v) -> acc + v))").as("cd")).collect()(0)
    assert(short.getSeq[Any](0) === Seq.fill(planes)(null))
    assert(short.getSeq[Any](0) === short.getSeq[Any](1))
    // null ARRAY: the fused form short-circuits to a NULL result
    // (UnaryExpression), the composed form returns array(planes × null).
    // PINNED as the one intended divergence — downstream band-code
    // packing treats both identically (see AnnPlaneDots scaladoc).
    val nulled = Seq((0L, null: Seq[java.lang.Long])).toDF("id", "m").select(
      VectorFunctions.annPlaneDots(col("m"), planes, dims).as("nd"),
      expr(s"transform($wRows, w -> aggregate(zip_with(m, w, (x, y) -> x * y)," +
        " 0L, (acc, v) -> acc + v))").as("cd")).collect()(0)
    assert(nulled.isNullAt(0), "fused form: null array → NULL result")
    assert(!nulled.isNullAt(1) &&
      nulled.getSeq[Any](1) === Seq.fill(planes)(null),
      "composed form: null array → array of null dots")
  }

  test("interpreted path (codegen off) agrees with the codegen path") {
    val expected = pairs.select(
      VectorFunctions.longDot(col("a"), col("b")),
      VectorFunctions.longSqDist(col("a"), col("b")),
      VectorFunctions.annPlaneDots(col("a"), 6, 64)).collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = pairs.select(
        VectorFunctions.longDot(col("a"), col("b")),
        VectorFunctions.longSqDist(col("a"), col("b")),
        VectorFunctions.annPlaneDots(col("a"), 6, 64)).collect()
      assert(interp.map(_.toString).toSeq === expected.map(_.toString).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("long_dot / long_sqdist are callable from SQL") {
    val r = spark.sql(
      "SELECT long_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d," +
        " long_sqdist(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS s").collect()(0)
    assert(r.getLong(0) === 32L)
    assert(r.getLong(1) === 27L)
  }

  test("ann_cos_verify matches the DECIMAL(38) predicate on random and boundary pairs") {
    // random micro-unit pairs plus scaled near-boundary ones (cos around
    // 2/5 from every side); n2 computed exactly as the operator does
    val base = (0 until 64).map(i => (i.toLong, vec(i + 1, 16), vec(i + 31, 16)))
    val near = (0 until 16).map { i => // a and a-rotated: cos spread around 0
      val a = vec(i + 3, 16)
      (100L + i, a, a.drop(i % 16) ++ a.take(i % 16))
    }
    val df = (base ++ near).toDF("id", "a", "b")
      .withColumn("na", VectorFunctions.longDot(col("a"), col("a")))
      .withColumn("nb", VectorFunctions.longDot(col("b"), col("b")))
      .withColumn("dot", VectorFunctions.longDot(col("a"), col("b")))
    val r = df.select(
      VectorFunctions.annCosVerify(col("a"), col("b"), col("na"), col("nb"))
        .as("fused"),
      (col("dot") >= 0L && expr(
        "CAST(25 AS DECIMAL(38,0)) * dot * dot >= CAST(4 AS DECIMAL(38,0)) * na * nb"))
        .as("composed")).collect()
    assert(r.length === 80)
    r.foreach { row =>
      val composed = !row.isNullAt(1) && row.getBoolean(1)
      assert(row.getBoolean(0) === composed, row.toString)
    }
    assert(r.exists(_.getBoolean(0)) && r.exists(!_.getBoolean(0)),
      "test data must exercise both verdicts")
  }

  test("annPlaneWeight stays the shared LCG formula both engines compute") {
    // the oracle SQL mirrors this exact expression; pin a few values so a
    // refactor of either home breaks loudly
    assert(AnnPlaneWeights.weight(0, 0, 64) === ((1103515245L * 0 + 12345L) % 2001L) - 1000L)
    assert(AnnPlaneWeights.weight(3, 17, 64) ===
      ((1103515245L * (3L * 64 + 17) + 12345L) % 2001L) - 1000L)
  }
}
