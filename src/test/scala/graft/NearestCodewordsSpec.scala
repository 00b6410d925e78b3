package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.functions.{NearestCodewords, VectorFunctions}
import graft.operators.IvfIndex

/** [[NearestCodewords]] must be a drop-in for the composed
  * `array_min(array(struct(long_sqdist(slice, codeword), code) …))` encode
  * it replaced in [[IvfIndex.pqContract]] and [[IvfIndex.kmeansExact]]:
  * the same codes, distances, null domain and reconstruction, on the
  * codegen and the interpreted path. [[IvfIndex.pqContractDebug]]'s
  * counts are pinned against a plain-Scala reference and the values the
  * composed form produced.
  */
class NearestCodewordsSpec extends SparkTestBase {
  import spark.implicits._

  /** The composed encode, as `pqContractDebug` built it before the kernel. */
  private def composed(v: Column, codebooks: Array[Array[Array[Long]]],
      prefix: Int): Column = {
    val m = codebooks.length
    val kSub = codebooks(0).length
    val d0 = codebooks(0)(0).length
    def best(mi: Int, kk: Int) = array_min(array((0 until kk).map { j =>
      struct(
        VectorFunctions.longSqDist(slice(v, mi * d0 + 1, d0),
          typedlit(codebooks(mi)(j).toSeq)).as("dist"),
        lit(j).as("code"))
    }: _*))
    val full = (0 until m).map(best(_, kSub))
    val pre = (0 until m).map(best(_, prefix))
    def codeMap(mi: Int) = map((0 until kSub).flatMap(j =>
      Seq(lit(j), typedlit(codebooks(mi)(j).toSeq))): _*)
    struct(
      array(full.map(_.getField("code")): _*).as("codes"),
      full.map(_.getField("dist")).reduce(_ + _).as("dist"),
      pre.map(_.getField("dist")).reduce(_ + _).as("prefix_dist"),
      concat((0 until m).map(mi =>
        element_at(codeMap(mi), full(mi).getField("code"))): _*).as("recon"))
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val codegenOnly = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** (id, kernel struct, composed struct) rows of `df(id, qe)`. */
  private def both(df: DataFrame, codebooks: Array[Array[Array[Long]]],
      prefix: Int): Array[(Long, Row, Row)] =
    df.select(col("id"),
      NearestCodewords.nearestCodewords(col("qe"), codebooks, prefix).as("k"),
      composed(col("qe"), codebooks, prefix).as("c"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getStruct(1), r.getStruct(2)))

  private def qe(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1e6).toLong).toArray

  /** sf0.001 embeddings as (vec_id, micro-unit vector), by vec_id. */
  private lazy val sfVecs: Array[(Long, Array[Long])] =
    Tables.embeddings(spark, sf0001).filter(col("embedding").isNotNull)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        qe(r.getSeq[Float](r.fieldIndex("embedding")))))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** `pqContract`'s codebooks: the first `kSub` vectors in md5(vec_id)
    * order, each cut into `m` subvectors.
    */
  private def seedCodebooks(m: Int, kSub: Int): Array[Array[Array[Long]]] = {
    val seeds = sfVecs.sortBy { case (id, _) => (md5Hex(id.toString), id) }
      .take(kSub).map(_._2)
    val d0 = seeds(0).length / m
    Array.tabulate(m, kSub)((mi, j) => seeds(j).slice(mi * d0, (mi + 1) * d0))
  }

  private def sqDist(a: Array[Long], b: Array[Long]): Long =
    a.indices.map { i => val d = a(i) - b(i); d * d }.sum

  test("kernel equals the composed encode on the sf0.001 embeddings") {
    val df = sfVecs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("id", "qe")
      .repartition(2)
    for ((m, kSub, prefix) <- Seq((16, 16, 4), (1, 8, 8))) {
      val cb = seedCodebooks(m, kSub)
      val rows = withConfs(codegenOnly: _*)(both(df, cb, prefix))
      assert(rows.length === sfVecs.length)
      rows.foreach { case (id, k, c) =>
        assert(k === c, s"(m=$m, kSub=$kSub, prefix=$prefix) vec $id")
        assert(!k.isNullAt(1) && k.getLong(1) <= k.getLong(2), s"vec $id")
      }
      // a code is the argmin its own distance says it is
      val (id0, k0, _) = rows.head
      val v0 = sfVecs.find(_._1 == id0).get._2
      val d0 = v0.length / m
      assert(k0.getSeq[Int](0) === (0 until m).map { mi =>
        (0 until kSub).minBy(j => (sqDist(v0.slice(mi * d0, (mi + 1) * d0), cb(mi)(j)), j))
      })
    }
  }

  test("kernel equals the composed encode on ties, null elements and short vectors, " +
    "codegen and interpreted") {
    // m = 3 subspaces of d0 = 2; codeword j of subspace mi is base(j) + 100·mi
    val base = Seq(Array(0L, 0L), Array(2L, 0L), Array(0L, 2L), Array(10L, 10L))
    val cb = Array.tabulate(3, 4)((mi, j) => base(j).map(_ + 100L * mi))
    def row(id: Long, v: java.lang.Long*) = (id, v.toSeq)
    val df = Seq(
      row(0, 0L, 0L, 102L, 100L, 200L, 202L), // exact codewords 0, 1, 2
      row(1, 2L, 2L, 101L, 101L, 201L, 201L), // ties: c1 = c2, then c0 = c1 = c2
      row(2, 9L, 9L, 110L, 111L, 208L, 209L), // c3 beats the prefix pick
      row(3, 0L, 0L, null, 100L, 200L, 200L), // null element in subspace 1
      row(4, 0L, 0L, 100L), // short: subspace 1 cut, subspace 2 missing
      row(5, 0L, 0L, 100L, 100L, 200L, 200L, 7L, 7L), // longer: tail unread
      row(6) // empty
    ).toDF("id", "qe").repartition(2)
    for (confs <- Seq(codegenOnly, interpreted)) {
      val rows = withConfs(confs: _*)(both(df, cb, prefix = 2))
      assert(rows.length === 7)
      rows.foreach { case (id, k, c) => assert(k === c, s"row $id under $confs") }
      val byId = rows.map { case (id, k, _) => id -> k }.toMap
      assert(byId(0L).getSeq[Int](0) === Seq(0, 1, 2) && byId(0L).getLong(1) === 0L)
      assert(byId(1L).getSeq[Int](0) === Seq(1, 0, 0), "ties go to the smallest code")
      assert(byId(2L).getSeq[Int](0) === Seq(3, 3, 3))
      assert(byId(2L).getLong(1) < byId(2L).getLong(2), "prefix codebook is worse")
      for (id <- Seq(3L, 4L, 6L)) {
        assert(byId(id).isNullAt(1) && byId(id).isNullAt(2), s"row $id: null dist")
      }
      assert(byId(3L).getSeq[Int](0) === Seq(0, 0, 0), "undefined subspace takes code 0")
      assert(byId(3L).getSeq[Long](3) === Seq(0L, 0L, 100L, 100L, 200L, 200L))
      assert(byId(5L).getLong(1) === 0L)
    }
    // a null array is a null struct (UnaryExpression); the composed form
    // returned code 0 everywhere with null distances
    val nullRow = Seq((0L, null: Seq[java.lang.Long])).toDF("id", "qe")
    val (_, k, c) = both(nullRow, cb, 2).head
    assert(k === null)
    assert(c.getSeq[Int](0) === Seq(0, 0, 0) && c.isNullAt(1))
  }

  test("constructor requires 1 <= prefix <= kSub, one codeword length and m >= 1") {
    val v = col("qe")
    val cb = Array.fill(2, 4)(Array(1L, 2L))
    def msg(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    assert(msg(NearestCodewords.nearestCodewords(v, cb, 5)).contains("prefix=5"))
    assert(msg(NearestCodewords.nearestCodewords(v, cb, 0)).contains("prefix=0"))
    assert(msg(NearestCodewords.nearestCodewords(v, Array.empty, 1)).contains("m=0"))
    val ragged = Array(Array(Array(1L, 2L), Array(1L)), Array(Array(1L, 2L), Array(3L, 4L)))
    assert(msg(NearestCodewords.nearestCodewords(v, ragged, 1)).contains("d0=2"))
    // pqContract with kPrefix > kSub fails on the argument, not inside the plan build
    val emb = Tables.embeddings(spark, sf0001)
    assert(msg(IvfIndex.pqContract(emb, 0L until 4L, m = 16, kSub = 4, kPrefix = 5))
      .contains("prefix=5"))
  }

  /** (n_vectors, ef, ep, n_exact, n_match) from plain Scala: md5-seeded
    * codebooks, argmin encode with ties to the smallest code, exact top-k
    * and ADC top-shortlist per query by (distance, vec_id), intersected.
    */
  private def pqReference(queryIds: Seq[Long], m: Int, kSub: Int, kPrefix: Int,
      k: Int, shortlist: Int): (Long, Long, Long, Long, Long) = {
    val cb = seedCodebooks(m, kSub)
    val d0 = cb(0)(0).length
    def nearest(s: Array[Long], mi: Int, kk: Int): (Long, Int) =
      (0 until kk).map(j => (sqDist(s, cb(mi)(j)), j)).min
    case class Enc(id: Long, v: Array[Long], full: Long, prefix: Long, recon: Array[Long])
    val enc = sfVecs.map { case (id, v) =>
      val subs = (0 until m).map(mi => v.slice(mi * d0, (mi + 1) * d0))
      val full = subs.indices.map(mi => nearest(subs(mi), mi, kSub))
      val pre = subs.indices.map(mi => nearest(subs(mi), mi, kPrefix))
      Enc(id, v, full.map(_._1).sum, pre.map(_._1).sum,
        full.indices.flatMap(mi => cb(mi)(full(mi)._2)).toArray)
    }
    def top(q: Array[Long], qid: Long, vec: Enc => Array[Long], kk: Int): Set[Long] =
      enc.filter(_.id != qid).map(e => (sqDist(vec(e), q), e.id)).sorted.take(kk).map(_._2).toSet
    val pairs = queryIds.flatMap(qid => sfVecs.find(_._1 == qid)).map { case (qid, q) =>
      val exact = top(q, qid, _.v, k)
      (exact.size.toLong, (exact & top(q, qid, _.recon, shortlist)).size.toLong)
    }
    (enc.length.toLong, enc.map(_.full).sum, enc.map(_.prefix).sum,
      pairs.map(_._1).sum, pairs.map(_._2).sum)
  }

  test("pqContractDebug counts equal a plain-Scala reference and the composed form's values") {
    val emb = Tables.embeddings(spark, sf0001)
    // (m, kSub, kPrefix, k, shortlist) -> the composed form's
    // (n_vectors, ef, ep, n_exact, n_match) on sf0.001
    val composedValues = Seq(
      (16, 16, 4, 10, 100) -> ((500L, 224061563235890L, 457840058871682L, 160L, 138L)),
      (8, 16, 4, 10, 64) -> ((500L, 382168433614199L, 613994028696532L, 160L, 84L)),
      (4, 8, 2, 5, 20) -> ((500L, 626229835293554L, 820907993011854L, 80L, 12L)))
    for (((m, kSub, kPrefix, k, sl), parent) <- composedValues) {
      val r = IvfIndex.pqContractDebug(emb, 0L until 16L, m = m, kSub = kSub, k = k,
        kPrefix = kPrefix, shortlist = sl).head()
      val got = (r.getAs[Long]("n_vectors"), r.getAs[Long]("ef"), r.getAs[Long]("ep"),
        r.getAs[Long]("n_exact"), r.getAs[Long]("n_match"))
      assert(got === pqReference(0L until 16L, m, kSub, kPrefix, k, sl), s"m=$m kSub=$kSub")
      assert(got === parent, s"m=$m kSub=$kSub")
    }
  }

  test("plan shape: one kernel call site in the encode, no LeftSemi join in pqContract") {
    val eq = Tables.embeddings(spark, sf0001).select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * lit(1e6)).cast("long"))
        .as("qe"))
    val plan = IvfIndex.pqEncode(eq, seedCodebooks(16, 16), 4)
      .queryExecution.optimizedPlan.toString
    assert(PlanKernels.callCount(plan, "nearest_codewords") === 1, plan)
    for (gone <- Seq("long_sqdist", "element_at", "map", "array_min"))
      assert(PlanKernels.callCount(plan, gone) === 0, s"$gone in\n$plan")
    val contract = IvfIndex.pqContract(Tables.embeddings(spark, sf0001), 0L until 16L,
      m = 16, kSub = 16, k = 10, threshold = 0.5, shortlist = 100)
    val semis = contract.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j
    }
    assert(semis.isEmpty, contract.queryExecution.optimizedPlan.toString)
  }
}
