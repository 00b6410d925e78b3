package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Except, Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.operators.{ContractOps, Dedup, IvfIndex, TextOps}

/** The contracts' shared counting passes ([[ContractOps]]): the one-pass
  * recall count against a plain-Scala reference, the fused multiset diff
  * against the two `exceptAll` counts, and the raw counts of the
  * contracts built on them (s12, s13, d12) against the values their
  * two-leg and two-`exceptAll` forms gave on the same inputs; s8's and
  * s9's sit in `IvfIndexSpec`, beside its planted vectors.
  */
class ContractOpsSpec extends SparkTestBase {
  import spark.implicits._

  /** Plain-Scala recall: per query, the non-null keys ranked ascending
    * with ties to the smaller vec_id; (n_exact, n_match).
    */
  private def recallReference(rows: Seq[(Long, Long, Option[Long], Option[Long])],
      k: Int, shortlist: Int): (Long, Long) = {
    val perQuery = rows.groupBy(_._1).values.toSeq.map { q =>
      def top(key: ((Long, Long, Option[Long], Option[Long])) => Option[Long], n: Int) =
        q.flatMap(r => key(r).map(d => (d, r._2))).sorted.take(n).map(_._2).toSet
      val exact = top(_._3, k)
      (exact.size.toLong, (exact & top(_._4, shortlist)).size.toLong)
    }
    (perQuery.map(_._1).sum, perQuery.map(_._2).sum)
  }

  private def counts(df: DataFrame): (Long, Long) = {
    val r = df.select("n_exact", "n_match").head()
    (r.getLong(0), r.getLong(1))
  }

  test("recallCounts equals a plain-Scala reference on ties, null keys and short queries") {
    val rows: Seq[(Long, Long, Option[Long], Option[Long])] = Seq(
      // query 1: exact ties at 5 (vec 3 before vec 4), a null exact key
      // and a null approx key, more rows than k
      (1L, 3L, Some(5L), Some(2L)), (1L, 4L, Some(5L), Some(1L)),
      (1L, 5L, Some(1L), None), (1L, 6L, None, Some(0L)),
      (1L, 7L, Some(9L), Some(3L)), (1L, 8L, Some(2L), Some(9L)),
      (1L, 9L, Some(5L), Some(3L)),
      // query 2: fewer non-null exact rows than k
      (2L, 3L, Some(4L), Some(4L)), (2L, 4L, None, None),
      (2L, 5L, Some(4L), Some(7L)),
      // query 3: every key null — contributes nothing
      (3L, 1L, None, None), (3L, 2L, None, None))
    val df = rows.toDF("query_id", "vec_id", "exact", "approx")
    for (k <- 1 to 4; shortlist <- 1 to 5)
      assert(counts(ContractOps.recallCounts(df, k, shortlist)) ===
        recallReference(rows, k, shortlist), s"k=$k shortlist=$shortlist")
    // a null key takes no slot: query 2 has two rankable rows at k = 4
    assert(counts(ContractOps.recallCounts(df.filter(col("query_id") === 2), 4, 5)) ===
      ((2L, 2L)))
  }

  test("diffCounts equals the two exceptAll counts on duplicates, nulls and arrays") {
    val a = Seq(
      (Some(1L), Some("x"), Seq(1L, 2L)), (Some(1L), Some("x"), Seq(1L, 2L)),
      (Some(1L), Some("x"), Seq(1L, 2L)), (None, Some("y"), Seq.empty[Long]),
      (None, None, Seq(3L)), (Some(2L), None, Seq(3L)), (Some(4L), Some("z"), Seq(4L)))
      .toDF("id", "s", "arr")
    val b = Seq(
      (Some(1L), Some("x"), Seq(1L, 2L)), (None, Some("y"), Seq.empty[Long]),
      (None, Some("y"), Seq.empty[Long]), (None, None, Seq(3L)),
      (Some(2L), None, Seq(2L)), (Some(4L), Some("z"), Seq(4L)))
      .toDF("id", "s", "arr")
    for ((l, r) <- Seq((a, b), (b, a), (a, a))) {
      val d = ContractOps.diffCounts(l, r, "extra", "missing").head()
      assert((d.getLong(0), d.getLong(1)) ===
        ((l.exceptAll(r).count(), r.exceptAll(l).count())))
    }
    val d = ContractOps.diffCounts(a, b, "extra", "missing").head()
    assert((d.getLong(0), d.getLong(1)) === ((3L, 2L)))
  }

  test("s13 counts equal the two-leg form's values on sf0.001") {
    val emb = Tables.embeddings(spark, sf0001)
    val registered = Some((n: Long) => math.min(1000000L, math.max(100L, n / 50)).toInt)
    // (keepDims, k, shortlist, shortlistFor) -> (n_vectors, n_exact, n_match)
    val parentValues = Seq(
      (32, 10, 100, registered) -> ((500L, 160L, 141L)),
      (64, 10, 10, None) -> ((500L, 160L, 160L)),
      (4, 10, 10, None) -> ((500L, 160L, 9L)))
    for (((keepDims, k, sl, f), parent) <- parentValues) {
      val r = IvfIndex.truncatedDebug(emb, 0L until 16L, keepDims, k, sl, 0.5, f)
        .select("n_vectors", "n_exact", "n_match").head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === parent, s"keepDims=$keepDims")
    }
  }

  test("a null distance takes no top-k slot in s12 and s13") {
    // four clean 8-d vectors plus one with a null element and one of a
    // different length; the two are the last in md5 order, so s12's
    // kSub = 2 codebook is drawn from clean vectors
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val Seq(c0, c1, c2, c3, nullElem, shortVec) = (0L until 6L).sortBy(i => md5(i.toString))
    def vec(i: Long): Seq[Any] = (0 until 8).map(d => ((i * 7 + d * 3) % 11).toFloat / 8)
    val rows = Seq(c0, c1, c2, c3).map(i => Row(i, vec(i))) ++ Seq(
      Row(nullElem, vec(nullElem).updated(6, null)),
      Row(shortVec, vec(shortVec).take(6)))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    val queries = Seq(c0, c1)
    // k = 5 exceeds each query's three clean neighbours: only they rank,
    // and every one of them is inside a corpus-wide shortlist
    assert(counts(IvfIndex.truncatedDebug(emb, queries, keepDims = 4, k = 5,
      shortlist = 10, threshold = 0.5)) === ((6L, 6L)))
    assert(counts(IvfIndex.pqContractDebug(emb, queries, m = 2, kSub = 2, kPrefix = 1,
      k = 5, shortlist = 10)) === ((6L, 6L)))
  }

  test("d12's diff on an unmerged signature store equals the exceptAll counts") {
    // the batch signatures never merged: a stale store
    val docs = Tables.documents(spark, sf0001)
    val stale = Dedup.corpusSignatures(docs.filter(TextOps.hexNibble("doc_id") =!= 7))
    val full = Dedup.corpusSignatures(docs)
    val d = ContractOps.diffCounts(stale, full, "extra", "missing").head()
    // the counts d12's two exceptAll calls gave on the same artifacts
    assert((d.getLong(0), d.getLong(1)) === ((3L, 3L)))
    assert((stale.exceptAll(full).count(), full.exceptAll(stale).count()) === ((3L, 3L)))
  }

  test("plan shape: no LeftSemi join in s8 and s13, no Except in s9 and d12") {
    val emb = Tables.embeddings(spark, sf0001)
    def semis(p: LogicalPlan) = p.collect { case j: Join if j.joinType == LeftSemi => j }
    for (df <- Seq(IvfIndex.annRecallContract(emb, 0L until 16L),
        IvfIndex.truncatedRecallContract(emb, 0L until 16L))) {
      assert(semis(df.queryExecution.analyzed).isEmpty, df.queryExecution.analyzed.toString)
      assert(semis(df.queryExecution.optimizedPlan).isEmpty,
        df.queryExecution.optimizedPlan.toString)
    }
    for (df <- Seq(IvfIndex.appendContract(emb),
        Dedup.signatureMergeContract(Tables.documents(spark, sf0001)))) {
      val excepts = df.queryExecution.analyzed.collect { case e: Except => e }
      assert(excepts.isEmpty, df.queryExecution.analyzed.toString)
    }
  }
}
