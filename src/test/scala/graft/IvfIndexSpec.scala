package graft

import org.apache.spark.sql.functions._
import graft.operators.{ContractOps, IvfIndex, Similarity}

/** IVF ANN index: centroid training determinism, inverted-list layout,
  * partition-pruned probes, recall vs exact brute force.
  */
class IvfIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def plantedVectors = {
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val a = unit()
    val aNear = a.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.02f else x }
    val rows = (a +: aNear +: Array.fill(48)(unit())).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  test("sampled centroids: deterministic, nonzero, drawn from the corpus") {
    val withZero = plantedVectors.unionByName(
      Seq((99L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")))
    val c1 = IvfIndex.sampleCentroids(withZero, 8)
    val c2 = IvfIndex.sampleCentroids(withZero, 8)
    assert(c1.map(_.toSeq) === c2.map(_.toSeq), "sampler must be deterministic")
    assert(c1.forall(_.exists(_ != 0.0f)), "zero vectors must not be centroids")
    val corpus = plantedVectors.collect().map(_.getSeq[Float](1)).toSet
    assert(c1.forall(c => corpus.contains(c.toSeq)),
      "sampled centroids must be actual corpus vectors")
  }

  test("append contract: frozen-centroid incremental append equals full rebuild") {
    val got = IvfIndex.appendContract(plantedVectors, ivfK = 4).collect()
    assert(got.length === 1)
    assert(got.head.getBoolean(0), "content-addressed split must be nonempty")
    assert(got.head.getBoolean(1), "append must equal rebuild")
    // negative referee: appending under DIFFERENT centroids than the
    // stored lists must NOT equal the rebuild — proves the equality
    // check actually bites on assignment drift
    val c1 = IvfIndex.sampleCentroids(plantedVectors, 4)
    val c2 = IvfIndex.sampleCentroids(plantedVectors, 4, seed = 99L)
    assert(c1.map(_.toSeq).toSeq !== c2.map(_.toSeq).toSeq)
    def lists(df: org.apache.spark.sql.DataFrame, c: Array[Array[Float]]) =
      graft.operators.Similarity.withQuantization(IvfIndex.assignLists(df, c))
        .select("vec_id", "qmin", "qrange", "codes", "list_id")
    val corpus = plantedVectors.filter(col("vec_id") < 25)
    val batch = plantedVectors.filter(col("vec_id") >= 25)
    val drifted = IvfIndex.appendQuantized(lists(corpus, c1), batch, c2)
    val rebuilt = lists(plantedVectors, c1)
    assert(drifted.exceptAll(rebuilt).count() > 0,
      "drifted centroids must be detectable")
    // the contract's fused diff reads the drift as the two exceptAll counts
    val d = ContractOps.diffCounts(drifted, rebuilt, "extra", "missing").head()
    assert((d.getLong(0), d.getLong(1)) === ((19L, 19L)))
    assert((drifted.exceptAll(rebuilt).count(), rebuilt.exceptAll(drifted).count()) ===
      ((19L, 19L)))
  }

  test("ann recall contract: quantized probes recover the exact knn above threshold") {
    val got = IvfIndex.annRecallContract(plantedVectors,
      queryIds = 0L until 8L, k = 5, ivfK = 4, nprobe = 4,
      threshold = 0.9).collect()
    // nprobe = ivfK probes every list: the only loss is quantization,
    // which on unit vectors is far under 10% of top-5 — a broken probe
    // ranking, dequantization, or join key would fail loudly here
    assert(got.length === 1)
    assert(got.head.getBoolean(0), "contract must not be vacuous")
    assert(got.head.getBoolean(1), "full-probe recall must clear 0.9")
  }

  test("s8 counts equal the two-leg form's values; its exact top-k is knnJoin's") {
    val emb = Tables.embeddings(spark, sf0001)
    def counts(df: org.apache.spark.sql.DataFrame) = {
      val r = df.select("n_exact", "n_match").head()
      (r.getLong(0), r.getLong(1))
    }
    // (ivfK, nprobe) -> the two-leg form's (n_exact, n_match) at k = 10
    for (((ivfK, nprobe), parent) <- Seq((8, 4) -> ((160L, 107L)), (4, 1) -> ((160L, 56L))))
      assert(counts(IvfIndex.annRecallDebug(emb, 0L until 16L, k = 10, ivfK = ivfK,
        nprobe = nprobe, threshold = 0.55)) === parent, s"ivfK=$ivfK nprobe=$nprobe")
    // a zero-norm corpus vector has no cosine and no ADC direction: it
    // takes no slot in either ranking
    val withZero = plantedVectors.unionByName(
      Seq((99L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")))
    for (vecs <- Seq(plantedVectors, withZero);
        (nprobe, parent) <- Seq(4 -> ((40L, 40L)), 1 -> ((40L, 20L))))
      assert(counts(IvfIndex.annRecallDebug(vecs, 0L until 8L, k = 5, ivfK = 4,
        nprobe = nprobe, threshold = 0.9)) === parent, s"planted nprobe=$nprobe")
    val ranked = ContractOps.recallRanks(IvfIndex.annRecallScored(emb, 0L until 16L, 8, 4))
      .filter(col("re") <= 10).select("query_id", "vec_id")
    val knn = Similarity.knnJoin(emb.filter(col("embedding").isNotNull), 0L until 16L, 10)
      .select("query_id", "vec_id")
    assert(ranked.count() === 160L)
    assert(ranked.exceptAll(knn).count() === 0L && knn.exceptAll(ranked).count() === 0L)
  }

  test("pq contract: monotone codebook error, shortlist recall, fixture booleans") {
    val emb = Tables.embeddings(spark, sf0001)
    val row = operators.IvfIndex.pqContract(emb, queryIds = 0L until 16L,
      m = 16, kSub = 16, k = 10, threshold = 0.5, shortlist = 100).head()
    assert(row.getLong(0) > 0L)
    assert(row.getBoolean(1), "err_monotone must hold (prefix-subset guarantee)")
    assert(row.getBoolean(2), "nonempty guard")
    assert(row.getBoolean(3), "shortlist+rerank recall at threshold 0.5")
    // the debug frame exposes the raw counts the boolean summarizes
    val dbg = operators.IvfIndex.pqContractDebug(emb, 0L until 16L,
      m = 16, kSub = 16, k = 10, shortlist = 100).head()
    assert(dbg.getLong(4) === 160L, "16 queries x top-10 exact rows")
    assert(dbg.getLong(5) <= dbg.getLong(4))
  }

  test("truncated-scan contract: booleans on fixture, full-dims recall is 1") {
    val emb = Tables.embeddings(spark, sf0001)
    val row = operators.IvfIndex.truncatedRecallContract(emb,
      queryIds = 0L until 16L, keepDims = 32, k = 10, shortlist = 100).head()
    assert(row.getLong(0) > 0L && row.getBoolean(1) && row.getBoolean(2))
    // degenerate referee: keeping ALL dims makes the candidate scan the
    // exact scan — containment must be total regardless of shortlist
    val full = operators.IvfIndex.truncatedDebug(emb, 0L until 16L,
      keepDims = 64, k = 10, shortlist = 10, threshold = 1.0).head()
    assert(full.getBoolean(2), "full-dims truncation must have recall 1")
    assert(full.getLong(3) === full.getLong(4))
    // negative referee: the metric must be discriminative — a starved
    // configuration (4 dims, shortlist == k) cannot reach full recall on
    // random vectors, so a threshold of 1.0 fails
    val starved = operators.IvfIndex.truncatedDebug(emb, 0L until 16L,
      keepDims = 4, k = 10, shortlist = 10, threshold = 1.0).head()
    assert(!starved.getBoolean(2),
      s"starved truncation should miss: ${starved.getLong(4)}/${starved.getLong(3)}")
  }

  test("exact kmeans: separated blobs recovered, partition-invariant, nulls skipped") {
    // two tight blobs far apart: any seeding converges to one cluster per
    // blob within two Lloyd iterations; inertia stays tiny vs separation
    val blobA = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(64)(d => 1.0f + (if (d == i % 64) 0.001f * i else 0f)).toSeq))
    val blobB = (12 until 24).map(i =>
      (i.toLong, Array.tabulate(64)(d => -1.0f - (if (d == i % 64) 0.001f * i else 0f)).toSeq))
    val vecs = (blobA ++ blobB).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .unionByName(Seq((99L, null.asInstanceOf[Seq[Float]]))
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")))
    val out = IvfIndex.kmeansExact(vecs, k = 2, iterations = 2).collect()
    assert(out.map(_.getLong(1)).sum === 24L, "null embedding is excluded")
    assert(out.length === 2 && out.forall(_.getLong(1) === 12L),
      s"each blob forms one cluster: ${out.mkString(",")}")
    val sums = out.map(r => r.getLong(3))
    assert(sums.exists(_ > 60L * 1000000L) && sums.exists(_ < -60L * 1000000L),
      "centroid sums sit near the blob centers")
    val reparted = IvfIndex.kmeansExact(vecs.repartition(7), k = 2, iterations = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(reparted.toSeq === out.map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      "integer arithmetic is partition-invariant")
  }
}
