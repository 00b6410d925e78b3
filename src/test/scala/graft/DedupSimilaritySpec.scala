package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GraphOps, Similarity}
import graft.functions.VectorFunctions

/** LSH dedup + similarity: recall on planted near-duplicates, and the
  * no-all-pairs scale guarantees (plan-level).
  */
class DedupSimilaritySpec extends SparkTestBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val baseText =
    "the quick brown fox jumps over the lazy dog and runs far away " * 5

  private def docs = Seq(
    (0L, baseText),
    (1L, baseText + "trailing extra tokens appended"), // near-dup of 0
    (2L, "completely different content about spark query engines and columnar execution plans " * 4),
    (3L, baseText), // exact dup of 0
    (4L, "yet another unrelated document discussing distributed joins shuffles and partitions " * 4)
  ).toDF("doc_id", "text")

  test("exact dedup keeps the min doc_id representative") {
    val kept = Dedup.exactDedup(docs).collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 1L, 2L, 4L)) // doc 3 deduped into doc 0
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"near-dup pair missed: $pairs")
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("prefix-filter join equals brute-force exact Jaccard on planted docs and the fixture") {
    import graft.functions.TextFunctions.shingles3
    // brute force with the IDENTICAL integer threshold arithmetic —
    // completeness of the prefix-filter candidate set is exactly what a
    // missing pair here would falsify
    def brute(documents: org.apache.spark.sql.DataFrame,
        num: Long, den: Long): Set[(Long, Long, Long, Long)] = {
      val sh = documents.select(col("doc_id"),
        array_distinct(shingles3(col("text"))).as("sh"))
      sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
          col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("ni"),
          size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("nu"))
        .filter(col("ni") * den >= col("nu") * num)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    // planted set at a LOW threshold (1/2): doc 1 is a padded variant of
    // doc 0 — a pair banded LSH at 0.9 would drop, the regime this
    // operator exists for; docs 2/4 must not pair with anything
    val low = Dedup.prefixFilterJoin(docs, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(low === brute(docs, 1L, 2L), s"planted-doc mismatch: $low")
    assert(low.exists(p => p._1 == 0L && p._2 == 1L), "padded near-dup pair missed")
    assert(!low.exists(p => p._1 == 2L || p._2 == 2L || p._1 == 4L || p._2 == 4L))
    // fixture at the registered 4/5 threshold: candidate completeness on
    // real data, not just the planted toy
    val fixture = Tables.documents(spark, sf001)
    val got = Dedup.prefixFilterJoin(fixture, 4, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = brute(fixture, 4L, 5L)
    assert(got === want,
      s"fixture mismatch: missed ${want.diff(got)}, extra ${got.diff(want)}")
    assert(want.nonEmpty, "fixture must contain at least one J>=0.8 pair")
  }

  test("d3b guard: banded LSH at threshold 0.9 equals exact all-pairs on the fixtures") {
    // The d3b oracle claim is probabilistic, not exact: 8×4 banding at
    // J ≥ 0.9 has recall 1-(1-0.9⁴)⁸ ≈ 0.9998 PER PAIR, so a qualifying
    // pair that misses all 8 bands would silently diverge from DuckDB's
    // exact all-pairs join. This guard pins the residual to zero on the
    // CURRENT fixtures — including sf0.01, the scale the driver compare
    // actually runs at (and which d7/d8 inherit): if a fixture is
    // regenerated and a pair starts missing, this fails with a pointed
    // message before the driver surfaces an opaque hash mismatch.
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.shingles3
    for (sfDir <- Seq(sf0001, sf001)) {
      val fixture = Tables.documents(spark, sfDir)
      val banded = Dedup.nearDupPairs(fixture, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = fixture.select(col("doc_id"),
        array_distinct(shingles3(col("text"))).as("sh"))
      val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        size(col("sh")).as("na"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        size(col("sh")).as("nb"))
      // size-ratio prefilter is a necessary condition for the engine's
      // ROUNDED threshold round(J,4) ≥ 0.9 ⇔ J ≥ 0.89995 (J ≤ min/max of
      // set sizes ⇒ ratio ≥ 0.8999 with slack) — prunes only pairs the
      // threshold would reject; and the exact side must round exactly as
      // the engine does (Dedup.nearDupPairs filters on round(jac, 4))
      val exact = a.join(b, col("doc_a") < col("doc_b") &&
          col("na") * 10000 >= col("nb") * 8999 && col("nb") * 10000 >= col("na") * 8999)
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 4).as("j"))
        .filter(col("j") >= 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded === exact,
        s"[$sfDir] LSH banding missed/added pairs vs exact: " +
          s"${banded.diff(exact)} / ${exact.diff(banded)}")
      assert(exact.nonEmpty, s"[$sfDir] fixture must contain at least one J>=0.9 pair")
    }
  }

  test("minhash plan has no cartesian/nested-loop join") {
    // nearDupPairs materializes its candidates, so the candidate join has
    // its own plan: check it, and the verify plan above the checkpoint
    val candidates = Dedup.candidatePairs(Dedup.lshBuckets(
      Dedup.minhashSignatures(docs, 32), 8, 4))
    for (df <- Seq(candidates, Dedup.nearDupPairs(docs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("simhash: near-identical docs within small hamming, unrelated far") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((0L, 3L)).contains(0), s"exact dup must be hamming 0: $pairs")
    assert(pairs.contains((0L, 1L)), s"near dup within hamming 10: $pairs")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((2L, 4L)), s"$pairs")
  }

  test("incremental dedup via a parquet-persisted band index equals recompute") {
    val docs = Tables.documents(spark, sf0001)
    val nb = graft.operators.TextOps.hexNibble("doc_id")
    val corpus = docs.filter(nb < 12)
    val incoming = docs.filter(nb >= 12)
    def pairs(index: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDups(index, corpus, incoming, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = pairs(Dedup.bandIndex(corpus))
    assert(live.nonEmpty, "fixture must have cross-split near-dups")
    // the index survives a storage round trip — the production shape
    // where the corpus is never re-LSH'd per ingest
    val dir = tmpDir("band-index")
    Dedup.bandIndex(corpus).write.mode("overwrite").parquet(dir)
    assert(pairs(spark.read.parquet(dir)) === live)
    // every reported pair straddles the split, new side first
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    live.foreach { case (n, c) =>
      assert(!corpusIds.contains(n) && corpusIds.contains(c), s"($n, $c)")
    }
  }

  test("bucketed band index joins an incoming batch with no corpus-side shuffle") {
    // substantiates the bandIndex scaladoc claim: persist the index
    // bucketed on band_key and only the (small) incoming side shuffles
    val docs = Tables.documents(spark, sf0001)
    val nb = graft.operators.TextOps.hexNibble("doc_id")
    Dedup.bandIndex(docs.filter(nb < 12))
      .write.mode("overwrite").bucketBy(4, "band_key").sortBy("band_key")
      .format("parquet").saveAsTable("band_idx_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val corpusIndex = spark.table("band_idx_bucketed")
      val newBands = Dedup.bandIndex(docs.filter(nb >= 12))
      val cand = corpusIndex
        .select(col("band_key"), col("doc_id").as("corpus_doc"))
        .join(newBands.select(col("band_key"),
          col("doc_id").as("new_doc")), Seq("band_key"))
      val plan = cand.queryExecution.executedPlan.toString
      val nEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(nEx === 1, s"only the incoming side may shuffle, got $nEx:\n$plan")
      assert(cand.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("simhash contract runs its quadratic brute-force leg once") {
    val plan = Dedup.simhashContract(Tables.documents(spark, sf0001), maxHamming = 3)
      .queryExecution.executedPlan.toString
    val n = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(n === 1, s"expected one nested-loop join, found $n:\n$plan")
  }

  test("simhash contract reports complete+sound vs brute force on the fixture") {
    val r = Dedup.simhashContract(Tables.documents(spark, sf0001), maxHamming = 3)
      .collect()
    assert(r.length === 1)
    assert(r.head.getBoolean(0), "fixture must contain at least one pair")
    assert(r.head.getBoolean(1) && r.head.getBoolean(2), r.head.toString)
  }

  test("minhash union aggregator obeys the union property") {
    import graft.functions.MinHashUnionAgg
    // sig(shingles(A) ∪ shingles(B)) == elementwise_min(sig(A), sig(B))
    val parts = Seq((1L, Seq("aa bb cc", "bb cc dd")), (1L, Seq("ee ff gg")))
      .toDF("g", "sh")
    val perPart = parts.select(col("g"), expr("minhash(sh, 16)").as("sig"))
    val viaAgg = perPart.groupBy("g")
      .agg(MinHashUnionAgg.minhashUnion(col("sig"), 16).as("u"))
      .collect().head.getSeq[Long](1)
    val whole = Seq((1L, Seq("aa bb cc", "bb cc dd", "ee ff gg"))).toDF("g", "sh")
      .select(expr("minhash(sh, 16)").as("sig"))
      .collect().head.getSeq[Long](0)
    assert(viaAgg === whole)
  }

  test("corpus signatures: 5 langs, partial aggregation in plan") {
    val cs = operators.Dedup.corpusSignatures(Tables.documents(spark, sf0001))
    val rows = cs.collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getSeq[Long](1).length === 32))
    // identical corpora estimate 1.0; distinct-lang corpora have true
    // shingle Jaccard ~0.07-0.13 (measured brute-force) -> estimate must
    // stay well below identity and within k=32 sampling noise of truth
    val sigs = rows.map(_.getSeq[Long](1))
    // estimated Jaccard: the fraction of agreeing signature components
    def estimatedJaccard(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(estimatedJaccard(sigs(0), sigs(0)) === 1.0)
    val est = estimatedJaccard(sigs(0), sigs(1))
    assert(est >= 0.0 && est <= 0.35, s"cross-lang estimate out of range: $est")
  }

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

  test("brute-force top-k ranks the planted near-identical vector first") {
    val top = Similarity.bruteForceTopK(plantedVectors, 0L, 5).collect()
    assert(top.head.getLong(0) === 1L, top.mkString(","))
    assert(top.head.getDouble(1) > 0.999)
  }

  /** Builtin-composition cosine (zip_with + aggregate): the reference the
    * native `cosine_similarity` expression is checked against.
    */
  private def cosineSimBuiltin(a: Column, b: Column): Column = {
    val prod = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    prod / (sqrt(na) * sqrt(nb))
  }

  test("custom cosine expression agrees with builtin composition") {
    val two = plantedVectors.limit(10)
      .select(col("vec_id"), col("embedding").as("a"))
    val one = plantedVectors.limit(1).select(col("embedding").as("b"))
    val joined = two.crossJoin(broadcast(one))
    val r = joined.select(
      VectorFunctions.cosineSim(col("a"), col("b")).as("native"),
      cosineSimBuiltin(col("a"), col("b")).as("builtin")).collect()
    r.foreach(row =>
      assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 1e-12))
  }

  test("dot product expression agrees with the zip_with fold; MIPS ranks by magnitude") {
    val two = plantedVectors.limit(10)
      .select(col("vec_id"), col("embedding").as("a"))
    val one = plantedVectors.limit(1).select(col("embedding").as("b"))
    val r = two.crossJoin(broadcast(one)).select(
      VectorFunctions.dotProduct(col("a"), col("b")).as("native"),
      org.apache.spark.sql.functions.aggregate(
        org.apache.spark.sql.functions.zip_with(col("a"), col("b"),
          (x, y) => x.cast("double") * y.cast("double")),
        org.apache.spark.sql.functions.lit(0.0), (acc, v) => acc + v).as("fold"))
      .collect()
    r.foreach(row =>
      assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 1e-12))
    // MIPS vs cosine: double vec 1 to make its inner product dominate
    // while cosine is scale-invariant — mips must rank the long vector
    // first even when cosine would tie it with the unit-scale copy.
    import spark.implicits._
    val base = Seq(0.6f, 0.8f)
    val frame = Seq(
      (0L, base), (1L, base.map(_ * 2f)), (2L, base.map(_ * 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mipsTopK(frame, 0L, 2).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(got.head.getDouble(1) === 2.0, "dot of unit vector with its 2x copy")
  }

  test("mmrRerank: diversity beats relevance at step 2, penalties carry sign") {
    import spark.implicits._
    // dyadic floats -> exact micro-units. q = (1, 0); A is the top hit;
    // B is A's near-duplicate (higher rel than C); C points away from A.
    val frame = Seq(
      (0L, Seq(1.0f, 0.0f)),        // query
      (1L, Seq(0.875f, -0.375f)),   // A: rel 8.75e11
      (2L, Seq(0.8125f, -0.375f)),  // B: rel 8.125e11, dot(B,A) 8.515625e11
      (3L, Seq(0.6875f, 0.625f))    // C: rel 6.875e11, dot(C,A) 3.671875e11
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(frame).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))))
    assert(got.length === 3, "fold stops when candidates run out, k=10 notwithstanding")
    assert(got(0) === (1L -> ((1L, 875000000000L, 0L, 875000000000L))))
    // step 2: B's MMR 8.125e11 - 8.515625e11 < C's 6.875e11 - 3.671875e11
    assert(got(1) === (2L -> ((3L, 687500000000L, 367187500000L, 320312500000L))))
    // step 3: B's penalty is max(dot(B,A), dot(B,C)) = dot(B,A); mmr2 NEGATIVE
    assert(got(2) === (3L -> ((2L, 812500000000L, 851562500000L, -39062500000L))))
  }

  test("mmrRerank: k = 0 and k > nCandidates are rejected (sequence(1, 0) descends)") {
    import spark.implicits._
    val frame = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.875f, -0.375f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(frame, k = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(frame, nCandidates = 4, k = 5)
    }
  }

  test("mmrDiversityContract: k=2 on the planted frame — {A,C} beats {A,B}") {
    import spark.implicits._
    val frame = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.875f, -0.375f)),   // A
      (2L, Seq(0.8125f, -0.375f)),  // B: relevance runner-up, near-dup of A
      (3L, Seq(0.6875f, 0.625f))    // C: MMR's pick at step 2
    ).toDF("vec_id", "embedding")
    val r = Similarity.mmrDiversityContract(frame, 0L, 32, 2).head()
    assert(r.getLong(0) === 851562500000L, "top-2 = {A,B}: dot(A,B)")
    assert(r.getLong(1) === 367187500000L, "mmr-2 = {A,C}: dot(A,C)")
    assert(r.getBoolean(2))
  }

  test("integer centroids are partition-invariant and match a driver-side model") {
    val emb = Tables.embeddings(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      Similarity.labelCentroids(df).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val base = rows(emb)
    assert(base === rows(emb.repartition(7, col("vec_id"))),
      "integer sums must merge identically under any partitioning")
    // driver-side model for one label: truncating mean of floored micros
    val rs = emb.filter(col("label") === 0).select("embedding").collect()
      .map(_.getSeq[Float](0))
    val dim0 = rs.map(v => math.floor(v.head.toDouble * 1e6).toLong).sum / rs.length
    assert(base((0, 0)) === dim0)
  }

  test("semDedup drops in-cluster near-dups (min-id survivor), keeps the rest") {
    def sparse(entries: (Int, Double)*): Seq[Float] = {
      val v = Array.fill(64)(0.0)
      entries.foreach { case (i, x) => v(i) = x }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    // cluster 0 around axis e0; cluster 1 around axis e1
    val rows = Seq(
      (0L, sparse(0 -> 1.0), 0),                 // survivor of the A-dup set
      (1L, sparse(0 -> 1.0, 3 -> 0.02), 0),      // ~cos 0.9998 to v0 → dropped
      (2L, sparse(0 -> 0.8, 4 -> 0.6), 0),       // cos 0.8 to v0 → kept at τ=0.95
      (3L, sparse(1 -> 1.0), 1),                 // survivor in cluster B
      (4L, sparse(1 -> 1.0, 5 -> 0.02), 1),      // dropped by 3
      (6L, sparse(0 -> 1.0, 6 -> 0.03), 0)       // dup of BOTH 0 and 1 → min u = 0
    )
    val emb = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Similarity.semDedup(emb, minScore = 0.95).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out(0L) === ((true, -1L)))
    assert(out(1L) === ((false, 0L)))
    assert(out(2L) === ((true, -1L)), "cos 0.8 is below the 0.95 gate")
    assert(out(3L) === ((true, -1L)), "clusters dedup independently")
    assert(out(4L) === ((false, 3L)))
    assert(out(6L) === ((false, 0L)), "condemned by the SMALLEST dup id")
  }

  // Connected components and k-core finish on the driver while their
  // edges fit spark.sql.autoBroadcastJoinThreshold; -1 keeps their
  // distributed rounds. Each graph spec runs on both paths.
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"
  private def withThreshold[T](t: String)(body: => T): T = {
    val prev = spark.conf.get(threshold)
    try { spark.conf.set(threshold, t); body }
    finally spark.conf.set(threshold, prev)
  }
  private def onBothPaths[T](body: Boolean => T): Seq[T] =
    Seq(spark.conf.get(threshold) -> true, "-1" -> false).map {
      case (t, driver) => withThreshold(t)(body(driver))
    }
  // a driver finish comes back as (or over) a local relation; the
  // distributed rounds end in checkpoints
  private def finishedOnDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isDefined
  private def componentMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  // driver-side union-find as independent ground truth: node -> min id
  // of its component
  private def unionFindTruth(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  test("connected components: chain graph collapses to one component in few rounds") {
    // a 30-node chain is the worst case for min-label PROPAGATION
    // (diameter rounds); the alternating star algorithm must still
    // converge well inside its O(log² n) budget
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst")
    onBothPaths { driver =>
      val cc = Dedup.connectedComponents(chain, maxRounds = 12)
      assert(finishedOnDriver(cc) === driver)
      val labels = componentMap(cc)
      assert(labels.size === 30)
      assert(labels.values.toSet === Set(0L), s"all nodes must label 0: $labels")
    }
  }

  test("connected components keep self-loop-only nodes as singletons") {
    val e = Seq((5L, 5L), (1L, 2L)).toDF("src", "dst")
    onBothPaths { _ =>
      assert(componentMap(Dedup.connectedComponents(e)) ===
        Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
    }
  }

  test("connected components match union-find ground truth on random graphs") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val want = unionFindTruth(edges)
      onBothPaths { driver =>
        val got = componentMap(Dedup.connectedComponents(edges.toDF("src", "dst")))
        assert(got === want, s"seed $seed, driver finish $driver")
      }
    }
  }

  test("connected components: an empty edge set gives no rows on either path") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(onBothPaths(_ => Dedup.connectedComponents(none).count()) === Seq(0L, 0L))
  }

  test("connected components: duplicate and reversed edges count once") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (7L, 9L),
      (9L, 7L), (9L, 7L))
    onBothPaths { driver =>
      val rows = Dedup.connectedComponents(edges.toDF("src", "dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sorted.toSeq === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L,
        9L -> 7L), s"one row per node, driver finish $driver")
    }
  }

  test("connected components: both paths return the same schema and rows") {
    // non-nullable ids; an input that is already a star forest (the
    // distributed loop stops after its first, detecting round); nullable
    // ids with a null endpoint, which surfaces as one (null, null) row
    val forest = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("src", "dst")
    val nullable = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (None, Some(5L)), (Some(6L), Some(6L))).toDF("src", "dst")
    for (edges <- Seq(forest, nullable)) {
      val results = onBothPaths { _ =>
        val cc = Dedup.connectedComponents(edges)
        (cc.schema, cc.collect().map(_.toSeq).toSet)
      }
      assert(results.distinct.size === 1, results.toString)
    }
    val withNull = withThreshold("-1")(Dedup.connectedComponents(nullable).collect())
    assert(withNull.count(_.isNullAt(0)) === 1 && withNull.length === 5)
  }

  test("connected components hand a shrinking edge set to the driver mid-loop") {
    // K8 (28 edges) plus a 3-edge chain: 31 pairs do not fit 30 edges'
    // worth of threshold, but the first star round leaves 7 + 3 edges
    val k8 = for (a <- 0L until 8L; b <- a + 1 until 8L) yield (a, b)
    val edges = k8 ++ Seq((10L, 11L), (11L, 12L), (12L, 13L))
    val want = unionFindTruth(edges)
    val (midLoop, distributed) = (
      withThreshold((16 * 30).toString)(Dedup.connectedComponents(edges.toDF("src", "dst"))),
      withThreshold("-1")(Dedup.connectedComponents(edges.toDF("src", "dst"))))
    assert(finishedOnDriver(midLoop) && !finishedOnDriver(distributed))
    assert(componentMap(midLoop) === want && componentMap(distributed) === want)
    assert(midLoop.schema === distributed.schema)
  }

  test("pagerank: hand-computed star graph, symmetric fixed point, partition-invariant") {
    // undirected 2-cycle: every update is 150000 + 85·10⁶÷100 = 10⁶ — the
    // symmetric configuration is an exact integer fixed point
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val c = GraphOps.pageRank(cyc, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(c === Map(1L -> 1000000L, 2L -> 1000000L))
    // undirected 5-leaf star, 3 iterations, all floors hand-computed:
    // hub: 4400000 → 1510000 → 3966500; leaf: 320000 → 898000 → 406700
    val star = (1L to 5L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val s = GraphOps.pageRank(star, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s(0L) === 3966500L, s"hub: $s")
    assert((1L to 5L).forall(i => s(i) === s(1L)), "leaves tie by symmetry")
    assert(s(0L) > s(1L), "hub outranks leaves")
    val reparted = GraphOps.pageRank(star.repartition(7), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(reparted === s, "integer floors merge identically under any partitioning")
    // lean path (no node-set left join) must agree exactly on a
    // symmetric graph — the precondition supplierRank asserts
    val lean = GraphOps.pageRank(star, iterations = 3, allNodesReceiveMass = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lean === s, "allNodesReceiveMass path matches the general path")
  }

  test("triangle count: hand-built orders, skew apex, referee vs naive triple join") {
    // order 100 bundles parts {1,2,3} (one triangle); order 101 bundles
    // {3,4,5,6}: K4 = C(4,3) = 4 triangles; order 102 = {1,3} duplicates
    // an existing edge (dedup check). 6 vertices, 3 + 6 = 9 distinct
    // edges, 5 triangles.
    val li = Seq(
      100L -> 1L, 100L -> 2L, 100L -> 3L,
      101L -> 3L, 101L -> 4L, 101L -> 5L, 101L -> 6L,
      102L -> 1L, 102L -> 3L
    ).toDF("l_orderkey", "l_partkey")
    val got = GraphOps.triangleCount(li).head()
    assert(got.getLong(2) === 5L, s"triangles: $got")
    assert(got.getLong(0) === 6L && got.getLong(1) === 9L, s"v/e: $got")
    // referee on the sf0.001 fixture: degree-ordered == naive triple join
    val fli = Tables.lineitem(spark, sf0001)
    val oriented = GraphOps.triangleCount(fli).head().getLong(2)
    val op = fli.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    val naive = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .count()
    assert(oriented === naive, s"degree-ordered $oriented != naive $naive")
    assert(naive > 0L, "fixture must contain at least one triangle")
  }

  test("triangle count cost bounds: basket cap and vertex sampling") {
    // order 100 = {1,2,3}: one triangle among small baskets; order 200 is
    // a 5-part mega-basket {10,11,12,13,14} = C(5,3) = 10 triangles that
    // maxBasket = 4 must exclude entirely.
    val li = (Seq(100L -> 1L, 100L -> 2L, 100L -> 3L) ++
      (10L to 14L).map(p => 200L -> p)).toDF("l_orderkey", "l_partkey")
    val capped = GraphOps.triangleCount(li, maxBasket = 4).head()
    assert(capped.getLong(2) === 1L, s"cap must drop the mega-basket: $capped")
    assert(capped.getLong(0) === 3L && capped.getLong(1) === 3L, s"v/e: $capped")
    val uncapped = GraphOps.triangleCount(li).head()
    assert(uncapped.getLong(2) === 11L, s"uncapped: $uncapped")
    // vertexMod = 2 keeps even parts only: order {2,4,6,8} retains the
    // whole K4; odd part 3 and its edges vanish
    val li2 = (Seq(2L, 4L, 6L, 8L).map(p => 300L -> p) ++
      Seq(301L -> 3L, 301L -> 2L, 301L -> 4L)).toDF("l_orderkey", "l_partkey")
    val sampled = GraphOps.triangleCount(li2, vertexMod = 2L).head()
    assert(sampled.getLong(0) === 4L, s"odd vertex must be gone: $sampled")
    assert(sampled.getLong(2) === 4L, s"K4 = 4 triangles: $sampled")
  }

  test("co-purchase components: support prune, min-id labels, singleton edges") {
    // parts 1-2 co-occur in orders 100,101 (support 2 → edge); 2-3
    // co-occur in 101,102 (edge) → {1,2,3} one family labeled 1.
    // parts 8-9 co-occur only in order 103 (support 1 → pruned, absent).
    // parts 5-6 co-occur in 104,105 → family {5,6} labeled 5.
    val li = Seq(
      100L -> 1L, 100L -> 2L,
      101L -> 1L, 101L -> 2L, 101L -> 3L,
      102L -> 2L, 102L -> 3L,
      103L -> 8L, 103L -> 9L,
      104L -> 5L, 104L -> 6L,
      105L -> 5L, 105L -> 6L
    ).toDF("l_orderkey", "l_partkey")
    val got = GraphOps.coPurchaseComponents(li, minSupport = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("cluster representatives: best quality wins, min id only breaks ties") {
    // ~100 4-char tokens with stopwords → quality 4; appending one 30-char
    // token keeps Jaccard ≈ 0.99 (same cluster) but costs a quality point
    val base = Seq.tabulate(100)(i =>
      if (i % 10 == 0) "the" else f"tok$i%03d").mkString(" ")
    val other = Seq.tabulate(100)(i =>
      if (i % 10 == 0) "the" else f"oth$i%03d").mkString(" ")
    val polluted = base + " " + "z" * 30
    val docs = Seq(
      (0L, polluted), // min id, LOWER quality
      (1L, base),     // higher quality → must be the representative
      (5L, other),    // identical pair in a DISJOINT cluster:
      (6L, other),    //   quality ties, min id 5 must win
      (9L, "u v w")   // singleton
    ).toDF("doc_id", "text")
    val reps = Dedup.clusterRepresentatives(docs, threshold = 0.9)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3))))
      .toMap
    assert(reps(0L) === ((1L, 4, 2L)),
      "higher-quality doc 1 beats min-id doc 0")
    assert(reps(5L)._1 === 5L, "equal quality falls back to min id")
    assert(reps(9L) === ((9L, reps(9L)._2, 1L)), "singleton is its own rep")
  }

  test("dup clusters: edges land in one cluster, labels are component minima") {
    val fixture = Tables.documents(spark, sf0001)
    val clusters = Dedup.dupClusters(fixture, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val label = clusters.map(c => c._1 -> c._2).toMap
    val pairs = Dedup.nearDupPairs(fixture, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(label(a) === label(b), s"edge ($a,$b) split across clusters")
    }
    // every label is the min doc_id of its cluster; sizes are consistent
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.forall(_._3 === members.size))
    }
    // docs outside any pair are singletons
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.filterNot(c => paired(c._1)).foreach { c =>
      assert(c._2 === c._1 && c._3 === 1, s"singleton mislabeled: $c")
    }
  }

  test("knn join equals per-query brute force, query side broadcast") {
    val emb = Tables.embeddings(spark, sf0001)
    val knn = Similarity.knnJoin(emb, Seq(0L, 3L), k = 4)
    val got = knn.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    for (q <- Seq(0L, 3L)) {
      val want = Similarity.bruteForceTopK(emb, q, 4).collect()
        .zipWithIndex
        .map { case (r, i) => (q, i + 1, r.getLong(0), r.getDouble(1)) }
      assert(got.filter(_._1 == q).toSeq === want.toSeq, s"query $q")
    }
    val plan = knn.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n$plan")
    // the rank<=k filter must plan as per-partition top-k heaps BELOW the
    // ranking exchange — the property that caps the shuffle at k rows per
    // (query, partition) instead of |corpus|·|Q|
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$plan")
  }

  test("a zero-norm vector takes no rank in knn join or hard negatives") {
    // cosine against [0, 0] is NaN, which Spark sorts above every score
    // and which passes `score >= -1.0`
    val emb = Seq(1L -> Array(1f, 0f), 2L -> Array(0.9f, 0.1f),
      3L -> Array(0f, 0f), 4L -> Array(0f, 1f)).toDF("vec_id", "embedding")
    val knn = Similarity.knnJoin(emb, Seq(1L), k = 2).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(knn.toSeq === Seq((1, 2L), (2, 4L)), knn.mkString(", "))
    val negs = Similarity.hardNegatives(emb, Seq(1L), skipTop = 1, take = 2).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(negs.toSeq === Seq((2, 4L)), negs.mkString(", "))
  }

  test("a zero-norm vector pairs with nothing in semDedup") {
    // its cosine is NaN, and in Spark `NaN >= minScore` is true
    def unit(entries: (Int, Double)*): Seq[Float] = {
      val v = Array.fill(64)(0f)
      entries.foreach { case (i, x) => v(i) = x.toFloat }
      v.toSeq
    }
    // one cluster: 1 (zero) would drop 2 and be dropped by 0
    val emb = Seq((0L, unit(0 -> 1.0), 0), (1L, unit(), 0),
        (2L, unit(0 -> 0.8, 4 -> 0.6), 0))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Similarity.semDedup(emb, minScore = 0.95).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out === Map(0L -> true, 1L -> true, 2L -> true))
  }

  test("hard negatives are exactly the knn ranks past the positive block") {
    val emb = Tables.embeddings(spark, sf0001)
    val negs = Similarity.hardNegatives(emb, Seq(0L, 3L), skipTop = 3, take = 4)
    val got = negs.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // ranks 4..7 of the full knn ranking, rank values preserved
    val want = Similarity.knnJoin(emb, Seq(0L, 3L), k = 7).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .filter(_._2 > 3).toSeq
    assert(got === want)
    assert(got.size === 8, s"4 negatives per anchor: $got")
    // the rank upper bound must still plan as a pre-shuffle group limit
    val plan = negs.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$plan")
  }

  test("vocab top-k ranks over the aggregated vocabulary with pre-shuffle group limits") {
    val plan = graft.operators.TextOps.termDocFrequency(
      Tables.documents(spark, sf0001), 10).queryExecution.executedPlan.toString
    // partial agg before the (lang, term) exchange + partial top-k before
    // the ranking exchange: the two properties that keep the vocab build
    // scan-bound at corpus scale
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("shingle generator equals the builtin explode composition, streams via Generate") {
    import graft.functions.{ShingleExplode, TextFunctions}
    val fixture = Tables.documents(spark, sf001)
    val viaGen = fixture
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), ShingleExplode.shingleExplode(col("toks"), 5))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    val viaBuiltin = fixture
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TextFunctions.shinglesKTokens(col("toks"), 5)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    assert(viaGen.nonEmpty && viaGen === viaBuiltin)
    // short/null inputs produce no rows instead of failing
    val edge = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        ShingleExplode.shingleExplode(TextFunctions.tokens(col("text")), 5))
    assert(edge.count() === 0)
    // the plan is one Generate over the scan - no intermediate array column
    val plan = fixture
      .select(ShingleExplode.shingleExplode(TextFunctions.tokens(col("text")), 5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate shingleexplode") || plan.contains("Generate ShingleExplode")
      || plan.toLowerCase.contains("shingleexplode"), plan)
  }

  test("embedding drift flags a shifted candidate half, null-guards zero reference") {
    def nibble(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(h(0)).charAt(0) match {
        case c if c.isDigit => c - '0'
        case c => c - 'a' + 10
      }
    }
    val ids = (0L until 100L)
    val refIds = ids.filter(nibble(_) < 8)
    val candIds = ids.filter(nibble(_) >= 8)
    assert(refIds.nonEmpty && candIds.nonEmpty)
    // candidate half planted far from the reference cluster; the reference
    // needs nonzero spread or its mean distance is 0 and drift is null
    val shifted = (refIds.zipWithIndex.map { case (i, k) =>
      (i, if (k % 2 == 0) Array(1.0f, 0.0f) else Array(0.8f, 0.2f), 0)
    } ++ candIds.map(i => (i, Array(0.0f, 1.0f), 0)))
      .toDF("vec_id", "embedding", "label")
    val drift = graft.operators.Similarity.embeddingDrift(shifted, dim = 2).collect()
    assert(drift.length === 1)
    val r = drift.head
    assert(r.getLong(5) > 1000L,
      s"shifted candidates must drift above 1000 permille, got ${r.getLong(5)}")
    // identical halves: reference distance 0 -> drift is NULL, not an error
    val stable = ids.map(i => (i, Array(0.5f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val s0 = graft.operators.Similarity.embeddingDrift(stable, dim = 2).collect().head
    assert(s0.getLong(2) === 0L && s0.isNullAt(5))
    // a BRAND-NEW label (candidate-half only) must stay VISIBLE with
    // n_ref = 0 and null means - appearing labels are textbook drift
    val withNew = shifted.union(
      candIds.take(3).map(i => (i + 1000L, Array(0.3f, 0.3f), 7)).toDF("vec_id", "embedding", "label"))
    val rows = graft.operators.Similarity.embeddingDrift(withNew, dim = 2)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(rows.contains(7), "new label must not vanish through the centroid join")
    assert(rows(7).getLong(1) >= 0L && rows(7).isNullAt(2) && rows(7).isNullAt(5))
  }

  test("uint8 quantization: exact codes, constant-vector case, error bound") {
    val vecs = Seq(
      (0L, Array(0.0f, 1.0f)),        // micro [0, 1000000] -> codes 0, 255
      (1L, Array(0.5f, 0.5f, 0.5f)),  // constant -> qrange 0, all-zero codes
      (2L, Array(-1.0f, 0.0f, 1.0f))  // negative min
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.quantizeEmbeddings(vecs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(got(0L) === ((0L, 1000000L, "0,255", got(0L)._4)))
    assert(got(1L) === ((500000L, 0L, "0,0,0", 0L)))
    assert(got(2L)._3 === "0,127,255")
    // reconstruction error is bounded by one quantization step
    got.values.foreach { case (_, qrange, _, err) =>
      assert(err <= qrange / 255 + 1, s"err $err exceeds step bound for range $qrange")
    }
    // fixture-wide: every code parses in [0, 255] and the bound holds
    val fx = graft.operators.Similarity.quantizeEmbeddings(
      Tables.embeddings(spark, sf001)).collect()
    assert(fx.length > 0)
    fx.foreach { r =>
      val codes = r.getString(3).split(",").map(_.toInt)
      assert(codes.forall(c => c >= 0 && c <= 255))
      assert(r.getLong(4) <= r.getLong(2) / 255 + 1)
    }
  }

  test("signature merge: stored ⊕ batch == full corpus, one-sided groups pass through") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "un deux trois quatre cinq six sept", "fr")
    ).toDF("doc_id", "text", "lang")
    val batch = Seq(
      (3L, "more english words to aggregate here", "en"),
      (4L, "acht neun zehn elf zwoelf dreizehn vierzehn", "de") // batch-only lang
    ).toDF("doc_id", "text", "lang")
    val merged = Dedup.mergeCorpusSignatures(
      Dedup.corpusSignatures(corpus, 8), Dedup.corpusSignatures(batch, 8))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val full = Dedup.corpusSignatures(corpus.unionByName(batch), 8)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged === full,
      "elementwise-min merge must equal the one-shot aggregation")
    assert(merged.keySet === Set("en", "fr", "de"),
      "corpus-only fr and batch-only de must both survive the merge")
    // fixture-wide contract, including the driver-gate shape
    val row = Dedup.signatureMergeContract(
      Tables.documents(spark, sf0001), numHashes = 8).collect().head
    assert(row.getBoolean(0) && row.getBoolean(1))
  }

  test("erasure propagation: repaired artifacts equal a rebuild from the erased corpus") {
    val row = graft.operators.Erasure.erasureContract(
      Tables.documents(spark, sf0001), Tables.embeddings(spark, sf0001),
      ivfK = 4).collect()
    assert(row.length === 1)
    val r = row.head
    (0 until r.length).foreach { i =>
      assert(r.getBoolean(i), s"contract column ${r.schema(i).name} is false")
    }
  }

  test("signature repair keeps unaffected groups VERBATIM, re-aggregates affected ones") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en"),
      (1L, "un deux trois quatre cinq six sept", "fr"),
      (2L, "acht neun zehn elf zwoelf dreizehn vierzehn", "de"),
      (3L, "more english words to aggregate here", "en")
    ).toDF("doc_id", "text", "lang")
    val deleteDocs = Seq(0L).toDF("doc_id") // touches only 'en'
    // tamper the stored fr/de signatures: a repair that recomputes
    // instead of keeping the stored row would silently "fix" them —
    // surviving tampering proves the incremental claim (no re-read)
    val tampered = Dedup.corpusSignatures(corpus, 8)
      .withColumn("corpus_signature",
        when(col("lang") =!= "en",
          transform(col("corpus_signature"), _ => lit(-1L)))
          .otherwise(col("corpus_signature")))
    val repaired = graft.operators.Erasure.repairCorpusSignatures(
      tampered, corpus, deleteDocs, numHashes = 8)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(repaired("fr").forall(_ == -1L), "unaffected group was recomputed")
    assert(repaired("de").forall(_ == -1L), "unaffected group was recomputed")
    val rebuiltEn = Dedup.corpusSignatures(
      corpus.filter(col("doc_id") =!= 0L), 8)
      .filter(col("lang") === "en")
      .collect().head.getSeq[Long](1)
    assert(repaired("en") === rebuiltEn, "affected group must equal rebuild")
  }

  test("signature repair reaches the NULL group (null-safe group matching)") {
    // a plain equi-join never matches NULL keys: before the <=> fix, an
    // erased null-lang doc left its STALE signature behind — the exact
    // erased-derivative retention the module exists to prevent
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", null.asInstanceOf[String]),
      (1L, "totally different null lang content here", null.asInstanceOf[String]),
      (2L, "un deux trois quatre cinq six sept", "fr")
    ).toDF("doc_id", "text", "lang")
    val repaired = graft.operators.Erasure.repairCorpusSignatures(
      Dedup.corpusSignatures(corpus, 8), corpus, Seq(0L).toDF("doc_id"),
      numHashes = 8)
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Long](1)).toMap
    val rebuiltNull = Dedup.corpusSignatures(
      corpus.filter(col("doc_id") =!= 0L), 8)
      .filter(col("lang").isNull).collect().head.getSeq[Long](1)
    assert(repaired(None) === rebuiltNull,
      "null group must be re-aggregated, not kept stale")
    assert(repaired.contains(Some("fr")), "unaffected group must survive")
  }

  test("bfsHops: min-hop distances, bound respected, isolated seed at 0") {
    // path 1-2-3-4-5 plus a cycle 2-6-7-3 and an isolated seed 99
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (2L, 6L), (6L, 7L), (7L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    val got = GraphOps.bfsHops(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 2L,
      4L -> 3L, 7L -> 3L), "node 5 is 4 hops away and must be absent")
  }

  test("bfsHops expands each node once (frontier shrinks on revisits)") {
    // complete graph K4: everything is 1 hop from the seed, round 2 empty
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  // co-purchase planting: each desired edge gets two 2-part baskets so
  // it clears support >= 2. Graph: triangle {1,2,3} + chain 3-4-5 +
  // star 6-(7,8,9). The star hub has degree 3 — ABOVE k — yet must fall
  // out after its pendants peel (the structural-embeddedness case), and
  // the chain needs two rounds (5 first, then 4): the fixpoint loop is
  // what's under test, not one filter pass. Rounds: {1,2,3,4,6} (degree
  // sum 12), {1,2,3} (degree sum 7), {1,2,3} again — converged when the
  // third round runs.
  private def kCoreBaskets = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (6L, 7L), (6L, 8L), (6L, 9L)).zipWithIndex.flatMap {
    case ((u, v), i) =>
      Seq((i * 2L, u), (i * 2L, v), (i * 2L + 1, u), (i * 2L + 1, v))
  }.toDF("l_orderkey", "l_partkey")

  test("kCore: pendant cascade peels multi-round; cycle survives with degrees") {
    onBothPaths { driver =>
      val core = GraphOps.kCore(kCoreBaskets, k = 2L, minSupport = 2L)
      assert(finishedOnDriver(core) === driver)
      val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
        s"only the triangle is the 2-core, with within-core degree 2: $got")
    }
  }

  test("kCore: maxRounds require fires on both paths; schema is path-independent") {
    // 80 bytes: the first keep-set (≤ 6 edges, 96 bytes) stays
    // distributed, the second (≤ 4 edges) finishes on the driver
    val paths = Seq(spark.conf.get(threshold), "80", "-1")
    for (t <- paths) withThreshold(t) {
      val e = intercept[IllegalArgumentException](
        GraphOps.kCore(kCoreBaskets, k = 2L, minSupport = 2L, maxRounds = 2))
      assert(e.getMessage.contains("did not reach its fixpoint"), s"threshold $t")
    }
    val results = paths.map(t => withThreshold(t) {
      val core = GraphOps.kCore(kCoreBaskets, k = 2L, minSupport = 2L, maxRounds = 3)
      (finishedOnDriver(core), core.schema, core.collect().toSeq)
    })
    assert(results.map(_._1) === Seq(true, true, false))
    assert(results.map(r => (r._2, r._3)).distinct.size === 1, results.toString)
  }

  test("kCore converges well inside the round budget on the fixtures") {
    // guard for the oracle's 11 unrolled rounds: if a regenerated fixture
    // peels longer, this (and kCore's own require at 12) fails loudly
    // before the driver sees an opaque hash mismatch
    for (sfDir <- Seq(sf0001, sf001)) onBothPaths { _ =>
      val core = GraphOps.kCore(Tables.lineitem(spark, sfDir), maxRounds = 8)
      assert(core.count() >= 0L) // force the fixpoint loop
    }
  }

  test("cheapestPath: cheap 2-hop beats expensive direct edge; hop bound holds") {
    // edge weight = 10^6 div support. Direct 1-3 has support 2 (w=500000);
    // the detour 1-2-3 has support 10 per leg (w=100000 each, total
    // 200000) — the weighted answer differs from BFS, which is the point.
    // Node 5 is reached only through the EXPENSIVE direct edge (1-3-4-5,
    // 3 hops, 1.5M) — the cheap detour needs 4 hops and loses to the hop
    // bound; node 6 (4 hops minimum) must be absent entirely.
    val weighted = Seq(((1L, 3L), 2), ((1L, 2L), 10), ((2L, 3L), 10),
      ((3L, 4L), 2), ((4L, 5L), 2), ((5L, 6L), 2))
    var oid = 0L
    val li = weighted.flatMap { case ((u, v), support) =>
      (0 until support).flatMap { _ =>
        oid += 1; Seq((oid, u), (oid, v))
      }
    }.toDF("l_orderkey", "l_partkey")
    val partDf = Seq((1L, "Brand#11"), (2L, "Brand#other"), (3L, "Brand#other"),
      (4L, "Brand#other"), (5L, "Brand#other"), (6L, "Brand#other"))
      .toDF("p_partkey", "p_brand")
    val got = GraphOps.cheapestPath(li, partDf, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 100000L, 3L -> 200000L,
      4L -> 700000L, 5L -> 1500000L),
      s"expected the 200000 detour to beat the 500000 direct edge: $got")
  }

  private def bruteEditPairs(documents: org.apache.spark.sql.DataFrame,
      k: Int, prefixLen: Int): Set[(Long, Long, Long)] = {
    val t = documents.filter(length(col("text")) >= prefixLen)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("s"))
    t.select(col("doc_id").as("doc_a"), col("s").as("s_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("s").as("s_b")),
        col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= k)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def editPlanted = {
    val base = "abcdefgh ijklmnop qrstuvwx yzabcd fill tail beyond prefix"
    Seq(
      (0L, base),
      (1L, "Xbcdefgh ijklmnop qrstuvwx yzabcd fill"), // 1 substitution
      (2L, "bcdefgh ijklmnop qrstuvwx yzabcde fill"), // 1 deletion (shifted)
      (3L, "Zabcdefgh ijklmnop qrstuvwx yzabc fill"), // 1 insertion
      (4L, "AbcdefgH ijklmnoP qrstuvwX yzabcd fill"), // 4 subs == k
      (5L, "AbcdefgH ijklmnoP qrstuvwX Yzabcd Fill"), // 6 subs > k: out
      (6L, "Abcdefgh Ijklmnop Qrstuvwx Yzabcd fill"), // 4 spread subs
      (7L, "totally different text with nothing shared at all here ok"),
      (8L, "short doc") // < 32 chars: excluded by contract
    ).toDF("doc_id", "text")
  }

  test("editDistanceJoin equals brute force on planted edits and the fixture") {
    // Planted set exercises each edit kind within the 32-char prefix —
    // substitution, deletion, insertion, a k-edit combination just at the
    // bound, a (k+1)-edit pair just past it, and the token-set blind spot
    // this operator exists for: doc 6 is doc 0 with one char flipped in
    // every 8th position, whose shingle Jaccard is tiny but edit distance
    // exactly 4. Shorter-than-prefix docs must be excluded, not crash.
    val planted = editPlanted
    val got = Dedup.editDistanceJoin(planted, 4, 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = bruteEditPairs(planted, 4, 32)
    assert(got === want,
      s"planted mismatch: missed ${want.diff(got)}, extra ${got.diff(want)}")
    assert(got.exists(p => p._1 == 0L && p._2 == 4L && p._3 == 4L),
      "k-edit boundary pair (0,4) must be found at dist exactly 4")
    assert(!got.exists(p => p._1 == 0L && p._2 == 5L),
      "pair (0,5) past the k bound must be absent")
    assert(!got.exists(p => p._1 == 8L || p._2 == 8L),
      "short doc must be excluded, not paired")

    // fixture at the registered (k=4, prefix=32): candidate completeness
    // on real data at both driver-compared scales
    for (sfDir <- Seq(sf0001, sf001)) {
      val fixture = Tables.documents(spark, sfDir)
      val g = Dedup.editDistanceJoin(fixture, 4, 32).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val w = bruteEditPairs(fixture, 4, 32)
      assert(g === w,
        s"$sfDir mismatch: missed ${w.diff(g)}, extra ${g.diff(w)}")
      assert(w.nonEmpty, s"$sfDir must contain at least one k<=4 pair")
    }
  }

  test("editDistanceJoin pigeonhole candidates prune far below all-pairs") {
    val fixture = Tables.documents(spark, sf001)
    val n = fixture.filter(length(col("text")) >= 32).count()
    val allPairs = n * (n - 1) / 2
    // the key join's output rows are the pigeonhole stage's candidate
    // slots, before the verify and the distinct
    val out = Dedup.editDistanceJoin(fixture, 4, 32)
    out.collect()
    val joins = collect(out.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size === 1, out.queryExecution.executedPlan.toString)
    val cand = joins.head.metrics("numOutputRows").value
    assert(cand * 10 < allPairs,
      s"pigeonhole stage generated $cand of $allPairs pairs — not pruning")
  }

  test("editDistanceJoin plan: one generator per side, no union, one levenshtein site") {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Union}
    val plan = Dedup.editDistanceJoin(editPlanted, 4, 32).queryExecution.optimizedPlan
    val unions = plan.collect { case u: Union => u }
    val generates = plan.collect { case g: Generate => g }
    assert(unions.isEmpty, s"per-segment-pair union is back:\n$plan")
    assert(generates.size == 2, s"expected 2 Generate nodes, found ${generates.size}:\n$plan")
    val sites = plan.toString.linesIterator
      .map(PlanKernels.callCount(_, "levenshtein")).sum
    assert(sites == 1, s"expected 1 levenshtein call site, found $sites:\n$plan")
  }

  /** The pigeonhole keys of `text` in plain Scala over Unicode code
    * points: (i, j, seg_i ⧺ U+0001 ⧺ seg_j), distinct within each (i, j).
    */
  private def referenceKeys(text: String, k: Int, prefixLen: Int,
      probe: Boolean): Seq[(Int, Int, String)] = {
    val cps = if (text == null) Array.empty[Int] else text.codePoints().toArray
    if (cps.length < prefixLen) return Seq.empty
    val nSeg = k + 2
    val lens = Array.tabulate(nSeg)(i => prefixLen / nSeg + (if (i < prefixLen % nSeg) 1 else 0))
    val starts = lens.scanLeft(0)(_ + _)
    def cut(at: Int, len: Int) = new String(cps, at, len)
    for {
      i <- 0 until nSeg; j <- i + 1 until nSeg
      key <- (for {
        s1 <- -k to k; s2 <- -k to k
        if (probe || (s1 == 0 && s2 == 0)) && math.abs(s1) + math.abs(s2 - s1) <= k
        pi = starts(i) + s1; pj = starts(j) + s2
        if pi >= 0 && pi + lens(i) <= prefixLen && pj >= 0 && pj + lens(j) <= prefixLen
      } yield cut(pi, lens(i)) + "\u0001" + cut(pj, lens(j))).distinct
    } yield (i, j, key)
  }

  private def kernelKeys(documents: org.apache.spark.sql.DataFrame, k: Int,
      prefixLen: Int, probe: Boolean): Map[Long, Seq[(Int, Int, String)]] = {
    import graft.functions.PigeonholeKeys.pigeonholeKeys
    documents.select(col("doc_id"), pigeonholeKeys(col("text"), k, prefixLen, probe))
      .collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sorted }
  }

  test("PigeonholeKeys equals a code-point reference on planted edits and the fixture") {
    for (documents <- Seq(editPlanted, Tables.documents(spark, sf001))) {
      val texts = documents.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      for (k <- 1 to 4; probe <- Seq(true, false)) {
        val got = kernelKeys(documents, k, 32, probe)
        val want = texts.map { case (id, t) => id -> referenceKeys(t, k, 32, probe).sorted }
          .filter(_._2.nonEmpty)
        assert(got.keySet === want.keySet, s"k=$k probe=$probe: documents with keys differ")
        for ((id, w) <- want)
          assert(got(id) === w, s"k=$k probe=$probe doc $id: keys differ")
      }
    }
  }

  test("PigeonholeKeys cuts code points as Spark's substring does") {
    import graft.functions.PigeonholeKeys
    // a supplementary-plane emoji (two UTF-16 units, one code point) and
    // a combining acute accent (its own code point) inside the prefix:
    // a UTF-16 cut would shift every later segment by one
    val text = "ab\uD83D\uDE00cde\u0301fghijklmnopqrstuvwxyz0123456789 tail"
    val df = Seq((0L, text)).toDF("doc_id", "text")
      .select(col("doc_id"), substring(col("text"), 1, 32).as("s"))
    val (k, prefixLen) = (4, 32)
    val arms = PigeonholeKeys.armsByPair(k, prefixLen, probe = true)
    val lens = (0 to k + 1).map(i =>
      PigeonholeKeys.segStart(k, prefixLen, i + 1) - PigeonholeKeys.segStart(k, prefixLen, i))
    val row = df.select(arms.map { case ((i, j), cuts) =>
      array_distinct(array(cuts.map { case (pi, pj) =>
        concat(substring(col("s"), pi + 1, lens(i)), lit("\u0001"),
          substring(col("s"), pj + 1, lens(j)))
      }: _*)).as(s"p${i}_$j")
    }: _*).head()
    val want = arms.zipWithIndex.flatMap { case (((i, j), _), c) =>
      row.getSeq[String](c).map(sub => (i, j, sub)) }.sorted
    val got = kernelKeys(Seq((0L, text)).toDF("doc_id", "text"), k, prefixLen, probe = true)
    assert(got(0L) === want)
    assert(got(0L).exists(_._3.contains("\uD83D\uDE00")),
      "the emoji must survive whole inside some key")
  }

  test("PigeonholeKeys: null and short text give no rows; the index gives C(k+2, 2)") {
    import graft.functions.PigeonholeKeys.pigeonholeKeys
    val odd = Seq((0L, null: String), (1L, "x" * 31), (2L, "")).toDF("doc_id", "text")
    for (probe <- Seq(true, false))
      assert(odd.select(pigeonholeKeys(col("text"), 4, 32, probe)).count() == 0)
    val fixture = Tables.documents(spark, sf001).filter(length(col("text")) >= 32)
    val n = fixture.count()
    for (k <- 1 to 4) {
      val perDoc = fixture.select(col("doc_id"), pigeonholeKeys(col("text"), k, 32, probe = false))
        .groupBy("doc_id").count().collect().map(_.getLong(1))
      assert(perDoc.length == n && perDoc.forall(_ == (k + 2) * (k + 1) / 2),
        s"k=$k: index rows per document ${perDoc.distinct.mkString(",")}")
    }
  }

  test("hammingPrerank: packed-word popcount equals planted sign flips") {
    import spark.implicits._
    // vec 0 = all +0.125 (unit norm for d=64); vec j flips the sign of the
    // first j dims, so ham(0, j) = j exactly and the micro dot product
    // (64 - 2j)·125000² decreases in j — both rankings are 1, 2, 3, …
    val vecs = (0 to 9).map { j =>
      (j.toLong, Array.tabulate(64)(i => if (i < j) -0.125f else 0.125f))
    }.toDF("vec_id", "embedding")
    val out = operators.SimilarityIndex
      .hammingPrerank(vecs, nQueries = 1, preC = 5, k = 3)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) === 3L, "all 3 exact neighbors inside the top-5 pre-rank")
    assert(r.getBoolean(2), "exact top-1 must be recalled")
    assert(r.getLong(3) === 1L, "exact top-1 is the 1-flip vector")
    assert(r.getLong(4) === 1L, "best recalled Hamming distance is 1 bit")
  }

  test("hammingPrerank top-N windows execute as WindowGroupLimit, no full sort") {
    val plan = operators.SimilarityIndex
      .hammingPrerank(Tables.embeddings(spark, sf001))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=N filters must push into WindowGroupLimit:\n$plan")
  }

  test("sortedNeighborhood: adjacent near-keys pair, block boundary is the documented miss") {
    val df = Seq(
      (1L, "en", "Alpha Document One shared prefix"),
      (2L, "en", "alpha document one! shared prefix"), // normalizes adjacent to 1
      (3L, "en", "zzz a totally different text body"),
      (10L, "en", "aaaa boundary case text"),
      (11L, "en", "baaa boundary case text") // dist 1 but block 'b' ≠ 'a'
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.sortedNeighborhood(df, window = 2, keyLen = 24, maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.contains((1L, 2L, 0L)),
      "punctuation/case variants share the normalized key → dist 0")
    assert(!out.exists(p => p._1 == 10L && p._2 == 11L),
      "cross-block pair is missed by construction (single-pass SNM trade)")
    assert(out.forall(_._3 <= 8L), "every emitted pair respects maxDist")
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L),
      "the far key verifies over maxDist and is filtered")
  }

  test("blockingEval: exact completeness and reduction permille on one block") {
    // 4 docs sharing block 'a', docs 1+2 identical normalized text:
    // candidates = C(4,2) = 6 (all rank gaps <= window), true = 1,
    // captured = 1 → completeness 1000; total pairs = 6 → reduction 0.
    val df = Seq(
      (1L, "en", "alpha text one"),
      (2L, "zh", "ALPHA text ONE!"), // same content, different lang label
      (3L, "en", "alpha text two"),
      (4L, "en", "also in block a")
    ).toDF("doc_id", "lang", "text")
    val r = Dedup.blockingEval(df, window = 4).collect().head
    assert(r.getLong(0) === 4L, "n_records")
    assert(r.getLong(1) === 6L, "n_total_pairs")
    assert(r.getLong(2) === 6L, "n_candidates")
    assert(r.getLong(3) === 1L, "n_true_pairs (cross-lang content dup)")
    assert(r.getLong(4) === 1L, "n_captured — lang label must not block")
    assert(r.getLong(5) === 1000L, "completeness_permille")
    assert(r.getLong(6) === 0L, "reduction_permille (window covers all)")
  }

  test("snmMultipass: reversed pass recovers leading-edit pairs the forward pass scatters") {
    // 1↔2: leading edit (x→y) puts them in different forward blocks, but
    // the text tail (>24 chars) is identical → reversed keys equal.
    // 3↔4: identical text → caught by BOTH passes.
    val df = Seq(
      (1L, "en", "xalpha beta gamma delta epsilon zeta"),
      (2L, "en", "yalpha beta gamma delta epsilon zeta"),
      (3L, "en", "same document body here okay"),
      (4L, "en", "same document body here okay"),
      (5L, "en", "zzz unrelated content entirely different")
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.snmMultipass(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got((1L, 2L)) === ((0L, 1L)), "leading edit: reverse-pass only")
    assert(got((3L, 4L)) === ((1L, 1L)), "exact dup: both passes")
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("bagJaccardPairs: multiset min/max over token counts, exact fraction") {
    // bags: {aa:1, bb:2, cc:1} vs {aa:1, bb:1, cc:1} → Σmin 3, Σmax 4.
    val df = Seq(
      (1L, "en", "aa bb bb cc"),
      (2L, "en", "aa bb cc")
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.bagJaccardPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map((1L, 2L) -> ((3L, 4L))),
      "set Jaccard would say 3/3 — the bag sees the repetition")
  }

  test("snmClusters: transitive closure merges chain pairs into one cluster") {
    // window 1 pairs only neighbors: (1,2) and (2,3) — never (1,3).
    // The cluster closes the chain; doc 9 stays out.
    val df = Seq(
      (1L, "en", "aaa shared prefix body one"),
      (2L, "en", "aaa shared prefix body two"),
      (3L, "en", "aaa shared prefix body twoX"),
      (9L, "en", "zzz completely different body")
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.snmClusters(df, window = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "chain A-B, B-C closes into one min-labeled cluster; 9 absent")
  }

  test("splitLeakage: a cluster straddling the md5 boundary is counted, a one-sided one is not") {
    // md5 first nibbles: doc 1→'c'(12), 2→'c'(12) — both EVAL at
    // sixteenths=8; doc 6→'1'(1) TRAIN, doc 7→'8'(8) EVAL → leaky.
    val df = Seq(
      (1L, "en", "alpha beta gamma delta common body"),
      (2L, "en", "alpha beta gamma delta common body"),
      (6L, "en", "zeta eta theta iota another body"),
      (7L, "en", "zeta eta theta iota another body")
    ).toDF("doc_id", "lang", "text")
    val r = Dedup.splitLeakage(df).collect().head
    assert(r.getLong(0) === 2L, "n_clusters")
    assert(r.getLong(1) === 4L, "n_clustered_docs")
    assert(r.getLong(2) === 1L, "only the 6-7 cluster straddles")
    assert(r.getLong(3) === 2L, "its two docs are the leak")
  }

  test("normalizationFunnel: each tier merges exactly its own duplicate mass") {
    val df = Seq((1L, "A  b"), (2L, "a b"), (3L, "ab"))
      .toDF("doc_id", "text")
    val r = Dedup.normalizationFunnel(df).collect().head
    assert(r.getLong(0) === 3L, "n_docs")
    assert(r.getLong(1) === 3L, "raw: all distinct")
    assert(r.getLong(2) === 3L, "casefold alone merges nothing here")
    assert(r.getLong(3) === 2L, "ws-collapse merges 'A  b' with 'a b'")
    assert(r.getLong(4) === 1L, "alnum merges everything")
  }

  test("marginStats: exact integer-dot gap between ranks 1 and 2") {
    import graft.operators.SimilarityIndex
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),  // query
      (10L, Array(0.9f, 0.0f)), // rank 1: dot 9e11 micro²
      (11L, Array(0.5f, 0.0f)), // rank 2: dot 5e11
      (12L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = SimilarityIndex.marginStats(df, queryIds = Seq(0L))
      .collect().head
    assert((r.getLong(1), r.getLong(3)) === ((10L, 11L)))
    // 0.9f widens to 0.89999997…, so its floor micro-unit is 899999 —
    // the floor convention is part of the contract, pinned here
    assert(r.getLong(2) === 899999L * 1000000L, "top1 exact micro² dot")
    assert(r.getLong(5) === (899999L - 500000L) * 1000000L, "exact margin")
  }

  test("annBandBits: corpus-proportional band width, floored for driver scales, capped") {
    import graft.operators.Similarity
    // every driver-scale corpus (≤ 2048 vectors) keeps the historical
    // 5-bit bands — bit-identical outputs at sf0.001/0.01/0.1
    for (n <- Seq(1L, 500L, 2000L, 2048L)) {
      assert(Similarity.annBandBits(n) === 5, s"n=$n")
    }
    // one extra bit per doubling past the target bucket load: bucket
    // count ∝ n, so the banded candidate set is ∝ n, not n²/64
    assert(Similarity.annBandBits(2049L) === 6)
    assert(Similarity.annBandBits(20000L) === 9)   // sf1 fixture
    assert(Similarity.annBandBits(200000L) === 12) // sf10 fixture
    // capped so the key stays bounded however large the corpus claims
    assert(Similarity.annBandBits(Long.MaxValue) === 20)
  }
}
