package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{NearestCodewords, VectorFunctions}
import graft.spark.Materialize
import ContractOps.{diffCounts, oneRow, recallCounts, rowCount}

/** IVF (inverted-file) ANN quantizers over an embedding column, and the
  * driver-witnessed contracts that check them:
  *
  *  - QUANTIZER: [[sampleCentroids]] draws `k` coarse centroids from the
  *    corpus; [[kmeansExact]] trains centroids by integer-exact Lloyd
  *    rounds.
  *  - ASSIGN: every vector goes to its nearest centroid by an argmax over
  *    k broadcast centroid literals (codegen'd cosine per centroid, no
  *    UDF, no shuffle): [[assignLists]], and [[quantizedLists]] for the
  *    one-byte-per-dimension list layout.
  *  - CONTRACTS: probed recall (s8), append equals rebuild (s9), product
  *    quantization (s12) and truncated-dimension retrieval (s13).
  *
  * IVF adapts its cells to the actual data density, giving better
  * recall-per-probed-fraction on clustered real embeddings than
  * data-blind hyperplane LSH buckets.
  */
object IvfIndex {

  /** Fixed-iteration Lloyd k-means, INTEGER-EXACT — oracle-checkable
    * where a float k-means (MLlib's) is not: FP partial-sum
    * reassociation makes float centroids engine- and run-dependent, so
    * nothing downstream of them can be hash-verified. Here every
    * quantity is deterministic on any engine: components are
    * floor-scaled to micro-units (the
    * [[graft.functions.CentroidAgg]] convention), distances are int64
    * squared-L2 over those units (max |diff| ≈ 2·10⁶ squared × dim 64 ≈
    * 2.6·10¹⁴ — int64-safe through sf 1), centroid updates use long sums
    * with TRUNCATING division (JVM `/` == DuckDB `//`), seeding is the
    * content-addressed md5 order (derivable in SQL, unlike xxhash64), and
    * ties in the argmin break to the smallest centroid id (the oracle's
    * `ORDER BY dist, cid`). Empty clusters keep their previous centroid.
    *
    * Scale shape per iteration: one scan in which each row makes ONE
    * [[graft.functions.NearestCodewords]] call (m = 1: the k centroids
    * are the single subspace's codebook, fixed in the expression, so the
    * plan stays the same size whatever k is), then one mergeable
    * [[graft.functions.CentroidAgg]] aggregate whose shuffle carries
    * k×(dim+1) longs per map partition. A vector with fewer than `dim`
    * components, or a null one, goes to cluster 0 with a null distance;
    * a longer one is scored on its first `dim` components.
    * The driver holds only the k×dim centroid table between iterations —
    * the same coarse-codebook footprint [[sampleCentroids]] already
    * collects. Returns per-cluster (n_vecs, inertia, centroid_sum) —
    * the convergence stats a training job monitors.
    */
  def kmeansExact(embeddings: DataFrame, k: Int = 8,
      iterations: Int = 2): DataFrame = {
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        micro(col("embedding")).as("qe"))
    val seeds = e
      .select(col("vec_id"), col("qe"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    require(seeds.nonEmpty, "kmeansExact: no non-null vectors to seed from")
    val dim = seeds(0).length
    def assign(cents: Array[Array[Long]]): DataFrame =
      e.select(col("vec_id"), col("embedding"),
          NearestCodewords.nearestCodewords(col("qe"), Array(cents), cents.length)
            .as("best"))
        .select(col("vec_id"), col("embedding"),
          col("best.codes").getItem(0).as("cid"), col("best.dist").as("dist"))
    var centroids = seeds
    for (_ <- 1 to iterations) {
      val updated = assign(centroids)
        .groupBy("cid")
        .agg(graft.functions.CentroidAgg.centroid(col("embedding"), dim).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
      centroids = centroids.zipWithIndex.map { case (old, j) =>
        updated.getOrElse(j, old) // empty cluster keeps its centroid
      }
    }
    // centroid sums attach via a MAP LITERAL, not a joined table: an
    // equi-join would put a null-filter on the join key above the scan,
    // re-evaluating the whole k-distance expression once in the Filter
    // and again in the Project
    val sumMap = org.apache.spark.sql.functions.map(
      centroids.zipWithIndex.flatMap { case (c, j) =>
        Seq(lit(j), lit(c.sum)) }.toIndexedSeq: _*)
    assign(centroids)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("inertia"))
      .select(col("cid").as("cluster_id"), col("n_vecs"), col("inertia"),
        org.apache.spark.sql.functions.element_at(sumMap, col("cid"))
          .as("centroid_sum"))
      .orderBy("cluster_id")
  }

  /** Deterministic data-derived coarse quantizer WITHOUT iterative
    * training: the k nonzero corpus vectors minimizing a seeded
    * xxhash64 of their id — a seeded random draw expressed as one
    * scan-bound top-k (TakeOrdered, no shuffle of the corpus). Cosine
    * probe ranking is scale-invariant, so unnormalized corpus vectors
    * are valid centroids as-is.
    *
    * This is the quantizer for CONTRACT queries (s8/e8b), where the
    * property under test — probe selection, asymmetric scoring, repair
    * equality — is orthogonal to centroid quality, and an iterative
    * k-means (20+ driver-coordinated jobs) would dominate the query's
    * cost. [[kmeansExact]] is the trained, hash-verifiable quantizer.
    */
  def sampleCentroids(embeddings: DataFrame, k: Int,
      seed: Long = 42L): Array[Array[Float]] = {
    val picked = embeddings
      .filter(col("embedding").isNotNull)
      // the zero filter must run BEFORE the top-k: filtering after
      // limit(k) would silently shrink the centroid set (or spuriously
      // fail) whenever a zero vector hashes into the k smallest
      .filter(exists(col("embedding"), x => x =!= 0.0f))
      .select(col("vec_id"), col("embedding"),
        xxhash64(lit(seed), col("vec_id")).as("h"))
      .orderBy("h", "vec_id").limit(k)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(picked.nonEmpty, "sampleCentroids: no nonzero vectors to sample")
    picked
  }

  /** Nearest-centroid assignment: argmax of cosine over the k broadcast
    * centroid literals via `array_max` on (sim, list_id) structs — struct
    * ordering makes ties break to the larger id, deterministically. Each
    * centroid is a plain array literal (`lit` on the `Array[Float]`),
    * typed from its JVM class rather than through Scala reflection.
    */
  def assignLists(embeddings: DataFrame,
      centroids: Array[Array[Float]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        VectorFunctions.cosineSim(col("embedding"), lit(c)).as("sim"),
        lit(i).as("list_id"))
    }
    embeddings.withColumn("list_id",
      array_max(array(scored.toIndexedSeq: _*)).getField("list_id"))
  }

  /** INCREMENTAL index append: assign + quantize an incoming batch under
    * the index's FROZEN centroids and union it with the stored lists —
    * the insert mirror of [[Erasure.repairIvfLists]]' delete, completing
    * index MAINTENANCE (a served index must absorb inserts and erasures
    * without rebuild; periodic retrain is a separate batch concern).
    * Cost ∝ batch: corpus lists are untouched, no shuffle of the corpus.
    * Assignment and quantization are row-local, so the appended index
    * equals a rebuild from corpus+batch under the same centroids
    * (contract-proven as s9).
    */
  def appendQuantized(lists: DataFrame, incoming: DataFrame,
      centroids: Array[Array[Float]]): DataFrame =
    lists.unionByName(quantizedLists(incoming, centroids))

  /** The quantized inverted-list rows `(vec_id, qmin, qrange, codes,
    * list_id)` of `embeddings` under fixed `centroids`; null embeddings
    * carry no direction to index and are dropped.
    */
  def quantizedLists(embeddings: DataFrame,
      centroids: Array[Array[Float]]): DataFrame =
    Similarity.withQuantization(
      assignLists(embeddings.filter(col("embedding").isNotNull), centroids))
      .select("vec_id", "qmin", "qrange", "codes", "list_id")

  /** Driver-witnessed maintenance contract (s9, the d5b/e8b pattern):
    * content-addressed corpus/batch split, then the incrementally
    * APPENDED quantized index must equal the index REBUILT from the full
    * embedding set under the same frozen centroids — a wrong union
    * schema, a drifted quantization, or centroids re-derived on the
    * append path would flip a boolean and fail the driver gate.
    */
  def appendContract(embeddings: DataFrame, ivfK: Int = 8): DataFrame = {
    val corpus = embeddings.filter(graft.operators.TextOps.hexNibble("vec_id") =!= 7)
    val batch = embeddings.filter(graft.operators.TextOps.hexNibble("vec_id") === 7)
    // centroids from the CORPUS only: the batch arrives after training,
    // which is exactly the frozen-quantizer serving situation
    val centroids = sampleCentroids(corpus, ivfK)
    val appended = appendQuantized(quantizedLists(corpus, centroids), batch, centroids)
    oneRow(rowCount(batch, "n_batch"), // an empty batch passes vacuously
        rowCount(corpus, "n_corpus"),
        diffCounts(appended, quantizedLists(embeddings, centroids), "extra", "missing"))
      .select(
        (col("n_batch") > 0 && col("n_corpus") > 0).as("split_nonempty"),
        (col("extra") === 0 && col("missing") === 0).as("append_equal"))
  }

  /** Driver-witnessed ANN RECALL contract (s8, the d4c pattern): the
    * quantized IVF serving path — coarse probe selection + asymmetric
    * scoring over ONE-BYTE codes — must recover at least `threshold` of
    * the exact float k-NN ([[Similarity.knnJoin]], the s3 oracle-green
    * ground truth) on the fixture's query set. Hash-seeded centroids make
    * the ANN rows themselves un-oracle-able (s2 precedent); the recall
    * boolean is checkable against a TRUE-emitting oracle. A broken probe
    * ranking, a wrong dequantization, or a NaN leak in scoring drops
    * recall and fails the driver gate.
    *
    * Recall is micro-averaged (Σ matched / Σ |exact top-k|) over the
    * query set — per-query jitter from quantization near-ties cancels
    * out, which is what makes the threshold stable across scale factors.
    * Measured on the fixtures: 0.67-0.72 at sf0.001/0.01/0.1 with the
    * default nprobe=4 of ivfK=8 over [[sampleCentroids]] — the 0.55
    * threshold leaves ≥ 12 points of margin.
    * Scale shape: queries broadcast; the corpus is read once (assigned,
    * quantized, reconstructed per row) and joined with the |Q| query rows;
    * each pair carries the exact cosine and, in a probed list, the ADC
    * score; [[ContractOps.recallCounts]] sorts all |Q|×n pairs (the trade
    * against two top-k heaps is measured there).
    */
  def annRecallContract(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int = 10, ivfK: Int = 8, nprobe: Int = 4,
      threshold: Double = 0.55): DataFrame =
    annRecallDebug(embeddings, queryIds, k, ivfK, nprobe, threshold)
      .select("nonempty", "recall_ok")

  /** [[annRecallContract]] plus its raw counts `n_exact` and `n_match`. */
  private[graft] def annRecallDebug(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int, ivfK: Int, nprobe: Int, threshold: Double): DataFrame =
    recallCounts(annRecallScored(embeddings, queryIds, ivfK, nprobe), k, k)
      .select(
        (col("n_exact") >= queryIds.size).as("nonempty"), // guards vacuity
        (col("n_match").cast("double") >= lit(threshold) * col("n_exact"))
          .as("recall_ok"),
        col("n_exact"), col("n_match"))

  /** s8's scored `(query_id, vec_id, exact, approx)` pairs (self
    * excluded): `exact` is the negated `round(cosine, 6)` knnJoin ranks,
    * null where it is NaN (a zero norm); `approx` the negated ADC score,
    * null unless the list is probed for the query and `nr > 0`.
    */
  private[graft] def annRecallScored(embeddings: DataFrame, queryIds: Seq[Long],
      ivfK: Int, nprobe: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val clean = embeddings.filter(col("embedding").isNotNull)
    val centroids = sampleCentroids(clean, ivfK)
    // probe selection is driver-side BY DESIGN (ivfK centroid cosines per
    // query, never data-sized); ship one
    // (query_id, float query, micro query vector, query self-dot, probed
    // lists) row per query and broadcast it into the corpus scan
    val queries = clean.filter(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect().toSeq.map { r =>
        val qv = r.getSeq[Float](1).toArray
        val qMicro = microOf(qv)
        val nq = qMicro.map(x => x * x).sum
        // zero-norm query: no cosine direction, so no list is probed
        val probes = if (nq == 0L) Seq.empty[Int] else rankProbes(qv, centroids, nprobe)
        (r.getLong(0), qv.toSeq, qMicro.toSeq, nq, probes)
      }.toDF("query_id", "q_emb", "q_micro", "nq", "probes")
    val cos = round(VectorFunctions.cosineSim(col("embedding"), col("q_emb")), 6)
    val adc = VectorFunctions.longDot(col("r"), col("q_micro")).cast("double") /
      (sqrt(col("nr").cast("double")) * sqrt(col("nq").cast("double")))
    Similarity.withQuantization(assignLists(clean, centroids))
      .select(col("vec_id"), col("embedding"), col("list_id"), recon.as("r"))
      .withColumn("nr", VectorFunctions.longDot(col("r"), col("r")))
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        nanvl(-cos, lit(null).cast("double")).as("exact"),
        // a zero recon has no direction (NaN-sorts-first)
        when(array_contains(col("probes"), col("list_id")) && col("nr") > 0, -adc)
          .as("approx"))
  }

  /** PRODUCT QUANTIZATION contract (s12): split the `dim`-dimensional
    * embedding into `m` subspaces, quantize each subvector to its nearest
    * of `kSub` sub-codewords (integer-µ L2, the [[kmeansExact]] metric),
    * and witness the two properties that make PQ the memory-compression
    * path for ANN serving — as booleans a SQL oracle asserts TRUE:
    *
    *  - `err_monotone`: total quantization error with the `kSub`-word
    *    codebook ≤ with its first-`kPrefix` prefix. Guaranteed (not
    *    statistical): the prefix codebook's codewords are a SUBSET under
    *    the shared md5-seeded order, so each vector's per-subspace min
    *    can only improve — the hash-checkable stand-in for "bigger
    *    codebooks reconstruct better".
    *  - `recall_ok`: the production serving shape is ADC SHORTLIST +
    *    EXACT RERANK — scan compressed codes for a `shortlist`-sized
    *    candidate set (asymmetric distance: exact query vs reconstructed
    *    corpus), then rerank only those candidates at full precision.
    *    Exact-top-`k` members in the shortlist always survive an exact
    *    rerank into the reranked top-`k` (anything exactly closer is
    *    itself exact-top-`k`), so rerank recall ≡ shortlist containment:
    *    |ADC-top-shortlist ∩ exact-top-k| / k ≥ `threshold`. Measured
    *    0.83 (sf0.01) / 0.64 (sf0.1) at the registered m=16/kSub=16/
    *    shortlist=100 — 64 bits/vector against 2048 uncompressed
    *    (dim 64 × float32), scanning the full corpus at 32× less memory
    *    bandwidth and touching float vectors only for the shortlist.
    *    (The fixture's near-random embeddings are PQ's worst case —
    *    distance concentration; clustered real embeddings rank better.)
    *
    * Codebooks are the md5-seeded corpus draw ([[sampleCentroids]]'s
    * rationale: contract tests exercise the encode/ADC machinery, not
    * codeword quality; production would train each subspace with
    * [[kmeansExact]] on a sample). Scale shape: the encode is one
    * projection with ONE [[graft.functions.NearestCodewords]] call per
    * row — codes, full and prefix errors and the reconstruction in one
    * pass, the m × kSub codebook fixed in the expression — so encoding
    * is scan-bound with no shuffle. Why a kernel: the composed
    * `array_min(struct(long_sqdist(slice, codeword), code))` form puts
    * m × (kSub + kPrefix) distance terms and m codeword maps into the
    * plan; building, analysing and printing it made s12's operator
    * build take 2.4 s at sf0.01, against 0.9 s with the kernel (traced,
    * 4-core VM, 2 task slots). The exact and ADC rankings share one
    * pass: the corpus joins the |Q| broadcast query rows once, both
    * distances are projected, and [[ContractOps.recallCounts]] counts the
    * exact top-`k` and its members inside the ADC top-`shortlist`.
    */
  def pqContract(embeddings: DataFrame, queryIds: Seq[Long], m: Int = 8,
      kSub: Int = 16, kPrefix: Int = 4, k: Int = 10,
      threshold: Double = 0.4, shortlist: Int = 64,
      shortlistFor: Option[Long => Int] = None): DataFrame =
    pqContractDebug(embeddings, queryIds, m, kSub, kPrefix, k, threshold,
      shortlist, shortlistFor)
      .select("n_vectors", "err_monotone", "nonempty", "recall_ok")

  /** [[pqContract]] plus its raw counts: `n_exact`, `n_match`, and the
    * summed full (`ef`) and prefix (`ep`) quantization errors.
    */
  private[graft] def pqContractDebug(embeddings: DataFrame, queryIds: Seq[Long],
      m: Int = 8, kSub: Int = 16, kPrefix: Int = 4, k: Int = 10,
      threshold: Double = 0.4, shortlist: Int = 64,
      shortlistFor: Option[Long => Int] = None): DataFrame = {
    val clean = embeddings.filter(col("embedding").isNotNull)
    val eq = clean.select(col("vec_id"), micro(col("embedding")).as("qe"))
    // corpus-proportional shortlist sizing rides the seeds job via
    // observe() (r12): every row flows through the metrics node below
    // the TakeOrdered, so the caller's separate count() scan is gone
    val (eqCounted, nObs) = Materialize.observeCount(eq)
    val seeds = eqCounted
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(kSub)
      .collect().map(_.getSeq[Long](1).toArray)
    val shortlistN = shortlistFor.fold(shortlist)(f =>
      f(Materialize.observedCount(eq, nObs)))
    require(seeds.length == kSub, s"pqContract: corpus smaller than $kSub")
    val dim = seeds(0).length
    require(m >= 1 && dim % m == 0, s"pqContract: dim $dim not divisible by m=$m")
    val d0 = dim / m
    // codebooks(mi)(j) = j-th codeword of subspace mi
    val codebooks = Array.tabulate(m, kSub)((mi, j) =>
      seeds(j).slice(mi * d0, (mi + 1) * d0))
    val withErr = Materialize(pqEncode(eq, codebooks, kPrefix)) // feeds err agg + the ranking pass
    val qRows = eq.filter(col("vec_id").isin(queryIds: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val queries = embeddings.sparkSession.createDataFrame(qRows.toSeq)
      .toDF("query_id", "q_micro")
    def l2(v: Column) = VectorFunctions.longSqDist(v, col("q_micro"))
    val scored = withErr
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), l2(col("qe")).as("exact"),
        l2(col("pq.recon")).as("approx"))
    val errs = withErr
      .agg(count(lit(1)).as("n_vectors"), sum(col("pq.dist")).as("ef"),
        sum(col("pq.prefix_dist")).as("ep"))
    oneRow(errs, recallCounts(scored, k, shortlistN))
      .select(col("n_vectors"),
        (col("ef") <= col("ep")).as("err_monotone"),
        (col("n_exact") >= queryIds.size).as("nonempty"),
        (col("n_match").cast("double") >= lit(threshold) * col("n_exact"))
          .as("recall_ok"),
        col("n_exact"), col("n_match"), col("ef"), col("ep"))
  }

  /** PQ encode of micro-unit vectors `(vec_id, qe)`: one kernel call a row
    * yields `pq = (codes, dist, prefix_dist, recon)` against `codebooks`
    * (see [[graft.functions.NearestCodewords]]).
    */
  private[graft] def pqEncode(eq: DataFrame, codebooks: Array[Array[Array[Long]]],
      prefix: Int): DataFrame =
    eq.select(col("vec_id"), col("qe"),
      NearestCodewords.nearestCodewords(col("qe"), codebooks, prefix).as("pq"))

  /** TRUNCATED-DIMENSION retrieval contract (s13): candidate scan over
    * only the first `keepDims` vector components, exact rerank of the
    * shortlist at full dimension — the dimension-truncation serving
    * pattern (Matryoshka-style): a dim-truncated scan reads `keepDims/dim`
    * of the bytes PQ-style but with zero training and zero decode, the
    * natural first lever when embeddings are stored full-precision. Same
    * contract algebra as [[pqContract]]: exact-top-k members in the
    * shortlist survive an exact rerank, so rerank recall ≡ shortlist
    * containment ≥ `threshold`. (On embeddings TRAINED with
    * matryoshka-style nesting, leading dims carry most of the signal and
    * recall approaches 1; the fixture's random vectors spread signal
    * uniformly — recall ≈ the information fraction kept — so the
    * registered keepDims/shortlist are chosen to pass on the worst case.)
    * Scale shape: queries broadcast; the corpus joins the |Q| query rows
    * once, each pair carries the full and the truncated distance, and
    * [[ContractOps.recallCounts]] sorts all |Q|×n pairs.
    */
  def truncatedRecallContract(embeddings: DataFrame, queryIds: Seq[Long],
      keepDims: Int = 32, k: Int = 10, shortlist: Int = 100,
      threshold: Double = 0.5,
      shortlistFor: Option[Long => Int] = None): DataFrame =
    truncatedDebug(embeddings, queryIds, keepDims, k, shortlist, threshold,
      shortlistFor)
      .select("n_vectors", "nonempty", "recall_ok")

  private[graft] def truncatedDebug(embeddings: DataFrame, queryIds: Seq[Long],
      keepDims: Int, k: Int, shortlist: Int, threshold: Double,
      shortlistFor: Option[Long => Int] = None): DataFrame = {
    val eq = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), micro(col("embedding")).as("qe"))
      .withColumn("tq", slice(col("qe"), 1, keepDims))
    // shortlist sizing rides the query-row collect via observe() (r12):
    // the metrics node sits BELOW the isin filter, so it counts every
    // corpus row and the caller's separate count() scan is gone
    val (eqCounted, nObs) = Materialize.observeCount(eq)
    val qRows = eqCounted
      .filter(col("vec_id").isin(queryIds: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    val shortlistN = shortlistFor.fold(shortlist)(f =>
      f(Materialize.observedCount(eq, nObs)))
    val queries = embeddings.sparkSession.createDataFrame(qRows.toSeq)
      .toDF("query_id", "q_full", "q_trunc")
    val scored = eq
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.longSqDist(col("qe"), col("q_full")).as("exact"),
        VectorFunctions.longSqDist(col("tq"), col("q_trunc")).as("approx"))
    oneRow(rowCount(eq, "n_vectors"), recallCounts(scored, k, shortlistN))
      .select(col("n_vectors"),
        (col("n_exact") >= queryIds.size).as("nonempty"),
        (col("n_match").cast("double") >= lit(threshold) * col("n_exact"))
          .as("recall_ok"),
        col("n_exact"), col("n_match"))
  }

  /** Centroid-nearest `nprobe` list ids for a query (driver-side, k
    * cosines).
    */
  private def rankProbes(queryVec: Array[Float],
      centroids: Array[Array[Float]], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .sortBy { case (c, i) => (-cosine(queryVec, c), i) }
      .take(nprobe).map(_._2).toSeq

  /** Micro-unit integer vector: each component floor(x · 10⁶) as a long. */
  private def micro(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(1e6)).cast("long"))

  /** [[micro]] of a driver-side vector. */
  private def microOf(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1e6).toLong)

  /** Integer reconstruction `r` of the stored one-byte `codes`. */
  private def recon: Column = transform(col("codes"), c =>
    col("qmin") + floor(((c.cast("long") + 128L) * col("qrange")).cast("double") / 255)
      .cast("long"))

  /** Driver-side cosine for centroid ranking (k values, not data-sized). */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
