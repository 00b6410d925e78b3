package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`embeddings.embedding`,
  * `array<float>`).
  *
  * Two tiers, per the design brief:
  *  - [[bruteForceTopK]]: exact cosine top-k against one query vector —
  *    a single scan with a fused codegen'd loop per row (the baseline, and
  *    the correct choice whenever the query set is small: top-k via
  *    TakeOrderedAndProject, no shuffle of the data).
  *  - [[SimilarityIndex]]: random-hyperplane LSH bucketing — the scale
  *    path. Signatures are computed once and written PARTITIONED BY bucket;
  *    a query then reads only the probed buckets (real partition pruning at
  *    the file level — at 100 TB the scan touches a few buckets, not the
  *    corpus).
  */
object Similarity {

  /** Exact top-k cosine neighbors of `queryVecId` (excluded from results).
    * The 1-row query side is broadcast; no shuffle of the corpus; top-k is
    * TakeOrderedAndProject (heap per partition, k rows to the driver).
    */
  def bruteForceTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    embeddings
      .join(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(cosineSim(col("embedding"), col("q_emb")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** MIPS (maximum inner-product search) top-k: the ranking kernel of a
    * two-tower recommender — score is the RAW dot product, not cosine
    * (normalizing erases the popularity/magnitude signal the model put
    * into vector length on purpose). Same plan shape as
    * [[bruteForceTopK]]: broadcast 1-row query, one corpus scan with the
    * fused codegen'd [[graft.functions.DotProduct]] loop per row, top-k
    * as TakeOrderedAndProject.
    *
    * Scale path note: MIPS reduces to cosine ANN by the public
    * norm-augmentation transform (Shrivastava & Li, NIPS'14 — append
    * √(M²−‖x‖²) to each item, 0 to the query, M = max norm); after that
    * the [[IvfIndex]] / hyperplane-LSH machinery serves inner products
    * too. The brute-force form here is the referee that path would be
    * measured against, exactly as s8's recall contract does for cosine.
    * Scores are rounded to 6 decimals with a vec_id tiebreak, so the
    * k-boundary is deterministic and engine-stable.
    */
  def mipsTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    embeddings
      .join(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(dotProduct(col("embedding"), col("q_emb")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** LABEL COHESION WITHOUT PAIRS: the exact average pairwise inner
    * product within each label via the algebraic identity
    *
    *   Σ_{i≠j} ⟨vᵢ, vⱼ⟩  =  ‖Σᵢ vᵢ‖²  −  Σᵢ ‖vᵢ‖²
    *
    * — the cluster-quality readout (how tight is each label's embedding
    * cloud) computed from SUMS ONLY: one scan, one keyed aggregate,
    * NO pairwise join. This identity is why cohesion is measurable at
    * 100 TB when the naive all-pairs form (n² per label) is not; the
    * same algebra powers k-means' within-cluster-variance bookkeeping.
    *
    * Exactness: components are floored to integer MILLI-units first, so
    * both engines square and sum identical integers (milli, not micro:
    * ‖Σv‖² grows as (n·10³·max|x|)² per dimension — milli keeps sf0.1's
    * 5000-vector labels ~3 orders inside BIGINT; micro would overflow).
    * Outputs the exact numerator/denominator pair plus the floor average
    * pair-dot — division last, and floored identically.
    */
  def labelCohesion(embeddings: DataFrame): DataFrame = {
    val milli = embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("v"))
    val perDim = milli
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "c")))
      .groupBy("label", "dim").agg(sum(col("c")).as("sd"))
      .groupBy("label").agg(sum(col("sd") * col("sd")).as("norm_sum_sq"))
    val perVec = milli
      .select(col("label"),
        longDot(col("v"), col("v")).as("sq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("sum_sq_norms"))
    perVec
      .join(perDim, Seq("label"))
      .filter(col("n") >= 2)
      .select(col("label").cast("long").as("label"), col("n"),
        col("sum_sq_norms"), col("norm_sum_sq"),
        (col("norm_sum_sq") - col("sum_sq_norms")).as("pair_dot_sum"),
        (col("n") * (col("n") - 1L)).as("n_pairs"),
        // this numerator can be NEGATIVE (anti-correlated clouds):
        // verified that Spark's `div` and DuckDB's integer `//` BOTH
        // truncate toward zero, so the plain quotient is engine-exact
        expr("(norm_sum_sq - sum_sq_norms) div (n * (n - 1))")
          .as("avg_pair_dot_milli2"))
      .orderBy("label")
  }

  /** Exact k-NN JOIN: top-k cosine neighbors for EACH query vector in a
    * (small) query set — the batch form of [[bruteForceTopK]]. The query
    * side is broadcast, so the corpus is scanned once with |Q| fused
    * cosine evaluations per row and never shuffled by the join; the only
    * shuffle is the per-query ranking window over the scored rows.
    *
    * Scale shape: right for |Q| in the hundreds (broadcast-sized). The
    * rank-≤-k filter is recognized by Catalyst and planned as a
    * WindowGroupLimit BELOW the exchange (per-partition top-k heaps), so
    * the ranking shuffle carries at most k·|Q| rows per input partition,
    * not |corpus|·|Q| — asserted at plan level in the spec. For sublinear
    * per-query cost at 100 TB use the [[SimilarityIndex]] / [[IvfIndex]]
    * pruned path instead.
    */
  def knnJoin(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      minScore: Double = -1.0): DataFrame =
    rankedByCosine(embeddings, queryIds, minScore)
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")

  /** Shared anchor-broadcast cosine ranking ([[knnJoin]] keeps the top-k
    * prefix; [[hardNegatives]] a mid-rank slice). Cosine against a
    * zero-norm vector is NaN, and Spark orders NaN ABOVE every double
    * (`score desc` puts it first) and as equal-or-greater in comparisons
    * (`NaN >= -1.0` is true), so the `score >= minScore` filter alone
    * lets it through; the explicit `isnan` guard keeps one zero-norm
    * corpus vector from seizing rank 1 for every anchor.
    */
  private def rankedByCosine(embeddings: DataFrame, queryIds: Seq[Long],
      minScore: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = embeddings.join(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineSim(col("embedding"), col("q_emb")), 6).as("score"))
      .filter(!isnan(col("score")) && col("score") >= minScore)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
  }

  /** HARD-NEGATIVE mining for contrastive training: for each anchor,
    * the corpus vectors ranked `skipTop+1 .. skipTop+take` by cosine —
    * similar enough to be informative negatives, but past the top block
    * treated as positives/near-duplicates. The standard batch-mining step
    * for embedding-model fine-tuning (in-batch negatives are easy; mined
    * mid-rank neighbors are the hard ones).
    *
    * Same scale shape as [[knnJoin]]: anchors broadcast, ONE corpus scan,
    * and the rank-window filter's upper bound plans as WindowGroupLimit —
    * each map task forwards at most `skipTop+take` rows per anchor into
    * the shuffle, so the exchange carries O(|anchors|·(skipTop+take)) rows
    * per task, not the corpus.
    */
  def hardNegatives(embeddings: DataFrame, queryIds: Seq[Long],
      skipTop: Int, take: Int): DataFrame = {
    require(skipTop >= 0 && take > 0, "skipTop >= 0, take > 0")
    rankedByCosine(embeddings, queryIds, minScore = -1.0)
      .filter(col("rank") > skipTop && col("rank") <= skipTop + take)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate DEDUP: cluster near-identical vectors
    * (LSH candidates ≥ minScore) and keep the min-vec_id representative of
    * each group. Representative choice is the transitive-closure-free
    * greedy form (a row is dropped if ANY smaller-id near-dup exists) —
    * one LSH pass + one aggregation, no iterative connected components.
    */
  def dedupByEmbedding(embeddings: DataFrame, minScore: Double = 0.99,
      planes: Int = 16): DataFrame = {
    val dupOf = nearNeighborPairs(embeddings, minScore, planes)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min("vec_a").as("dup_of"))
    embeddings
      .join(dupOf, Seq("vec_id"), "left")
      .filter(col("dup_of").isNull)
      .drop("dup_of")
      .orderBy("vec_id")
  }

  /** All-pairs-free near-neighbor pairs: LSH signature → bucket equi-join
    * → exact cosine on candidates only (same shape as MinHash dedup).
    */
  /** Shared per-label centroid aggregate over valid rows (the recipe
    * labelCentroids / nearestCentroid / embeddingDrift all build on).
    */
  private def labelCentroidAgg(embeddings: DataFrame, dim: Int): DataFrame =
    embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .groupBy("label")
      .agg(graft.functions.CentroidAgg.centroid(col("embedding"), dim).as("c"))

  /** Per-label embedding CENTROIDS in exact integer micro-units
    * ([[graft.functions.CentroidAgg]]): the class-prototype /
    * cluster-center computation of an embedding pipeline (IVF coarse
    * quantizers, label prototypes for classification-by-nearest-centroid,
    * drift monitoring). Emitted one row per (label, dim) so the result is
    * scalar-typed end-to-end; exact integer arithmetic makes it
    * engine-independent (float mean reassociates under partial
    * aggregation and is not).
    */
  def labelCentroids(embeddings: DataFrame, dim: Int = 64): DataFrame =
    labelCentroidAgg(embeddings, dim)
      .select(col("label"), posexplode(col("c")))
      .select(col("label"), col("pos").cast("int").as("dim"),
        col("col").as("centroid_scaled"))
      .orderBy("label", "dim")

  /** NEAREST-CENTROID assignment (the IVF coarse-assign / classify-by-
    * prototype step): every vector scored against every label centroid,
    * argmin by exact integer squared L2 distance in micro-units —
    * deterministic across engines because scaled components and
    * centroids are integers, so distances are exact BIGINTs and ties
    * break on the label.
    *
    * Scale shape: the centroid table is |labels| rows — broadcast
    * (explicitly: it IS the intentionally-small side of a condition-less
    * join, the CartesianGuard-blessed pattern); the vector side streams
    * map-only, then one per-vector argmin (min_by) — no shuffle of the
    * embedding column itself beyond the vec_id aggregation.
    */
  def nearestCentroid(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val cents = labelCentroidAgg(embeddings, dim)
      .withColumnRenamed("label", "c_label")
    val scaled = embeddings
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("long")).as("xs"))
    scaled.join(broadcast(cents))
      .select(col("vec_id"), col("c_label"),
        longSqDist(col("xs"), col("c")).as("dist2"))
      .groupBy("vec_id")
      .agg(
        min_by(col("c_label"), struct(col("dist2"), col("c_label"))).as("label_assigned"),
        min(col("dist2")).as("dist2"))
      .orderBy("vec_id")
  }

  /** MULTIBAND hyperplane LSH near-neighbor pairs: `bands` independent
    * plane families, candidate = same bucket in ANY band, exact cosine on
    * the deduped candidates. Single-band recall at modest cosine is
    * intrinsically poor — p = (1 - θ/π)^planes per band (≈ 5% per band at
    * cos 0.35 with 6 planes) — and the fix is the same AND-OR
    * amplification MinHash banding uses: recall = 1 - (1 - p)^bands,
    * tunable to any target by adding bands at linear cost. Candidates
    * are deduped to (vec_a, vec_b) BEFORE the embedding join, so the
    * exact cosine runs once per pair no matter how many bands collide.
    * Same no-all-pairs scale shape as [[nearNeighborPairs]]; the banded
    * stream is `bands`× the input, never quadratic.
    */
  def nearNeighborPairsMultiband(embeddings: DataFrame, minScore: Double = 0.95,
      planes: Int = 8, bands: Int = 4): DataFrame = {
    require(planes <= 30, "bucket is an int bitmask")
    require(bands >= 1, "need at least one band")
    val banded = embeddings.select(col("vec_id"),
        posexplode(array((0 until bands).map(bd =>
          SimilarityIndex.signature(col("embedding"), planes, bd * planes)): _*)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val e = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosineSim(col("emb_a"), col("emb_b")), 6).as("score"))
      .filter(col("score") >= minScore)
      .orderBy("vec_a", "vec_b")
  }

  def nearNeighborPairs(embeddings: DataFrame, minScore: Double = 0.95,
      planes: Int = 16): DataFrame = {
    require(planes <= 30, "bucket is an int bitmask")
    val sigs = embeddings.select(col("vec_id"), col("embedding"),
      SimilarityIndex.signature(col("embedding"), planes).as("bucket"))
    val a = sigs.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = sigs.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosineSim(col("emb_a"), col("emb_b")), 6).as("score"))
      .filter(col("score") >= minScore)
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style SEMANTIC deduplication: partition the corpus into
    * nearest-centroid clusters, then drop every vector that has a
    * smaller-id near-duplicate (cosine ≥ `minScore`) in the SAME cluster.
    * This is the embedding-space analog of the text near-dup keep-one
    * policy — the pruning step shown to shrink web-scale training sets
    * with no quality loss — and the same greedy, closure-free
    * representative rule [[dedupByEmbedding]] uses.
    *
    * Scale shape — the whole point of the cluster partition is BOUNDED
    * pair blocks, and a fixed centroid count cannot bound them: with k
    * fixed, |cluster| ∝ N and the within-cluster join is N²/k — the r11
    * full-registry 100× gate caught exactly that (10 label centroids at
    * 200k vectors = 2·10⁹ candidate pairs, one straggler task per
    * cluster). So each centroid cluster is further split into
    * CORPUS-PROPORTIONAL SUB-CELLS, the SemDedup-paper move (its k-means
    * k is chosen to cap cluster size, not fixed): kSub =
    * ⌈|cluster|/targetCell⌉ seed vectors are chosen content-addressed
    * (smallest (md5(vec_id), vec_id) — deterministic, engine-mirrorable,
    * no RNG), every vector assigns to its nearest seed by EXACT integer
    * micro-unit squared L2 ([[graft.functions.LongSqDist]], ties to the
    * smaller seed id), and the pairwise cosine runs within (cluster,
    * sub) only. Cell size ≈ targetCell by construction, so candidates
    * are ≈ N·targetCell/2 — linear in N — and the ~N/targetCell cells
    * spread across the shuffle instead of one task per label. kSub = 1
    * through every sf ≤ 1 driver scale (clusters ≤ ~2000 rows), where
    * ANY seed choice yields the single-cell partition — those gates stay
    * bit-identical to the pre-split form. Near-dups straddling a seed
    * boundary are missed, exactly as label-cluster SemDeDup misses
    * cross-cluster pairs: the approximation contract is unchanged in
    * kind, and the oracle re-derives the same cells, so the check stays
    * exact. The seed rank is a per-cluster window over a NARROW
    * (cluster, md5, vec_id) projection — trivial at any driver scale; at
    * extreme scale the standard refinement is a deterministic hash-cut
    * oversample (rank only the ~8·kSub rows with md5 mod 256 = 0) that
    * bounds the sorted set, kept out of scope here because the projected
    * sort is not measurable next to the pair join it bounds.
    *
    * Zero-norm vectors score NaN and `NaN >= minScore` is false, so they
    * are never dropped and never drop others (the [[rankedByCosine]]
    * guard).
    *
    * Emits every clustered vector with its verdict (`kept`, plus the
    * smallest-id duplicate that condemned it) rather than only survivors —
    * the audit-friendly form; `.filter(col("kept"))` is the training-set
    * view.
    */
  def semDedup(embeddings: DataFrame, minScore: Double = 0.35,
      dim: Int = 64, targetCell: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assign = nearestCentroid(embeddings, dim)
      .select(col("vec_id"), col("label_assigned").as("cluster"))
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), microUnits.as("xs"))
      .join(assign, "vec_id")
    // Content-addressed seed selection: rank each cluster by
    // (md5(vec_id), vec_id) over the narrow projection, keep the first
    // kSub = ceil(nc / targetCell) rows as that cluster's seeds.
    val ranked = e
      .select(col("cluster"), col("vec_id"), col("xs"),
        md5(col("vec_id").cast("string")).as("h"))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy("cluster")))
      .withColumn("r", row_number().over(
        Window.partitionBy("cluster").orderBy(col("h"), col("vec_id"))))
    val seeds = ranked
      .filter(col("r") <= expr(s"(nc + ${targetCell - 1}) div $targetCell"))
      .select(col("cluster"), col("vec_id").as("seed_id"),
        col("xs").as("sxs"))
    // Nearest-seed assignment: exact integer sqdist, ties to the smaller
    // seed id — the same argmin discipline as nearestCentroid. The seed
    // table is ~N/targetCell rows — the intentionally-small broadcast side.
    val sub = e.join(broadcast(seeds), Seq("cluster"))
      .select(col("vec_id"),
        col("seed_id"), longSqDist(col("xs"), col("sxs")).as("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("seed_id"), struct(col("d2"), col("seed_id"))).as("sub"))
    val ec = e.join(sub, "vec_id")
    val a = ec.select(col("cluster"), col("sub"), col("vec_id").as("u"),
      col("embedding").as("emb_u"))
    val b = ec.select(col("cluster"), col("sub"), col("vec_id").as("v"),
      col("embedding").as("emb_v"))
    val dropped = a.join(b, Seq("cluster", "sub"))
      .filter(col("u") < col("v"))
      .select(col("v"),
        col("u"),
        round(cosineSim(col("emb_u"), col("emb_v")), 6).as("score"))
      .filter(col("score") >= minScore)
      .groupBy(col("v").as("vec_id"))
      .agg(min(col("u")).as("dropped_by"))
    e.select(col("vec_id"), col("cluster"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dropped_by").isNull.as("kept"), col("dropped_by"))
      .orderBy("vec_id")
  }

  /** Floor-scaled integer micro-units of the embedding column — the shared
    * exactness convention of the centroid/quantization tier.
    */
  private[operators] def microUnits: org.apache.spark.sql.Column =
    transform(col("embedding"), x => floor(x.cast("double") * 1e6).cast("long"))

  /** Embedding DRIFT monitor — the ML-ops audit run before trusting an
    * index/classifier built on yesterday's distribution: the corpus is
    * split content-addressed (md5-nibble of `vec_id`) into a REFERENCE
    * half and a CANDIDATE half; per label, each half's mean squared-L2
    * distance to the REFERENCE centroid is compared. A healthy stable
    * distribution drifts near 1000 per-mille; a shifted candidate half
    * inflates `drift_permille`. All arithmetic is exact integers (micro-
    * unit distances, floor-divided means), so every engine agrees.
    *
    * Scale shape: one pass builds |labels| reference centroids (the
    * mergeable [[graft.functions.CentroidAgg]] state), broadcast into a
    * scan-bound distance pass, then a |labels|-row aggregate with
    * filtered counts — no shuffle of the embedding column beyond the
    * centroid partial agg.
    */
  def embeddingDrift(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val nb = TextOps.hexNibble("vec_id")
    val valid = embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"), nb.as("nb"))
    val cents = labelCentroidAgg(valid.filter(col("nb") < 8), dim)
    // LEFT join: a label with no reference-half rows has no centroid, but
    // a brand-new label appearing IS drift - it must stay visible (null
    // means/drift) rather than vanish through an inner join
    val scored = valid
      .select(col("label"), col("nb"), microUnits.as("xs"))
      .join(broadcast(cents), Seq("label"), "left")
      .select(col("label"), col("nb"),
        longSqDist(col("xs"), col("c")).as("dist2"))
    // every division is nullif-guarded: an empty half yields null, never
    // a divide-by-zero (ANSI) or an engine-divergent value
    scored.groupBy("label")
      .agg(
        count(when(col("nb") < 8, lit(1))).as("n_ref"),
        sum(when(col("nb") < 8, col("dist2"))).as("sum_ref"),
        count(when(col("nb") >= 8, lit(1))).as("n_cand"),
        sum(when(col("nb") >= 8, col("dist2"))).as("sum_cand"))
      .select(col("label"),
        col("n_ref"),
        expr("sum_ref div nullif(n_ref, 0)").as("mean_ref_d2"),
        col("n_cand"),
        expr("sum_cand div nullif(n_cand, 0)").as("mean_cand_d2"),
        expr("""(sum_cand div nullif(n_cand, 0)) * 1000
                div nullif(sum_ref div nullif(n_ref, 0), 0)""")
          .as("drift_permille"))
      .orderBy("label")
  }

  /** Uint8 scalar QUANTIZATION of embeddings (asymmetric, per-vector
    * min/max): `code_i = ⌊(x_i − min)·255 / range⌋` — the 4× memory
    * compression an ANN index applies before serving (float32 → one byte
    * per dimension), reported with each vector's worst-case reconstruction
    * error so the recall cost is observable.
    *
    * Engine-exactness: components are floor-scaled to integer micro-units
    * first (the [[graft.functions.CentroidAgg]] convention); every
    * subsequent step is integer arithmetic or an exact-decidable
    * floor-of-division (the quotient of two bounded integers is never
    * within one ulp of the floor boundary), so codes and errors are
    * bit-identical on any IEEE-754 engine.
    *
    * Scale shape: entirely row-local — a scan-bound map with no shuffle,
    * no state; composes with [[SimilarityIndex.writeIndex]] as the storage
    * format of the inverted lists.
    */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val micro = microUnits
    val code = (x: org.apache.spark.sql.Column) =>
      floor((x - col("qmin")).cast("double") * 255 / col("qrange"))
    val dequant = (x: org.apache.spark.sql.Column) =>
      col("qmin") + floor(code(x) * col("qrange") / lit(255)).cast("long")
    embeddings
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), micro.as("xs"))
      .select(col("vec_id"), col("xs"),
        array_min(col("xs")).as("qmin"),
        (array_max(col("xs")) - array_min(col("xs"))).as("qrange"))
      .select(col("vec_id"), col("qmin"), col("qrange"),
        when(col("qrange") === 0,
          concat_ws(",", transform(col("xs"), _ => lit("0"))))
          .otherwise(concat_ws(",",
            transform(col("xs"), x => code(x).cast("long").cast("string"))))
          .as("codes_str"),
        when(col("qrange") === 0, lit(0L))
          .otherwise(array_max(transform(col("xs"),
            x => abs(x - dequant(x))))).as("max_err"))
      .orderBy("vec_id")
  }

  /** Adds `(qmin, qrange, codes)` quantization columns for index STORAGE:
    * same exact-integer codes as [[quantizeEmbeddings]], but kept as an
    * `array<tinyint>` (values shifted by −128 into byte range) so the
    * persisted element really is one byte — the schema-level form of the
    * 4× compression claim, consumed by `IvfIndex.writeQuantizedIndex`.
    */
  def withQuantization(df: DataFrame): DataFrame = {
    val code = (x: org.apache.spark.sql.Column) =>
      floor((x - col("qmin")).cast("double") * 255 / col("qrange"))
    df.withColumn("xs", microUnits)
      .withColumn("qmin", array_min(col("xs")))
      .withColumn("qrange", array_max(col("xs")) - col("qmin"))
      .withColumn("codes",
        when(col("qrange") === 0,
          transform(col("xs"), _ => lit(-128).cast("byte")))
          .otherwise(transform(col("xs"),
            x => (code(x) - 128).cast("byte"))))
      .drop("xs")
  }

  /** RECIPROCAL-RANK FUSION (hybrid retrieval): merge a dense ranking
    * (cosine top-`kEach` vs a query vector, [[bruteForceTopK]] — the
    * proven s1 kernel) and a sparse ranking (integer-exact BM25 top-
    * `kEach` for a bag-of-terms query, [[TextOps.bm25Rank]]) into one
    * list by RRF score — the standard zero-training fusion behind
    * "vector + keyword" search:
    *
    *   rrf_e6 = Σ_legs ⌊10⁶ / (c + rank_leg)⌋,  c = 60
    *
    * Floor-integer per-leg terms (no FP addition whose rounding could
    * reorder near-ties across engines); a document absent from a leg
    * contributes 0 there but keeps its other-leg rank visible as NULL vs
    * value.
    *
    * Scale shape: both legs end in TakeOrderedAndProject top-`kEach`
    * lists, so the fusion full-outer join and its rank windows run over
    * ≤ 2·kEach rows — driver-scale by construction, after which EACH leg
    * retains its own scale path (IVF for dense, postings-filter for
    * sparse). The unpartitioned rank window here is post-limit, like the
    * g1 supplier-rank precedent.
    */
  def rrfFusion(embeddings: DataFrame, documents: DataFrame,
      queryVecId: Long, queryTerms: Seq[String],
      kEach: Int = 50, k: Int = 20, c: Long = 60L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val denseW = Window.orderBy(col("score").desc, col("vec_id"))
    val dense = bruteForceTopK(embeddings, queryVecId, kEach)
      .select(col("vec_id").as("id"),
        row_number().over(denseW).cast("long").as("rank_dense"))
    val sparse = TextOps.bm25Rank(documents, queryTerms, kEach)
      .select(col("doc_id").as("id"), col("rank").cast("long").as("rank_sparse"))
    dense.join(sparse, Seq("id"), "full_outer")
      .select(col("id"), col("rank_dense"), col("rank_sparse"),
        (coalesce(expr(s"1000000L div (${c}L + rank_dense)"), lit(0L)) +
          coalesce(expr(s"1000000L div (${c}L + rank_sparse)"), lit(0L)))
          .as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("id"))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane weight for
    * [[annOraclePairs]]: plain LCG over the flattened (plane, dim)
    * index, range [−1000, 1000]. A FUNCTION of the index, not stored
    * state — the Spark operator and the generated oracle SQL call the
    * same formula, so the planes are a single source of truth.
    */
  private[graft] def annPlaneWeight(plane: Int, dim: Int, dims: Int): Long =
    graft.functions.AnnPlaneWeights.weight(plane, dim, dims)

  /** Corpus-proportional LSH band width for [[annOraclePairs]]:
    * `floorBits + ceil(log2(nVec / targetBucket))`, floored at
    * `floorBits` so every driver scale (≤ targetBucket vectors) keeps
    * its historical bit-identical output. Integer doubling ladder, not
    * FP log — the DuckDB oracle mirrors it as a CASE ladder over the
    * same thresholds, so both engines derive the same width from the
    * same count. The r10 100× ladder caught the FIXED width going
    * quadratic: 6 bands of 5 bits is 32 buckets per band FOREVER, so
    * candidates grow as n²/64 — invisible over one decade (the
    * measured sf0.1→sf1 "exponent 0.95"), an 8 GB OOM at two. With
    * width ∝ log₂(n) the per-band bucket count is ∝ n, average
    * occupancy stays in (targetBucket/64, targetBucket/32], and the
    * candidate set is ∝ n — the same fixed-parameter lesson as the r9
    * ANN-shortlist and MG-capacity findings, one level deeper in the
    * index structure.
    */
  private[graft] def annBandBits(nVec: Long, floorBits: Int = 5,
      targetBucket: Long = 2048L, maxExtra: Int = 15): Int = {
    var e = 0
    while (e < maxExtra && nVec > (targetBucket << e)) e += 1
    floorBits + e
  }

  /** ORACLE-EXACT hyperplane-LSH ANN pairs — the [[graft.operators.Dedup.minhashOraclePairs]]
    * pattern applied to the EMBEDDING near-neighbor family (s2's seeded
    * hyperplane kernel is rows-only; this variant puts the whole
    * sign→band→bucket-join→verify pipeline under the DuckDB hash gate).
    *
    * Signature: 6·bandBits integer hyperplanes with LCG weights
    * (|w| ≤ 1000, the pure index formula [[annPlaneWeight]] — Spark's
    * fused signing expression ([[graft.functions.AnnPlaneDots]]) and
    * the oracle's inline SQL compute the SAME formula, so the planes
    * stay a single source of truth),
    * dotted against the micro-unit floor rendering of the embedding —
    * every dot is an exact BIGINT (|w·m| ≤ 4·10⁹ per term, ×64 dims
    * ≪ 2⁶³). Six pigeonhole bands of [[annBandBits]] sign bits each
    * (CORPUS-PROPORTIONAL width, floored at 5 bits so driver scales
    * are bit-identical): complete for signature-Hamming ≤ 5, per-band
    * bucket count ∝ n, candidate set ∝ n — see [[annBandBits]] for the
    * 100× story. Verification is EXACT integer cosine: dot ≥ 0 and
    * 25·dot² ≥ 4·‖a‖²·‖b‖² (cos ≥ 2/5 cross-multiplied into squares),
    * built in DECIMAL(38,0) against HUGEINT on the oracle side —
    * dot² ≤ ~10²⁷ needs 16-byte integers on both engines.
    */
  def annOraclePairs(embeddings: DataFrame, bands: Int = 6,
      floorBits: Int = 5, dims: Int = 64): DataFrame = {
    val base = embeddings
      .filter(size(col("embedding")) === dims)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("m"))
    // one count job sizes the band width from the corpus, the same way
    // s12/s13 size their rerank shortlists — serving parameters derive
    // from corpus size or they dilute/explode at scale
    val bandBits = annBandBits(base.count())
    val planes = bands * bandBits
    // fused codegen'd signing kernel (one pass, weights from the shared
    // index formula) — the composed transform/zip_with form carried the
    // whole planes×dims weight table as plan-text literals and ran two
    // interpreted lambdas per element
    val withDots = base.withColumn("dots",
      graft.functions.VectorFunctions.annPlaneDots(col("m"), planes, dims))
    val nBands = bands
    // integer band codes (bandBits sign bits packed little-endian) —
    // leaner join keys than concat_ws strings
    val bandCodes = (0 until nBands).map { b =>
      val code = (0 until bandBits).map { r =>
        s"(CASE WHEN element_at(dots, ${b * bandBits + r + 1}) >= 0" +
          s" THEN ${1 << r} ELSE 0 END)"
      }.mkString(" + ")
      expr(s"CAST($code AS INT)")
    }
    // each vector TRAVELS WITH its band rows, so the exact-cosine verify
    // is computed INLINE in the band join's projection and only verified
    // survivors ever materialize. The r10 100× ladder killed the
    // previous candidates-then-join-arrays shape on disk: materializing
    // (pair, vec_a, vec_b) for every candidate is candidates × 1 KB of
    // shuffle (≈120 GB at sf10); attaching the 520-byte vector to the
    // 6 band rows is ∝ n·bands (≈700 MB) and the heavy intermediate
    // never exists. Cross-band duplicate matches recompute the dot
    // (bounded by the band count) and collapse in the post-verify
    // distinct — dot/norms are pure functions of the pair, so the tuple
    // is identical from every band. (A first-matching-band join
    // predicate would dedupe BEFORE the dot, but loses BOTH ways it was
    // tried: the higher-order-function form evaluates interpreted per
    // candidate row — measured 3.4× slower than the redundant dots at
    // sf1 and sf10 — and even a statically-unrolled codegen'd form
    // (element_at comparisons over an attached 6-int code array, which
    // also let the post-verify distinct drop) measured 1.15×/1.8×
    // slower at sf1/sf10 once the codes array rode every build-side
    // band row. With the dot itself codegen'd the recompute is cheaper
    // than any gate; rejected twice, don't re-litigate.)
    val bk = withDots.select(col("vec_id"), col("m"),
      graft.functions.VectorFunctions.longDot(col("m"), col("m")).as("n2"),
      posexplode(array(bandCodes: _*)).as(Seq("band", "key")))
    // the verify rides IN the join condition as ONE fused expression
    // (AnnCosVerify: dot ≥ 0 && 25·dot² ≥ 4·na·nb in exact unsigned-128
    // integer arithmetic — bit-equal to the DECIMAL(38)/HUGEINT forms).
    // Spelling it as a post-join filter looks identical but costs 3×:
    // the optimizer substitutes the dot alias into the pushed condition
    // once per occurrence, and join-condition codegen has no
    // subexpression elimination — the sf0.01 plan showed three
    // long_dot(a.m, b.m) evaluations per candidate. Survivors (a
    // vanishing fraction) recompute the dot once in the projection.
    bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id") &&
          graft.functions.VectorFunctions.annCosVerify(
            col("a.m"), col("b.m"), col("a.n2"), col("b.n2")))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        graft.functions.VectorFunctions.longDot(col("a.m"), col("b.m"))
          .as("dot_micro2"),
        col("a.n2").as("norm2_a"), col("b.n2").as("norm2_b"))
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** Per-dimension corpus statistics (n, mean, variance in integer
    * micro-units) — the feature-normalization aggregate a z-scoring
    * layer needs before training. ONE pass via
    * [[graft.functions.VectorStatsAgg]]: the shuffle carries a single
    * (2·dim+1)-long state per map partition; the naive
    * `posexplode → groupBy dim` would shuffle dim× the table. The tiny
    * dim-row expansion happens AFTER aggregation, on one row.
    *
    * Integer discipline: micro-unit floor scaling at read; mean and
    * second moment use `div` — Spark's integral division and DuckDB's
    * `//` BOTH truncate toward zero (verified on negative operands), so
    * the statistics are bit-identical across engines with no rounding
    * adapter. Variance is the truncated second moment minus the squared
    * truncated mean — a deterministic integer statistic.
    */
  def dimStats(embeddings: DataFrame, dim: Int = 64): DataFrame =
    embeddings
      .agg(graft.functions.VectorStatsAgg.vectorStats(col("embedding"), dim)
        .as("vs"))
      .select(col("vs.n").as("n"), col("vs.sums").as("sums"),
        col("vs.sumsqs").as("sumsqs"))
      .select(col("n"), posexplode(arrays_zip(col("sums"), col("sumsqs"))))
      .select(col("pos").cast("int").as("dim"), col("n"),
        col("col.sums").as("s"), col("col.sumsqs").as("q"))
      .select(col("dim"), col("n"),
        expr("s div n").as("mean_micro"),
        (expr("q div n") - expr("(s div n) * (s div n)")).as("var_micro2"))
      .orderBy("dim")

  /** MAXIMAL MARGINAL RELEVANCE rerank (Carbonell & Goldstein, SIGIR'98)
    * — the diversity-aware selection pass a RAG/retrieval pipeline runs
    * AFTER top-k: greedily pick the candidate maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈picked} sim(d,s), so near-duplicate hits
    * don't crowd the context window. λ = 1/2, so 2·MMR = rel − penalty —
    * the fold stays in integers and the reported `mmr2` IS the doubled
    * objective at selection time.
    *
    * Exactness: similarities are raw inner products over the shared
    * micro-unit floor rendering ([[microUnits]]) — exact BIGINTs both
    * engines can reproduce, no norms, no sqrt. The greedy argmax
    * tie-breaks on vec_id, making every selection step a total order.
    *
    * Scale shape: the corpus-sized work is exactly [[mipsTopK]]'s — one
    * broadcast-query scan with a codegen'd integer dot, top-N via
    * TakeOrderedAndProject. The O(k·N) greedy interaction then runs on
    * the N collected candidate structs INSIDE one `aggregate()` fold
    * (one row, map-side, n ≈ 32 — metadata-scale by construction; the
    * selection step is inherently sequential, so the right distributed
    * answer is "make the sequential part tiny", not a k-round shuffle).
    */
  def mmrRerank(embeddings: DataFrame, queryVecId: Long = 0L,
      nCandidates: Int = 32, k: Int = 10): DataFrame = {
    // sequence(1, 0) DESCENDS in Spark — k = 0 would run the greedy fold
    // for steps {1, 0} and emit rows instead of none.
    require(k >= 1 && nCandidates >= k,
      s"mmrRerank: need 1 <= k <= nCandidates, got k=$k nCandidates=$nCandidates")
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(microUnits.as("uq"))
    val cands = embeddings
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), microUnits.as("u"))
      .join(broadcast(q))
      .withColumn("rel", longDot(col("u"), col("uq")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(nCandidates)
    // (rel − pen) DESC, vec_id ASC — the greedy argmax as a comparator.
    // pen is NULL until the first similarity is observed (step 1 ranks by
    // rel alone): a 0 start would CLAMP negative dots — greatest(0, dot)
    // — and MMR's penalty is the true max similarity, sign included.
    val cmp = """(l, r) -> CASE
      WHEN l.rel - coalesce(l.pen, 0L) > r.rel - coalesce(r.pen, 0L) THEN -1
      WHEN l.rel - coalesce(l.pen, 0L) < r.rel - coalesce(r.pen, 0L) THEN 1
      WHEN l.vec_id < r.vec_id THEN -1 ELSE 1 END"""
    val sorted = s"array_sort(st.rem, $cmp)"
    val fold = s"""aggregate(
      sequence(1L, ${k}L),
      named_struct(
        'sel', CAST(array() AS
          array<struct<rank: bigint, vec_id: bigint, rel: bigint, pen: bigint>>),
        'rem', cands),
      (st, i) -> IF(size(st.rem) = 0, st, named_struct(
        'sel', array_append(st.sel, named_struct(
          'rank', i,
          'vec_id', element_at($sorted, 1).vec_id,
          'rel', element_at($sorted, 1).rel,
          'pen', coalesce(element_at($sorted, 1).pen, 0L))),
        'rem', transform(slice($sorted, 2, size(st.rem)), c -> named_struct(
          'vec_id', c.vec_id, 'rel', c.rel,
          'pen', greatest(c.pen,
            aggregate(zip_with(c.u, element_at($sorted, 1).u, (x, y) -> x * y),
              0L, (a, x) -> a + x)),
          'u', c.u)))),
      st -> st.sel)"""
    cands
      .agg(expr(
        """collect_list(named_struct('vec_id', vec_id, 'rel', rel,
          |  'pen', CAST(NULL AS BIGINT), 'u', u))""".stripMargin)
        .as("cands"))
      .select(explode(expr(fold)).as("pick"))
      .select(col("pick.rank").as("rank"), col("pick.vec_id").as("vec_id"),
        col("pick.rel").as("rel_dot"), col("pick.pen").as("pen_dot"),
        (col("pick.rel") - col("pick.pen")).as("mmr2"))
      .orderBy("rank")
  }

  /** INTRA-LIST DIVERSITY contract for [[mmrRerank]] — the evaluation
    * that proves the rerank did its job: the summed pairwise inner
    * product of MMR's k picks vs the plain relevance top-k's, same
    * micro-unit integers, same k(k−1)/2 pair count (so the raw sums ARE
    * comparable without division). `mmr_more_diverse` = the MMR set's
    * pair-dot sum is strictly lower — the claim a retrieval team would
    * check before shipping the λ knob.
    *
    * Scale shape: everything after the (already metadata-scale) top-N
    * candidate cut is k² arithmetic on broadcast frames; the corpus is
    * scanned once per selection path, both with the mipsTopK plan.
    */
  def mmrDiversityContract(embeddings: DataFrame, queryVecId: Long = 0L,
      nCandidates: Int = 32, k: Int = 10): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), microUnits.as("u"))
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(microUnits.as("uq"))
    val topk = vecs
      .filter(col("vec_id") =!= queryVecId)
      .join(broadcast(q))
      .withColumn("rel", longDot(col("u"), col("uq")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(k)
      .select("vec_id")
    val mmr = mmrRerank(embeddings, queryVecId, nCandidates, k)
      .select("vec_id")
    def pairDotSum(ids: DataFrame, alias: String) = {
      val withVec = ids.join(broadcast(vecs), Seq("vec_id"))
      withVec.as("a")
        .join(broadcast(withVec.as("b")),
          col("a.vec_id") < col("b.vec_id"))
        .select(longDot(col("a.u"), col("b.u")).as("d"))
        .agg(sum(col("d")).as(alias))
    }
    pairDotSum(topk, "topk_pair_dot_sum")
      .crossJoin(broadcast(pairDotSum(mmr, "mmr_pair_dot_sum")))
      .select(col("topk_pair_dot_sum"), col("mmr_pair_dot_sum"),
        (col("mmr_pair_dot_sum") < col("topk_pair_dot_sum"))
          .as("mmr_more_diverse"))
  }
}

/** Random-hyperplane LSH index over an embedding column.
  *
  * Hyperplanes are deterministic pseudo-random (hash-seeded, seed fixed) so
  * index build and query agree without storing plane vectors. Executor and
  * driver share ONE signing kernel ([[graft.functions.LshSignatureUtil]]),
  * sized by each vector's own length — an index built over d-dim vectors
  * probes correctly for any d.
  */
object SimilarityIndex {

  /** Sign-bit signature: bit i = (embedding · plane_i >= 0). Returns an
    * int bucket in [0, 2^planes). Native fused expression — the builtin
    * zip_with/aggregate formulation runs `planes` interpreted lambda
    * chains per row.
    */
  def signature(embedding: org.apache.spark.sql.Column, planes: Int = 16,
      offset: Int = 0): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.lshSignature(embedding, planes, offset)

  /** Build: signatures computed once, written partitioned by bucket —
    * queries prune to probed buckets at the file level.
    */
  def writeIndex(embeddings: DataFrame, path: String, planes: Int = 16): Unit =
    embeddings
      .withColumn("bucket", signature(col("embedding"), planes))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Query: read ONLY the query vector's bucket partition (plus optional
    * multiprobe neighbors at Hamming distance 1), exact cosine within.
    */
  def queryIndex(spark: SparkSession, path: String, queryVec: Array[Float],
      k: Int, planes: Int = 16, multiprobe: Boolean = true): DataFrame = {
    val qSig = signatureOf(queryVec, planes)
    val probes: Seq[Int] =
      if (multiprobe) qSig +: (0 until planes).map(i => qSig ^ (1 << i))
      else Seq(qSig)
    val qLit = array(queryVec.map(v => lit(v)).toIndexedSeq: _*)
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*)) // partition pruning on disk
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.cosineSim(col("embedding"), qLit), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Driver-side signature of a query vector (same kernel as
    * [[signature]] — cannot drift).
    */
  def signatureOf(vec: Array[Float], planes: Int = 16): Int =
    graft.functions.LshSignatureUtil.signatureOf(vec, planes)

  /** BINARY (sign-bit) EMBEDDING PRE-RANK — the 32×-compression retrieval
    * tier: each 64-dim float vector collapses to its 64 sign bits, packed
    * into two BIGINT words (32 bits each — DuckDB's BIGINT errors on
    * overflow rather than wrapping, so the fold never touches bit 63).
    * Candidate generation is then pure integer work — Hamming distance =
    * Σ bit_count(xor(word, q_word)) — against a representation 32× smaller
    * than the float corpus, which is what makes a 100 TB embedding store
    * scannable from memory; the float vectors are consulted only to
    * re-rank the C survivors. (Sign-bit Hamming is exactly 1-bit
    * random-hyperplane SimHash with axis-aligned planes: for unit vectors
    * E[ham] ∝ angle, so the pre-rank preserves cosine order in
    * expectation.)
    *
    * This query is the CONTRACT for that tier: for each of the first
    * `nQueries` vectors it computes the Hamming top-`preC` candidate set
    * AND the exact top-`k` by integer micro-unit dot product (unit-norm
    * fixture ⇒ dot order = cosine order), and reports recall@k of the
    * pre-rank — every output is an integer decided by deterministic
    * (distance, vec_id) tie-breaks, so the gate hash-compares it.
    *
    * Plan shape: the query side is `nQueries` rows broadcast against one
    * corpus scan; both rankings are rank-≤-N windows that the optimizer
    * executes as WindowGroupLimit (per-partition top-N heaps, no full
    * sort), and the final recall join touches only nQueries × preC rows.
    */
  def hammingPrerank(embeddings: DataFrame, nQueries: Int = 8,
                     preC: Int = 50, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dims = 64
    val base = embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) === dims)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("m"),
        expr("aggregate(slice(embedding, 1, 32), 0L, " +
          "(acc, x) -> acc * 2L + IF(x >= CAST(0 AS FLOAT), 1L, 0L))").as("h1"),
        expr("aggregate(slice(embedding, 33, 32), 0L, " +
          "(acc, x) -> acc * 2L + IF(x >= CAST(0 AS FLOAT), 1L, 0L))").as("h2"))
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("m").as("qm"),
        col("h1").as("qh1"), col("h2").as("qh2"))
    val pairs = base.join(broadcast(queries), col("vec_id") =!= col("q_id"))
    val wHam = Window.partitionBy("q_id")
      .orderBy(col("ham").asc, col("vec_id").asc)
    val wDot = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("vec_id").asc)
    val pre = pairs
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("h1").bitwiseXOR(col("qh1"))) +
          bit_count(col("h2").bitwiseXOR(col("qh2")))).cast("long").as("ham"))
      .withColumn("rh", row_number().over(wHam))
      .filter(col("rh") <= preC)
    val exact = pairs
      .select(col("q_id"), col("vec_id"),
        longDot(col("m"), col("qm")).as("dot"))
      .withColumn("rd", row_number().over(wDot))
      .filter(col("rd") <= k)
    exact
      .join(pre, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(when(col("rh").isNotNull, 1)).as("hits"),
        max(when(col("rd") === 1, col("rh").isNotNull)).as("top1_in_prerank"),
        max(when(col("rd") === 1, col("vec_id"))).as("exact_top1"),
        min(when(col("rh").isNotNull, col("ham"))).as("best_recalled_ham"))
      .select(col("q_id"), col("hits"), col("top1_in_prerank"),
        col("exact_top1"), col("best_recalled_ham"))
      .orderBy("q_id")
  }

  /** RETRIEVAL MARGIN census — per query, the gap between the best and
    * second-best inner product (exact integer micro-unit dots, the
    * centroid tier's convention): the ambiguity metric that decides
    * whether a nearest-neighbor answer can be trusted standalone or
    * needs a reranker (margin → 0 means ranks 1 and 2 are
    * interchangeable under any perturbation). Integer dots make the
    * margin engine-exact — a float-cosine margin this small is exactly
    * where float orderings diverge.
    *
    * Scale shape: anchors broadcast, one corpus scan, and the rank ≤ 2
    * window filter plans as WindowGroupLimit (each map task forwards at
    * most 2 rows per query into the shuffle) — the [[hardNegatives]]
    * contract at k=2.
    */
  def marginStats(embeddings: DataFrame,
      queryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), Similarity.microUnits.as("uq"))
    val scored = embeddings
      .select(col("vec_id"), Similarity.microUnits.as("u"))
      .join(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        longDot(col("u"), col("uq")).as("dot"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy("query_id")
      .agg(max(when(col("rk") === 1, col("vec_id"))).as("top1_id"),
        max(when(col("rk") === 1, col("dot"))).as("top1_dot"),
        max(when(col("rk") === 2, col("vec_id"))).as("top2_id"),
        max(when(col("rk") === 2, col("dot"))).as("top2_dot"))
      .withColumn("margin", col("top1_dot") - col("top2_dot"))
      .orderBy("query_id")
  }
}
