package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.SimHash64.simhash64
import graft.spark.Materialize
import ContractOps.{diffCounts, oneRow, rowCount}

/** Deduplication family for the training-data pipeline tier: exact,
  * MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard.
  *
  * Scale design (100 TB): NO all-pairs comparison anywhere. Every fuzzy
  * variant goes shingle→signature→band→bucket-equi-join, so candidate
  * generation is a hash shuffle on band values, and the quadratic step runs
  * only WITHIN buckets (expected O(1) bucket sizes for non-duplicate data).
  * A crossJoin-based version would pass sf0.1 and melt a 1000-executor
  * cluster — the bucket-join is the whole point. Every shingle-set
  * verify runs through [[SetOverlap]].
  */
object Dedup {

  /** Exact dedup, deterministic representative: keep min doc_id per
    * identical text (a `dropDuplicates` that doesn't depend on partition
    * visit order — `dropDuplicates` keeps an arbitrary row, which is not
    * oracle-comparable).
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
      .orderBy("doc_id")

  /** Exact-dup statistics per language label. */
  def dupStats(documents: DataFrame): DataFrame =
    documents
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"))
      .orderBy("lang")

  /** MinHash signatures: k independent permutations over distinct 3-gram
    * shingles, computed in ONE pass by the custom [[graft.functions.MinHash]]
    * expression (each shingle string hashed once, k cheap scrambles). The
    * pure-builtin formulation (k × `array_min(transform(...))` columns)
    * re-materializes the shingle array per signature element — measured
    * ~50× slower at sf0.1 — because Catalyst's project collapse inlines
    * the shared shingle subexpression into every column.
    */
  def minhashSignatures(documents: DataFrame, numHashes: Int = 32): DataFrame =
    documents.select(col("doc_id"),
      graft.functions.MinHash.minhashTokens(
        tokens(col("text")), numHashes).as("minhash"))

  /** LSH banding: split the signature into `bands` rows-per-band groups,
    * one row per band keyed by a SINGLE `band_key` = xxhash64(band id,
    * band slice). Folding the band id into the hash (instead of carrying
    * a (band_id, band_hash) pair) keeps bands disjoint AND makes the
    * bucket join single-key — which is what lets a persisted index
    * bucketed on `band_key` join with zero corpus-side exchange
    * (Spark's v1 bucketing eliminates the shuffle only when the bucket
    * column set equals the join key set).
    */
  def lshBuckets(signatures: DataFrame, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      xxhash64(lit(b), slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand))
    }
    signatures
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band_key"))
  }

  /** Candidate pairs: equi-join on `band_key` — the LSH bucket join.
    * Distinct because pairs can collide in several bands.
    */
  def candidatePairs(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("band_key"), col("doc_id").as("doc_a"))
    val b = buckets.select(col("band_key"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash+LSH near-duplicate pairs with exact n-gram Jaccard
    * verification on the candidates only (never all pairs).
    */
  def nearDupPairs(documents: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    // The candidate set feeds BOTH the semi-join pruning and the pair
    // join below (a diamond DAG: lazy, the signature lineage would
    // execute twice), so it is materialized once.
    val candidates = Materialize(candidatePairs(lshBuckets(
      minhashSignatures(documents, numHashes), bands, numHashes / bands)))
    val sets = SetOverlap.shingleSets(documents, candidates, "doc_a", "doc_b")
    SetOverlap.overlap(candidates, "doc_a", sets, "doc_b", sets)
      .select(col("doc_a"), col("doc_b"), SetOverlap.jaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** The md5-affine signature table behind [[minhashOraclePairs]] (and
    * registrable on its own as the oracle-exact twin of the d5 corpus
    * signatures): per doc the k = 8 permutation minima h0..h7, each an
    * exact BIGINT both engines compute identically. One md5 per
    * DISTINCT shingle row; k map-side-combining MIN aggregates.
    */
  def minhashOracleSignatures(documents: DataFrame): DataFrame = {
    val p = 2147483647L
    val as = Seq(919393L, 273647L, 877571L, 499979L, 331777L, 764321L,
      104729L, 611953L)
    val bs = Seq(12289L, 514229L, 39916801L % p, 6700417L, 1299709L,
      15485863L, 32452843L, 49979687L)
    SetOverlap.shingleRows(documents, "doc_id")
      .select(col("doc_id"), expr(
        s"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % $p")
        .as("m"))
      .groupBy("doc_id")
      .agg(min(expr(s"(${as(0)} * m + ${bs(0)}) % $p")).as("h0"),
        min(expr(s"(${as(1)} * m + ${bs(1)}) % $p")).as("h1"),
        min(expr(s"(${as(2)} * m + ${bs(2)}) % $p")).as("h2"),
        min(expr(s"(${as(3)} * m + ${bs(3)}) % $p")).as("h3"),
        min(expr(s"(${as(4)} * m + ${bs(4)}) % $p")).as("h4"),
        min(expr(s"(${as(5)} * m + ${bs(5)}) % $p")).as("h5"),
        min(expr(s"(${as(6)} * m + ${bs(6)}) % $p")).as("h6"),
        min(expr(s"(${as(7)} * m + ${bs(7)}) % $p")).as("h7"))
  }

  /** ORACLE-EXACT MinHash+LSH near-dup pairs — the same
    * sign→band→bucket-join→exact-verify pipeline as [[nearDupPairs]],
    * but with an md5-derived affine permutation family BOTH engines can
    * compute bit-identically, so the ENTIRE banding pipeline is
    * verified end-to-end by the DuckDB hash gate (the production d3
    * path keeps its seeded codegen'd kernel and is rows-only with a
    * contract twin; this variant closes the verification gap the fast
    * kernel leaves).
    *
    * Family: one strong hash per DISTINCT shingle, m = md5→60-bit→mod
    * p (p = 2³¹−1), then k affine permutations hᵢ = (aᵢ·m + bᵢ) mod p —
    * aᵢ·m < 2⁶² so no overflow on either engine, all operands
    * nonnegative so `%` agrees. ONE md5 per shingle row: the signature
    * is built explode-side as k min-aggregates on a single pass (k
    * columns of map-side-combining MIN state — the lambda formulation
    * would re-evaluate the md5 array per signature element). Bands of
    * `rows` consecutive signature values join on a concat band key;
    * verification is exact integer Jaccard (n_inter·den ≥ n_union·num).
    */
  def minhashOraclePairs(documents: DataFrame, thresholdNum: Long = 4L,
      thresholdDen: Long = 5L): DataFrame = {
    val sig = minhashOracleSignatures(documents)
    val bk = sig.select(col("doc_id"), explode(array(
      concat_ws(":", lit(0), col("h0"), col("h1")),
      concat_ws(":", lit(1), col("h2"), col("h3")),
      concat_ws(":", lit(2), col("h4"), col("h5")),
      concat_ws(":", lit(3), col("h6"), col("h7")))).as("band_key"))
    val cand = bk.as("a").join(bk.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = SetOverlap.shingleSets(documents)
    SetOverlap.overlap(cand, "doc_a", sets, "doc_b", sets)
      .select("doc_a", "doc_b", "n_inter", "n_union")
      .filter(col("n_inter") * thresholdDen >= col("n_union") * thresholdNum)
      .orderBy("doc_a", "doc_b")
  }

  /** ORACLE-EXACT SimHash near-dup pairs — [[minhashOraclePairs]]'s
    * companion for the SimHash family: a 60-bit signature whose bit b is
    * the sign of Σ±1 over the b-th bit of each DISTINCT token's
    * md5-derived 60-bit hash (ties count positive — deterministic), so
    * BOTH engines compute the identical signature and the whole
    * sign→band→join→verify pipeline sits under the hash gate (the
    * production d4 path keeps its codegen'd kernel, rows-only with its
    * banding-contract twin). Four 15-bit pigeonhole bands: 3 differing
    * bits can touch at most 3 bands, so candidates are COMPLETE for
    * Hamming ≤ 3; verification is codegen'd `bit_count(xor)`. The 60
    * per-bit sums are map-side-combining aggregates on ONE explode pass
    * (one md5 per token row), state 60 longs per doc per partition.
    */
  def simhashOraclePairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bits = 60
    val sums = documents
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("tok"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)")
          .as("m"))
      .groupBy("doc_id")
      .agg(expr(s"SUM(CASE WHEN (m div ${1L << 0}) % 2 = 1 THEN 1 ELSE -1 END)")
        .as("s0"),
        (1 until bits).map(b =>
          expr(s"SUM(CASE WHEN (m div ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END)")
            .as(s"s$b")): _*)
    val sig = sums.select(col("doc_id"),
      (0 until bits).map(b =>
        when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sig"))
    val bk = sig.select(col("doc_id"), col("sig"), explode(array(
      (0 until 4).map(i => concat_ws(":", lit(i),
        expr(s"(sig div ${1L << (15 * i)}) % ${1L << 15}"))): _*))
      .as("band_key"))
    bk.as("a").join(bk.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(expr("a.sig ^ b.sig")).cast("long").as("hd"))
      .distinct()
      .filter(col("hd") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** The persistable LSH BAND INDEX of a corpus: one (doc_id, band_key)
    * row per band — what [[incrementalNearDups]] joins new batches
    * against. Write it bucketed on `band_key` (`bucketBy`) and
    * the incremental candidate join runs with ZERO corpus-side exchange
    * (plan-asserted in `DedupSimilaritySpec`).
    */
  def bandIndex(documents: DataFrame, numHashes: Int = 32, bands: Int = 8): DataFrame =
    lshBuckets(minhashSignatures(documents, numHashes), bands, numHashes / bands)

  /** INCREMENTAL near-dup detection: an incoming batch against the
    * EXISTING corpus through the corpus's precomputed [[bandIndex]] — the
    * production shape for corpus maintenance at 100 TB, where re-LSHing
    * petabytes per ingest is not an option:
    *
    *  - the corpus side contributes only its stored band rows (index-
    *    sized, never the text) to the candidate join;
    *  - corpus TEXT is touched only for docs that land in a candidate
    *    pair (semi-join pruning — point-lookup-sized at realistic dup
    *    rates), to exact-verify Jaccard;
    *  - cost scales with |incoming| + |collisions|, independent of
    *    corpus size.
    *
    * Same banding/verify semantics as [[nearDupPairs]], so at threshold
    * 0.9 the banded recall argument of d3b applies and the output equals
    * exact cross-set Jaccard (driver-proven as `d10_incremental_dedup`).
    */
  def incrementalNearDups(corpusIndex: DataFrame, corpus: DataFrame,
      incoming: DataFrame, threshold: Double = 0.9,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val newBands = bandIndex(incoming, numHashes, bands)
    // same diamond as nearDupPairs: the candidate set feeds both semi
    // joins and the pair join (3 reads), so it is materialized once
    val cand = Materialize(corpusIndex
      .select(col("band_key"), col("doc_id").as("corpus_doc"))
      .join(newBands.select(col("band_key"), col("doc_id").as("new_doc")),
        Seq("band_key"))
      .select("new_doc", "corpus_doc")
      .distinct())
    val shN = SetOverlap.shingleSets(incoming, cand, "new_doc")
    val shC = SetOverlap.shingleSets(corpus, cand, "corpus_doc")
    SetOverlap.overlap(cand, "new_doc", shN, "corpus_doc", shC)
      .select(col("new_doc"), col("corpus_doc"), SetOverlap.jaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("new_doc", "corpus_doc")
  }

  /** End-to-end curation gate: quality score + language-ID filter, then
    * exact dedup with the deterministic min-id representative — the
    * composed filter a training-data pipeline runs BEFORE the expensive
    * fuzzy pass ([[nearDupPairs]]). All stages are codegen'd column
    * functions over one scan plus the single dedup shuffle.
    */
  def curatedCorpus(documents: DataFrame, minQuality: Int = 3): DataFrame =
    documents
      .filter(qualityScore(col("text")) >= minQuality &&
        langIdHeuristic(col("text")) === "en")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")

  /** Corpus-level signatures: one MinHash signature per group (language),
    * via the custom union aggregator — estimates cross-group shingle
    * overlap without touching document text again.
    */
  def corpusSignatures(documents: DataFrame, numHashes: Int = 32): DataFrame =
    documents
      .select(col("lang"),
        graft.functions.MinHash.minhashTokens(tokens(col("text")), numHashes)
          .as("minhash"))
      .groupBy("lang")
      .agg(graft.functions.MinHashUnionAgg.minhashUnion(col("minhash"), numHashes)
        .as("corpus_signature"))
      .orderBy("lang")

  /** Incremental corpus-signature MERGE — the INSERT path of signature
    * maintenance: a MinHash union signature is an elementwise minimum,
    * so sig(corpus ∪ batch) = min(sig(corpus), sig(batch)) exactly —
    * O(groups) arithmetic over stored signatures, NO document re-read.
    * This is the asymmetry with erasure ([[Erasure
    * .repairCorpusSignatures]]): inserts merge for free (min is
    * associative/commutative/idempotent), deletes must re-aggregate
    * affected groups (min admits no subtraction). Groups present on one
    * side only pass through unchanged. Contract-proven as d12.
    */
  def mergeCorpusSignatures(stored: DataFrame, batchSigs: DataFrame,
      groupCol: String = "lang"): DataFrame =
    stored.select(col(groupCol), col("corpus_signature").as("a"))
      .join(batchSigs.select(col(groupCol), col("corpus_signature").as("b")),
        Seq(groupCol), "full_outer")
      .select(col(groupCol),
        when(col("a").isNull, col("b"))
          .when(col("b").isNull, col("a"))
          .otherwise(zip_with(col("a"), col("b"), (x, y) => least(x, y)))
          .as("corpus_signature"))
      .orderBy(groupCol)

  /** Driver-witnessed signature-maintenance contract (d12): merging the
    * stored corpus signatures with a content-addressed batch's
    * signatures must equal the signatures computed over the full corpus
    * — a wrong merge function (max, concat, first-wins) or a dropped
    * one-sided group flips a boolean and fails the driver gate.
    */
  def signatureMergeContract(documents: DataFrame,
      numHashes: Int = 32): DataFrame = {
    val corpus = documents.filter(TextOps.hexNibble("doc_id") =!= 7)
    val batch = documents.filter(TextOps.hexNibble("doc_id") === 7)
    val merged = mergeCorpusSignatures(
      corpusSignatures(corpus, numHashes), corpusSignatures(batch, numHashes))
    oneRow(rowCount(batch, "n_batch"), // an empty batch passes vacuously
        rowCount(corpus, "n_corpus"),
        diffCounts(merged, corpusSignatures(documents, numHashes), "extra", "missing"))
      .select(
        (col("n_batch") > 0 && col("n_corpus") > 0).as("split_nonempty"),
        (col("extra") === 0 && col("missing") === 0).as("merge_equal"))
  }

  /** SimHash near-dup: 64-bit fingerprint via the custom Catalyst
    * expression, candidates via chunk banding with `maxHamming + 1`
    * chunks — the pigeonhole guarantee: a pair within Hamming distance
    * `maxHamming` has at most `maxHamming` differing chunks, so at least
    * one of the `maxHamming + 1` chunks matches exactly. Verified with
    * `bit_count(a XOR b)`. Narrower chunks (higher maxHamming) mean more
    * bucket collisions — at corpus scale keep maxHamming small.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      "need at least 2-bit chunks over 64 bits")
    val numChunks = maxHamming + 1
    val chunks = simhashChunks(documents, numChunks)
    val a = chunks.select(col("chunk_id"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = chunks.select(col("chunk_id"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk_id", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Driver-witnessed CONTRACT for the SimHash banding (d5b pattern):
    * DuckDB cannot compute SimHash, so the d4 pair set itself is
    * rows-only — but the pigeonhole guarantee ("banding finds EXACTLY
    * the Hamming-ball pairs") is checkable engine-side against the
    * brute-force all-pairs scan, and the resulting booleans hash-compare
    * against a TRUE-emitting oracle. A wrong chunk mask, width split, or
    * band join key silently loses pairs in d4; here it flips `complete`
    * and fails the driver gate. Brute force is a conditioned
    * nested-loop join — quadratic BY DESIGN (that is what makes it a
    * witness), so the checked sub-corpus is PINNED at fixture scale
    * (r11, found by the full-registry sf10 gate: at 500k docs the
    * all-pairs leg was 1.25e11 bit_count pairs, and Spark had demoted
    * the over-threshold build side from broadcast-NL to a shuffled
    * CartesianProduct — killed after 50+ min): docs are kept when
    * xxhash64(doc_id) ≡ 0 (mod ⌈n/50000⌉) — the d3b/d22 derandomized
    * slice pattern, deterministic across runs. The modulus is 1 through
    * sf1, so every existing gate is bit-identical; beyond, BOTH legs
    * (brute and banded) see the same ~50k-doc sub-corpus, and the
    * pigeonhole property being contracted is scale-free, so the witness
    * keeps its power while the pair count stays pinned at the sf1 cost.
    * The build side is explicitly broadcast (~50k sigs = sub-MB) so the
    * plan stays a broadcast nested loop at any corpus size.
    */
  def simhashContract(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nDocs = documents.count()
    val mod = math.max(1L, (nDocs + 49999L) / 50000L)
    val sampled = if (mod == 1L) documents
      else documents.filter(pmod(xxhash64(col("doc_id")), lit(mod)) === 0)
    val sigs = sampled.select(col("doc_id"), simhash64(tokens(col("text"))).as("sig"))
    val brute = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(broadcast(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))),
        col("doc_a") < col("doc_b"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxHamming)
      .select("doc_a", "doc_b")
    val banded = simhashPairs(sampled, maxHamming).select("doc_a", "doc_b")
    // both legs are pair SETS (distinct doc ids, doc_a < doc_b), so one
    // full outer join counts both / brute only / banded only in one
    // aggregate, and the quadratic brute leg runs once
    brute.withColumn("in_brute", lit(true))
      .join(banded.withColumn("in_banded", lit(true)), Seq("doc_a", "doc_b"),
        "full_outer")
      .agg(count(col("in_brute")).as("n_brute"),
        count(when(col("in_banded").isNull, true)).as("n_missed"),
        count(when(col("in_brute").isNull, true)).as("n_spurious"))
      .select(
        (col("n_brute") > 0).as("nonempty"), // guards a vacuous pass
        (col("n_missed") === 0).as("complete"),
        (col("n_spurious") === 0).as("sound"))
  }

  /** Connected components over an undirected edge set. Returns
    * (node, component) where component = the minimum node id reachable;
    * a node whose only edges are self-loops is its own singleton.
    *
    * Size-adaptive, with no option of its own: the deduplicated pair set
    * is checkpointed once with its row count observed for free, and each
    * distributed round's checkpoint observes its own. As soon as the
    * current edge set × 16 bytes fits `spark.sql.autoBroadcastJoinThreshold`
    * (the size Spark already collects to the driver for a broadcast —
    * [[graft.spark.Materialize.fitsOnDriver]]), the edges are
    * collected once and the components finish on the driver as a
    * min-label union-find over primitive arrays ([[componentsOnDriver]]).
    * A graph that fits from the start never schedules a round and comes
    * back as a local relation. Labels are component minima on both paths, so
    * the rows are the same, and so are the column types and nullability
    * (two nullable longs). A threshold of -1 keeps the distributed
    * rounds for every size.
    *
    * Distributed rounds: the alternating large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014).
    *
    * Why not plain min-label propagation: propagation needs O(diameter)
    * rounds — a chain of near-dup docs (common in crawl data: A≈B≈C≈…)
    * makes that linear in cluster size. The alternating algorithm
    * converges in O(log² n) rounds regardless of shape, and each round is
    * two hash aggregations + two hash joins over the CURRENT edge set
    * (which shrinks toward one star per component) — no adjacency lists
    * are ever materialized per node, so a 100 TB pair set is just a few
    * shuffles of its own size.
    *
    *  - large-star: every node connects its LARGER neighbors to its
    *    minimum neighbor (or itself) — long tendrils collapse toward
    *    minima without ever increasing edge count.
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    to their collective minimum — stars re-root at the true minimum.
    *
    * Each round is materialized ([[graft.spark.Materialize.round]], which
    * also releases the round it supersedes): the fixpoint loop would
    * otherwise grow an exponentially deep lazy plan (the classic
    * iterative-algorithm trap on Spark).
    *
    * `maxRounds` bounds the distributed rounds and COUNTS the final no-op
    * round that detects convergence (the detector reads a round's input):
    * a graph whose star forest forms after r rounds needs maxRounds ≥
    * r + 1. The driver finish has no rounds and cannot fail to converge.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.sql.Observation
    val spark = edges.sparkSession
    val (s, d) = (col("src").cast("long"), col("dst").cast("long"))
    // canonical orientation as a per-row swap, not least/greatest: those
    // skip nulls and would turn (null, v) into a self-loop, losing the
    // null node the node universe keeps; a pair with a null keeps its
    // other end in src. dst has no ELSE branch, so it is nullable, and
    // so is every column the rounds derive from it: the output schema
    // is the same whichever path finishes and however many rounds run.
    // Self-loops stay in this checkpoint: (v, v) still makes v a node.
    // pairRows, |E0| with self-loops, is the duplicate guard's bound (below).
    val (pairs, pairRows) = Materialize.counted(edges
      .select(when(s <= d, s).otherwise(coalesce(d, s)).as("src"),
        when(s <= d, d).when(s > d, s).as("dst"))
      .distinct())
    var rows = pairRows

    // Convergence (r12 rewrite): the edge set is the answer shape — a
    // forest of stars rooted at component minima — exactly when EVERY
    // node is a root (all neighbors larger) or a leaf (exactly one
    // neighbor, and it is smaller): a leaf's single smaller neighbor
    // must itself be a root, whose neighbors are then all leaves, so
    // each component is one star. largeStar's per-node groupBy already
    // computes min-neighbor; one extra count column turns it into this
    // test, and an observe() on the join output (every node appears as
    // a `u` group in bidir) folds the global AND DURING the round's own
    // checkpoint job. Per-round convergence is therefore FREE — the
    // previous shape paid a 2|E| node-keyed shuffle + a separate action
    // (isStarForest) every round. The detector reports on the round's
    // INPUT, so the loop runs exactly one no-op round past the fixpoint;
    // star forests are fixpoints of both stars (a duplicate-free forest
    // comes back row for row), so that round's output is the answer.
    //
    // Duplicate discipline (r11 dropped largeStar's distinct, r12 drops
    // smallStar's): largeStar emits one row per input row (the v > u
    // half of bidir); smallStar emits, per u-group, its rows with v ≠ m
    // plus one toRoot row, and at least one row has v = m — so no round
    // emits more rows than it reads, and every round stays within the
    // deduplicated input's row count. Both groupBy-min aggregates absorb
    // duplicates, and toRoot (one row per u-group) re-emits a formed
    // forest exactly deduplicated — so the fixpoint multiset is the
    // DISTINCT star forest with no distinct() exchange paid per round. A
    // duplicated edge makes its dst's bidir count 2, failing the leaf
    // test — the detector treats dup-carrying forests as unconverged,
    // which costs at most one extra (cheap, shrunken) round until toRoot
    // dedups, and never a wrong answer. The observed per-round count
    // checks the row bound instead of trusting the argument: a round
    // past it is distinct()'d.

    // One alternating round (largeStar then smallStar) with the inline
    // forest detector on the round's input; m ≤ u < v after largeStar,
    // m < v after smallStar.
    def starRound(cur: DataFrame, obs: Observation): DataFrame = {
      val bidir = cur.select(col("src").as("u"), col("dst").as("v"))
        .union(cur.select(col("dst").as("u"), col("src").as("v")))
      val mL = bidir.groupBy("u").agg(min("v").as("mv"), count(lit(1)).as("deg"))
        .select(col("u"), least(col("mv"), col("u")).as("m"),
          // root: all neighbors larger; leaf: single smaller neighbor.
          // mv = u impossible (self-loops removed); duplicate edges push
          // deg past 1 and correctly fail the leaf test.
          (col("mv") > col("u") ||
            (col("deg") === 1 && col("mv") < col("u"))).as("starred"))
      val large = bidir.join(mL, "u")
        .observe(obs,
          coalesce(min(col("starred")), lit(true)).as("input_is_forest"))
        .filter(col("v") > col("u"))
        .select(col("m").as("src"), col("v").as("dst"))
      // smallStar: group each edge under its LARGER endpoint
      val dir = large.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mS = dir.groupBy("u").agg(min("v").as("m"))
      val reRooted = dir.join(mS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("m").as("src"), col("v").as("dst"))
      val toRoot = mS.select(col("m").as("src"), col("u").as("dst"))
      reRooted.union(toRoot)
    }

    // Observe metrics don't arrive inside a streaming foreachBatch body
    // (the cloned session completes the Observation with an empty row —
    // the ingest-sink specs caught it); the fallback runs the SAME
    // root-or-leaf predicate as its own small aggregate job over the
    // round's input — one extra job per round, only in such contexts,
    // and still cheaper than the old 2|E| roles shuffle.
    def forestFlagJob(cur: DataFrame): Boolean = {
      val bidir = cur.select(col("src").as("u"), col("dst").as("v"))
        .union(cur.select(col("dst").as("u"), col("src").as("v")))
      bidir.groupBy("u").agg(min("v").as("mv"), count(lit(1)).as("deg"))
        .agg(coalesce(min(col("mv") > col("u") ||
          (col("deg") === 1 && col("mv") < col("u"))), lit(true)).as("f"))
        .head().getBoolean(0)
    }
    var e = pairs.filter(col("src") =!= col("dst"))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds &&
        !Materialize.fitsOnDriver(spark, rows)) {
      val forestObs = Observation()
      // the new round supersedes `e`, whose blocks are released once it
      // is materialized: dead rounds would otherwise hold |E|-sized RDDs
      // in executor storage for the whole fixpoint (r11, the 8 GB sf10
      // discipline). Round 0's input is a filter over `pairs`, which
      // stays: it is the node universe.
      e = Materialize.round(e) {
        val (next, n) = Materialize.counted(starRound(e, forestObs))
        converged = Materialize.observedMetric(spark, forestObs, "input_is_forest")
          .map(_.asInstanceOf[Boolean])
          .getOrElse(forestFlagJob(e))
        rows = n
        if (rows > pairRows) Materialize.round(next)(Materialize(next.distinct()))
        else next
      }
      round += 1
    }
    require(converged || Materialize.fitsOnDriver(spark, rows),
      s"connectedComponents did not converge in $maxRounds rounds")
    if (round == 0) {
      // the driver saw every pair, self-loops and nulls included
      componentsOnDriver(pairs.collect(), spark)
    } else {
      val members =
        if (converged) e.select(col("dst").as("node"), col("src").as("component"))
        else Materialize.round(e)(componentsOnDriver(e.collect(), spark))
      // fixpoint is a forest of stars: every edge is (component-min,
      // member); nodes outside it (self-loop-only, null) label themselves
      val roots = pairs.select(explode(array(col("src"), col("dst"))).as("node"))
        .distinct()
        .join(members, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("component"))
      members.union(roots)
    }
  }

  /** The driver finish of [[connectedComponents]]: a min-label
    * union-find over collected (src, dst) pairs. Node ids are sorted
    * once into a primitive array and edges become index pairs, so
    * nothing is boxed per step; linking the larger root under the
    * smaller keeps every root its set's minimum index, i.e. the
    * component's minimum id. Every non-null endpoint is a node
    * (self-loop pairs included); a null endpoint surfaces as one
    * (null, null) row, as the distributed node universe does.
    */
  private def componentsOnDriver(pairs: Array[Row],
      spark: SparkSession): DataFrame = {
    val ends = Array.newBuilder[Long]
    val lo = new Array[Long](pairs.length)
    val hi = new Array[Long](pairs.length)
    var m = 0
    var hasNull = false
    for (r <- pairs) {
      if (!r.isNullAt(0)) ends += r.getLong(0)
      if (!r.isNullAt(1)) ends += r.getLong(1)
      if (r.isNullAt(0) || r.isNullAt(1)) hasNull = true
      else { lo(m) = r.getLong(0); hi(m) = r.getLong(1); m += 1 }
    }
    val ids = sortedIds(ends.result())
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (i <- 0 until m) {
      val a = find(java.util.Arrays.binarySearch(ids, lo(i)))
      val b = find(java.util.Arrays.binarySearch(ids, hi(i)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val out = new java.util.ArrayList[Row](ids.length + 1)
    for (i <- ids.indices) out.add(Row(ids(i), ids(find(i))))
    if (hasNull) out.add(Row(null, null))
    spark.createDataFrame(out, StructType(Seq(
      StructField("node", LongType, nullable = true),
      StructField("component", LongType, nullable = true))))
  }

  /** `ids` sorted and deduplicated (sorts in place): dense node indexing
    * by binary search for the driver-side graph finishes.
    */
  private[operators] def sortedIds(ids: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(ids)
    var m = 0
    for (i <- ids.indices)
      if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
    java.util.Arrays.copyOf(ids, m)
  }

  /** Duplicate CLUSTERS: the transitive closure of the near-dup relation.
    * Pairwise output ([[nearDupPairs]]) under-reports duplication — if
    * A≈B and B≈C, all three are one duplication cluster even when A,C
    * don't pair directly. Edges = LSH pairs at `threshold`, components via
    * [[connectedComponents]], every document labeled with its cluster's
    * min doc_id (singletons label themselves — no join fan-out, the
    * label set is only docs that appear in some pair).
    */
  def dupClusters(documents: DataFrame, threshold: Double = 0.9): DataFrame = {
    val edges = nearDupPairs(documents, threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = connectedComponents(edges)
    val labeled = documents.select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    // cluster_size via a keyed window, not a groupBy + self-join: the
    // aggregate-and-join form would execute the labeled lineage twice
    labeled
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")).cast("int"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Quality-aware KEEP policy per near-dup cluster: instead of the
    * min-id survivor every dedup stage defaults to ([[exactDedup]],
    * [[Similarity.semDedup]]), keep each cluster's HIGHEST-QUALITY member
    * (ties → smallest doc_id) — the curation rule real pipelines want,
    * since the min-id copy of a boilerplate-ridden mirror set is rarely
    * the cleanest one. Composes [[dupClusters]] (near-dup connected
    * components) with the integer quality score.
    *
    * Scale shape: one doc_id equi-join of labels to scores, then a
    * per-cluster max_by aggregate (partial-agg friendly: max_by merges
    * associatively) — no window over the corpus, no per-cluster sort.
    * Singleton clusters pass through as their own representative.
    */
  def clusterRepresentatives(documents: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    import graft.functions.TextFunctions.qualityScore
    import org.apache.spark.sql.functions.{count => fcount, max, max_by, struct}
    val clusters = dupClusters(documents, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val scored = documents
      .select(col("doc_id"), qualityScore(col("text")).as("quality_score"))
    clusters.join(scored, "doc_id")
      .groupBy("cluster_id")
      .agg(
        max_by(col("doc_id"),
          struct(col("quality_score"), (-col("doc_id")).as("neg"))).as("rep_doc"),
        max(col("quality_score")).as("rep_quality"),
        fcount(lit(1)).as("cluster_size"))
      .orderBy("cluster_id")
  }

  /** [[SetOverlap.dfOrdered]] by `doc_id`, plus the AllPairs prefix
    * length `p = n − ⌈num·n/den⌉ + 1 ≥ 1` in exact integer arithmetic:
    * the per-doc state [[prefixFilterJoin]] and [[containmentJoin]]
    * generate candidates from and verify against.
    */
  private def allPairsDocs(documents: DataFrame, num: Long, den: Long): DataFrame =
    SetOverlap.dfOrdered(documents, "doc_id")
      .withColumn("p", col("n") - expr(s"($num * n + ${den - 1}) div $den") + 1)

  /** EXACT Jaccard similarity JOIN via prefix filtering (the AllPairs /
    * PPJoin family — Bayardo et al., WWW'07; Xiao et al., WWW'08): every
    * pair of documents with shingle-Jaccard ≥ num/den, with NO
    * approximation — the subquadratic exact counterpart to the
    * probabilistic MinHash path ([[nearDupPairs]]), for thresholds where
    * banded-LSH recall < 1 would silently drop qualifying pairs.
    *
    * Under one global token order (ascending document frequency, ties by
    * token — rarest first, the canonical AllPairs order), a set of size n
    * keeps a PREFIX of p = n − ceil(t·n) + 1 tokens. If J(x,y) ≥ t, the
    * smallest common token (in that order) lies inside BOTH prefixes —
    * were it past x's prefix, the overlap would fit in the last
    * ceil(t·x) − 1 positions, i.e. < t·|x| ≤ t·max ≤ |x∩y|,
    * a contradiction — so an equi-join on prefix tokens generates a
    * COMPLETE candidate set. Candidates are exact-verified with the
    * integer cross-multiplication |∩|·den ≥ |∪|·num: no floating point
    * anywhere, so the threshold decision is engine-exact (the referee
    * spec and the DuckDB oracle reproduce it bit-for-bit).
    *
    * Scale shape: candidate generation joins ONLY prefix tokens —
    * (1−t)·n + 1 per doc, and by the df-order those are the RAREST
    * tokens, so equi-join buckets stay small even on a skewed vocabulary
    * (the stopword shingle that appears everywhere lands in nobody's
    * prefix). The df aggregate and the ordered regroup are token-level
    * shuffles ∝ corpus tokens — linear, the price of exactness;
    * verification touches only candidate docs, and the length filter
    * min·den ≥ max·num prunes inside the join condition before a pair
    * ever materializes.
    */
  def prefixFilterJoin(documents: DataFrame, thresholdNum: Int = 4,
      thresholdDen: Int = 5): DataFrame = {
    require(thresholdNum > 0 && thresholdNum <= thresholdDen,
      s"prefixFilterJoin: threshold $thresholdNum/$thresholdDen not in (0, 1]")
    val (num, den) = (thresholdNum.toLong, thresholdDen.toLong)
    // consumed by both self-join sides AND verification
    val docsArr = allPairsDocs(documents, num, den)
    // df=1 prefix tokens are dropped AFTER posexplode (original positions
    // kept for the PPJoin bound): a globally-unique shingle can't match
    // another doc, and dropping it is completeness-safe — a qualifying
    // pair's smallest common token has df ≥ 2 and stays on both sides.
    val prefixes = docsArr
      .selectExpr("doc_id", "n", "mask0", "mask1",
        "posexplode(slice(ord, 1, CAST(p AS INT))) AS (pos, o)")
      .where("o.df >= 2")
      .selectExpr("doc_id", "n", "mask0", "mask1", "pos", "o.shingle AS shingle")
    // join condition carries four progressively tighter pruning filters,
    // all evaluated BEFORE a pair materializes: length (min·den ≥ max·num),
    // then the PPJoin positional bound — a match at 0-based positions
    // (i, j) caps the overlap at 1 + min(na−i−1, nb−j−1), which must
    // reach α = ceil(num·(na+nb)/(num+den)), the overlap Jaccard ≥ t
    // demands. Per-row filtering is safe: for a truly-similar pair the
    // bound provably holds at its FIRST common token (all other common
    // tokens sit after it in both docs), so that row always survives.
    // Fourth, the 128-bit mask bound, both directions: Jaccard ≥ t forces
    // |A∖B| ≤ na − α and |B∖A| ≤ nb − α, and bit_count(maskA & ~maskB)
    // never exceeds |A∖B| (see SetOverlap.dfOrdered) — so either inequality
    // failing proves the pair cannot qualify. All codegen'd integer ops.
    // Measured: 43.5k candidates → far fewer verify rows on the fixture.
    val alphaSql =
      s"(($num * (a.n + b.n) + ${num + den - 1}) div ${num + den})"
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * den >= col("b.n") * num &&
          col("b.n") * den >= col("a.n") * num &&
          (least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))) *
            (num + den) >= (col("a.n") + col("b.n")) * num &&
          expr("bit_count(a.mask0 & ~b.mask0) + bit_count(a.mask1 & ~b.mask1)")
            .cast("long") <= col("a.n") - expr(alphaSql) &&
          expr("bit_count(b.mask0 & ~a.mask0) + bit_count(b.mask1 & ~a.mask1)")
            .cast("long") <= col("b.n") - expr(alphaSql))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    SetOverlap.overlap(cand, "doc_a", docsArr, "doc_b", docsArr)
      .select("doc_a", "doc_b", "n_inter", "n_union")
      .filter(col("n_inter") * den >= col("n_union") * num)
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT set-CONTAINMENT join: every ORDERED pair (a, b) where doc a's
    * shingle set is ≥ num/den contained in doc b's —
    * |A∩B| ≥ t·|A| — the asymmetric complement of [[prefixFilterJoin]]'s
    * symmetric Jaccard. Containment is what catches quote-inclusion,
    * truncated crawls, and "document B = document A + boilerplate" —
    * pairs whose Jaccard is low precisely BECAUSE the container is
    * bigger, so no symmetric threshold finds them.
    *
    * Candidate generation under the same global (df, token) order as
    * prefixFilterJoin: the CONTAINED side keeps its AllPairs prefix of
    * p = |A| − ⌈t·|A|⌉ + 1 rarest tokens (if |A∩B| ≥ ⌈t·|A|⌉, the
    * smallest common token cannot sit past A's prefix — the overlap
    * would then fit in ⌈t·|A|⌉ − 1 positions, a contradiction). The
    * CONTAINER side cannot prune positionally (the overlap may sit
    * anywhere inside B), so it indexes ALL its tokens — the asymmetry of
    * the predicate made physical. Join work per token t is
    * df_prefix(t) × df(t): the first factor collapses for exactly the
    * high-df tokens that would otherwise explode the product (a stopword
    * shingle lands in nobody's prefix), which is the containment-join
    * skew bound. Verification ([[SetOverlap.overlap]]) is the integer
    * test |∩|·den ≥ |A|·num, and the size filter |B|·den ≥ |A|·num
    * prunes inside the join condition.
    */
  def containmentJoin(documents: DataFrame, thresholdNum: Int = 4,
      thresholdDen: Int = 5): DataFrame = {
    require(thresholdNum > 0 && thresholdNum <= thresholdDen,
      s"containmentJoin: threshold $thresholdNum/$thresholdDen not in (0, 1]")
    val (num, den) = (thresholdNum.toLong, thresholdDen.toLong)
    val docsArr = allPairsDocs(documents, num, den)
    // contained role: prefix tokens only; container role: every token —
    // both sides drop df=1 shingles BEFORE exploding: a globally-unique
    // shingle exists in exactly one doc, so it can never equi-match a
    // different doc, and most of a real corpus's shingles are unique
    // (completeness holds: the smallest COMMON token of a qualifying pair
    // is in ≥ 2 docs by definition, so it survives the filter on both
    // sides). The `ord` struct array carries df precisely so this filter
    // needs no re-join.
    val prefixes = docsArr
      .selectExpr("doc_id", "n", "p", "mask0", "mask1",
        "posexplode(slice(ord, 1, CAST(p AS INT))) AS (pos, o)")
      .where("o.df >= 2")
      .selectExpr("doc_id", "n", "p", "mask0", "mask1", "pos",
        "o.shingle AS shingle")
    val full = docsArr
      .selectExpr("doc_id", "n", "mask0", "mask1", "posexplode(ord) AS (pos, o)")
      .where("o.df >= 2")
      .selectExpr("doc_id", "n", "mask0", "mask1", "pos", "o.shingle AS shingle")
    // positional bound, containment form: a match at 0-based positions
    // (i, j) caps the remaining common tokens at min(na−i, nb−j), which
    // must reach α = ⌈num·na/den⌉ — safe per-row because a qualifying
    // pair's FIRST common token has all α overlap tokens at or after it
    // on both sides. High-df shingles sit LATE in the df-ascending order,
    // so this prunes exactly the common-shingle matches that generate
    // the candidate bulk. The 128-bit mask bound (see SetOverlap.dfOrdered) adds
    // the contained-side miss budget: |A∖B| ≤ na − ⌈t·na⌉ = p − 1 for any
    // qualifying pair, and bit_count(maskA & ~maskB) ≤ |A∖B| — evaluated
    // as codegen'd integer ops before a candidate row ever materializes.
    val cand = prefixes.as("a").join(full.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n") * den >= col("a.n") * num &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) * den >=
            col("a.n") * num &&
          expr("bit_count(a.mask0 & ~b.mask0) + bit_count(a.mask1 & ~b.mask1)")
            .cast("long") <= col("a.p") - 1L)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    SetOverlap.overlap(cand, "doc_a", docsArr, "doc_b", docsArr)
      .filter(col("n_inter") * den >= col("n_a") * num)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a").as("na"),
        col("n_b").as("nb"))
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT EDIT-DISTANCE similarity join (PassJoin-style segment
    * pigeonhole): every unordered pair of documents whose first
    * `prefixLen` characters are within Levenshtein distance `k`, found
    * WITHOUT an all-pairs comparison.
    *
    * The operator completes the similarity-join family: [[prefixFilterJoin]]
    * catches token-SET overlap (word reorderings score high),
    * [[containmentJoin]] catches asymmetric inclusion, and this catches
    * character-level SEQUENCE closeness — typo variants, OCR noise,
    * single-token substitutions — pairs whose shingle Jaccard can be low
    * because one edited character kills every shingle crossing it.
    *
    * Candidate generation is a TWO-SURVIVING-SEGMENT pigeonhole
    * (PartEnum-style double signature over PassJoin-style contiguous
    * segments; Arasu, Ganti, Kaushik 2006 / Li, Deng, Wang, Feng 2011):
    * split each string into k+2 contiguous segments. An alignment with
    * ≤ k edits touches at most k segments, so at least TWO survive
    * UNEDITED and appear verbatim in the other string, each at a start
    * position shifted by the net indel drift before it — for surviving
    * segments i < j the shifts satisfy |s₁| + |s₂−s₁| ≤ k (disjoint op
    * sets bound each drift leg). Each document therefore indexes its
    * C(k+2, 2) zero-shift SEGMENT-PAIR keys and probes with the ≤ 41
    * (k=4) feasible shift combinations per pair; candidates come from
    * ONE equi-join on (i, j, seg_i ⧺ seg_j) — a hash shuffle, never a
    * cartesian.
    *
    * Why the pair key, not PassJoin's single-segment key (r11, found by
    * the full-registry sf10 gate): a single ~L/(k+1)-char segment of
    * vocabulary text is Zipf-HOT — at sf10 (500k docs) the most common
    * 7-char first-segment appeared in 19,008 docs and the single-segment
    * join's matched-row volume measured ≈ 28 BILLION (Σ df² ≈ 3.1e9 per
    * probe shift) — an asymptotic n² with the hot-key df ∝ n, OOM at any
    * heap. The concatenated two-segment key (~11 chars) is the
    * combination-banding lesson from d23/m3 applied to edit distance:
    * measured at the same corpus, join volume 643M rows (43× less), max
    * key multiplicity 3,105 vs 19,008, and the fused verify below keeps
    * the surviving-pair distinct to true matches only.
    *
    * Only documents with at least `prefixLen` characters participate —
    * the key is then exactly `prefixLen` chars on every side, which keeps
    * the equal-length form of the pigeonhole argument (infeasible shifts
    * that would run past either end are pruned at plan build) and
    * matches the oracle's identical WHERE clause.
    *
    * VERIFY-INLINE (the s17 lesson): both join sides carry their 32-char
    * string, the codegen'd banded `levenshtein(·,·,k)` runs directly on
    * the matched-row stream, and only TRUE pairs reach the final
    * distinct — no intermediate candidate-pair materialization, no
    * distinct over hundreds of millions of candidate slots, no re-join
    * to attach strings. Work ∝ corpus + key collisions; the heaviest
    * state is the spillable (i, j, pair-key) shuffle.
    */
  def editDistanceJoin(documents: DataFrame, k: Int = 4,
      prefixLen: Int = 32): DataFrame = {
    editDistanceMatches(documents, k, prefixLen)
      // OnceGate pins the banded levenshtein to ONE evaluation site
      // (r12): the pushed dist >= 0 filter otherwise lands in the join
      // CONDITION while the projection re-derives dist — two O(k·L)
      // kernels per matched row (643M matched rows at sf10). The verify
      // stays inline: join → project → filter → distinct is one codegen
      // pipeline, failing rows still never reach the distinct exchange.
      .withColumn("dist", graft.functions.OnceGate.once(
        levenshtein(col("s_a"), col("s_b"), k).cast("long")))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** The matched-row stream of [[editDistanceJoin]]'s two-segment
    * pigeonhole join, pre-verify and pre-distinct: one row per
    * (probe, index) key collision with id-ordered doc ids and both
    * 32-char strings aboard. Shared by the fused join and the pruning
    * probe.
    */
  private def editDistanceMatches(documents: DataFrame, k: Int,
      prefixLen: Int): DataFrame = {
    val docs = editDistancePrefixes(documents, prefixLen)
    // One generator per side, one scan of the corpus each. Composed from
    // builtins, the keys need one union branch per segment pair (15 at
    // k = 4), each re-scanning the documents and exploding up to 41
    // concat(substring, ...) arms, and that plan costs more to build and
    // plan than to run: traced on the sf0.01 benchmark fixture (seed 12,
    // local[2]), d20 took 0.62 s to build, 0.20 s to plan and 36 tasks
    // that way, against 0.07 s, 0.04 s and 8 tasks with the generator.
    def keys(probe: Boolean) = docs.select(col("doc_id"), col("s"),
      graft.functions.PigeonholeKeys.pigeonholeKeys(col("s"), k, prefixLen, probe))
    // The pigeonhole guarantee is SYMMETRIC: an optimal ≤ k-edit
    // alignment touches ≤ k segments of EITHER side's segmentation, so
    // ≥ 2 of the INDEX side's segments always survive verbatim in the
    // probe side at feasible shifts — every qualifying unordered pair
    // matches in BOTH (probe=a, index=b) and (probe=b, index=a)
    // orientations (the shift set is sign-symmetric). Keeping only the
    // probe.id < index.id orientation (r12) therefore loses nothing and
    // HALVES the matched-row stream — half the levenshtein kernels and
    // half the distinct's input. Strings ride both sides so the verify
    // needs no re-join (levenshtein is symmetric).
    keys(probe = true).as("a").join(keys(probe = false).as("b"),
        col("a.i") === col("b.i") && col("a.j") === col("b.j") &&
          col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
  }

  /** (doc_id, s): the first `prefixLen` characters of every document that
    * has at least that many — the only documents [[editDistanceJoin]] pairs.
    */
  private def editDistancePrefixes(documents: DataFrame, prefixLen: Int): DataFrame =
    documents
      .filter(length(col("text")) >= prefixLen)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("s"))

  /** (doc_id, sig, chunk_id, chunk_val): the 64-bit SimHash split into
    * `numChunks` contiguous chunks with widths differing by at most 1.
    */
  private def simhashChunks(documents: DataFrame, numChunks: Int): DataFrame = {
    val base = 64 / numChunks
    val rem = 64 % numChunks
    def start(i: Int) = i * base + math.min(i, rem)
    documents
      .select(col("doc_id"), simhash64(tokens(col("text"))).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until numChunks).map { i =>
          val width = start(i + 1) - start(i)
          val mask = if (width == 64) -1L else (1L << width) - 1L
          struct(lit(i).as("chunk_id"),
            (shiftrightunsigned(col("sig"), start(i)) bitwiseAND lit(mask)).as("chunk_val"))
        }: _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk_id"), col("c.chunk_val"))
  }

  /** CROSS-SOURCE DUPLICATION MATRIX: for every (source_a ≤ source_b)
    * pair, the number of exact-duplicate DOCUMENT PAIRS spanning them —
    * the crawl-overlap readout ("which feeds re-serve each other's
    * content") that decides which source to drop when de-weighting a
    * corpus. Same-source cells count internal duplication C(c,2);
    * cross cells count c_a·c_b over each shared text group.
    *
    * Scale shape: documents collapse to (text-hash, source) counts in ONE
    * map-side-combining aggregate; the pair join runs per HASH GROUP, so
    * its fan-out is bounded by duplicate-group source spread (tiny), and
    * the output is ∝ sources² — metadata-scale regardless of corpus size.
    */
  def crossSourceDups(documents: DataFrame): DataFrame = {
    val counts = documents.filter(col("text").isNotNull)
      .groupBy(md5(col("text")).as("h"), col("source"))
      .agg(count(lit(1)).as("c"))
    val a = counts.select(col("h"), col("source").as("source_a"), col("c").as("ca"))
    val b = counts.select(col("h"), col("source").as("source_b"), col("c").as("cb"))
    a.join(b, Seq("h"))
      .filter(col("source_a") <= col("source_b"))
      .select(col("source_a"), col("source_b"),
        when(col("source_a") === col("source_b"),
          expr("ca * (ca - 1) div 2")).otherwise(col("ca") * col("cb"))
          .as("pairs"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("pairs")).as("n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
      .orderBy("source_a", "source_b")
  }

  /** SORTED-NEIGHBORHOOD candidate pairs (Hernández & Stolfo 1995) —
    * the last classic blocking family the repo lacked, next to banded
    * LSH ([[minhashPairs]]), pigeonhole segments ([[editDistanceJoin]])
    * and positional prefix filtering ([[prefixFilterJoin]]): sort every
    * record by a normalized key, slide a fixed window of `window` rows,
    * and verify only in-window neighbors. Linear candidate volume
    * (≤ w·n pairs) regardless of how the keys cluster — the property
    * that makes SNM the standard choice when LSH's collision bound is
    * itself the risk (many records sharing one band bucket).
    *
    * Sort key: the first `keyLen` chars of the lower-cased,
    * non-alphanumeric-stripped text — near-identical records (typo
    * variants, re-encodings) land adjacent; verification is one
    * codegen'd `levenshtein` on the keys (≤ `maxDist`), both sides of
    * which DuckDB computes identically (semantics pinned green by d20).
    *
    * Scale shape: the sort is NEVER global — rows are range-blocked by
    * the first key char and ranked WITHIN blocks, so the windowed
    * state per reducer is one block, and blocks parallelize (~36 here;
    * at 100 TB widen the block prefix to 2-3 chars — same plan, more
    * blocks). Deliberately NOT blocked by the `lang` label: the fixture
    * plants content duplicates under DIFFERENT language labels, and the
    * normalized key already is the language treatment — gating on a
    * classifier output would structurally miss exactly the dups that
    * matter (measured by [[blockingEval]]: 125‰ → 1000‰ completeness).
    * Known SNM trade, stated: pairs straddling a
    * block boundary are missed, bounded by w pairs per boundary — the
    * multi-pass remedy (a second pass on a rotated key) composes by
    * union. The neighbor match is an EQUI-join on (block, rank+i),
    * i ∈ 1..w — a hash shuffle of the rank frame against itself, no
    * range scan, no cartesian.
    */
  def sortedNeighborhood(documents: DataFrame, window: Int = 4,
      keyLen: Int = 24, maxDist: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    require(window >= 1, s"sortedNeighborhood: window=$window must be >= 1")
    val keyed = documents.select(col("doc_id"),
      substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, keyLen)
        .as("k"))
    val ranked = keyed
      .withColumn("blk", substring(col("k"), 1, 1))
      .withColumn("rn", row_number().over(
        W.partitionBy("blk").orderBy("k", "doc_id")))
    val probes = ranked
      .select(col("blk"), col("doc_id").as("id_a"),
        col("k").as("k_a"),
        explode(expr(s"sequence(1, $window)")).as("i"),
        col("rn"))
      .select(col("blk"), col("id_a"), col("k_a"),
        (col("rn") + col("i")).as("rn"))
    probes
      .join(ranked.select(col("blk"), col("rn"),
          col("doc_id").as("id_b"), col("k").as("k_b")),
        Seq("blk", "rn"))
      // single levenshtein evaluation site (r12) — same duplication
      // mechanism and fix as editDistanceJoin
      .withColumn("dist", graft.functions.OnceGate.once(
        levenshtein(col("k_a"), col("k_b"), maxDist).cast("long")))
      .filter(col("dist") >= 0)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** BLOCKING-SCHEME EVALUATION — the two numbers every entity-resolution
    * paper reports before trusting a blocker: PAIRS COMPLETENESS (what
    * fraction of true duplicate pairs the candidate set captures) and
    * REDUCTION RATIO (what fraction of the n·(n−1)/2 all-pairs space it
    * avoids). Evaluated here for [[sortedNeighborhood]]'s PRE-verification
    * candidates against a normalized-text ground truth (identical
    * lower-cased alphanumeric content — the typo-free dup definition the
    * SNM key itself normalizes toward).
    *
    * Both metrics are exact floor permille of BIGINT counts. n_total_pairs
    * is n·(n−1) div 2 of the record count — BIGINT-safe to ~4·10⁹ records;
    * past that the all-pairs denominator (and only it) needs DECIMAL,
    * noted rather than paid now.
    *
    * Scale shape: candidates come from the linear SNM construction
    * (≤ w·n, never materializing all-pairs); true pairs come from a
    * self-join WITHIN exact-dup groups only (work ∝ Σ group², the same
    * contract as the dup-cluster operators); capture is one equi-join of
    * those two pair sets. Everything reduces to a 1-row frame of counts.
    */
  def blockingEval(documents: DataFrame, window: Int = 4,
      keyLen: Int = 24): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val keyed = documents.select(col("doc_id"),
      regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("nt"))
      .withColumn("k", substring(col("nt"), 1, keyLen))
    val ranked = keyed
      .withColumn("blk", substring(col("k"), 1, 1))
      .withColumn("rn", row_number().over(
        W.partitionBy("blk").orderBy("k", "doc_id")))
    val cand = ranked
      .select(col("blk"), col("doc_id").as("id_a"),
        explode(expr(s"sequence(1, $window)")).as("i"), col("rn"))
      .select(col("blk"), col("id_a"),
        (col("rn") + col("i")).as("rn"))
      .join(ranked.select(col("blk"), col("rn"),
        col("doc_id").as("id_b")), Seq("blk", "rn"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
    // true pairs: self-join restricted to exact-dup groups (cnt > 1)
    val grouped = keyed.groupBy("nt").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val members = keyed.join(grouped.select("nt"), Seq("nt"))
      .select(col("nt"), col("doc_id"))
    val truePairs = members.as("x").join(members.as("y"),
        col("x.nt") === col("y.nt") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val nRecords = documents.agg(count(lit(1)).as("n_records"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTrue = truePairs.agg(count(lit(1)).as("n_true_pairs"))
    val nCapt = truePairs.join(cand, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_captured"))
    nRecords.crossJoin(broadcast(nCand)).crossJoin(broadcast(nTrue))
      .crossJoin(broadcast(nCapt))
      .withColumn("n_total_pairs",
        expr("n_records * (n_records - 1) div 2"))
      .select(col("n_records"), col("n_total_pairs"), col("n_candidates"),
        col("n_true_pairs"), col("n_captured"),
        expr("n_captured * 1000 div nullif(n_true_pairs, 0)")
          .as("completeness_permille"),
        expr("(n_total_pairs - n_candidates) * 1000 div nullif(n_total_pairs, 0)")
          .as("reduction_permille"))
  }

  /** One SNM pass over a (doc_id, k) keyed frame: verified neighbor
    * pairs (levenshtein(k) ≤ maxDist) within the window, as unordered
    * (doc_a, doc_b). Same construction as [[sortedNeighborhood]].
    */
  private def snmPassPairs(keyed: DataFrame, window: Int,
      maxDist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val ranked = keyed
      .withColumn("blk", substring(col("k"), 1, 1))
      .withColumn("rn", row_number().over(
        W.partitionBy("blk").orderBy("k", "doc_id")))
    ranked
      .select(col("blk"), col("doc_id").as("id_a"), col("k").as("k_a"),
        explode(expr(s"sequence(1, $window)")).as("i"), col("rn"))
      .select(col("blk"), col("id_a"), col("k_a"),
        (col("rn") + col("i")).as("rn"))
      .join(ranked.select(col("blk"), col("rn"),
        col("doc_id").as("id_b"), col("k").as("k_b")), Seq("blk", "rn"))
      .filter(levenshtein(col("k_a"), col("k_b"), maxDist) >= 0)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
  }

  /** MULTI-PASS sorted neighborhood — the standard remedy for
    * single-pass SNM's two blind spots, delivered rather than only
    * documented on [[sortedNeighborhood]]: a SECOND pass sorts on the
    * REVERSED normalized text, so (a) an edit inside the leading
    * `keyLen` chars (which scatters pass 1's sort order) leaves the
    * reversed key intact, and (b) pairs split across a pass-1 block
    * boundary get a second, independently-blocked chance. The union is
    * keyed per pair with per-pass provenance flags (`in_fwd`,
    * `in_rev`), so recall attribution — which pass earned which pair —
    * is part of the output, not folklore.
    *
    * Scale shape: exactly two independent [[sortedNeighborhood]]
    * constructions (linear candidates each) plus one hash aggregate on
    * the pair key to merge flags. Passes share nothing at runtime and
    * parallelize; k passes cost k× one pass, the textbook SNM trade.
    */
  def snmMultipass(documents: DataFrame, window: Int = 4,
      keyLen: Int = 24, maxDist: Int = 8): DataFrame = {
    val base = documents.select(col("doc_id"),
      regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("nt"))
    val fwd = snmPassPairs(
      base.select(col("doc_id"), substring(col("nt"), 1, keyLen).as("k")),
      window, maxDist)
    val rev = snmPassPairs(
      base.select(col("doc_id"),
        substring(reverse(col("nt")), 1, keyLen).as("k")),
      window, maxDist)
    fwd.select(col("doc_a"), col("doc_b"), lit(1L).as("f"), lit(0L).as("r"))
      .unionAll(rev.select(col("doc_a"), col("doc_b"),
        lit(0L).as("f"), lit(1L).as("r")))
      .groupBy("doc_a", "doc_b")
      .agg(max("f").as("in_fwd"), max("r").as("in_rev"))
      .orderBy("doc_a", "doc_b")
  }

  /** BAG-semantics (weighted) Jaccard over [[sortedNeighborhood]]'s
    * verified pairs — J_bag = Σₜ min(cₐ,c_b) / Σₜ max(cₐ,c_b) on token
    * MULTISETS, the similarity the set-Jaccard family (d18/d19) is
    * blind to: a document that repeats one phrase 50 times has the same
    * token SET as one mentioning it once, but very different bags —
    * exactly the boilerplate/spam axis a training-corpus dedup cares
    * about. Reported as the exact integer fraction (num, den) — the
    * report-the-fraction contract again.
    *
    * Identity that keeps this cheap: Σmax = sizeₐ + size_b − Σmin, so
    * only the INTERSECTION minimum needs the token-level equi-join (an
    * inner join on shared tokens — work ∝ shared-token occurrences of
    * candidate pairs); bag sizes come from a per-doc aggregate. Pairs
    * sharing no token keep num = 0 via the left join.
    *
    * Scale shape: candidates are SNM-linear; token counts are one
    * map-side-combining (doc, token) aggregate; everything joins on
    * fine-grained keys. No cartesian, no window over rows.
    */
  def bagJaccardPairs(documents: DataFrame, window: Int = 4,
      keyLen: Int = 24, maxDist: Int = 8): DataFrame = {
    val pairs = sortedNeighborhood(documents, window, keyLen, maxDist)
      .select("doc_a", "doc_b")
    val counts = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val sizes = counts.groupBy("doc_id").agg(sum("c").as("sz"))
    val interMin = pairs
      .join(counts.select(col("doc_id").as("doc_a"), col("tok"),
        col("c").as("ca")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("tok"),
        col("c").as("cb")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("ca"), col("cb"))).as("inter_min"))
    pairs
      .join(interMin, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter_min"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col("inter_min").as("jac_num"),
        (col("sa") + col("sb") - col("inter_min")).as("jac_den"))
      .orderBy("doc_a", "doc_b")
  }

  /** FUZZY-DUP CLUSTERS over the SNM relation — the transitive closure
    * of [[sortedNeighborhood]]'s verified pairs via
    * [[connectedComponents]], closing the classic ER pipeline
    * (block → verify → CLUSTER) the same way [[dupClusters]] closes the
    * LSH pipeline: A≈B and B≈C is ONE merge group even when A,C never
    * paired directly (SNM makes this common — they may sit just over a
    * window apart). Labels are component-minimum doc_ids; only docs
    * appearing in some pair emit (the cluster frame joins back to the
    * corpus by absence = singleton, no fan-out).
    *
    * Scale shape: SNM-linear edges into the O(log² n)-round star
    * algorithm — the same 100 TB contract as every other CC consumer.
    */
  def snmClusters(documents: DataFrame, window: Int = 4,
      keyLen: Int = 24, maxDist: Int = 8): DataFrame = {
    val edges = sortedNeighborhood(documents, window, keyLen, maxDist)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(edges)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** TRAIN/EVAL SPLIT LEAKAGE audit over NEAR-dup clusters — the
    * contamination check a benchmark-quality corpus split must pass:
    * a hash split that is perfectly disjoint on doc_ids still leaks if
    * two NEAR-duplicates of the same content land on opposite sides
    * (the eval side then scores memorization, not generalization).
    * [[graft.operators.TextOps.groupSplit]] guards EXACT-dup groups by
    * construction; this audits the stronger near-dup relation
    * ([[snmClusters]]' transitive closure) against the standard
    * md5-nibble split and reports the damage: clusters straddling the
    * boundary and the documents inside them. Zero is the publishable
    * state; anything else is the relabel-or-drop work list.
    *
    * Scale shape: clusters come from the SNM-linear + star-CC path;
    * the audit itself is two hash aggregates over the cluster frame.
    */
  def splitLeakage(documents: DataFrame, sixteenths: Int = 8,
      window: Int = 4, keyLen: Int = 24, maxDist: Int = 8): DataFrame = {
    val clusters = snmClusters(documents, window, keyLen, maxDist)
    val sided = clusters.withColumn("is_train",
      (TextOps.hexNibble("doc_id") < sixteenths).cast("long"))
    val perCluster = sided.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"), sum("is_train").as("n_train"))
      .withColumn("leaky",
        (col("n_train") > 0 && col("n_train") < col("n_docs")).cast("long"))
    perCluster.agg(
      count(lit(1)).as("n_clusters"),
      sum("n_docs").as("n_clustered_docs"),
      sum("leaky").as("n_leaky_clusters"),
      sum(when(col("leaky") === 1L, col("n_docs")).otherwise(0L))
        .as("n_leaky_docs"))
  }

  /** NORMALIZATION FUNNEL — how many "distinct" documents survive each
    * successively more aggressive equality definition: raw bytes →
    * case-folded → whitespace-collapsed → alphanumeric-only. The
    * decide-how-hard-to-dedup diagnostic: each step's delta is exactly
    * the duplicate mass that step's normalization would newly merge, so
    * the funnel tells you whether case folding is enough or the corpus
    * needs the full alnum squeeze (and [[sortedNeighborhood]] beyond
    * that). Monotone by construction — a non-monotone funnel is a
    * normalization bug, which makes this a self-checking artifact.
    *
    * Scale shape: four distinct-counts over one pass of the corpus
    * (each a map-side-combining aggregate); no joins, no windows.
    */
  def normalizationFunnel(documents: DataFrame): DataFrame =
    documents
      .select(col("text"),
        lower(col("text")).as("folded"),
        regexp_replace(trim(lower(col("text"))), "\\s+", " ").as("squeezed"),
        regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("alnum"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_raw"),
        countDistinct(col("folded")).as("n_casefold"),
        countDistinct(col("squeezed")).as("n_wscollapse"),
        countDistinct(col("alnum")).as("n_alnum"))
}
