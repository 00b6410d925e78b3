package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft._
import graft.operators._

/** Driver-contract registry, similarity/ANN (s*) and graph (g*) tiers — split from the monolithic
  * SparkEntry in round 9 (pure mechanical move, entries verbatim).
  * `queries` holds the Spark-side fns, `oracleSql` the DuckDB
  * referee SQL; both are merged into the driver contract by
  * [[graft.SparkEntry]]. Contract rules (same-name aliasing, total
  * ORDER BY, CAST(SUM(..) AS BIGINT) on the oracle side) are
  * documented on SparkEntry and linted by tools/oraclelint.py.
  */
private[graft] object RegistrySimGraph {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Integer-exact 3-iteration PageRank over the customer↔supplier graph.
    "g1_pagerank" -> ((s, dir) => GraphOps.supplierRank(
      Tables.orders(s, dir), Tables.lineitem(s, dir), 25, 3)),
    // Degree-ordered triangle count over the part co-purchase graph
    // (wedges only between out-neighbors — O(m^1.5), no skewed reducer).
    // Registered with the standard cost bounds: baskets capped at 8
    // distinct parts and a deterministic half-vertex sample (p % 2 = 0) —
    // the sf0.1 co-purchase graph is dense (~1.2M edges / 20k parts) and
    // the full wedge volume is intrinsic, not a plan defect. The oracle
    // applies the identical predicates.
    "g2_triangles" -> ((s, dir) =>
      GraphOps.triangleCount(Tables.lineitem(s, dir),
        maxBasket = 8, vertexMod = 2L)),
    // Product families: connected components over the support>=2
    // co-purchase graph (large-star/small-star, per-node min-id labels).
    "g3_components" -> ((s, dir) =>
      GraphOps.coPurchaseComponents(Tables.lineitem(s, dir), minSupport = 2L)),
    // k-core membership (k=2) over the same graph: iterative peel to the
    // fixpoint — structural embeddedness that degree alone can't express.
    "g5_kcore" -> ((s, dir) => GraphOps.kCore(Tables.lineitem(s, dir))),
    // Weighted companion of g4: min-cost <=3-edge walk from the Brand#11
    // seeds, integer costs 10^6 div support, fixed-round Bellman-Ford.
    "g6_cheapest_path" -> ((s, dir) =>
      GraphOps.cheapestPath(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "s1_cosine_topk" -> ((s, dir) => Similarity.bruteForceTopK(Tables.embeddings(s, dir), 0L, 20)),
    // (The hash-seeded LSH near-neighbor-pairs entry was retired in r9 —
    // LSH bucket membership is hash-seeded so it could only ever be
    // rows-only at the gate — and its operator is gone; s17_ann_oracle is
    // the hash-green LCG-derandomized ANN twin and s3_knn_join the exact
    // oracle-proven equivalence evidence.)
    // Exact-integer per-label centroids via a mergeable Aggregator (one
    // (dim+1)-long state per group-partition, no dim-fold explode shuffle).
    "s4_centroids" -> ((s, dir) => Similarity.labelCentroids(Tables.embeddings(s, dir))),
    // IVF coarse-assign / classify-by-prototype: argmin over exact
    // integer squared L2 to the broadcast centroid table.
    "s5_nearest_centroid" -> ((s, dir) => Similarity.nearestCentroid(Tables.embeddings(s, dir))),
    // Exact k-NN JOIN (batch similarity search): top-5 neighbors for each
    // of 5 query vectors, broadcast query side, one corpus scan.
    "s3_knn_join" -> ((s, dir) => Similarity.knnJoin(Tables.embeddings(s, dir), Seq(0L, 1L, 2L, 3L, 4L), 5)),
    // Hard-negative mining: per anchor, cosine ranks 6..15 — past the
    // top-5 positive block, still similar enough to be informative.
    // Same broadcast + WindowGroupLimit shape as s3.
    "s10_hard_negatives" -> ((s, dir) => Similarity.hardNegatives(Tables.embeddings(s, dir), Seq(0L, 1L, 2L, 3L, 4L), 5, 10)),
    // Integer-exact fixed-iteration Lloyd k-means: md5-order seeding,
    // micro-unit squared-L2, truncating-division centroid updates —
    // the oracle-checkable quantizer trainer (MLlib's is FP-seeded).
    "s11_kmeans" -> ((s, dir) => IvfIndex.kmeansExact(Tables.embeddings(s, dir), 8, 2)),
    // Uint8 scalar quantization (ANN index compression): integer-exact
    // codes + per-vector worst-case reconstruction error, scan-bound.
    "s6_quantize" -> ((s, dir) => Similarity.quantizeEmbeddings(Tables.embeddings(s, dir))),
    // Embedding drift monitor: candidate-half vs reference-half mean
    // distance to the reference centroids, exact-integer per-mille.
    "s7_embedding_drift" -> ((s, dir) => Similarity.embeddingDrift(Tables.embeddings(s, dir))),
    // ANN recall contract: the quantized IVF serving path recovers at
    // least `threshold` of the exact s3 k-NN — driver-witnessed TRUE
    // (d4c pattern; makes s2's rows-only status moot).
    "s8_ann_contract" -> ((s, dir) =>
      IvfIndex.annRecallContract(Tables.embeddings(s, dir),
        queryIds = 0L until 16L, k = 10)),
    // Index MAINTENANCE contract: frozen-centroid incremental append of a
    // content-addressed batch equals a rebuild from the full set — the
    // insert mirror of e8b's delete (d5b pattern).
    "s9_append_contract" -> ((s, dir) =>
      IvfIndex.appendContract(Tables.embeddings(s, dir))),
    // Product-quantization contract: guaranteed codebook-size error
    // monotonicity + shortlist-then-exact-rerank recall at 64 bits/vector
    // vs 2048 (recall 0.83/0.64 measured at sf0.01/0.1, threshold 0.5).
    // The shortlist is CORPUS-PROPORTIONAL (2%, floored at 100): a fixed
    // shortlist dilutes recall as n grows — the 10x wide gate measured
    // recall falling through the threshold at sf1 with shortlist=100.
    // Scaling candidates with n is how a real ANN serving tier is sized;
    // at the driver scales (n <= 5000) the floor keeps it bit-identical.
    "s12_pq_contract" -> ((s, dir) =>
      // ceiling guards the Long->Int narrowing at extreme corpus sizes:
      // a million-candidate exact rerank is the practical serving limit,
      // and a silent toInt wraparound would be a NEGATIVE shortlist.
      // shortlistFor: the corpus count rides the operator's own seeds
      // job (observe) instead of a separate count() scan (r12).
      IvfIndex.pqContract(Tables.embeddings(s, dir), queryIds = 0L until 16L,
        m = 16, kSub = 16, k = 10, threshold = 0.5,
        shortlistFor =
          Some(n => math.min(1000000L, math.max(100L, n / 50)).toInt))),
    // Dimension-truncated candidate scan + full-precision rerank
    // (Matryoshka-style serving; recall 0.86/0.70 measured at sf0.01/0.1).
    // Same corpus-proportional shortlist as s12 (2%, floored at 100).
    "s13_truncated_scan" -> ((s, dir) =>
      // same observe-carried corpus count as s12 (r12)
      IvfIndex.truncatedRecallContract(Tables.embeddings(s, dir),
        queryIds = 0L until 16L, keepDims = 32, k = 10,
        shortlistFor =
          Some(n => math.min(1000000L, math.max(100L, n / 50)).toInt))),
    // MMR diversity rerank (λ=1/2) of the top-32 inner-product hits:
    // greedy argmax fold on exact micro-unit dots, tie-break vec_id.
    "s21_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(Tables.embeddings(s, dir))),
    // Intra-list diversity: MMR's pick set vs plain top-k, exact
    // pair-dot sums — the contract that the rerank diversified.
    "s22_mmr_diversity" -> ((s, dir) =>
      Similarity.mmrDiversityContract(Tables.embeddings(s, dir))),
    // Degree assortativity sufficient stats (Newman's r numerators):
    // exact integers over the support-pruned co-purchase edges.
    "g12_assortativity" -> ((s, dir) =>
      GraphOps.assortativityStats(Tables.lineitem(s, dir))),
    // Incremental CC by contraction over a parity edge split; the oracle
    // is the FULL recompute — hash equality proves the maintenance path.
    "g13_cc_incremental" -> ((s, dir) =>
      GraphOps.coPurchaseComponentsIncremental(Tables.lineitem(s, dir))),
    // Retrieval margin census: exact integer-dot gap between ranks 1-2
    // per query — the trust-or-rerank ambiguity metric.
    "s23_margin_stats" -> ((s, dir) =>
      SimilarityIndex.marginStats(Tables.embeddings(s, dir))),
    // Multi-source bounded BFS over the g3 co-purchase graph: frontier
    // iteration, visited anti-join, eager checkpoints — min-hop exact.
    "g4_bfs_hops" -> ((s, dir) =>
      GraphOps.bfsHopsDemo(Tables.lineitem(s, dir), Tables.part(s, dir))),
    // Hybrid retrieval: reciprocal-rank fusion of the s1 dense cosine
    // ranking and the t22 sparse BM25 ranking, floor-integer RRF terms.
    "s14_rrf_fusion" -> ((s, dir) =>
      Similarity.rrfFusion(Tables.embeddings(s, dir), Tables.documents(s, dir),
        0L, Seq("spark", "vector", "merge"))),
    // Per-dimension embedding stats (n, mean, variance in micro-units)
    // via the one-pass vector-sum Aggregator — no n×d explode shuffle.
    "s16_dim_stats" -> ((s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir))),
    // Retrieval-quality metrics (hit@k / MRR / recall@k in floor
    // permille, label agreement as relevance) over the s3 ranking.
    "s15_retrieval_eval" -> ((s, dir) =>
      Evaluation.retrievalEval(Tables.embeddings(s, dir), (0L until 20L), 20)),
    // Degree distribution of the co-purchase graph — the heavy-tail
    // diagnostic the other graph operators size against.
    "g7_degree_hist" -> ((s, dir) =>
      GraphOps.degreeHistogram(Tables.lineitem(s, dir))),
    // ORACLE-EXACT hyperplane-LSH ANN: LCG integer planes, 6×5-bit sign
    // bands, exact integer-cosine verify in 16-byte decimals — the s2
    // companion to d22/d23.
    "s17_ann_oracle" -> ((s, dir) =>
      Similarity.annOraclePairs(Tables.embeddings(s, dir))),
    // Common-neighbor link prediction over the support-pruned co-purchase
    // graph — the "customers also buy" candidate generator.
    "g8_link_prediction" -> ((s, dir) =>
      GraphOps.linkPrediction(Tables.lineitem(s, dir))),
    // A-priori frequent triples (market-basket level 3) with the item
    // prune executed and the plain triple join as referee.
    "g9_frequent_triples" -> ((s, dir) =>
      GraphOps.frequentTriples(Tables.lineitem(s, dir))),
    // MIPS top-k: raw inner-product ranking (two-tower recommender
    // serving) via the codegen'd DotProduct expression.
    "s18_mips" -> ((s, dir) =>
      Similarity.mipsTopK(Tables.embeddings(s, dir), 0L, 20)),
    // Association rules: confidence-bp + lift-permille per frequent pair.
    "g10_association_rules" -> ((s, dir) =>
      GraphOps.associationRules(Tables.lineitem(s, dir))),
    // Avg pairwise dot per label from SUMS ONLY (no pair join).
    "s19_label_cohesion" -> ((s, dir) =>
      Similarity.labelCohesion(Tables.embeddings(s, dir))),
    // Sign-bit Hamming pre-rank vs exact dot top-k: recall@k contract
    // for the 32x-compressed binary retrieval tier.
    "s20_hamming_prerank" -> ((s, dir) =>
      SimilarityIndex.hammingPrerank(Tables.embeddings(s, dir))),
    // Synchronous LPA communities (3 rounds, count-then-min tie-break)
    // on the support-pruned co-purchase graph.
    "g11_lpa_communities" -> ((s, dir) =>
      GraphOps.lpaCommunities(Tables.lineitem(s, dir))),
  )

  val oracleSql: Map[String, String] = Map(
    "g1_pagerank" ->
      """WITH base AS (
        |  SELECT DISTINCT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), e AS (
        |  SELECT c_node AS src, s_node AS dst FROM base
        |  UNION ALL
        |  SELECT s_node AS src, c_node AS dst FROM base
        |), deg AS (
        |  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
        |), nodes AS (
        |  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
        |), s0 AS (
        |  SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes
        |), c1 AS (
        |  SELECT e.dst AS node, CAST(SUM(s.score // d.outdeg) AS BIGINT) AS mass
        |  FROM e JOIN deg d USING (src) JOIN s0 s ON s.node = e.src
        |  GROUP BY e.dst
        |), s1 AS (
        |  SELECT n.node,
        |         CAST(150000 + 85 * COALESCE(c.mass, 0) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN c1 c USING (node)
        |), c2 AS (
        |  SELECT e.dst AS node, CAST(SUM(s.score // d.outdeg) AS BIGINT) AS mass
        |  FROM e JOIN deg d USING (src) JOIN s1 s ON s.node = e.src
        |  GROUP BY e.dst
        |), s2 AS (
        |  SELECT n.node,
        |         CAST(150000 + 85 * COALESCE(c.mass, 0) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN c2 c USING (node)
        |), c3 AS (
        |  SELECT e.dst AS node, CAST(SUM(s.score // d.outdeg) AS BIGINT) AS mass
        |  FROM e JOIN deg d USING (src) JOIN s2 s ON s.node = e.src
        |  GROUP BY e.dst
        |), s3 AS (
        |  SELECT n.node,
        |         CAST(150000 + 85 * COALESCE(c.mass, 0) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN c3 c USING (node)
        |)
        |SELECT CAST(ROW_NUMBER() OVER w AS INT) AS rank,
        |       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END
        |         AS node_type,
        |       node // 2 AS key, score AS score_micro
        |FROM s3
        |WINDOW w AS (ORDER BY score DESC, node)
        |QUALIFY ROW_NUMBER() OVER w <= 25
        |ORDER BY rank""".stripMargin,
    "g2_triangles" ->
      """WITH op0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |             FROM lineitem WHERE l_partkey % 2 = 0),
        |op AS (SELECT o, p FROM (
        |         SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS n FROM op0)
        |       WHERE n <= 8),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)
        |SELECT
        |  CAST((SELECT count(*) FROM (SELECT u AS x FROM e
        |                              UNION SELECT v FROM e)) AS BIGINT)
        |    AS n_vertices,
        |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM e e1
        |        JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
        |    AS n_triangles""".stripMargin,
    "g3_components" ->
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e0 AS (
        |  SELECT a.p AS u, b.p AS v, COUNT(*) AS c
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2
        |), eu AS (SELECT u, v FROM e0 WHERE c >= 2),
        |e AS (SELECT u, v FROM eu UNION ALL SELECT v, u FROM eu),
        |cc AS (
        |  SELECT u AS node, u AS lbl FROM e
        |  UNION
        |  SELECT e.v, cc.lbl FROM cc JOIN e ON cc.node = e.u WHERE cc.lbl < e.v
        |)
        |SELECT node, MIN(lbl) AS component FROM cc GROUP BY node
        |ORDER BY node""".stripMargin,
    "g5_kcore" -> {
      // peel rounds k1..k11 = maxRounds−1 (see GraphOps.kCore): whenever
      // the engine's convergence require passes, round 11 has provably
      // reached the same fixpoint (extra rounds are idempotent no-ops)
      // every k_t is referenced twice by k_{t+1}; without MATERIALIZED,
      // DuckDB inlines CTEs and the 11-round chain expands 2^11-fold
      val rounds = (1 to 11).map { t =>
        s"""k$t AS MATERIALIZED (SELECT u AS node, COUNT(*) AS c FROM e
           |  WHERE u IN (SELECT node FROM k${t - 1})
           |    AND v IN (SELECT node FROM k${t - 1})
           |  GROUP BY u HAVING COUNT(*) >= 2)""".stripMargin
      }.mkString(",\n", ",\n", "\n")
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS c
        |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |eu AS (SELECT u, v FROM e0 WHERE c >= 2),
        |e AS MATERIALIZED (SELECT u, v FROM eu UNION ALL SELECT v, u FROM eu),
        |k0 AS MATERIALIZED (SELECT u AS node, COUNT(*) AS c FROM e
        |       GROUP BY u HAVING COUNT(*) >= 2)""".stripMargin + rounds +
        "SELECT node, CAST(c AS BIGINT) AS core_deg FROM k11 ORDER BY node"
    },
    "g6_cheapest_path" -> {
      // 3 unrolled MATERIALIZED relaxation rounds — a min-table per
      // round (≤ |V| rows each), never a recursive walk enumeration
      val rounds = (1 to 3).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT node, MIN(cost) AS cost FROM (
           |    SELECT node, cost FROM d${t - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, d.cost + e.w AS cost
           |    FROM d${t - 1} d JOIN e ON d.node = e.src
           |  ) GROUP BY node)""".stripMargin
      }.mkString(",\n", ",\n", "\n")
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS src, b.p AS dst, 1000000 // COUNT(*) AS w
        |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS MATERIALIZED (SELECT src, dst, w FROM e0
        |     UNION ALL SELECT dst, src, w FROM e0),
        |d0 AS MATERIALIZED (SELECT p_partkey AS node, CAST(0 AS BIGINT) AS cost
        |     FROM part WHERE p_brand = 'Brand#11')""".stripMargin + rounds +
        "SELECT node, CAST(cost AS BIGINT) AS cost FROM d3 ORDER BY node"
    },
    "s1_cosine_topk" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        |)
        |SELECT e.vec_id,
        |  ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        |        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |           * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
        |FROM embeddings e, q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,
    "s4_centroids" ->
      """WITH e AS (
        |  SELECT label, unnest(embedding) AS x,
        |         unnest(generate_series(1, len(embedding))) AS d
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |)
        |SELECT label, CAST(d - 1 AS INT) AS dim,
        |       CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |            // COUNT(*) AS BIGINT) AS centroid_scaled
        |FROM e GROUP BY label, d ORDER BY label, dim""".stripMargin,
    "s5_nearest_centroid" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xs
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), s AS (
        |  SELECT label, unnest(xs) AS v,
        |         unnest(generate_series(1, len(xs))) AS d
        |  FROM e WHERE label IS NOT NULL
        |), cdim AS (
        |  SELECT label AS c_label, d, CAST(SUM(v) // COUNT(*) AS BIGINT) AS cv
        |  FROM s GROUP BY label, d
        |), cent AS (
        |  SELECT c_label, list(cv ORDER BY d) AS c FROM cdim GROUP BY c_label
        |), dist AS (
        |  SELECT e.vec_id, cent.c_label,
        |    CAST(list_sum(list_transform(generate_series(1, len(e.xs)),
        |      i -> (e.xs[i] - cent.c[i]) * (e.xs[i] - cent.c[i]))) AS BIGINT) AS dist2
        |  FROM e, cent
        |)
        |SELECT vec_id, c_label AS label_assigned, dist2
        |FROM dist
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) = 1
        |ORDER BY vec_id""".stripMargin,
    "s3_knn_join" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        |          / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |             * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rank, vec_id, score
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, vec_id)
        |QUALIFY ROW_NUMBER() OVER w <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "s10_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        |          / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |             * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rank, vec_id, score
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, vec_id)
        |QUALIFY ROW_NUMBER() OVER w > 5 AND ROW_NUMBER() OVER w <= 15
        |ORDER BY query_id, rank""".stripMargin,
    "s11_kmeans" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), ed AS (
        |  SELECT vec_id, d, qe[d + 1] AS v
        |  FROM e, unnest(generate_series(0, len(qe) - 1)) AS g(d)
        |), c0 AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |                            vec_id) - 1 AS cid, qe
        |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
        |), c0d AS (
        |  SELECT cid, d, qe[d + 1] AS v
        |  FROM c0, unnest(generate_series(0, len(qe) - 1)) AS g(d)
        |), a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ed.vec_id, c.cid, SUM((ed.v - c.v) * (ed.v - c.v)) AS dist
        |    FROM ed JOIN c0d c ON ed.d = c.d GROUP BY ed.vec_id, c.cid)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |                             ORDER BY dist, cid) = 1
        |), u1 AS (
        |  SELECT a1.cid, ed.d, CAST(SUM(ed.v) AS BIGINT) // COUNT(*) AS v
        |  FROM a1 JOIN ed USING (vec_id) GROUP BY a1.cid, ed.d
        |), c1d AS (
        |  SELECT c.cid, c.d, COALESCE(u1.v, c.v) AS v
        |  FROM c0d c LEFT JOIN u1 ON u1.cid = c.cid AND u1.d = c.d
        |), a2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ed.vec_id, c.cid, SUM((ed.v - c.v) * (ed.v - c.v)) AS dist
        |    FROM ed JOIN c1d c ON ed.d = c.d GROUP BY ed.vec_id, c.cid)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |                             ORDER BY dist, cid) = 1
        |), u2 AS (
        |  SELECT a2.cid, ed.d, CAST(SUM(ed.v) AS BIGINT) // COUNT(*) AS v
        |  FROM a2 JOIN ed USING (vec_id) GROUP BY a2.cid, ed.d
        |), c2d AS (
        |  SELECT c.cid, c.d, COALESCE(u2.v, c.v) AS v
        |  FROM c1d c LEFT JOIN u2 ON u2.cid = c.cid AND u2.d = c.d
        |), a3 AS (
        |  SELECT vec_id, cid, dist FROM (
        |    SELECT ed.vec_id, c.cid, SUM((ed.v - c.v) * (ed.v - c.v)) AS dist
        |    FROM ed JOIN c2d c ON ed.d = c.d GROUP BY ed.vec_id, c.cid)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |                             ORDER BY dist, cid) = 1
        |), cs AS (
        |  SELECT cid, CAST(SUM(v) AS BIGINT) AS centroid_sum
        |  FROM c2d GROUP BY cid
        |)
        |SELECT a3.cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |       CAST(SUM(a3.dist) AS BIGINT) AS inertia, cs.centroid_sum
        |FROM a3 JOIN cs ON cs.cid = a3.cid
        |GROUP BY a3.cid, cs.centroid_sum
        |ORDER BY cluster_id""".stripMargin,
    "s6_quantize" ->
      """WITH m AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS xs
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), b AS (
        |  SELECT vec_id, xs, list_min(xs) AS qmin,
        |         list_max(xs) - list_min(xs) AS qrange
        |  FROM m
        |)
        |SELECT vec_id, qmin, qrange,
        |  CASE WHEN qrange = 0
        |       THEN array_to_string(list_transform(xs, x -> '0'), ',')
        |       ELSE array_to_string(list_transform(xs,
        |         x -> CAST(CAST(floor(CAST(x - qmin AS DOUBLE) * 255 / qrange)
        |                        AS BIGINT) AS VARCHAR)), ',')
        |  END AS codes_str,
        |  CASE WHEN qrange = 0 THEN CAST(0 AS BIGINT)
        |       ELSE list_max(list_transform(xs,
        |         x -> abs(x - (qmin + CAST(floor(
        |                CAST(floor(CAST(x - qmin AS DOUBLE) * 255 / qrange)
        |                     * qrange AS DOUBLE) / 255) AS BIGINT)))))
        |  END AS max_err
        |FROM b ORDER BY vec_id""".stripMargin,
    "s7_embedding_drift" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xs,
        |         instr('0123456789abcdef',
        |               substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1 AS nb
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
        |), s AS (
        |  SELECT label, unnest(xs) AS v,
        |         unnest(generate_series(1, len(xs))) AS d
        |  FROM e WHERE nb < 8
        |), cdim AS (
        |  SELECT label, d, CAST(SUM(v) // COUNT(*) AS BIGINT) AS cv
        |  FROM s GROUP BY label, d
        |), cent AS (
        |  SELECT label, list(cv ORDER BY d) AS c FROM cdim GROUP BY label
        |), dist AS (
        |  SELECT e.label, e.nb,
        |    CAST(list_sum(list_transform(generate_series(1, len(e.xs)),
        |      i -> (e.xs[i] - cent.c[i]) * (e.xs[i] - cent.c[i]))) AS BIGINT) AS dist2
        |  FROM e LEFT JOIN cent USING (label)
        |), agg AS (
        |  SELECT label,
        |    COUNT(*) FILTER (nb < 8) AS n_ref,
        |    CAST(SUM(dist2) FILTER (nb < 8) AS BIGINT) AS sum_ref,
        |    COUNT(*) FILTER (nb >= 8) AS n_cand,
        |    CAST(SUM(dist2) FILTER (nb >= 8) AS BIGINT) AS sum_cand
        |  FROM dist GROUP BY label
        |)
        |SELECT label, n_ref,
        |  CAST(sum_ref // NULLIF(n_ref, 0) AS BIGINT) AS mean_ref_d2,
        |  n_cand,
        |  CAST(sum_cand // NULLIF(n_cand, 0) AS BIGINT) AS mean_cand_d2,
        |  CAST((sum_cand // NULLIF(n_cand, 0)) * 1000
        |       // NULLIF(sum_ref // NULLIF(n_ref, 0), 0) AS BIGINT) AS drift_permille
        |FROM agg ORDER BY label""".stripMargin,
    "s8_ann_contract" ->
      "SELECT TRUE AS nonempty, TRUE AS recall_ok",
    "s9_append_contract" ->
      "SELECT TRUE AS split_nonempty, TRUE AS append_equal",
    "s12_pq_contract" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS err_monotone,
        |       TRUE AS nonempty, TRUE AS recall_ok
        |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin,
    "s13_truncated_scan" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |       TRUE AS nonempty, TRUE AS recall_ok
        |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin,
    "s21_mmr_rerank" ->
      """WITH RECURSIVE q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS uq
        |  FROM embeddings WHERE vec_id = 0
        |), cand AS (
        |  SELECT vec_id, u,
        |    list_sum(list_transform(generate_series(1, 64),
        |      j -> u[j] * uq[j])) AS rel
        |  FROM (SELECT vec_id, list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS u
        |        FROM embeddings WHERE vec_id <> 0) c CROSS JOIN q
        |  ORDER BY rel DESC, vec_id LIMIT 32
        |), pd AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_sum(list_transform(generate_series(1, 64),
        |      j -> a.u[j] * b.u[j])) AS dot
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        |), sel AS (
        |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
        |         CAST(0 AS BIGINT) AS pen, [vec_id] AS sel_ids
        |  FROM (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT s.rank + 1, n.vec_id, n.rel, n.pen,
        |         list_append(s.sel_ids, n.vec_id)
        |  FROM sel s, LATERAL (
        |    SELECT x.vec_id, x.rel, x.pen
        |    FROM (SELECT cc.vec_id, cc.rel,
        |            (SELECT MAX(dot) FROM pd
        |             WHERE pd.va = cc.vec_id
        |               AND list_contains(s.sel_ids, pd.vb)) AS pen
        |          FROM cand cc
        |          WHERE NOT list_contains(s.sel_ids, cc.vec_id)) x
        |    ORDER BY x.rel - x.pen DESC, x.vec_id LIMIT 1) n
        |  WHERE s.rank < 10
        |)
        |SELECT rank, vec_id, CAST(rel AS BIGINT) AS rel_dot,
        |       CAST(pen AS BIGINT) AS pen_dot,
        |       CAST(rel - pen AS BIGINT) AS mmr2
        |FROM sel ORDER BY rank""".stripMargin,
    "s22_mmr_diversity" ->
      """WITH RECURSIVE q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS uq
        |  FROM embeddings WHERE vec_id = 0
        |), cand AS (
        |  SELECT vec_id, u,
        |    list_sum(list_transform(generate_series(1, 64),
        |      j -> u[j] * uq[j])) AS rel
        |  FROM (SELECT vec_id, list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS u
        |        FROM embeddings WHERE vec_id <> 0) c CROSS JOIN q
        |  ORDER BY rel DESC, vec_id LIMIT 32
        |), pd AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_sum(list_transform(generate_series(1, 64),
        |      j -> a.u[j] * b.u[j])) AS dot
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        |), sel AS (
        |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
        |         CAST(0 AS BIGINT) AS pen, [vec_id] AS sel_ids
        |  FROM (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT s.rank + 1, n.vec_id, n.rel, n.pen,
        |         list_append(s.sel_ids, n.vec_id)
        |  FROM sel s, LATERAL (
        |    SELECT x.vec_id, x.rel, x.pen
        |    FROM (SELECT cc.vec_id, cc.rel,
        |            (SELECT MAX(dot) FROM pd
        |             WHERE pd.va = cc.vec_id
        |               AND list_contains(s.sel_ids, pd.vb)) AS pen
        |          FROM cand cc
        |          WHERE NOT list_contains(s.sel_ids, cc.vec_id)) x
        |    ORDER BY x.rel - x.pen DESC, x.vec_id LIMIT 1) n
        |  WHERE s.rank < 10
        |), topk AS (
        |  SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 10
        |), tp AS (
        |  SELECT CAST(SUM(pd.dot) AS BIGINT) AS topk_pair_dot_sum
        |  FROM pd JOIN topk a ON pd.va = a.vec_id
        |          JOIN topk b ON pd.vb = b.vec_id
        |  WHERE pd.va < pd.vb
        |), mp AS (
        |  SELECT CAST(SUM(pd.dot) AS BIGINT) AS mmr_pair_dot_sum
        |  FROM pd JOIN sel a ON pd.va = a.vec_id
        |          JOIN sel b ON pd.vb = b.vec_id
        |  WHERE pd.va < pd.vb
        |)
        |SELECT topk_pair_dot_sum, mmr_pair_dot_sum,
        |       mmr_pair_dot_sum < topk_pair_dot_sum AS mmr_more_diverse
        |FROM tp CROSS JOIN mp""".stripMargin,
    "g12_assortativity" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e0 AS (
        |  SELECT a.p AS u, b.p AS v, COUNT(*) AS c
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2
        |), eu AS (SELECT u, v FROM e0 WHERE c >= 2),
        |d AS (
        |  SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS x FROM eu UNION ALL SELECT v AS x FROM eu)
        |  GROUP BY x
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |  CAST(SUM(du.deg + dv.deg) AS BIGINT) AS s1,
        |  CAST(SUM(CAST(du.deg AS HUGEINT) * du.deg
        |           + CAST(dv.deg AS HUGEINT) * dv.deg) AS BIGINT) AS s2,
        |  CAST(SUM(CAST(du.deg AS HUGEINT) * dv.deg) AS BIGINT) AS s3
        |FROM eu
        |JOIN d du ON du.node = eu.u
        |JOIN d dv ON dv.node = eu.v""".stripMargin,
    "g13_cc_incremental" ->
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e0 AS (
        |  SELECT a.p AS u, b.p AS v, COUNT(*) AS c
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2
        |), eu AS (SELECT u, v FROM e0 WHERE c >= 2),
        |e AS (SELECT u, v FROM eu UNION ALL SELECT v, u FROM eu),
        |cc AS (
        |  SELECT u AS node, u AS lbl FROM e
        |  UNION
        |  SELECT e.v, cc.lbl FROM cc JOIN e ON cc.node = e.u WHERE cc.lbl < e.v
        |)
        |SELECT node, MIN(lbl) AS component FROM cc GROUP BY node
        |ORDER BY node""".stripMargin,
    "s23_margin_stats" ->
      """WITH u AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS u
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, u AS uq FROM u
        |  WHERE vec_id IN (0, 1, 2, 3, 4)
        |), s AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_sum(list_transform(generate_series(1, len(c.u)),
        |      j -> c.u[j] * q.uq[j])) AS dot
        |  FROM u c CROSS JOIN q WHERE c.vec_id <> q.query_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dot DESC, vec_id) AS rk
        |  FROM s
        |)
        |SELECT query_id,
        |  MAX(CASE WHEN rk = 1 THEN vec_id END) AS top1_id,
        |  CAST(MAX(CASE WHEN rk = 1 THEN dot END) AS BIGINT) AS top1_dot,
        |  MAX(CASE WHEN rk = 2 THEN vec_id END) AS top2_id,
        |  CAST(MAX(CASE WHEN rk = 2 THEN dot END) AS BIGINT) AS top2_dot,
        |  CAST(MAX(CASE WHEN rk = 1 THEN dot END)
        |       - MAX(CASE WHEN rk = 2 THEN dot END) AS BIGINT) AS margin
        |FROM r WHERE rk <= 2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "g4_bfs_hops" ->
      """WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (
        |  SELECT a.p AS src, b.p AS dst FROM op a JOIN op b
        |  ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), e AS (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        |), walk(node, hops) AS (
        |  SELECT p_partkey, 0 FROM part WHERE p_brand = 'Brand#11'
        |  UNION ALL
        |  SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON w.node = e.src
        |  WHERE w.hops < 3
        |)
        |SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    "s14_rrf_fusion" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        |), dtop AS (
        |  SELECT e.vec_id,
        |    ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        |          / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(e.embedding AS DOUBLE[])))
        |             * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> 0
        |  ORDER BY score DESC, vec_id LIMIT 50
        |), dense AS (
        |  SELECT vec_id AS id,
        |         ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rank_dense
        |  FROM dtop
        |), t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM t
        |), post AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
        |  FROM t
        |), tf AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM post
        |  WHERE term IN ('spark', 'vector', 'merge')
        |  GROUP BY doc_id, dl, term
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        |), scored AS (
        |  SELECT tf.doc_id,
        |    CAST(CAST(10000 AS HUGEINT)
        |         * (2 * s.n_docs - 2 * df.df + 1) * tf.tf * 22 * s.total_tokens
        |    // ((2 * df.df + 1)
        |        * (CAST(10 AS HUGEINT) * tf.tf * s.total_tokens
        |           + 3 * s.total_tokens
        |           + 9 * tf.dl * s.n_docs)) AS BIGINT) AS term_score_e4
        |  FROM tf JOIN df USING (term), stats s
        |), agg AS (
        |  SELECT doc_id, CAST(SUM(term_score_e4) AS BIGINT) AS score_e4
        |  FROM scored GROUP BY doc_id
        |), sparse AS (
        |  SELECT doc_id AS id,
        |         ROW_NUMBER() OVER (ORDER BY score_e4 DESC, doc_id) AS rank_sparse
        |  FROM agg
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY score_e4 DESC, doc_id) <= 50
        |)
        |SELECT COALESCE(dense.id, sparse.id) AS id,
        |       CAST(rank_dense AS BIGINT) AS rank_dense,
        |       CAST(rank_sparse AS BIGINT) AS rank_sparse,
        |       CAST(COALESCE(1000000 // (60 + rank_dense), 0)
        |            + COALESCE(1000000 // (60 + rank_sparse), 0) AS BIGINT)
        |         AS rrf_e6
        |FROM dense FULL JOIN sparse ON dense.id = sparse.id
        |ORDER BY rrf_e6 DESC, id LIMIT 20""".stripMargin,
    "s16_dim_stats" ->
      """WITH e AS (
        |  SELECT CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1
        |           AS dim,
        |         unnest(list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
        |           AS m
        |  FROM embeddings
        |), a AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(m) AS BIGINT) AS s, CAST(SUM(m * m) AS BIGINT) AS q
        |  FROM e GROUP BY dim
        |)
        |SELECT dim, n, s // n AS mean_micro,
        |       q // n - (s // n) * (s // n) AS var_micro2
        |FROM a ORDER BY dim""".stripMargin,
    "s15_retrieval_eval" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
        |         label AS q_label
        |  FROM embeddings WHERE vec_id BETWEEN 0 AND 19
        |), scored AS (
        |  SELECT q.query_id, q.q_label, e.vec_id, e.label AS n_label_val,
        |    ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        |          / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(e.embedding AS DOUBLE[])))
        |             * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, q_label, n_label_val,
        |         CAST(ROW_NUMBER() OVER w AS INT) AS rank
        |  FROM scored
        |  WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, vec_id)
        |  QUALIFY ROW_NUMBER() OVER w <= 20
        |), agg AS (
        |  SELECT query_id, q_label,
        |    CAST(SUM(CASE WHEN n_label_val = q_label THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_rel_at_k,
        |    MIN(CASE WHEN n_label_val = q_label THEN rank END)
        |      AS first_rel_rank,
        |    MAX(n_label_val = q_label) AS hit_at_k
        |  FROM ranked GROUP BY 1, 2
        |), totals AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
        |  FROM embeddings GROUP BY 1
        |)
        |SELECT a.query_id, a.q_label, a.n_rel_at_k, a.first_rel_rank,
        |  a.hit_at_k,
        |  CAST(COALESCE(1000 // a.first_rel_rank, 0) AS BIGINT)
        |    AS mrr_permille,
        |  CAST(a.n_rel_at_k * 1000 // nullif(t.n_label - 1, 0) AS BIGINT)
        |    AS recall_permille
        |FROM agg a JOIN totals t ON t.label = a.q_label
        |ORDER BY a.query_id""".stripMargin,
    "g7_degree_hist" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e0 AS (
        |  SELECT a.p AS u, b.p AS v, COUNT(*) AS c
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2
        |), eu AS (SELECT u, v FROM e0 WHERE c >= 2),
        |d AS (
        |  SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM (SELECT u AS x FROM eu UNION ALL SELECT v AS x FROM eu)
        |  GROUP BY x
        |)
        |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM d GROUP BY degree ORDER BY degree""".stripMargin,
    // the plane dots and band keys are generated from the SAME LCG
    // weight formula the Spark operator embeds (AnnPlaneWeights — single
    // source of truth), with the band WIDTH derived from the corpus
    // count through the same integer doubling ladder as
    // Similarity.annBandBits: fixed 5-bit bands are 32 buckets per band
    // forever (candidates ∝ n²/64, the r10 100×-ladder OOM); width
    // ∝ log2(n) keeps the candidate set ∝ n. Floored at 5 bits, so
    // every sf ≤ 0.1 output is bit-identical to the fixed-width era.
    "s17_ann_oracle" -> {
      val dims = 64
      val ladder = (0 until 15)
        .map(k => s"(CASE WHEN n > ${2048L << k} THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH base AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m
         |  FROM embeddings WHERE len(embedding) = $dims
         |), params AS (
         |  SELECT 5 + $ladder AS band_bits
         |  FROM (SELECT count(*) AS n FROM base)
         |), sig AS (
         |  SELECT vec_id, band_bits,
         |    list_transform(generate_series(0, 6 * band_bits - 1), p ->
         |      CASE WHEN list_sum(list_transform(generate_series(1, $dims),
         |        j -> (((1103515245 * (p * $dims + j - 1) + 12345) % 2001)
         |              - 1000) * m[j])) >= 0 THEN 1 ELSE 0 END) AS bits
         |  FROM base, params
         |), bk AS (
         |  SELECT vec_id,
         |    b || ':' || array_to_string(
         |      bits[b * band_bits + 1 : (b + 1) * band_bits], ':') AS band_key
         |  FROM sig, (SELECT unnest(generate_series(0, 5)) AS b)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bk a JOIN bk b
         |    ON a.band_key = b.band_key AND a.vec_id < b.vec_id
         |), n AS (
         |  SELECT vec_id, m,
         |    list_sum(list_transform(generate_series(1, $dims),
         |      j -> m[j] * m[j])) AS n2
         |  FROM base
         |), v AS (
         |  SELECT vec_a, vec_b,
         |    list_sum(list_transform(generate_series(1, $dims),
         |      j -> na.m[j] * nb.m[j])) AS dot,
         |    na.n2 AS na2, nb.n2 AS nb2
         |  FROM cand JOIN n na ON na.vec_id = vec_a
         |            JOIN n nb ON nb.vec_id = vec_b
         |)
         |SELECT vec_a, vec_b, CAST(dot AS BIGINT) AS dot_micro2,
         |  CAST(na2 AS BIGINT) AS norm2_a, CAST(nb2 AS BIGINT) AS norm2_b
         |FROM v
         |WHERE dot >= 0
         |  AND CAST(25 AS HUGEINT) * CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT)
         |      >= CAST(4 AS HUGEINT) * CAST(na2 AS HUGEINT) * CAST(nb2 AS HUGEINT)
         |ORDER BY vec_a, vec_b""".stripMargin
    },
    "g8_link_prediction" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), e AS (
        |  SELECT a.p AS src, b.p AS dst
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), sym AS (
        |  SELECT src AS x, dst AS y FROM e
        |  UNION ALL SELECT dst AS x, src AS y FROM e
        |), deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        |cn AS (
        |  SELECT l.x AS a, r.x AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM sym l JOIN sym r ON l.y = r.y AND l.x < r.x
        |  GROUP BY 1, 2
        |), nonadj AS (
        |  SELECT cn.a, cn.b, cn.common FROM cn
        |  ANTI JOIN e ON cn.a = e.src AND cn.b = e.dst
        |)
        |SELECT n.a, n.b, n.common, da.d AS deg_a, db.d AS deg_b,
        |       CAST(n.common * 1000 // (da.d + db.d - n.common) AS BIGINT)
        |         AS jaccard_permille
        |FROM nonadj n JOIN deg da ON n.a = da.x JOIN deg db ON n.b = db.x
        |ORDER BY n.common DESC, n.a, n.b LIMIT 25""".stripMargin,
    "g9_frequent_triples" ->
      """WITH op0 AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), op AS (
        |  SELECT o, p FROM (
        |    SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS n FROM op0
        |  ) WHERE n <= 8
        |)
        |SELECT a.p AS p1, b.p AS p2, c.p AS p3,
        |       CAST(COUNT(*) AS BIGINT) AS support
        |FROM op a
        |JOIN op b ON a.o = b.o AND a.p < b.p
        |JOIN op c ON b.o = c.o AND b.p < c.p
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
        |ORDER BY support DESC, p1, p2, p3 LIMIT 50""".stripMargin,
    "s18_mips" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |  WHERE vec_id = 0
        |)
        |SELECT e.vec_id,
        |  ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe), 6)
        |    AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,
    "g10_association_rules" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
        |ic AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_item FROM op GROUP BY 1),
        |pr AS (
        |  SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS co
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), d AS (
        |  SELECT u AS ante, v AS cons, co FROM pr
        |  UNION ALL SELECT v AS ante, u AS cons, co FROM pr
        |)
        |SELECT d.ante, d.cons, d.co, ia.n_item AS n_ante, ib.n_item AS n_cons,
        |  CAST(d.co * 10000 // ia.n_item AS BIGINT) AS confidence_bp,
        |  CAST(d.co * n.n_orders * 1000 // (ia.n_item * ib.n_item) AS BIGINT)
        |    AS lift_permille
        |FROM d JOIN ic ia ON d.ante = ia.p JOIN ic ib ON d.cons = ib.p
        |CROSS JOIN n
        |ORDER BY lift_permille DESC, ante, cons LIMIT 50""".stripMargin,
    "s19_label_cohesion" ->
      """WITH m AS (
        |  SELECT label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
        |), d AS (
        |  SELECT label, unnest(generate_series(1, len(v))) AS i, v FROM m
        |), s AS (
        |  SELECT label, i, CAST(SUM(v[i]) AS BIGINT) AS sd FROM d GROUP BY 1, 2
        |), a AS (
        |  SELECT label, CAST(SUM(sd * sd) AS BIGINT) AS norm_sum_sq
        |  FROM s GROUP BY 1
        |), q AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(list_sum(list_transform(v, x -> x * x))) AS BIGINT)
        |      AS sum_sq_norms
        |  FROM m GROUP BY 1
        |)
        |SELECT CAST(q.label AS BIGINT) AS label, q.n, q.sum_sq_norms,
        |  a.norm_sum_sq,
        |  CAST(a.norm_sum_sq - q.sum_sq_norms AS BIGINT) AS pair_dot_sum,
        |  CAST(q.n * (q.n - 1) AS BIGINT) AS n_pairs,
        |  CAST((a.norm_sum_sq - q.sum_sq_norms) // (q.n * (q.n - 1)) AS BIGINT)
        |    AS avg_pair_dot_milli2
        |FROM q JOIN a USING (label) WHERE q.n >= 2
        |ORDER BY label""".stripMargin,
    // Semantic twin of the packed-BIGINT xor/bit_count path: Hamming =
    // #{dims where the sign bits differ}, which is exactly what the two
    // 32-bit words' popcounted xor computes.
    "s20_hamming_prerank" ->
      """WITH base AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m,
        |    list_transform(embedding,
        |      x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sgn
        |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
        |), q AS (
        |  SELECT vec_id AS q_id, m AS qm, sgn AS qsgn FROM base WHERE vec_id < 8
        |), pairs AS (
        |  SELECT q.q_id, b.vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      j -> CASE WHEN b.sgn[j] <> q.qsgn[j] THEN 1 ELSE 0 END))
        |      AS BIGINT) AS ham,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      j -> b.m[j] * q.qm[j])) AS BIGINT) AS dot
        |  FROM base b, q WHERE b.vec_id <> q.q_id
        |), pre AS (
        |  SELECT q_id, vec_id, ham FROM pairs
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY ham ASC, vec_id ASC) <= 50
        |), ex AS (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY dot DESC, vec_id ASC) AS rd
        |  FROM pairs
        |  QUALIFY rd <= 10
        |)
        |SELECT ex.q_id,
        |  CAST(COUNT(CASE WHEN pre.ham IS NOT NULL THEN 1 END) AS BIGINT)
        |    AS hits,
        |  bool_or(CASE WHEN ex.rd = 1 THEN pre.ham IS NOT NULL END)
        |    AS top1_in_prerank,
        |  CAST(MAX(CASE WHEN ex.rd = 1 THEN ex.vec_id END) AS BIGINT)
        |    AS exact_top1,
        |  CAST(MIN(pre.ham) AS BIGINT) AS best_recalled_ham
        |FROM ex LEFT JOIN pre USING (q_id, vec_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "g11_lpa_communities" -> {
      // 3 unrolled synchronous rounds; the window argmax (count DESC,
      // label ASC) is the oracle's formulation of the engine's
      // partial-aggregable max(struct(count, -label))
      val rounds = (1 to 3).map { t =>
        s"""l$t AS MATERIALIZED (
           |  SELECT node, lbl FROM (
           |    SELECT e.u AS node, l.lbl, COUNT(*) AS c,
           |      row_number() OVER (PARTITION BY e.u
           |        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
           |    FROM e JOIN l${t - 1} l ON l.node = e.v
           |    GROUP BY e.u, l.lbl
           |  ) WHERE rn = 1)""".stripMargin
      }.mkString(",\n", ",\n", "\n")
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v FROM op a JOIN op b
        |       ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM e)""".stripMargin +
        rounds +
        """SELECT CAST(lbl AS BIGINT) AS community,
          |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
          |  CAST(MIN(node) AS BIGINT) AS min_node
          |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin
    },
  )

  /** WIDE-gate SCALE REFEREE for g10 (tools/scalecheck.py; engaged only
    * at ScaleGen scales — sf<=0.1 gates keep the primary oracle).
    *
    * The primary g10 SQL is LINEAR in data (within-basket pairs), but at
    * sf>=1 DuckDB's join-order optimizer misestimates the inlined CTEs to
    * cardinality ~1 and plans `ic ia CROSS_PRODUCT ic ib` — a 2M x 2M
    * cross product — before joining the 71k-row rule set (verified via
    * EXPLAIN; every individual stage runs <1 s). The referee is the SAME
    * query text with MATERIALIZED CTE hints, which pin the hash-join
    * order and restore the linear plan (7.9 s at sf1). Proven
    * row-identical to the primary at sf0.1. */
  val scaleOracleSql: Map[String, String] = Map(
    // s17's PRIMARY oracle is tractable through sf1 (hash-PASS, 15,111
    // pairs) but dies on disk at sf10: DuckDB's planner builds the
    // pair×vector intermediate of the two chained candidate→vector
    // joins (the exact shape the Spark side eliminated in r10) and its
    // out-of-core join spilled past the box's free disk. The referee
    // splits the check into two legs that never materialize that shape:
    //   leg 'all'  (SOUNDNESS, full output): every Spark-reported pair
    //     is re-derived from the base table — dot/norms recomputed
    //     exactly, the verify predicate re-evaluated in HUGEINT, and
    //     band co-membership re-proven by joining the pair's OWN ≤6
    //     band rows (driven by the |output| side, never bk⋈bk). A
    //     fabricated pair, a wrong value, or a pair that never shared a
    //     band disappears from the oracle side and fails the compare.
    //   leg 'slice' (COMPLETENESS, deterministic 1/16): the full
    //     sig→band→join→verify pipeline restricted to candidate pairs
    //     whose md5(vec_a:vec_b) starts with '0' (the d3b/d22
    //     derandomized-subset pattern, stable across engines/versions).
    //     Candidate generation joins ONLY (vec_id, band_key) rows; the
    //     vectors are attached to the ~1/16 sliced candidates, so the
    //     worst intermediate is |cand|/16 small rows. A pair missing
    //     from Spark's output lands here with probability 1/16 per
    //     pair, independently — 15k missing pairs at sf1 would need
    //     ~10^-420 luck to all dodge the slice.
    // Both legs reuse the primary's exact formulas (same LCG planes,
    // same doubling-ladder band width, same HUGEINT predicate), so this
    // is a plan-shape reformulation, not a weaker check. Proven: both
    // the primary compare and this referee PASS at sf0.1 and sf1.
    "s17_ann_oracle" -> {
      val dims = 64
      val ladder = (0 until 15)
        .map(k => s"(CASE WHEN n > ${2048L << k} THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m
         |  FROM embeddings WHERE len(embedding) = $dims
         |), params AS (
         |  SELECT 5 + $ladder AS band_bits
         |  FROM (SELECT count(*) AS n FROM base)
         |), sig AS MATERIALIZED (
         |  SELECT vec_id, band_bits,
         |    list_transform(generate_series(0, 6 * band_bits - 1), p ->
         |      CASE WHEN list_sum(list_transform(generate_series(1, $dims),
         |        j -> (((1103515245 * (p * $dims + j - 1) + 12345) % 2001)
         |              - 1000) * m[j])) >= 0 THEN 1 ELSE 0 END) AS bits
         |  FROM base, params
         |), bk AS MATERIALIZED (
         |  SELECT vec_id,
         |    b || ':' || array_to_string(
         |      bits[b * band_bits + 1 : (b + 1) * band_bits], ':') AS band_key
         |  FROM sig, (SELECT unnest(generate_series(0, 5)) AS b)
         |), n AS MATERIALIZED (
         |  SELECT vec_id, m,
         |    list_sum(list_transform(generate_series(1, $dims),
         |      j -> m[j] * m[j])) AS n2
         |  FROM base
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bk a JOIN bk b
         |    ON a.band_key = b.band_key AND a.vec_id < b.vec_id
         |  WHERE substr(md5(CAST(a.vec_id AS VARCHAR) || ':' ||
         |               CAST(b.vec_id AS VARCHAR)), 1, 1) = '0'
         |), vs AS (
         |  SELECT vec_a, vec_b,
         |    list_sum(list_transform(generate_series(1, $dims),
         |      j -> na.m[j] * nb.m[j])) AS dot,
         |    na.n2 AS na2, nb.n2 AS nb2
         |  FROM cand JOIN n na ON na.vec_id = vec_a
         |            JOIN n nb ON nb.vec_id = vec_b
         |), claimed AS MATERIALIZED (
         |  SELECT s.vec_a, s.vec_b,
         |    list_sum(list_transform(generate_series(1, $dims),
         |      j -> na.m[j] * nb.m[j])) AS dot,
         |    na.n2 AS na2, nb.n2 AS nb2
         |  FROM spark_result s JOIN n na ON na.vec_id = s.vec_a
         |                      JOIN n nb ON nb.vec_id = s.vec_b
         |), shared_band AS (
         |  SELECT DISTINCT c.vec_a, c.vec_b
         |  FROM claimed c
         |  JOIN bk x ON x.vec_id = c.vec_a
         |  JOIN bk y ON y.vec_id = c.vec_b AND y.band_key = x.band_key
         |)
         |SELECT 'slice' AS leg, vec_a, vec_b, CAST(dot AS BIGINT) AS dot_micro2,
         |  CAST(na2 AS BIGINT) AS norm2_a, CAST(nb2 AS BIGINT) AS norm2_b
         |FROM vs
         |WHERE dot >= 0
         |  AND CAST(25 AS HUGEINT) * CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT)
         |      >= CAST(4 AS HUGEINT) * CAST(na2 AS HUGEINT) * CAST(nb2 AS HUGEINT)
         |UNION ALL
         |SELECT 'all' AS leg, c.vec_a, c.vec_b, CAST(dot AS BIGINT) AS dot_micro2,
         |  CAST(na2 AS BIGINT) AS norm2_a, CAST(nb2 AS BIGINT) AS norm2_b
         |FROM claimed c JOIN shared_band sb
         |  ON sb.vec_a = c.vec_a AND sb.vec_b = c.vec_b
         |WHERE dot >= 0
         |  AND CAST(25 AS HUGEINT) * CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT)
         |      >= CAST(4 AS HUGEINT) * CAST(na2 AS HUGEINT) * CAST(nb2 AS HUGEINT)
         |ORDER BY leg, vec_a, vec_b""".stripMargin
    },
    "g10_association_rules" ->
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
        |ic AS MATERIALIZED (
        |  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_item FROM op GROUP BY 1
        |), pr AS (
        |  SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS co
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), d AS MATERIALIZED (
        |  SELECT u AS ante, v AS cons, co FROM pr
        |  UNION ALL SELECT v AS ante, u AS cons, co FROM pr
        |)
        |SELECT d.ante, d.cons, d.co, ia.n_item AS n_ante, ib.n_item AS n_cons,
        |  CAST(d.co * 10000 // ia.n_item AS BIGINT) AS confidence_bp,
        |  CAST(d.co * n.n_orders * 1000 // (ia.n_item * ib.n_item) AS BIGINT)
        |    AS lift_permille
        |FROM d JOIN ic ia ON d.ante = ia.p JOIN ic ib ON d.cons = ib.p
        |CROSS JOIN n
        |ORDER BY lift_permille DESC, ante, cons LIMIT 50""".stripMargin,
  )

  /** Spark-side selector for the s17 referee's two legs over the query's
    * own verify output: the md5 1/16 pair slice (mirroring the oracle's
    * candidate slice exactly) plus the full output for the soundness
    * leg. */
  val scaleSparkSql: Map[String, String] = Map(
    "s17_ann_oracle" ->
      """SELECT 'slice' AS leg, vec_a, vec_b, dot_micro2, norm2_a, norm2_b
        |FROM spark_result
        |WHERE substr(md5(CAST(vec_a AS VARCHAR) || ':' ||
        |             CAST(vec_b AS VARCHAR)), 1, 1) = '0'
        |UNION ALL
        |SELECT 'all' AS leg, vec_a, vec_b, dot_micro2, norm2_a, norm2_b
        |FROM spark_result
        |ORDER BY leg, vec_a, vec_b""".stripMargin,
  )
}
