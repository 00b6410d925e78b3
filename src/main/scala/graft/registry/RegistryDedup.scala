package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft._
import graft.operators._

/** Driver-contract registry, dedup / decontamination / entity-resolution tier (d*) — split from the monolithic
  * SparkEntry in round 9 (pure mechanical move, entries verbatim).
  * `queries` holds the Spark-side fns, `oracleSql` the DuckDB
  * referee SQL; both are merged into the driver contract by
  * [[graft.SparkEntry]]. Contract rules (same-name aliasing, total
  * ORDER BY, CAST(SUM(..) AS BIGINT) on the oracle side) are
  * documented on SparkEntry and linted by tools/oraclelint.py.
  */
private[graft] object RegistryDedup {

  /** d6 curation-gate oracle — shared by the untyped (d6_curated) and
    * typed (d6b_curated_typed) implementations: one SQL referee proving
    * both paths compute the identical result.
    */
  private val CuratedSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks,
      |         length(text) AS nc
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, text, nc, CAST(len(toks) AS INT) AS nt,
      |   CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS INT) AS nsw,
      |   CAST(len(list_filter(toks, x -> length(x) > 25)) AS INT) AS nlong
      |  FROM t
      |), q AS (
      |  SELECT doc_id, text, nt,
      |    (CASE WHEN nc >= 100 AND nc <= 5000 THEN 1 ELSE 0 END
      |     + CASE WHEN (nc - nt + 1) >= nt * 3 AND (nc - nt + 1) <= nt * 10 THEN 1 ELSE 0 END
      |     + CASE WHEN nsw * 20 >= nt THEN 1 ELSE 0 END
      |     + CASE WHEN nlong = 0 THEN 1 ELSE 0 END) AS score,
      |    CASE WHEN nsw * 20 >= nt THEN 'en' ELSE 'unknown' END AS plang
      |  FROM c
      |)
      |SELECT min(doc_id) AS doc_id, CAST(min(nt) AS INT) AS n_tokens
      |FROM q WHERE score >= 3 AND plang = 'en'
      |GROUP BY text ORDER BY doc_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */


  private val d9OracleSql: String =
    """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         instr('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nb
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, nb,
        |         unnest(list_distinct(list_transform(
        |           generate_series(1, len(toks) - 4),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
        |                          toks[i+3], toks[i+4])))) AS gram
        |  FROM t WHERE len(toks) >= 5
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM g
        |WHERE nb < 15 AND gram IN (SELECT gram FROM g WHERE nb = 15)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LLM-pipeline tier: dedup / text analysis / similarity search
    "d1_exact_dedup" -> ((s, dir) => Dedup.exactDedup(Tables.documents(s, dir))),
    "d2_dup_stats" -> ((s, dir) => Dedup.dupStats(Tables.documents(s, dir))),
    // (The threshold-0.5 hash-seeded variant retired in r9: rows-only at
    // the driver gate; DedupSimilaritySpec still exercises the operator,
    // and d22_minhash_oracle is its hash-green md5-derandomized twin.)
    // Oracle-proven fuzzy dedup: at threshold 0.9 the 8×4 banding recall is
    // 1-(1-0.9^4)^8 ≈ 0.9998, so LSH output equals DuckDB's exact all-pairs
    // 3-gram Jaccard — promoting the flagship LLM operator from rows-only
    // to hash-compared. That recall is PROBABILISTIC (per-pair, fixed
    // seed → deterministic per dataset, but a qualifying pair CAN miss all
    // bands); DedupSimilaritySpec's "d3b guard" pins the residual to zero
    // on the current fixture by asserting banded == exact all-pairs.
    "d3b_minhash_highsim" -> ((s, dir) => Dedup.nearDupPairs(Tables.documents(s, dir), threshold = 0.9)),
    // maxHamming = 3 → 16-bit chunks, 65k bucket values per chunk: bucket
    // occupancy stays sublinear in corpus size (maxHamming = 8 would leave
    // ~7-bit chunks whose buckets grow linearly — quadratic verify at 100×).
    // (Hash-seeded simhashPairs/simhashPairsCombination registry entries
    // retired in r9 — rows-only at the gate; simhashPairs lives on in d4c,
    // and d23_simhash_oracle/d4c are the hash-green twins.)
    // SimHash banding completeness/soundness vs brute force, driver-
    // witnessed as booleans (DuckDB can't compute SimHash; d5b pattern).
    "d4c_simhash_contract" -> ((s, dir) => Dedup.simhashContract(Tables.documents(s, dir), maxHamming = 3)),
    // Incremental corpus maintenance: the (nibble >= 12) batch deduped
    // against the (nibble < 12) corpus through its precomputed band
    // index — corpus text touched only for candidate docs. Threshold 0.9
    // -> banded recall ~1 (d3b argument), so exact cross-set Jaccard is
    // the oracle.
    "d10_incremental_dedup" -> ((s, dir) => {
      val nb = TextOps.hexNibble("doc_id")
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(nb < 12)
      val incoming = docs.filter(nb >= 12)
      Dedup.incrementalNearDups(Dedup.bandIndex(corpus), corpus, incoming, 0.9)
    }),
    // (Hash-seeded corpusSignatures registry entry retired in r9 —
    // rows-only at the gate; d5b is its hash-green md5-derandomized twin
    // and DedupSimilaritySpec keeps the operator pinned.)
    // The corpus-signature VALUES are hash-seeded (rows-only legacy), but the
    // custom Aggregator's merge correctness is driver-witnessable as a
    // CONTRACT (a6 pattern): the signature must be partitioning-invariant
    // — computing it over a 7-way hash repartition must merge partial
    // states into the identical signature. A broken merge() flips the
    // boolean and hash-mismatches the TRUE-emitting oracle.
    // Signature-maintenance contract: stored ⊕ batch signature merge
    // (elementwise min) equals the full-corpus signatures — the INSERT
    // path of signature maintenance (e8b covers the delete path).
    "d12_signature_merge" -> ((s, dir) =>
      Dedup.signatureMergeContract(Tables.documents(s, dir))),
    "d5b_signature_contract" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, concat_ws}
      def sigs(df: org.apache.spark.sql.DataFrame) =
        Dedup.corpusSignatures(df).withColumn("sig",
          concat_ws("|", col("corpus_signature").cast("array<string>")))
          .select(col("lang"), col("sig"))
      val docs = Tables.documents(s, dir)
      sigs(docs).alias("a")
        .join(sigs(docs.repartition(7, col("doc_id"))).alias("b"), "lang")
        .select(col("lang"),
          (col("a.sig") === col("b.sig")).as("partition_invariant"))
        .orderBy("lang")
    }),
    "d6_curated" -> ((s, dir) => Dedup.curatedCorpus(Tables.documents(s, dir))),
    // Typed Dataset[T] surface: the SAME curation gate written against
    // case classes (compile-time field safety, reduceGroups partial agg).
    // Hash-compared against the SAME oracle SQL as d6_curated — the
    // referee that the typed and untyped paths compute identically.
    "d6b_curated_typed" -> ((s, dir) => {
      import s.implicits._
      TypedOps.curatedCorpusTyped(
        Tables.documents(s, dir).as[TypedOps.Doc]).toDF()
    }),
    // Transitive closure of the near-dup relation: LSH pairs at 0.9 (the
    // d3b-proven edge set) → alternating large-star/small-star connected
    // components → every doc labeled with its cluster's min id. Oracle:
    // the same edges via exact all-pairs Jaccard + a recursive-CTE
    // min-label closure.
    "d7_dup_clusters" -> ((s, dir) => Dedup.dupClusters(Tables.documents(s, dir), threshold = 0.9)),
    // Capstone: end-to-end training-data prep — sample → quality/lang
    // gate → exact dedup → near-dup cluster representatives → token-
    // budget packing, each stage individually oracle-proven (t7/d6/d1/
    // d3b+d7/t10), the composition oracle-checked as one query.
    "d8_training_prep" -> ((s, dir) => TrainingPipeline.trainingPrep(Tables.documents(s, dir))),
    // Benchmark decontamination: training docs sharing any 5-token gram
    // with the held-out (nibble-15) eval split, with distinct-hit counts.
    "d9_decontaminate" -> ((s, dir) => Decontam.contaminationReport(Tables.documents(s, dir))),
    // Same report through the mergeable-bloom prefilter (the 100 TB shape:
    // eval grams -> ONE bloom row, scan-side might_contain, exact verify
    // on the sliver). Output must be byte-identical to d9 -> same oracle.
    "d9b_decontaminate_bloom" -> ((s, dir) => Decontam.contaminationReportBloom(Tables.documents(s, dir))),
    // FUZZY decontamination: train docs near-duplicating an eval doc at
    // 3-gram Jaccard >= 0.5, graded per pair. Exact but never all-pairs:
    // the gram equi-join carries set sizes, so Jaccard falls out of the
    // collision counts with no second shingle pass.
    "d14_fuzzy_decontam" -> ((s, dir) => Decontam.fuzzyContaminationReport(Tables.documents(s, dir))),
    // SemDeDup: embedding near-dup removal within nearest-centroid
    // clusters (pairwise cosine bounded by cluster size, never all-pairs).
    "d15_semdedup" -> ((s, dir) => Similarity.semDedup(Tables.embeddings(s, dir), 0.35, 64)),
    // Quality-aware survivor per near-dup cluster (best doc, not min id).
    "d16_cluster_reps" -> ((s, dir) => Dedup.clusterRepresentatives(Tables.documents(s, dir), 0.9)),
    // Capstone + decontamination: the d8 pipeline with the d9 stage wired
    // between the quality gate and dedup (eval split = nibble 15, disjoint
    // from the nibble<12 training sample).
    "d8b_training_prep_decon" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TrainingPipeline.trainingPrep(docs,
        evalSet = Some(docs.filter(TextOps.hexNibble("doc_id") === 15)))
    }),
    // Deterministic train/val/test split (12/2/2 sixteenths of the key
    // hash) with the disjoint+covering contract driver-witnessed as TRUE.
    "d11_split_contract" -> ((s, dir) => TextOps.splitContract(Tables.documents(s, dir))),
    // Group-aware split (distributed GroupShuffleSplit): whole sources
    // co-travel, leakage witness proven zero.
    "d17_group_split" -> ((s, dir) => TextOps.groupSplit(Tables.documents(s, dir))),
    // EXACT Jaccard join (AllPairs prefix filter) at 4/5 — below d3b's
    // 0.9, where LSH recall < 1 would drop pairs; oracle is brute-force
    // all-pairs with the identical integer threshold arithmetic.
    "d18_jaccard_join" -> ((s, dir) =>
      Dedup.prefixFilterJoin(Tables.documents(s, dir), 4, 5)),
    // Token-budget mixture sampling: cap each source at 768 tokens in
    // content-addressed hash order. Two-phase (bucket prefix-sums, then a
    // row-level window over ONLY the boundary bucket) — no per-source
    // whole-corpus window; oracle is the naive single-window form.
    "d13_token_budget" -> ((s, dir) =>
      TrainingPipeline.tokenBudgetMix(Tables.documents(s, dir), 768L)),
    // Sorted-neighborhood blocking (SNM): block-ranked key sort, w=4
    // neighbor equi-join, levenshtein-verified pairs — linear candidates.
    "d25_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhood(Tables.documents(s, dir))),
    // Walk-forward CV folds with embargo: integer day-span boundaries,
    // realized train/test counts from the daily-count frame.
    "d26_temporal_split" -> ((s, dir) =>
      TrainingPipeline.temporalSplit(Tables.orders(s, dir))),
    // m-estimate target encoding of customer nation: floor-quotient
    // shrinkage toward the global mean, mergeable (n, Σ) emitted.
    "d27_target_encoding" -> ((s, dir) =>
      TrainingPipeline.targetEncoding(Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir))),
    // Blocking-scheme evaluation: SNM candidates vs normalized-text
    // ground truth — pairs completeness + reduction ratio, exact permille.
    "d28_blocking_eval" -> ((s, dir) =>
      Dedup.blockingEval(Tables.documents(s, dir))),
    // Referential sampling audit: md5-nibble customer slice, lineitems
    // follow their order via semi-join; orphan count 0 by construction.
    "d29_referential_sample" -> ((s, dir) =>
      TrainingPipeline.referentialSample(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // Multi-pass SNM: forward + reversed-key passes with per-pass
    // provenance flags — the recall remedy for single-pass blind spots.
    "d30_snm_multipass" -> ((s, dir) =>
      Dedup.snmMultipass(Tables.documents(s, dir))),
    // Target encoding computed through a two-batch stats merge; the
    // oracle is the FULL-batch SQL, so hash equality proves the merge.
    "d31_encoding_merge" -> ((s, dir) =>
      TrainingPipeline.targetEncodingMerged(Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir))),
    // Bag-semantics Jaccard over SNM pairs: Σmin/Σmax on token multisets
    // via the Σmax = sa + sb − Σmin identity — inner joins only.
    "d32_bag_jaccard" -> ((s, dir) =>
      Dedup.bagJaccardPairs(Tables.documents(s, dir))),
    // √-temperature language mix: exact floor-sqrt weights, budget
    // apportioned by largest remainder — sums to budget exactly.
    "d33_temperature_mix" -> ((s, dir) =>
      TrainingPipeline.temperatureMix(Tables.documents(s, dir))),
    // ER pipeline closure: connected components over SNM verified pairs
    // — block → verify → cluster, min-doc labels.
    "d34_snm_clusters" -> ((s, dir) =>
      Dedup.snmClusters(Tables.documents(s, dir))),
    // Near-dup split-leakage audit: SNM clusters straddling the md5
    // train/eval boundary — the contamination number a corpus publishes.
    "d35_split_leakage" -> ((s, dir) =>
      Dedup.splitLeakage(Tables.documents(s, dir))),
    // Normalization funnel: distinct docs at raw / casefold / ws-collapse
    // / alnum equality — each delta is that step's newly-merged dup mass.
    "d36_normalization_funnel" -> ((s, dir) =>
      Dedup.normalizationFunnel(Tables.documents(s, dir))),
    // EXACT set-containment join at 4/5 (quote/truncation detection):
    // contained side keeps its AllPairs prefix, container side indexes
    // all tokens — the asymmetric complement of d18.
    "d19_containment" -> ((s, dir) =>
      Dedup.containmentJoin(Tables.documents(s, dir), 4, 5)),
    // EXACT edit-distance join (two-segment pigeonhole) at k=4 on
    // 32-char prefixes: character-SEQUENCE closeness — the typo/OCR
    // regime where one edit kills every shingle crossing it, invisible
    // to the token-set joins d18/d19. Candidates from one equi-join on
    // the (i, j, pair-key) triple that the PigeonholeKeys generator cuts
    // on each side; verification is codegen'd levenshtein.
    "d20_edit_distance" -> ((s, dir) =>
      Dedup.editDistanceJoin(Tables.documents(s, dir), 4, 32)),
    // Crawl-overlap matrix: exact-duplicate pairs within and across
    // sources, from (text-hash, source) counts.
    "d21_cross_source_dups" -> ((s, dir) =>
      Dedup.crossSourceDups(Tables.documents(s, dir))),
    // ORACLE-EXACT MinHash+LSH: md5-derived affine permutation family
    // both engines compute bit-identically — the full sign→band→bucket-
    // join→verify pipeline under the hash gate (d3's fast seeded kernel
    // stays rows-only with its contract twin).
    "d22_minhash_oracle" -> ((s, dir) =>
      Dedup.minhashOraclePairs(Tables.documents(s, dir))),
    // ORACLE-EXACT SimHash: md5-bit-sum 60-bit signature, 4×15-bit
    // pigeonhole bands (complete for Hamming ≤ 3), bit_count(xor)
    // verify — the d4 companion to d22.
    "d23_simhash_oracle" -> ((s, dir) =>
      Dedup.simhashOraclePairs(Tables.documents(s, dir))),
    // The md5-affine signature TABLE itself (d5's oracle-exact twin):
    // per-doc h0..h7 permutation minima, hash-checked value by value.
    "d24_signatures_oracle" -> ((s, dir) =>
      Dedup.minhashOracleSignatures(Tables.documents(s, dir))
        .orderBy("doc_id")),
  )

  val oracleSql: Map[String, String] = Map(
    "d1_exact_dedup" ->
      "SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text ORDER BY doc_id",
    "d2_dup_stats" ->
      "SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_unique FROM documents GROUP BY lang ORDER BY lang",
    // LLM tier (d3/d4/d5/s2 are hash-seeded — not SQL-expressible, rows-only;
    // d3b IS oracle-compared: at threshold 0.9 LSH recall ≈ 0.9998, so the
    // banded engine result equals DuckDB's exact all-pairs Jaccard. The
    // size-ratio prefilter is a necessary condition for the ROUNDED
    // threshold round(J,4) ≥ 0.9 ⇔ J ≥ 0.89995 (J ≤ min/max of
    // distinct-shingle counts, hence ratio ≥ 0.8999 with slack) — it only
    // prunes pairs the threshold would reject, keeping the quadratic
    // oracle tractable.)
    "d3b_minhash_highsim" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
        |          / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |   AND len(a.sh) * 10000 >= len(b.sh) * 8999 AND len(b.sh) * 10000 >= len(a.sh) * 8999
        |)
        |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d4c_simhash_contract" ->
      "SELECT TRUE AS nonempty, TRUE AS complete, TRUE AS sound",
    "d10_incremental_dedup" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |  instr('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nb
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, nb, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc,
        |    ROUND(len(list_intersect(n.sh, c.sh)) * 1.0
        |          / len(list_distinct(list_concat(n.sh, c.sh))), 4) AS jaccard
        |  FROM s n JOIN s c ON n.nb >= 12 AND c.nb < 12
        |   AND len(n.sh) * 10000 >= len(c.sh) * 8999 AND len(c.sh) * 10000 >= len(n.sh) * 8999
        |)
        |SELECT new_doc, corpus_doc, jaccard FROM p WHERE jaccard >= 0.9
        |ORDER BY new_doc, corpus_doc""".stripMargin,
    "d12_signature_merge" ->
      "SELECT TRUE AS split_nonempty, TRUE AS merge_equal",
    "d5b_signature_contract" ->
      "SELECT lang, TRUE AS partition_invariant FROM documents GROUP BY lang ORDER BY lang",
    "d6_curated" -> CuratedSql,
    // typed path, same referee:
    "d6b_curated_typed" -> CuratedSql,
    // Connected components as a recursive min-label closure: edges are the
    // exact all-pairs J ≥ 0.9 pairs (same derivation as d3b, both
    // directions), the recursive CTE enumerates every (node, reachable
    // label), and min per node is the component id. Tractable because the
    // sf0.01 edge set is tiny; the ENGINE side is the one that has to be
    // subquadratic (LSH edges + O(log² n) star rounds).
    "d7_dup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |   AND len(a.sh) * 10000 >= len(b.sh) * 8999 AND len(b.sh) * 10000 >= len(a.sh) * 8999
        |  WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9
        |), e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p
        |), cc AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON cc.node = e.a
        |), lab AS (
        |  SELECT node, min(label) AS cluster_id FROM cc GROUP BY node
        |), sz AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS INT) AS cluster_size
        |  FROM lab GROUP BY cluster_id
        |)
        |SELECT lab.node AS doc_id, lab.cluster_id, sz.cluster_size
        |FROM lab JOIN sz USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    "d8_training_prep" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, lang, string_split(text, ' ') AS toks,
        |         length(text) AS nc
        |  FROM documents
        |  WHERE instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 12
        |), c AS (
        |  SELECT doc_id, text, lang, nc, CAST(len(toks) AS INT) AS nt,
        |   CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS INT) AS nsw,
        |   CAST(len(list_filter(toks, x -> length(x) > 25)) AS INT) AS nlong
        |  FROM base
        |), q AS (
        |  SELECT doc_id, text, lang, nt,
        |    (CASE WHEN nc >= 100 AND nc <= 5000 THEN 1 ELSE 0 END
        |     + CASE WHEN (nc - nt + 1) >= nt * 3 AND (nc - nt + 1) <= nt * 10 THEN 1 ELSE 0 END
        |     + CASE WHEN nsw * 20 >= nt THEN 1 ELSE 0 END
        |     + CASE WHEN nlong = 0 THEN 1 ELSE 0 END) AS score,
        |    CASE WHEN nsw * 20 >= nt THEN 'en' ELSE 'unknown' END AS plang
        |  FROM c
        |), d AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
        |         text, min(nt) AS nt
        |  FROM q WHERE score >= 3 AND plang = 'en'
        |  GROUP BY text
        |), s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
        |    THEN list_transform(generate_series(1, len(string_split(text, ' '))-2),
        |         i -> concat_ws(' ', string_split(text, ' ')[i],
        |              string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM d
        |), p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |   AND len(a.sh) * 10000 >= len(b.sh) * 8999 AND len(b.sh) * 10000 >= len(a.sh) * 8999
        |  WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9
        |), e AS (
        |  SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p
        |), cc AS (
        |  SELECT doc_id AS node, doc_id AS label FROM d
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON cc.node = e.a
        |), lab AS (
        |  SELECT node, min(label) AS lbl FROM cc GROUP BY node
        |), reps AS (
        |  SELECT d.doc_id, d.lang, CAST(d.nt AS INT) AS n_tokens
        |  FROM d JOIN lab ON d.doc_id = lab.node
        |  WHERE lab.lbl = d.doc_id
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       - n_tokens) / 512) AS INT) AS chunk_id
        |FROM reps ORDER BY doc_id""".stripMargin,
    "d9_decontaminate" -> d9OracleSql,
    // d9b is CONTRACTUALLY the same oracle: the bloom prefilter may
    // only change where rows are dropped, never the result
    "d9b_decontaminate_bloom" -> d9OracleSql,
    "d14_fuzzy_decontam" ->
      """WITH d AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks,
        |         instr('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nb
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, nb, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM d
        |), t AS (
        |  SELECT doc_id AS train_doc, len(sh) AS n_t, unnest(sh) AS gram
        |  FROM s WHERE nb < 15
        |), e AS (
        |  SELECT doc_id AS eval_doc, len(sh) AS n_e, unnest(sh) AS gram
        |  FROM s WHERE nb = 15
        |), p AS (
        |  SELECT train_doc, eval_doc, n_t, n_e, COUNT(*) AS i
        |  FROM t JOIN e USING (gram) GROUP BY 1, 2, 3, 4
        |)
        |SELECT train_doc, eval_doc,
        |       ROUND(i * 1.0 / (n_t + n_e - i), 4) AS jaccard
        |FROM p WHERE ROUND(i * 1.0 / (n_t + n_e - i), 4) >= 0.5
        |ORDER BY train_doc, eval_doc""".stripMargin,
    "d15_semdedup" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xs,
        |         CAST(embedding AS DOUBLE[]) AS de,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[]))) AS nrm
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
        |), assign AS (
        |  SELECT vec_id, c_label AS cluster FROM dist
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |                             ORDER BY dist2, c_label) = 1
        |), cnt AS (
        |  SELECT cluster, COUNT(*) AS nc FROM assign GROUP BY cluster
        |), seeds AS (
        |  SELECT a.cluster, a.vec_id AS seed_id, e.xs AS sxs
        |  FROM assign a JOIN e ON e.vec_id = a.vec_id JOIN cnt USING (cluster)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.cluster
        |      ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id)
        |    <= (cnt.nc + 2047) // 2048
        |), subassign AS (
        |  SELECT a.vec_id, a.cluster, s.seed_id AS sub
        |  FROM assign a JOIN e ON e.vec_id = a.vec_id
        |  JOIN seeds s ON s.cluster = a.cluster
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |    ORDER BY CAST(list_sum(list_transform(generate_series(1, len(e.xs)),
        |      i -> (e.xs[i] - s.sxs[i]) * (e.xs[i] - s.sxs[i]))) AS BIGINT),
        |      s.seed_id) = 1
        |), pair AS (
        |  -- per-vector norms hoisted into e (bit-identical: the same
        |  -- sqrt(list_dot_product(de, de)) expression, computed once per
        |  -- vector instead of once per candidate pair)
        |  SELECT a.vec_id AS u, b.vec_id AS v,
        |    ROUND(list_dot_product(eu.de, ev.de)
        |      / (eu.nrm * ev.nrm), 6) AS score
        |  FROM subassign a JOIN subassign b
        |    ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id
        |  JOIN e eu ON eu.vec_id = a.vec_id
        |  JOIN e ev ON ev.vec_id = b.vec_id
        |), dropped AS (
        |  SELECT v AS vec_id, MIN(u) AS dropped_by
        |  FROM pair WHERE score >= 0.35 GROUP BY v
        |)
        |SELECT a.vec_id, a.cluster, d.dropped_by IS NULL AS kept, d.dropped_by
        |FROM assign a LEFT JOIN dropped d USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin,
    "d16_cluster_reps" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |   AND len(a.sh) * 10000 >= len(b.sh) * 8999 AND len(b.sh) * 10000 >= len(a.sh) * 8999
        |  WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9
        |), e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p
        |), cc AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON cc.node = e.a
        |), lab AS (
        |  SELECT node, min(label) AS cluster_id FROM cc GROUP BY node
        |), q AS (
        |  SELECT doc_id,
        |    (CASE WHEN nc >= 100 AND nc <= 5000 THEN 1 ELSE 0 END
        |     + CASE WHEN (nc - nt + 1) >= nt * 3 AND (nc - nt + 1) <= nt * 10 THEN 1 ELSE 0 END
        |     + CASE WHEN nsw * 20 >= nt THEN 1 ELSE 0 END
        |     + CASE WHEN nlong = 0 THEN 1 ELSE 0 END) AS quality_score
        |  FROM (
        |    SELECT doc_id, length(text) AS nc, CAST(len(toks) AS INT) AS nt,
        |      CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS INT) AS nsw,
        |      CAST(len(list_filter(toks, x -> length(x) > 25)) AS INT) AS nlong
        |    FROM t
        |  )
        |), sel AS (
        |  SELECT l.cluster_id, l.node AS doc_id, q.quality_score,
        |         COUNT(*) OVER (PARTITION BY l.cluster_id) AS csize
        |  FROM lab l JOIN q ON q.doc_id = l.node
        |)
        |SELECT cluster_id, doc_id AS rep_doc, quality_score AS rep_quality,
        |       CAST(csize AS BIGINT) AS cluster_size
        |FROM sel
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                           ORDER BY quality_score DESC, doc_id) = 1
        |ORDER BY cluster_id""".stripMargin,
    "d8b_training_prep_decon" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, lang, string_split(text, ' ') AS toks,
        |         length(text) AS nc
        |  FROM documents
        |  WHERE instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 12
        |), c AS (
        |  SELECT doc_id, text, lang, nc, toks, CAST(len(toks) AS INT) AS nt,
        |   CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS INT) AS nsw,
        |   CAST(len(list_filter(toks, x -> length(x) > 25)) AS INT) AS nlong
        |  FROM base
        |), q AS (
        |  SELECT doc_id, text, lang, nt, toks,
        |    (CASE WHEN nc >= 100 AND nc <= 5000 THEN 1 ELSE 0 END
        |     + CASE WHEN (nc - nt + 1) >= nt * 3 AND (nc - nt + 1) <= nt * 10 THEN 1 ELSE 0 END
        |     + CASE WHEN nsw * 20 >= nt THEN 1 ELSE 0 END
        |     + CASE WHEN nlong = 0 THEN 1 ELSE 0 END) AS score,
        |    CASE WHEN nsw * 20 >= nt THEN 'en' ELSE 'unknown' END AS plang
        |  FROM c
        |), qq AS (
        |  SELECT doc_id, text, lang, nt, toks FROM q
        |  WHERE score >= 3 AND plang = 'en'
        |), tg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(toks)-4),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))) AS gram
        |  FROM qq WHERE len(toks) >= 5
        |), evt AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 = 15
        |), evg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, len(toks)-4),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))) AS gram
        |  FROM evt WHERE len(toks) >= 5
        |), bad AS (
        |  SELECT DISTINCT doc_id FROM tg WHERE gram IN (SELECT gram FROM evg)
        |), d AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
        |         text, min(nt) AS nt
        |  FROM qq WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |  GROUP BY text
        |), s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
        |    THEN list_transform(generate_series(1, len(string_split(text, ' '))-2),
        |         i -> concat_ws(' ', string_split(text, ' ')[i],
        |              string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM d
        |), p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |   AND len(a.sh) * 10000 >= len(b.sh) * 8999 AND len(b.sh) * 10000 >= len(a.sh) * 8999
        |  WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.9
        |), e AS (
        |  SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p
        |), cc AS (
        |  SELECT doc_id AS node, doc_id AS label FROM d
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON cc.node = e.a
        |), lab AS (
        |  SELECT node, min(label) AS lbl FROM cc GROUP BY node
        |), reps AS (
        |  SELECT d.doc_id, d.lang, CAST(d.nt AS INT) AS n_tokens
        |  FROM d JOIN lab ON d.doc_id = lab.node
        |  WHERE lab.lbl = d.doc_id
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       - n_tokens) / 512) AS INT) AS chunk_id
        |FROM reps ORDER BY doc_id""".stripMargin,
    "d11_split_contract" ->
      """WITH tagged AS (
        |  SELECT doc_id,
        |    CASE WHEN instr('0123456789abcdef',
        |                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 12
        |         THEN 'train'
        |         WHEN instr('0123456789abcdef',
        |                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 14
        |         THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), per AS (
        |  SELECT s.split, COALESCE(n.n_docs, 0) AS n_docs
        |  FROM (VALUES ('train'), ('val'), ('test')) s(split)
        |  LEFT JOIN (
        |    SELECT split, COUNT(*) AS n_docs FROM tagged GROUP BY split
        |  ) n USING (split)
        |), tot AS (
        |  SELECT COUNT(DISTINCT doc_id) AS n_total FROM documents
        |), asg AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_assigned FROM per
        |)
        |SELECT split, n_docs, n_total,
        |       n_assigned = n_total AS covers_and_disjoint,
        |       n_docs > 0 AS nonempty
        |FROM per, tot, asg ORDER BY split""".stripMargin,
    "d17_group_split" ->
      """WITH tagged AS (
        |  SELECT source AS grp,
        |    CASE WHEN instr('0123456789abcdef',
        |                    substr(md5(CAST(source AS VARCHAR)), 1, 1)) - 1 < 12
        |         THEN 'train'
        |         WHEN instr('0123456789abcdef',
        |                    substr(md5(CAST(source AS VARCHAR)), 1, 1)) - 1 < 14
        |         THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), per AS (
        |  SELECT split, CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_sources,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM tagged GROUP BY split
        |), lk AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
        |              AS BIGINT) AS n_leaking
        |  FROM (SELECT grp, COUNT(DISTINCT split) AS ns
        |        FROM tagged GROUP BY grp)
        |)
        |SELECT split, n_sources, n_docs, n_leaking = 0 AS leak_free
        |FROM per, lk ORDER BY split""".stripMargin,
    "d18_jaccard_join" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
        |       CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        | AND len(a.sh) * 5 >= len(b.sh) * 4 AND len(b.sh) * 5 >= len(a.sh) * 4
        |WHERE len(list_intersect(a.sh, b.sh)) * 5
        |      >= len(list_distinct(list_concat(a.sh, b.sh))) * 4
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d13_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n_tokens
        |FROM c WHERE cum <= 768 ORDER BY doc_id""".stripMargin,
    "d25_sorted_neighborhood" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
        |      AS k
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM keyed
        |)
        |SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |  GREATEST(a.doc_id, b.doc_id) AS doc_b,
        |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
        |FROM r a JOIN r b
        |  ON b.blk = a.blk
        | AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |WHERE levenshtein(a.k, b.k) <= 8
        |ORDER BY 1, 2""".stripMargin,
    "d26_temporal_split" ->
      """WITH d AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |           AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
        |), s AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
        |spec AS (
        |  SELECT CAST(unnest(range(1, 5)) AS BIGINT) AS fold, d0, d1,
        |         (d1 - d0 + 1) // 5 AS width
        |  FROM s
        |), f AS (
        |  SELECT fold, d0 + fold * width AS train_end_day,
        |         d0 + fold * width + 7 AS test_start_day,
        |         d0 + (fold + 1) * width AS test_end_day
        |  FROM spec
        |)
        |SELECT fold, train_end_day, test_start_day, test_end_day,
        |  CAST(SUM(CASE WHEN day < train_end_day THEN c ELSE 0 END)
        |       AS BIGINT) AS n_train,
        |  CAST(SUM(CASE WHEN day >= test_start_day AND day < test_end_day
        |                THEN c ELSE 0 END) AS BIGINT) AS n_test
        |FROM d CROSS JOIN f
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    "d27_target_encoding" ->
      """WITH f AS (
        |  SELECT n.n_name, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE o.o_totalprice IS NOT NULL
        |), g AS (
        |  SELECT CAST(SUM(cents) AS BIGINT) AS gsum,
        |         CAST(COUNT(*) AS BIGINT) AS gn
        |  FROM f
        |)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_c,
        |  CAST(SUM(cents) AS BIGINT) AS sum_c,
        |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS raw_mean_cents,
        |  CAST((SUM(cents) + 20 * (MAX(gsum) // MAX(gn)))
        |       // (COUNT(*) + 20) AS BIGINT) AS enc_cents,
        |  CAST(MAX(gsum) // MAX(gn) AS BIGINT) AS global_mean_cents
        |FROM f CROSS JOIN g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d28_blocking_eval" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt,
        |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
        |      AS k
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM keyed
        |), cand AS (
        |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |         GREATEST(a.doc_id, b.doc_id) AS doc_b
        |  FROM r a JOIN r b
        |    ON b.blk = a.blk
        |   AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |), tp AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM keyed x JOIN keyed y
        |    ON x.nt = y.nt AND x.doc_id < y.doc_id
        |), c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM tp),
        |cap AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_captured
        |  FROM tp JOIN cand USING (doc_a, doc_b)
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM documents)
        |SELECT n_records,
        |  n_records * (n_records - 1) // 2 AS n_total_pairs,
        |  n_candidates, n_true_pairs, n_captured,
        |  n_captured * 1000 // NULLIF(n_true_pairs, 0)
        |    AS completeness_permille,
        |  (n_records * (n_records - 1) // 2 - n_candidates) * 1000
        |    // NULLIF(n_records * (n_records - 1) // 2, 0)
        |    AS reduction_permille
        |FROM n CROSS JOIN c CROSS JOIN t CROSS JOIN cap""".stripMargin,
    "d29_referential_sample" ->
      """WITH ko AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE strpos('0123456789abcdef',
        |          substring(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1 < 4
        |), kl AS (
        |  SELECT l_orderkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM ko)
        |), oc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders),
        |okc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_kept FROM ko),
        |lc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem),
        |lkc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lines_kept FROM kl),
        |orp AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan_lines
        |  FROM kl WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ko)
        |)
        |SELECT n_orders, n_orders_kept,
        |  n_orders_kept * 1000 // NULLIF(n_orders, 0) AS orders_permille,
        |  n_lines, n_lines_kept,
        |  n_lines_kept * 1000 // NULLIF(n_lines, 0) AS lines_permille,
        |  n_orphan_lines
        |FROM oc CROSS JOIN okc CROSS JOIN lc CROSS JOIN lkc
        |CROSS JOIN orp""".stripMargin,
    "d30_snm_multipass" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents
        |), fk AS (
        |  SELECT doc_id, substring(nt, 1, 24) AS k FROM keyed
        |), fr AS (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM fk
        |), fp AS (
        |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |         GREATEST(a.doc_id, b.doc_id) AS doc_b
        |  FROM fr a JOIN fr b
        |    ON b.blk = a.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |  WHERE levenshtein(a.k, b.k) <= 8
        |), rk AS (
        |  SELECT doc_id, substring(reverse(nt), 1, 24) AS k FROM keyed
        |), rr AS (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM rk
        |), rp AS (
        |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |         GREATEST(a.doc_id, b.doc_id) AS doc_b
        |  FROM rr a JOIN rr b
        |    ON b.blk = a.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |  WHERE levenshtein(a.k, b.k) <= 8
        |), u AS (
        |  SELECT doc_a, doc_b, 1 AS f, 0 AS r FROM fp
        |  UNION ALL
        |  SELECT doc_a, doc_b, 0 AS f, 1 AS r FROM rp
        |)
        |SELECT doc_a, doc_b, CAST(MAX(f) AS BIGINT) AS in_fwd,
        |  CAST(MAX(r) AS BIGINT) AS in_rev
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d31_encoding_merge" ->
      """WITH f AS (
        |  SELECT n.n_name, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE o.o_totalprice IS NOT NULL
        |), g AS (
        |  SELECT CAST(SUM(cents) AS BIGINT) AS gsum,
        |         CAST(COUNT(*) AS BIGINT) AS gn
        |  FROM f
        |)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_c,
        |  CAST(SUM(cents) AS BIGINT) AS sum_c,
        |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS raw_mean_cents,
        |  CAST((SUM(cents) + 20 * (MAX(gsum) // MAX(gn)))
        |       // (COUNT(*) + 20) AS BIGINT) AS enc_cents,
        |  CAST(MAX(gsum) // MAX(gn) AS BIGINT) AS global_mean_cents
        |FROM f CROSS JOIN g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d32_bag_jaccard" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
        |      AS k
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM keyed
        |), pairs AS (
        |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |    GREATEST(a.doc_id, b.doc_id) AS doc_b
        |  FROM r a JOIN r b
        |    ON b.blk = a.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |  WHERE levenshtein(a.k, b.k) <= 8
        |), tc AS (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), sz AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS sz FROM tc GROUP BY 1
        |), im AS (
        |  SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
        |  FROM pairs p
        |  JOIN tc a ON a.doc_id = p.doc_a
        |  JOIN tc b ON b.doc_id = p.doc_b AND b.tok = a.tok
        |  GROUP BY 1, 2
        |)
        |SELECT p.doc_a, p.doc_b,
        |  COALESCE(im.m, 0) AS jac_num,
        |  sa.sz + sb.sz - COALESCE(im.m, 0) AS jac_den
        |FROM pairs p
        |LEFT JOIN im ON im.doc_a = p.doc_a AND im.doc_b = p.doc_b
        |JOIN sz sa ON sa.doc_id = p.doc_a
        |JOIN sz sb ON sb.doc_id = p.doc_b
        |ORDER BY 1, 2""".stripMargin,
    "d33_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(FLOOR(sqrt(COUNT(*))) AS BIGINT) AS w
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1
        |), x AS (
        |  SELECT lang, n_docs, w,
        |    CAST(SUM(w) OVER () AS BIGINT) AS wsum
        |  FROM c
        |), y AS (
        |  SELECT lang, n_docs, w,
        |    w * 10000 // wsum AS base,
        |    w * 10000 % wsum AS rem,
        |    10000 - CAST(SUM(w * 10000 // wsum) OVER () AS BIGINT) AS short,
        |    row_number() OVER (ORDER BY w * 10000 % wsum DESC, lang) AS rk
        |  FROM x
        |)
        |SELECT lang, n_docs, w,
        |  CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
        |    AS allocation
        |FROM y ORDER BY lang""".stripMargin,
    "d34_snm_clusters" ->
      """WITH RECURSIVE keyed AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
        |      AS k
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM keyed
        |), p AS (
        |  SELECT LEAST(a.doc_id, b.doc_id) AS u,
        |    GREATEST(a.doc_id, b.doc_id) AS v
        |  FROM r a JOIN r b
        |    ON b.blk = a.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |  WHERE levenshtein(a.k, b.k) <= 8
        |), e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |cc AS (
        |  SELECT u AS node, u AS lbl FROM e
        |  UNION
        |  SELECT e.v, cc.lbl FROM cc JOIN e ON cc.node = e.u WHERE cc.lbl < e.v
        |)
        |SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY node
        |ORDER BY doc_id""".stripMargin,
    "d35_split_leakage" ->
      """WITH RECURSIVE keyed AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
        |      AS k
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM keyed
        |), p AS (
        |  SELECT LEAST(a.doc_id, b.doc_id) AS u,
        |    GREATEST(a.doc_id, b.doc_id) AS v
        |  FROM r a JOIN r b
        |    ON b.blk = a.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |  WHERE levenshtein(a.k, b.k) <= 8
        |), e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |cc AS (
        |  SELECT u AS node, u AS lbl FROM e
        |  UNION
        |  SELECT e.v, cc.lbl FROM cc JOIN e ON cc.node = e.u WHERE cc.lbl < e.v
        |), cl AS (
        |  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY node
        |), sided AS (
        |  SELECT cluster_id,
        |    CASE WHEN strpos('0123456789abcdef',
        |           substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 8
        |         THEN 1 ELSE 0 END AS is_train
        |  FROM cl
        |), pc AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(is_train) AS BIGINT) AS n_train
        |  FROM sided GROUP BY 1
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(n_docs) AS BIGINT) AS n_clustered_docs,
        |  CAST(SUM(CASE WHEN n_train > 0 AND n_train < n_docs
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_clusters,
        |  CAST(SUM(CASE WHEN n_train > 0 AND n_train < n_docs
        |                THEN n_docs ELSE 0 END) AS BIGINT) AS n_leaky_docs
        |FROM pc""".stripMargin,
    "d36_normalization_funnel" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw,
        |  CAST(COUNT(DISTINCT lower(text)) AS BIGINT) AS n_casefold,
        |  CAST(COUNT(DISTINCT regexp_replace(trim(lower(text)),
        |       '\s+', ' ', 'g')) AS BIGINT) AS n_wscollapse,
        |  CAST(COUNT(DISTINCT regexp_replace(lower(text),
        |       '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_alnum
        |FROM documents""".stripMargin,
    "d19_containment" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
        |       CAST(len(a.sh) AS BIGINT) AS na, CAST(len(b.sh) AS BIGINT) AS nb
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        | AND len(b.sh) * 5 >= len(a.sh) * 4
        |WHERE len(list_intersect(a.sh, b.sh)) * 5 >= len(a.sh) * 4
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d20_edit_distance" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 32) AS s
        |           FROM documents WHERE length(text) >= 32)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 4
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d21_cross_source_dups" ->
      """WITH counts AS (
        |  SELECT md5(text) AS h, source, COUNT(*) AS c
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       CAST(SUM(CASE WHEN a.source = b.source
        |                     THEN a.c * (a.c - 1) // 2
        |                     ELSE a.c * b.c END) AS BIGINT) AS n_dup_pairs
        |FROM counts a JOIN counts b
        |  ON a.h = b.h AND a.source <= b.source
        |GROUP BY 1, 2
        |HAVING SUM(CASE WHEN a.source = b.source
        |                THEN a.c * (a.c - 1) // 2
        |                ELSE a.c * b.c END) > 0
        |ORDER BY 1, 2""".stripMargin,
    "d22_minhash_oracle" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
        |           FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |), tok AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |m AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647
        |      AS m
        |  FROM tok
        |), sig AS (
        |  SELECT doc_id,
        |    MIN((919393 * m + 12289) % 2147483647) AS h0,
        |    MIN((273647 * m + 514229) % 2147483647) AS h1,
        |    MIN((877571 * m + 39916801) % 2147483647) AS h2,
        |    MIN((499979 * m + 6700417) % 2147483647) AS h3,
        |    MIN((331777 * m + 1299709) % 2147483647) AS h4,
        |    MIN((764321 * m + 15485863) % 2147483647) AS h5,
        |    MIN((104729 * m + 32452843) % 2147483647) AS h6,
        |    MIN((611953 * m + 49979687) % 2147483647) AS h7
        |  FROM m GROUP BY doc_id
        |), bk AS (
        |  SELECT doc_id, concat_ws(':', 0, h0, h1) AS band_key FROM sig
        |  UNION ALL SELECT doc_id, concat_ws(':', 1, h2, h3) FROM sig
        |  UNION ALL SELECT doc_id, concat_ws(':', 2, h4, h5) FROM sig
        |  UNION ALL SELECT doc_id, concat_ws(':', 3, h6, h7) FROM sig
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bk a JOIN bk b
        |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
        |  CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
        |    AS BIGINT) AS n_union
        |FROM cand JOIN s sa ON sa.doc_id = doc_a
        |          JOIN s sb ON sb.doc_id = doc_b
        |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 5
        |      >= CAST(len(sa.sh) + len(sb.sh)
        |              - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 4
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the 60 per-bit sums / signature recombination / band extraction are
    // generated, not hand-written — same structure as the Scala side
    "d23_simhash_oracle" -> {
      val sums = (0 until 60).map(b =>
        s"SUM(CASE WHEN (m // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val sigExpr = (0 until 60).map(b =>
        s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
      val bands = (0 until 4).map(i =>
        s"SELECT doc_id, sig, concat_ws(':', $i, " +
          s"(sig // ${1L << (15 * i)}) % ${1L << 15}) AS band_key FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
         |    AS tok
         |  FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS m
         |  FROM tok
         |), sums AS (
         |  SELECT doc_id,
         |    $sums
         |  FROM m GROUP BY doc_id
         |), sig AS (SELECT doc_id, $sigExpr AS sig FROM sums),
         |bk AS (
         |  $bands
         |)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hd
         |FROM bk a JOIN bk b
         |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "d24_signatures_oracle" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
        |           FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |), tok AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |m AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647
        |      AS m
        |  FROM tok
        |)
        |SELECT doc_id,
        |  MIN((919393 * m + 12289) % 2147483647) AS h0,
        |  MIN((273647 * m + 514229) % 2147483647) AS h1,
        |  MIN((877571 * m + 39916801) % 2147483647) AS h2,
        |  MIN((499979 * m + 6700417) % 2147483647) AS h3,
        |  MIN((331777 * m + 1299709) % 2147483647) AS h4,
        |  MIN((764321 * m + 15485863) % 2147483647) AS h5,
        |  MIN((104729 * m + 32452843) % 2147483647) AS h6,
        |  MIN((611953 * m + 49979687) % 2147483647) AS h7
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )

  /** Shared shingle CTE body for the scale referees below (identical to
    * the primary oracles' shingle derivation, verbatim). */
  private val ShingleCte =
    """t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      |    THEN list_transform(generate_series(1, len(toks)-2),
      |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |    ELSE [text] END) AS sh
      |  FROM t
      |),
      |z AS (SELECT doc_id, len(sh) AS n FROM s),
      |g AS (SELECT doc_id, unnest(sh) AS gram FROM s)""".stripMargin

  /** WIDE-gate SCALE REFEREES (tools/scalecheck.py): tractable DuckDB
    * reformulations of this tier's intentionally-quadratic primary
    * oracles, engaged ONLY at ScaleGen scales (sf>=1) — the sf<=0.1
    * gates keep the independent all-pairs formulations.
    *
    * Derivations (each proven row-identical to its primary on sf0.1,
    * where both are tractable — see SURVEY round-10 notes):
    *  - d3b/d18/d19/d10/d7/d16: the all-pairs `s a JOIN s b` +
    *    `list_intersect` edge derivation is replaced by the inverted-
    *    index identity |A∩B| = Σ_gram [gram∈A][gram∈B] (unnest + equi-
    *    join + COUNT per pair). Algebraically exact: any pair at J>0
    *    shares ≥1 shingle, so no qualifying pair is missed, and the
    *    size-ratio prefilters only pruned below-threshold pairs. Cost
    *    drops from O(n²) list ops to Σ_gram df(gram)² — near-linear on
    *    a low-dup corpus (measured ~100x faster at sf0.1).
    *  - d32: pair generation via an explicit offsets (1..4) equi-join on
    *    (blk, rn) instead of `rn BETWEEN a.rn+1 AND a.rn+4`, which DuckDB
    *    executes as a per-block nested loop at scale. Same pairs. Every
    *    CTE is MATERIALIZED: each is referenced 2-3x and DuckDB
    *    re-evaluates inlined CTEs per reference (the 5M-row unnested
    *    token-count CTE ran 3x — >300 s inlined, 1.2 s materialized at
    *    sf1; same fix as g10's referee).
    *  - d20 (exact levenshtein has no sub-quadratic SQL form): a
    *    deterministic PAIR-LOCAL slice — ScaleGen shard 0
    *    (doc_id < 1e8 = the source sf0.1 corpus verbatim). The query is
    *    pair-local, so restricting both endpoints is exact; the referee
    *    re-proves the full engine run (which saw ALL shards) against the
    *    known-tractable 12.5M-candidate shard-0 ground truth. The
    *    matching spark-side slice lives in [[scaleSparkSql]].
    */
  val scaleOracleSql: Map[String, String] = Map(
    "d3b_minhash_highsim" ->
      s"""WITH $ShingleCte,
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, ROUND(i * 1.0 / (za.n + zb.n - i), 4) AS jaccard
        |FROM p JOIN z za ON za.doc_id = p.doc_a JOIN z zb ON zb.doc_id = p.doc_b
        |WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d18_jaccard_join" ->
      s"""WITH $ShingleCte,
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS n_inter,
        |       CAST(za.n + zb.n - i AS BIGINT) AS n_union
        |FROM p JOIN z za ON za.doc_id = p.doc_a JOIN z zb ON zb.doc_id = p.doc_b
        |WHERE i * 5 >= (za.n + zb.n - i) * 4
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d19_containment" ->
      s"""WITH $ShingleCte,
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS n_inter,
        |       CAST(za.n AS BIGINT) AS na, CAST(zb.n AS BIGINT) AS nb
        |FROM p JOIN z za ON za.doc_id = p.doc_a JOIN z zb ON zb.doc_id = p.doc_b
        |WHERE i * 5 >= za.n * 4
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d10_incremental_dedup" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |  instr('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nb
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, nb, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks)-2),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [text] END) AS sh
        |  FROM t
        |),
        |z AS (SELECT doc_id, len(sh) AS n FROM s),
        |g AS (SELECT doc_id, nb, unnest(sh) AS gram FROM s),
        |p AS (
        |  SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc, COUNT(*) AS i
        |  FROM g n JOIN g c ON n.gram = c.gram AND n.nb >= 12 AND c.nb < 12
        |  GROUP BY 1, 2
        |)
        |SELECT new_doc, corpus_doc,
        |       ROUND(i * 1.0 / (zn.n + zc.n - i), 4) AS jaccard
        |FROM p JOIN z zn ON zn.doc_id = p.new_doc
        |       JOIN z zc ON zc.doc_id = p.corpus_doc
        |WHERE ROUND(i * 1.0 / (zn.n + zc.n - i), 4) >= 0.9
        |ORDER BY new_doc, corpus_doc""".stripMargin,
    "d7_dup_clusters" ->
      s"""WITH RECURSIVE $ShingleCte,
        |pp AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT doc_a, doc_b FROM pp
        |  JOIN z za ON za.doc_id = pp.doc_a JOIN z zb ON zb.doc_id = pp.doc_b
        |  WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.9
        |), e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p
        |), cc AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON cc.node = e.a
        |), lab AS (
        |  SELECT node, min(label) AS cluster_id FROM cc GROUP BY node
        |), sz AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS INT) AS cluster_size
        |  FROM lab GROUP BY cluster_id
        |)
        |SELECT lab.node AS doc_id, lab.cluster_id, sz.cluster_size
        |FROM lab JOIN sz USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    "d16_cluster_reps" ->
      s"""WITH RECURSIVE $ShingleCte,
        |pp AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT doc_a, doc_b FROM pp
        |  JOIN z za ON za.doc_id = pp.doc_a JOIN z zb ON zb.doc_id = pp.doc_b
        |  WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.9
        |), e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p
        |), cc AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON cc.node = e.a
        |), lab AS (
        |  SELECT node, min(label) AS cluster_id FROM cc GROUP BY node
        |), q AS (
        |  SELECT doc_id,
        |    (CASE WHEN nc >= 100 AND nc <= 5000 THEN 1 ELSE 0 END
        |     + CASE WHEN (nc - nt + 1) >= nt * 3 AND (nc - nt + 1) <= nt * 10 THEN 1 ELSE 0 END
        |     + CASE WHEN nsw * 20 >= nt THEN 1 ELSE 0 END
        |     + CASE WHEN nlong = 0 THEN 1 ELSE 0 END) AS quality_score
        |  FROM (
        |    SELECT doc_id, length(text) AS nc, CAST(len(toks) AS INT) AS nt,
        |      CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS INT) AS nsw,
        |      CAST(len(list_filter(toks, x -> length(x) > 25)) AS INT) AS nlong
        |    FROM t
        |  )
        |), sel AS (
        |  SELECT l.cluster_id, l.node AS doc_id, q.quality_score,
        |         COUNT(*) OVER (PARTITION BY l.cluster_id) AS csize
        |  FROM lab l JOIN q ON q.doc_id = l.node
        |)
        |SELECT cluster_id, doc_id AS rep_doc, quality_score AS rep_quality,
        |       CAST(csize AS BIGINT) AS cluster_size
        |FROM sel
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                           ORDER BY quality_score DESC, doc_id) = 1
        |ORDER BY cluster_id""".stripMargin,
    "d32_bag_jaccard" ->
      """WITH keyed AS MATERIALIZED (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
        |      AS k
        |  FROM documents
        |), r AS MATERIALIZED (
        |  SELECT doc_id, k, substring(k, 1, 1) AS blk,
        |    row_number() OVER (PARTITION BY substring(k, 1, 1)
        |                       ORDER BY k, doc_id) AS rn
        |  FROM keyed
        |), pairs AS MATERIALIZED (
        |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |    GREATEST(a.doc_id, b.doc_id) AS doc_b
        |  FROM r a
        |  CROSS JOIN (VALUES (1), (2), (3), (4)) o(d)
        |  JOIN r b ON b.blk = a.blk AND b.rn = a.rn + o.d
        |  WHERE levenshtein(a.k, b.k) <= 8
        |), tc AS MATERIALIZED (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), sz AS MATERIALIZED (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS sz FROM tc GROUP BY 1
        |), im AS MATERIALIZED (
        |  SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
        |  FROM pairs p
        |  JOIN tc a ON a.doc_id = p.doc_a
        |  JOIN tc b ON b.doc_id = p.doc_b AND b.tok = a.tok
        |  GROUP BY 1, 2
        |)
        |SELECT p.doc_a, p.doc_b,
        |  COALESCE(im.m, 0) AS jac_num,
        |  sa.sz + sb.sz - COALESCE(im.m, 0) AS jac_den
        |FROM pairs p
        |LEFT JOIN im ON im.doc_a = p.doc_a AND im.doc_b = p.doc_b
        |JOIN sz sa ON sa.doc_id = p.doc_a
        |JOIN sz sb ON sb.doc_id = p.doc_b
        |ORDER BY 1, 2""".stripMargin,
    "d20_edit_distance" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 32) AS s
        |           FROM documents
        |           WHERE length(text) >= 32 AND doc_id < 100000000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 4
        |ORDER BY doc_a, doc_b""".stripMargin,
  )

  /** Spark-side slice selectors for referees that compare a deterministic
    * subset (view `spark_result` = the query's own verify output). Only
    * d20 needs one: both endpoints restricted to ScaleGen shard 0, the
    * exact restriction applied on the referee oracle side. */
  val scaleSparkSql: Map[String, String] = Map(
    "d20_edit_distance" ->
      ("SELECT * FROM spark_result " +
       "WHERE doc_a < 100000000 AND doc_b < 100000000 " +
       "ORDER BY doc_a, doc_b"),
  )
}
