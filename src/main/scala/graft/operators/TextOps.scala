package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, count, countDistinct,
  explode, expr, greatest, length, lit, lower, max, min, regexp_count,
  regexp_replace, row_number, size, split, sum, when}
import graft.functions.TextFunctions._
import graft.spark.Materialize

/** Query-shaped text analysis + JSON extraction over `documents`/`events`
  * (training-data pipeline tier).
  */
object TextOps {

  /** Per-document token/char stats + integer quality score. */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeishTokenCount(col("text")).as("n_bpeish"),
        length(col("text")).as("n_chars_calc"),
        stopwordCount(col("text")).as("n_stopwords"),
        qualityScore(col("text")).as("quality_score"))
      .orderBy("doc_id")

  /** Language-ID heuristic vs the synthetic label. */
  def langId(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
        langIdHeuristic(col("text")).as("predicted_lang"))
      .orderBy("doc_id")

  /** Language-ID CONFUSION matrix — the eval-audit shape run after any
    * classifier stage: declared label × heuristic prediction with counts,
    * so per-language precision/recall fall out by row division. One
    * scan-bound prediction + one tiny (|langs|²-row) aggregate.
    */
  def langConfusion(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), langIdHeuristic(col("text")).as("predicted_lang"))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted_lang")

  /** Corpus stats per language label. */
  def langStats(documents: DataFrame): DataFrame =
    documents
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Document fingerprints: full-text md5 + min-shingle fingerprint.
    *
    * The fingerprints are projected AFTER the global sort (same pattern as
    * [[jsonExtract]]): a project below a range exchange is evaluated twice
    * by the range-partitioner's bounds-sampling pass, and
    * `minShingleFingerprint` is an interpreted HOF — the expensive one to
    * double-evaluate. Sorting on the raw `(doc_id, text)` also keeps the
    * exchange payload to the source columns.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select(col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"),
        minShingleFingerprint(col("text")).as("fp_min_shingle"))

  /** Frequent terms per language via the Misra-Gries sketch
    * ([[graft.functions.HeavyHittersAgg]]): top-k tokens by occurrence
    * count in CONSTANT memory per group. Unlike [[termDocFrequency]]
    * (exact, shuffles the distinct vocabulary), this shuffles one
    * ≤capacity-entry summary per (lang × partition) — the sketch path for
    * web-scale vocabularies. Registered with capacity 64 > the fixture's
    * 31-token vocabulary, where MG is provably exact, so DuckDB's exact
    * top-k oracle hash-matches; the approximation contract is asserted in
    * `HeavyHittersSpec`.
    */
  def heavyHitterTerms(documents: DataFrame, capacity: Int = 64,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.{explode, posexplode}
    documents
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang")
      .agg(graft.functions.HeavyHittersAgg.heavyHitters(col("tok"), capacity).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .filter(col("pos") < k)
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.term").as("term"), col("col.cnt").as("cnt"))
      .orderBy("lang", "rank")
  }

  /** Per-document REPETITION metrics (Gopher-rule-style quality signals:
    * a document dominated by one repeated phrase is low-quality training
    * data): over the document's token 2-grams, emit total grams, distinct
    * grams, the top gram's occurrence count, and how many gram instances
    * belong to a repeated gram. All-integer output; a cleaning pass
    * thresholds ratios like `top_gram_count / n_grams` downstream.
    *
    * Scale shape: ZERO shuffle. The per-doc gram histogram never
    * materializes — a groupBy-(doc, gram) formulation would shuffle the
    * full exploded gram stream (corpus × ~doc_len rows) twice; this is
    * scan-bound and embarrassingly parallel. The registered query runs
    * the fused [[graft.functions.RepetitionCounts]] expression (one
    * sorted-index scan per row, inside codegen); the builtin higher-order
    * -function formulation below computes identical counts and referees
    * it in `DecontamSpec`.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.size
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks")) // split ONCE
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        graft.functions.RepetitionCounts.repetitionCounts(col("toks")).as("rc"))
      .select(col("doc_id"), col("rc.n_grams").as("n_grams"),
        col("rc.n_distinct_grams").as("n_distinct_grams"),
        col("rc.top_gram_count").as("top_gram_count"),
        col("rc.dup_gram_count").as("dup_gram_count"))
      .orderBy("doc_id")
  }

  /** Builtin-composition form of [[repetitionStats]] (array_sort +
    * zip_with adjacency runs + aggregate folds — the (a)-tier compose-
    * existing-ops variant): identical output, kept as the referee for the
    * fused expression and for engines without the extension. HOF lambdas
    * evaluate interpreted per element, which is why the fused kernel owns
    * the registered query.
    */
  def repetitionStatsBuiltin(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{
      aggregate, array, array_sort, concat, greatest,
      size, slice, struct, when, zip_with}
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks")) // split ONCE
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), array_sort(shinglesKTokens(col("toks"), 2)).as("sorted"))
      .withColumn("m", size(col("sorted")))
      // eq(i) = 1 iff sorted(i) == sorted(i+1): run-length encoding seed
      .withColumn("eq", zip_with(
        slice(col("sorted"), lit(1), col("m") - 1),
        slice(col("sorted"), lit(2), col("m") - 1),
        (a, b) => when(a === b, 1).otherwise(0)))
      // sum(eq) = number of adjacent-equal positions = m - distinct count
      .withColumn("n_eq", aggregate(col("eq"), lit(0), (a, x) => a + x))
      .select(
        col("doc_id"),
        col("m").cast("long").as("n_grams"),
        (col("m") - col("n_eq")).cast("long").as("n_distinct_grams"),
        // longest equal-run + 1, via a sequential fold (cur, best)
        (aggregate(col("eq"),
          struct(lit(0).as("cur"), lit(0).as("best")),
          (acc, x) => {
            val cur = when(x === 1, acc("cur") + 1).otherwise(lit(0))
            struct(cur.as("cur"), greatest(acc("best"), cur).as("best"))
          },
          acc => acc("best")) + 1).cast("long").as("top_gram_count"),
        // a gram instance is a SINGLETON iff no equal neighbor on either
        // side of its sorted position (pad the run-flags with 0 at both
        // ends so the borders read cleanly)
        (col("m") - aggregate(
          zip_with(
            slice(concat(array(lit(0)), col("eq")), lit(1), col("m")),
            slice(concat(col("eq"), array(lit(0))), lit(1), col("m")),
            (l, r) => when(l === 0 && r === 0, 1).otherwise(0)),
          lit(0), (a, x) => a + x)).cast("long").as("dup_gram_count"))
      .orderBy("doc_id")
  }

  /** Array-operation battery over token arrays: dedup, sort, slice,
    * membership, stopword removal (the `array_*`/lambda surface a
    * training-data pipeline filters with).
    */
  def arrayOps(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_distinct(toks)).as("n_distinct"),
      // '|'-joined so the column is a comparable scalar (array cells don't
      // sort in every downstream compare); lossless for whitespace tokens.
      org.apache.spark.sql.functions.concat_ws("|",
        org.apache.spark.sql.functions.slice(
          org.apache.spark.sql.functions.array_sort(
            org.apache.spark.sql.functions.array_distinct(toks)), 1, 3)).as("first3_sorted"),
      org.apache.spark.sql.functions.array_contains(toks, "spark").as("has_spark"),
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.filter(toks,
          t => !t.isInCollection(EnglishStopwords))).as("n_content_tokens"),
      org.apache.spark.sql.functions.array_position(toks, "spark").cast("int").as("spark_pos"))
      .orderBy("doc_id")
  }

  /** Generator surface: posexplode of the token array (one row per token
    * with its position — the engine's UDTF-shaped operation).
    */
  def explodeTokens(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        org.apache.spark.sql.functions.posexplode(tokens(col("text"))))
      .withColumnRenamed("pos", "pos")
      .withColumnRenamed("col", "token")
      .orderBy("doc_id", "pos")

  /** Cross-document BOILERPLATE detection: word n-grams repeated across
    * `minDocs`+ distinct documents (nav chrome, disclaimers, shared
    * templates in crawl data). Per-doc `array_distinct` BEFORE the
    * explode means each (gram, doc) pair occurs exactly once, so the
    * aggregate is a plain `count` — no distinct-rewrite Expand in the
    * shuffle. The survivors are the (small) boilerplate lexicon a
    * cleaning pass broadcasts back against the corpus.
    */
  def repeatedNgrams(documents: DataFrame, n: Int = 8,
      minDocs: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, explode}
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks")) // split ONCE
      .select(col("doc_id"),
        explode(array_distinct(shinglesKTokens(col("toks"), n))).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("gram"))
  }

  /** Vocabulary statistics / inverted-index summary: document frequency
    * per (lang, term), top-k terms per language. The explode shuffles
    * (lang, term) pairs with map-side partial counts — the standard
    * vocab-build shape; the ranking window runs over the AGGREGATED
    * per-language vocabulary, which is orders of magnitude smaller than
    * the corpus, never over raw tokens. All-integer output: engine
    * independent, no FP scoring.
    */
  def termDocFrequency(documents: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{array_distinct, explode, row_number}
    val docTerms = documents
      .select(col("lang"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    val docFreq = docTerms.groupBy("lang", "term")
      .agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy("lang")
      .orderBy(col("doc_freq").desc, col("term"))
    docFreq.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("term"), col("doc_freq"))
      .orderBy("lang", "rank")
  }

  /** Per-DOCUMENT keyword extraction, tf-idf-shaped but integer-exact:
    * score = tf · 10⁶ ÷ df (floor division). Corpus size N is constant per
    * corpus, so ranking by tf/df orders identically to tf·(N/df) — the
    * floating-point idf log is dropped deliberately: log is monotonic in
    * 1/df, FP log values differ across engines in the last ulp, and
    * integer floor division is engine-independent. Ties break on the term
    * itself, so top-k per document is fully deterministic.
    *
    * Scale shape: the explode shuffles (doc_id, term) pairs with map-side
    * partial counts; document frequency aggregates over the (already
    * per-doc-distinct) pairs; the df join is on the VOCABULARY (orders of
    * magnitude smaller than the corpus — AQE broadcasts it at typical
    * skew); the ranking window partitions by doc_id over each document's
    * own terms, never globally.
    */
  def docKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{explode, expr, row_number}
    val termCounts = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val docFreq = termCounts
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    termCounts.join(docFreq, "term")
      .withColumn("score", expr("tf * 1000000 DIV df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score"),
        col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  /** PHRASE SEARCH over a positional inverted index: documents containing
    * the exact two-token phrase, with occurrence counts. The postings are
    * filtered to the QUERY TERMS before any join — at 100 TB the index
    * (term → (doc, pos) postings) is term-partitioned, so a phrase query
    * touches two postings lists, not the corpus; adjacency is then an
    * equi-join on (doc_id, pos) with the second term's positions shifted
    * by one. The naive alternative — `contains` over every document —
    * rescans the corpus per query and can't use any index.
    */
  def phraseSearch(documents: DataFrame, first: String, second: String): DataFrame = {
    import org.apache.spark.sql.functions.posexplode
    val postings = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumnRenamed("col", "term")
    val a = postings.filter(col("term") === first)
      .select(col("doc_id"), col("pos"))
    val b = postings.filter(col("term") === second)
      .select(col("doc_id").as("doc_id_b"), (col("pos") - 1).as("pos_b"))
    a.join(b, col("doc_id") === col("doc_id_b") && col("pos") === col("pos_b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy("doc_id")
  }

  /** Token-budget sequence chunking (training-batch prep): assign each
    * document to a fixed-token-budget chunk, filling contiguously in
    * doc_id order WITHIN each language stream. chunk_id =
    * floor(tokens-before-this-doc / budget) — pure integer window
    * arithmetic, no driver loop. Keyed by lang so the running sum is a
    * per-partition window, not a global single-partition sort (the
    * global variant would serialize the corpus through one task at
    * 100 TB).
    */
  def packSequences(documents: DataFrame, budgetTokens: Int = 512): DataFrame =
    packTokenCounts(
      documents.select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens")),
      budgetTokens)
      .orderBy("doc_id")

  /** Chunk assignment over a frame that already carries `(doc_id, lang,
    * n_tokens)` — the single definition of the packing arithmetic, shared
    * by [[packSequences]] (t10) and the end-to-end training-prep
    * composition (d8) so the two can't drift.
    */
  def packTokenCounts(counted: DataFrame, budgetTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.floor
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counted.withColumn("chunk_id",
      floor((sum(col("n_tokens")).over(w) - col("n_tokens"))
        / budgetTokens).cast("int"))
  }

  /** Deterministic content-addressed sampling: keep a row iff the first
    * hex nibble of md5(key) falls below `sixteenths`/16 — the
    * reproducibility primitive of a training-data pipeline. Unlike
    * `df.sample()` (seeded per-partition RNG: resampling after a
    * repartition or a re-run over different file splits changes the
    * selection), the decision is a pure function of the ROW KEY: stable
    * across runs, partitionings, engines — and expressible in the oracle.
    * Rate granularity is 1/16; chain a second nibble for 1/256.
    */
  def deterministicSample(df: DataFrame, keyCol: String, sixteenths: Int): DataFrame = {
    require(sixteenths >= 0 && sixteenths <= 16, "rate is n/16")
    df.filter(hexNibble(keyCol) < sixteenths).orderBy(keyCol)
  }

  /** Stratified deterministic sampling: per-stratum rates (in 16ths) over
    * the same md5-nibble decision — downsample over-represented strata
    * (e.g. English crawl text) without a shuffle: the whole operator is a
    * broadcast map-side filter.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Int], defaultSixteenths: Int): DataFrame = {
    require((rates.values ++ Seq(defaultSixteenths)).forall(r => r >= 0 && r <= 16))
    import org.apache.spark.sql.functions.{coalesce, when}
    val rateExpr = coalesce(
      rates.toSeq.sorted.map { case (stratum, rate) =>
        when(col(strataCol) === stratum, lit(rate))
      } :+ lit(defaultSixteenths): _*)
    df.filter(hexNibble(keyCol) < rateExpr).orderBy(keyCol)
  }

  /** WEIGHTED SYSTEMATIC SAMPLING per stratum, in exact integer
    * arithmetic: within each stratum, rows are laid on a line of
    * cumulative integer weight (deterministic (weight-col) order by key),
    * and a grid of `k` equally-spaced picks selects the row covering each
    * grid point — every stratum yields EXACTLY k hits (a heavy row can
    * absorb several, reported in `n_hits`), and selection probability is
    * proportional to weight. This is the probability-proportional-to-size
    * design for "sample 5 documents per language, long docs
    * proportionally more often" — unlike [[deterministicSample]]'s
    * Bernoulli rate, the output size is exact, and unlike A-ES
    * exponential-key sampling there is NO floating-point `pow`/`ln` whose
    * last-bit rounding could flip a rank between engines: the pick test
    * is pure integer division — `(cw·k) div W` strictly increases across
    * the row ⟺ a grid multiple of W/k lands inside the row's weight span
    * — so the DuckDB oracle reproduces the selection bit-for-bit.
    *
    * Scale: one exchange on the stratum key; the cumulative sum is O(1)
    * running state per row, and parallelism = #strata (language × source
    * × shard in a real corpus — thousands). A single mega-stratum would
    * serialize its cumsum; shard such a stratum by a hash salt and sample
    * k per shard — same guarantee per shard, not needed at fixture scale.
    */
  def weightedSample(df: DataFrame, keyCol: String, strataCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k > 0, "k picks per stratum")
    import org.apache.spark.sql.expressions.Window
    val byStratum = Window.partitionBy(strataCol).orderBy(keyCol)
    df.filter(col(weightCol) > 0)
      .select(col(strataCol), col(keyCol), col(weightCol).cast("long").as("w"))
      .withColumn("cw", sum(col("w")).over(
        byStratum.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // partition-only window: with orderBy present the default frame is
      // the RUNNING range, which would alias tot to cw
      .withColumn("tot", sum(col("w")).over(Window.partitionBy(strataCol)))
      .withColumn("n_hits",
        expr(s"(cw * $k) div tot - ((cw - w) * $k) div tot"))
      .filter(col("n_hits") > 0)
      .select(col(strataCol), col(keyCol), col("w"), col("n_hits"))
      .orderBy(strataCol, keyCol)
  }

  /** CORPUS-WIDE SEGMENT DEDUP (the "remove repeated lines/paragraphs
    * across documents, keep the first occurrence" cleaning pass of
    * large-scale corpus pipelines — boilerplate nav bars, license
    * blocks, quoted headers): documents are segmented into fixed
    * `segTokens`-token chunks (the fixture has no sentence punctuation;
    * position-based segmentation keeps the operator shape identical),
    * every repeated segment keeps ONLY its globally-first occurrence
    * (min (doc_id, position) — deterministic, not partition-order), and
    * each document is reconstructed from its surviving segments in
    * original order. Differs from [[boilerplateStrip]] (t21): that
    * SCORES n-grams by document frequency and strips within each doc;
    * this deduplicates EXACT segments across the corpus — first
    * occurrence survives, later copies vanish.
    *
    * Scale shape: three linear, key-hashed stages — explode segments
    * (rows ∝ corpus tokens / segTokens), min-aggregate per segment
    * (map-side combine; the keeper struct is 16 bytes of state however
    * often a segment repeats), join back on the segment hash + regroup
    * per doc. Reconstruction sorts only each doc's OWN segment list
    * (array_sort of ≤ doc-length/segTokens entries), never a global
    * sort.
    */
  def segmentDedup(documents: DataFrame, segTokens: Int = 8): DataFrame = {
    require(segTokens > 0)
    import org.apache.spark.sql.functions.{array_sort, col => c, collect_list,
      concat_ws, explode, min, struct}
    val segs = documents
      .select(c("doc_id"), tokens(c("text")).as("toks"))
      // greatest(.., 0): with 0 tokens and segTokens = 1 the unguarded
      // bound is (0-1) div 1 = -1 and sequence(0, -1) DESCENDS — the
      // i = -1 element would hit slice(toks, 0, ..), an ANSI-mode error.
      .select(c("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST(greatest(size(toks) - 1, 0) div $segTokens AS INT)),
           |  i -> struct(i AS pos,
           |              concat_ws(' ', slice(toks, i * $segTokens + 1, $segTokens)) AS seg))
           |""".stripMargin)).as("s"))
      .select(c("doc_id"), c("s.pos").as("pos"), c("s.seg").as("seg"))
    val keepers = segs.groupBy("seg")
      .agg(min(struct(c("doc_id"), c("pos"))).as("k"))
      .select(c("seg"), c("k.doc_id").as("kdoc"), c("k.pos").as("kpos"))
    segs.join(keepers, "seg")
      .withColumn("kept",
        (c("doc_id") === c("kdoc") && c("pos") === c("kpos")).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), sum(c("kept")).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(filter(collect_list(CASE WHEN kept = 1 " +
            "THEN struct(pos, seg) END), x -> x IS NOT NULL)), x -> x.seg)"))
          .as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Value of the `pos`-th (1-based) hex digit of md5(key) in [0,16) —
    * `instr` over the hex alphabet rather than `conv`, because the oracle
    * engine has the same `instr`/`strpos` semantics (1-based, 0 when
    * absent). Public: the engine's standard content-addressed split/sample
    * rule (t7, t8, d8, d9, d10 all derive their deterministic subsets from
    * the first digit; bitemporal and retraction scenarios from the first
    * two).
    */
  def hexNibble(keyCol: String, pos: Int = 1) = {
    import org.apache.spark.sql.functions.{instr, md5, substring}
    instr(lit("0123456789abcdef"),
      substring(md5(col(keyCol).cast("string")), pos, 1)) - 1
  }

  /** Corpus-wide TOP-k 5-gram phrases via the native streaming generator
    * ([[graft.functions.ShingleExplode]] — the UDTF leg of the custom-
    * extension trio): every gram occurrence (not per-doc-distinct, unlike
    * t11's boilerplate lexicon) counted with map-side combine, top-k as a
    * TakeOrderedAndProject heap. The generator never materializes a
    * per-row shingle array, so the scan's transient allocation is one
    * gram regardless of document length.
    */
  def topShingles(documents: DataFrame, n: Int = 5, k: Int = 20): DataFrame =
    documents
      .select(tokens(col("text")).as("toks"))
      .select(graft.functions.ShingleExplode.shingleExplode(col("toks"), n))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)

  /** Overlapping token-window CHUNKING — the embedding-prep step between
    * [[packSequences]] (contiguous budget fill for training) and the
    * similarity tier: long documents become windows of `chunkTokens`
    * tokens advancing by `stride` (< chunkTokens ⇒ consecutive chunks
    * share `chunkTokens − stride` tokens, so no semantic boundary is
    * lost at a cut). Chunk identity is the deterministic
    * (doc_id, chunk_idx) pair — reproducible across runs and engines.
    *
    * Scale shape: a generator explode over a row-local `sequence` +
    * `slice` — scan-bound, no shuffle; output size is input tokens ×
    * (chunkTokens / stride) by construction, visible in the plan as a
    * single Generate. (The registered query adds a total sort on top for
    * the oracle compare — that exchange belongs to the harness, not the
    * operator.)
    */
  def chunkWithOverlap(documents: DataFrame, chunkTokens: Int,
      stride: Int): DataFrame = {
    require(stride > 0 && stride <= chunkTokens,
      "stride must be in (0, chunkTokens] - a larger stride would drop tokens")
    import org.apache.spark.sql.functions.{concat_ws, explode, expr, sequence, slice}
    val lastIdx =
      expr(s"(greatest(size(toks) - $chunkTokens, 0) + ${stride - 1}) div $stride")
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), lastIdx)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("chunk")).as("n_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** The content-addressed train/val/test assignment itself — reusable by
    * anything that materializes splits ([[graft.jobs.CorpusPrepJob]]) so
    * the shards on disk provably follow the same rule [[splitContract]]
    * certifies.
    */
  def splitColumn(trainSixteenths: Int = 12, valSixteenths: Int = 2): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.when
    require(trainSixteenths > 0 && valSixteenths > 0
      && trainSixteenths + valSixteenths < 16)
    val nb = hexNibble("doc_id")
    when(nb < trainSixteenths, "train")
      .when(nb < trainSixteenths + valSixteenths, "val")
      .otherwise("test")
  }

  /** Deterministic TRAIN/VAL/TEST split with a driver-witnessable
    * contract: assignment is a pure function of the row key (the
    * [[hexNibble]] primitive — nibble < `trainSixteenths` → train, next
    * `valSixteenths` → val, rest → test), so the split is reproducible
    * across runs, partitionings, and engines, and every leakage audit can
    * re-derive membership from the key alone. The output is one row per
    * split with its size plus corpus-level booleans proving the partition
    * property the pipeline depends on: splits are DISJOINT and COVER the
    * corpus (sizes sum to the distinct-key count) and none is empty. A
    * broken assignment flips a boolean against the TRUE-emitting oracle
    * (the a6/d5b contract pattern).
    *
    * Scale shape: one map-side CASE over the scan, one count aggregate by
    * split (3 groups), one single-row total joined by broadcast — no
    * shuffle of the corpus beyond the 3-group partial-agg collapse.
    */
  def splitContract(documents: DataFrame, trainSixteenths: Int = 12,
      valSixteenths: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, countDistinct}
    val tagged = documents.select(col("doc_id"),
      splitColumn(trainSixteenths, valSixteenths).as("split"))
    // outer-join against the literal split list: an EMPTY split would
    // otherwise simply emit no row, leaving `nonempty` vacuously true on
    // every row that exists — the contract must surface the absence
    val allSplits = documents.sparkSession
      .createDataFrame(Seq(Tuple1("train"), Tuple1("val"), Tuple1("test")))
      .toDF("split")
    val perSplit = allSplits.join(
      tagged.groupBy("split").agg(count(lit(1)).as("n_docs")), Seq("split"), "left")
      .na.fill(0L, Seq("n_docs"))
    val total = documents.agg(countDistinct(col("doc_id")).as("n_total"))
    // the assigned-total rides in as a second 1-row broadcast rather than
    // an empty-partition window (a global window is a single-reducer plan
    // shape this codebase bans even when the input is 3 rows)
    val assigned = perSplit.agg(sum(col("n_docs")).as("n_assigned"))
    perSplit.crossJoin(broadcast(total)).crossJoin(broadcast(assigned))
      .select(col("split"), col("n_docs"), col("n_total"),
        (col("n_assigned") === col("n_total")).as("covers_and_disjoint"),
        (col("n_docs") > 0).as("nonempty"))
      .orderBy("split")
  }

  /** GROUP-aware train/val/test split: assignment is a pure function of
    * the GROUP key (here a document's source/domain), so every document
    * of one source lands in the same split. Splitting by doc_id
    * ([[splitContract]]) leaks near-duplicates across splits whenever a
    * source carries boilerplate-similar documents — val scores then
    * measure memorization of train cousins, not generalization. This is
    * the distributed GroupShuffleSplit, content-addressed like every
    * split in this engine (md5 nibble of the group key → re-runs,
    * engines, and partitionings all agree).
    *
    * Emits per-split (n_sources, n_docs) plus a leakage WITNESS: the
    * number of groups observed in more than one split, proven zero (the
    * d4c driver-witnessed pattern — the column flips if anyone rewires
    * the split to a per-document key).
    *
    * Scale shape: ONE corpus scan, map-side-combined down to the
    * (group, split) count table — bounded by |groups|, not rows — which
    * is MATERIALIZED (the nearDupPairs candidate precedent: it feeds
    * two different re-groupings — per-split totals and the per-group
    * leakage witness — and Spark cannot reuse one exchange
    * across differently-pruned consumers, so the lazy form would scan
    * the corpus twice). The one-row witness rides in on a broadcast.
    */
  def groupSplit(documents: DataFrame, groupCol: String = "source",
      trainSixteenths: Int = 12, valSixteenths: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, when}
    require(trainSixteenths > 0 && valSixteenths > 0
      && trainSixteenths + valSixteenths < 16)
    val nb = hexNibble(groupCol)
    val groupCounts = Materialize(documents
      .select(col(groupCol).as("grp"),
        when(nb < trainSixteenths, "train")
          .when(nb < trainSixteenths + valSixteenths, "val")
          .otherwise("test").as("split"))
      .groupBy("grp", "split")
      .agg(count(lit(1)).as("n")))
    // each (grp, split) row is unique, so count(*) per split IS the
    // distinct-source count — no distinct-rewrite Expand needed
    val perSplit = groupCounts.groupBy("split")
      .agg(count(lit(1)).as("n_sources"), sum(col("n")).as("n_docs"))
    val leaks = groupCounts
      .groupBy("grp").agg(count(lit(1)).as("ns"))
      .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_leaking"))
    perSplit.crossJoin(broadcast(leaks))
      .select(col("split"), col("n_sources"), col("n_docs"),
        (col("n_leaking") === 0).as("leak_free"))
      .orderBy("split")
  }

  /** Per-SOURCE document caps — the domain-cap rule of crawl curation: no
    * single domain may contribute more than `cap` documents, so boilerplate
    * farms can't dominate the training mix. Kept documents are chosen
    * deterministically (lowest `doc_id` first), so the capped corpus is
    * reproducible across runs and engines.
    *
    * Scale shape: `row_number <= cap` over `Window.partitionBy(source)`
    * plans as `WindowGroupLimit` — every map task keeps at most `cap` rows
    * per source BEFORE the exchange, so the shuffle carries ≤ cap·|sources|
    * rows per task rather than the corpus (same plan pin as
    * [[Similarity.knnJoin]]'s ranking).
    */
  def sourceCaps(documents: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val w = Window.partitionBy("source").orderBy("doc_id")
    documents
      .select(col("source"), col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .orderBy("source", "doc_id")
  }

  /** Per-document OUT-OF-VOCABULARY rate against the corpus top-`vocabSize`
    * vocabulary — the tokenizer-coverage check run before committing a
    * vocab: a document whose tokens mostly fall outside the vocabulary
    * will shred into subword soup at training time.
    *
    * Scale shape: the vocabulary is aggregated once (map-side-combined
    * term counts, then a `TakeOrderedAndProject` top-k — never a global
    * sort), collapsed to ONE array row, and broadcast; the per-document
    * OOV count is then a row-local `filter(tokens, !array_contains(...))`
    * — no (doc, term) explode-shuffle at all. The corpus pass is
    * scan-bound; only the vocab build shuffles (by term, map-combined).
    * The 1-row broadcast nested-loop join is exactly the pattern
    * [[graft.plans.CartesianGuard]] blesses.
    *
    * Determinism: vocab ties at the cutoff break on the term itself
    * (`ORDER BY df DESC, term`); the per-mille ratio is integer floor
    * division, so every engine agrees bit-for-bit.
    */
  def oovRate(documents: DataFrame, vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.functions.{array_contains, array_distinct, broadcast,
      collect_list, explode, expr, filter, size, sort_array}
    val vocab = documents
      .select(explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(vocabSize)
    val vocabRow = vocab.agg(sort_array(collect_list(col("term"))).as("vocab"))
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .crossJoin(broadcast(vocabRow))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(filter(col("toks"), t => !array_contains(col("vocab"), t))).as("n_oov"))
      // n_oov is an Int (size()): widen BEFORE the multiply — a >2.1M-token
      // document would wrap Int and diverge from the BIGINT oracle
      .withColumn("oov_permille", expr("cast(n_oov AS BIGINT) * 1000 div n_tokens"))
      .orderBy("doc_id")
  }

  /** JSON extraction from `events.props` — both the string-path form
    * (`get_json_object`) and the schema form (`from_json`).
    *
    * The parses are projected AFTER the global sort: a project below a
    * range exchange is evaluated twice (once by the range-partitioner's
    * bounds-sampling pass, once for real), so putting the expensive
    * expressions above the Sort halves the JSON work. The exchange then
    * carries the raw `props` string instead of two parsed copies — at
    * corpus scale that is also the smaller shuffle payload.
    */
  def jsonExtract(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("props"))
      .orderBy("event_id")
      .select(col("event_id"),
        org.apache.spark.sql.functions.get_json_object(col("props"), "$.k")
          .cast("int").as("k"),
        org.apache.spark.sql.functions.from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_typed"))

  /** VARIANT-typed semi-structured extraction — the Spark 4 upgrade path
    * of [[jsonExtract]]: `parse_json` shreds the payload ONCE into the
    * binary VARIANT encoding, and every field access is then a cheap
    * typed `variant_get` against that encoding — at 100 TB the
    * difference between "parse the JSON string N times for N fields"
    * (the `get_json_object` form) and "parse once, navigate N times" is
    * the scan CPU bill. The aggregation proves typed access composes:
    * per-event-type count / sum / min / max over the extracted integer,
    * all engine-exact.
    */
  def variantExtract(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isNotNull)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        expr("min(k)").as("min_k"), expr("max(k)").as("max_k"))
      .orderBy("event_type")

  /** VOCABULARY COVERAGE CURVE: the share of all token OCCURRENCES
    * covered by the top-k most frequent types, at standard vocab-size
    * checkpoints — THE plot read before fixing a tokenizer's vocab size
    * (coverage at k is what out-of-vocab rate will be at serving:
    * 1 − coverage). Permille shares are floor-exact; ranking is by
    * (count DESC, token), a total order, so each checkpoint's membership
    * is deterministic on any engine.
    *
    * Scale shape: the corpus collapses to (token, count) in one
    * map-side-combined aggregate; the rank window and running sum then
    * ride a single exchange over the VOCABULARY (≪ corpus — Heaps' law),
    * and the checkpoint filter keeps |ks| rows. The corpus itself is
    * scanned once and never sorted.
    */
  def vocabCoverage(documents: DataFrame,
      ks: Seq[Long] = Seq(5L, 10L, 15L, 20L, 25L, 30L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .filter(col("text").isNotNull)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("c"))
    val byRank = Window.orderBy(col("c").desc, col("token"))
    val ranked = counts
      .withColumn("rank", row_number().over(byRank).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        byRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the global-window warning is intrinsic and bounded: the window runs
    // over the aggregated vocabulary, not the corpus (t9's shape).
    ranked
      .filter(col("rank").isin(ks: _*))
      .crossJoin(broadcast(counts.agg(sum(col("c")).as("total"))))
      .select(col("rank").as("vocab_size"), col("cum").as("covered"),
        col("total"),
        expr("cum * 1000 div total").as("coverage_permille"))
      .orderBy("vocab_size")
  }

  /** SOURCE VOCABULARY OVERLAP: pairwise Jaccard (floor permille) of the
    * distinct-token sets of each source — the corpus-composition
    * diagnostic behind mixing decisions ("are these two crawls the same
    * register, or complementary?"). Document-level duplication across
    * sources is [[Dedup]]'s d21 matrix; this is the DISTRIBUTIONAL
    * overlap that persists after all near-dups are gone.
    *
    * Scale shape: the corpus collapses to distinct (source, token) rows
    * in one aggregate (vocabulary-sized, per Heaps' law); the pairwise
    * intersection is an equi-join THROUGH the token key — work ∝ Σ over
    * tokens of (sources containing it choose 2), bounded by |vocab| ×
    * C(|sources|, 2) — and set sizes arrive by broadcast. Never a
    * doc-level or cartesian pass.
    */
  def sourceVocabOverlap(documents: DataFrame): DataFrame = {
    val st = documents
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n_tokens"))
    val inter = st.as("a").join(st.as("b"),
        col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_tokens").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_tokens").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"),
        expr("n_common * 1000 div (n_a + n_b - n_common)").as("jaccard_permille"))
      .orderBy("source_a", "source_b")
  }

  /** Boilerplate REMOVAL (the transform [[repeatedNgrams]] only detects):
    * rebuild each document with every token deleted that falls inside any
    * occurrence of a cross-document repeated n-gram — the RefinedWeb-style
    * cleaning pass that strips nav chrome / disclaimers / shared templates
    * before training.
    *
    * Exact semantics: a token at position p is removed iff some n-gram
    * occurrence starting at s ∈ [p-n+1, p] has document frequency ≥
    * `minDocs`. Overlapping occurrences union naturally (covered positions
    * are de-duplicated before the anti-join).
    *
    * Scale shape: the boilerplate lexicon is SMALL by construction (grams
    * repeated across ≥ minDocs documents — kilobytes even at 100 TB), so it
    * broadcasts; the occurrence scan is one gram-explode joined against the
    * broadcast lexicon (no shuffle on the corpus side). Matched occurrence
    * STARTS are then aggregated per document — a shuffle ∝ boilerplate
    * occurrences, not corpus tokens — and the rebuild is ROW-LOCAL: a
    * positional-lambda filter drops token p iff some start s ∈ [p−n+1, p]
    * exists in the doc's (typically tiny) start list. No token ever
    * shuffles: the old plan's (doc_id, pos) anti-join and collect_list
    * regroup — two corpus-token-sized exchanges — are gone; boilerplate-free
    * documents join to nothing and keep their text untouched. Per-doc cost
    * is O(dl · starts_doc) with a short-circuiting exists — degenerate only
    * when a document is mostly boilerplate, where dl·starts is bounded by
    * the removed mass anyway.
    */
  def stripBoilerplate(documents: DataFrame, n: Int = 8,
      minDocs: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.{array_join, broadcast, coalesce,
      collect_list, exists, filter, lit, not, posexplode, size, sort_array}
    val lexicon = repeatedNgrams(documents, n, minDocs).select(col("gram"))
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("toks"))
    // Every occurrence start (NOT per-doc-distinct: a gram repeated inside
    // one document must cover all its occurrences' positions; coverage of
    // overlapping occurrences unions inside the per-token exists).
    val starts = toks
      .select(col("doc_id"), posexplode(shinglesKTokens(col("toks"), n)))
      .withColumnRenamed("col", "gram")
      .join(broadcast(lexicon), "gram")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    toks
      .join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("starts"), lit(Array.empty[Int])).as("starts"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        filter(col("toks"), (_, p) => not(exists(col("starts"),
          s => s <= p && p < s + lit(n)))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** MAXIMAL repeated spans per document — the exact-substring-duplication
    * report behind suffix-array dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): a span is a maximal contiguous
    * run of token positions covered by occurrences of cross-document
    * repeated n-grams (document frequency ≥ `minDocs`). Where
    * [[stripBoilerplate]] removes the covered tokens, this EMITS the
    * covered intervals — the artifact you audit, threshold, or hand to a
    * targeted substring-removal pass. A suffix array itself is the wrong
    * tool on Spark (global lexicographic sort of every suffix); the
    * n-gram lexicon + interval merge reaches the same covered-span set
    * for spans ≥ n with corpus-linear work.
    *
    * Span merge is gaps-and-islands: covered positions (∝ boilerplate
    * mass, de-duplicated) get `pos − row_number()` as an island key —
    * constant within a contiguous run, distinct across gaps — then one
    * groupBy per island yields [start, end). The only window runs over
    * covered positions of one document per partition key, never the
    * corpus; everything upstream is the broadcast-lexicon occurrence scan
    * shared with [[stripBoilerplate]]. Output rows ∝ spans.
    */
  def repeatedSpans(documents: DataFrame, n: Int = 8,
      minDocs: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, explode, max, min,
      posexplode, row_number, sequence}
    val lexicon = repeatedNgrams(documents, n, minDocs).select(col("gram"))
    val covered = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(shinglesKTokens(col("toks"), n)))
      .withColumnRenamed("col", "gram")
      .join(broadcast(lexicon), "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .distinct()
    val island = Window.partitionBy("doc_id").orderBy("p")
    covered
      .withColumn("grp", col("p") - row_number().over(island))
      .groupBy("doc_id", "grp")
      .agg(min("p").as("span_start"),
        (max("p") + 1).as("span_end"),
        count(lit(1)).as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** BM25 document ranking for a bag-of-terms query, INTEGER-EXACT.
    *
    * Okapi BM25 with k1 = 6/5, b = 3/4 is a ratio of integer polynomials
    * once the floating-point idf log is replaced by its rational argument
    * (idf' = (N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1) — log is monotonic,
    * so rankings agree; the raw ratio additionally preserves idf's
    * rare-term dominance through the per-term sum). Clearing denominators
    * (avgdl = Tt/N, ×10·Tt both sides):
    *
    *   term_score_e4 = ⌊10⁴ · (2N−2df+1) · tf · 22·Tt
    *                   ÷ ((2df+1) · (10·tf·Tt + 3·Tt + 9·dl·N))⌋
    *
    * — exact integer arithmetic, identical on every engine, no FP
    * log/division whose last ulp differs across libm implementations.
    * The polynomial INTERMEDIATES accumulate in DECIMAL(38,0): the r11
    * full-registry sf10 gate caught the r10 int64 form overflowing at
    * 100× (the numerator carries N·Tt ≈ 10¹⁴ at sf10 before the
    * divide — its own sf1 headroom note had said exactly this would
    * happen). The QUOTIENT is BIGINT-bounded at any scale
    * (≤ 10⁴·(k1+1)·idf′ ∝ N alone), so the output schema is unchanged
    * and the oracle mirrors with HUGEINT internals.
    *
    * Scale shape: the postings scan filters to the QUERY TERMS before any
    * shuffle (the tf aggregate moves ∝ matching postings, not the corpus);
    * df and the (N, Tt) stats row are query-/corpus-constants that
    * broadcast; the final top-k is TakeOrderedAndProject, never a global
    * sort of all scored documents.
    */
  def bm25Rank(documents: DataFrame, queryTerms: Seq[String],
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, explode, expr,
      row_number, size => asize}
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("toks"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(asize(col("toks")).cast("long")).as("total_tokens"))
    val tf = toks
      .select(col("doc_id"), asize(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("term_score_e4",
        expr("""cast(10000 as decimal(38,0))
                  * (2 * n_docs - 2 * df + 1) * tf * 22 * total_tokens
                DIV ((2 * df + 1)
                     * (cast(10 as decimal(38,0)) * tf * total_tokens
                        + 3 * total_tokens + 9 * dl * n_docs))"""))
    val byDoc = scored.groupBy("doc_id")
      .agg(sum(col("term_score_e4")).as("score_e4"),
        count(lit(1)).as("n_terms_hit"))
    // orderBy+limit → TakeOrderedAndProject (per-partition heaps, no global
    // sort); the rank window then runs over only the k survivors.
    val top = byDoc.orderBy(col("score_e4").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score_e4").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("doc_id"), col("score_e4"),
        col("n_terms_hit"))
      .orderBy("rank")
  }

  /** Statistical language-model QUALITY score (the CCNet-style filter):
    * train a unigram model on the content-addressed TRAIN slice of the
    * corpus, score EVERY document by its tokens' mean log-frequency under
    * that model. Documents of common, well-attested vocabulary score high;
    * documents dominated by tokens the reference slice never saw score
    * near zero — the corpus-statistical complement to the per-document
    * heuristics in [[tokenStats]].
    *
    * INTEGER-EXACT across engines: the per-token log is
    * floor(log₂(count+1)) computed as `length(bin(count+1)) - 1` — pure
    * string-of-bits arithmetic with no libm log whose last ulp could
    * differ; the +1 is add-one smoothing, so out-of-model tokens
    * contribute exactly 0. score_e4 = ⌊10⁴·Σ⌋ ÷ n_tokens.
    *
    * Scale shape: the model IS the token frequency table — built with one
    * explode + map-side-combined count over the train slice, joined back
    * VOCABULARY-sized (AQE broadcasts it at typical corpus/vocab ratios);
    * scoring is one more explode + per-doc aggregate. Nothing quadratic,
    * no driver-side model object — the "LM" stays a distributed table and
    * would at 100 TB (a trillion-token corpus has a few hundred million
    * distinct tokens — still join-sized, never driver-sized).
    */
  def lmQualityScore(documents: DataFrame,
      trainSixteenths: Int = 12): DataFrame = {
    import org.apache.spark.sql.functions.{bin, coalesce, explode, length => slen}
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("toks"),
      hexNibble("doc_id").as("nb"))
    val model = toks.filter(col("nb") < trainSixteenths)
      .select(explode(col("toks")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
    val scored = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .join(model, Seq("term"), "left")
      .select(col("doc_id"),
        (slen(bin(coalesce(col("cnt"), lit(0L)) + 1L)) - 1)
          .cast("long").as("flog2"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("flog2")).as("lm_mass"))
      .select(col("doc_id"), col("n_tokens"), col("lm_mass"),
        org.apache.spark.sql.functions.expr(
          "10000 * lm_mass DIV n_tokens").as("score_e4"))
      .orderBy("doc_id")
  }

  /** PII patterns shared by [[piiScan]] and [[piiScrub]]. Deliberately
    * restricted to the regex subset where Java's engine (Spark) and RE2
    * (DuckDB, Go scrubbers) agree exactly: character classes, bounded
    * repetition, `\b` — no backreferences, no lookaround. A scrubber
    * whose pattern means different things on the scan engine and the
    * serving engine is how PII survives "scrubbing".
    */
  /** Deterministic PII-bearing "support ticket" text synthesized from
    * customer keys — the fixture corpus is PII-free word salad, so the
    * scan/scrub demos derive their input from the customer table instead.
    * Engine-neutral SQL fragment: every function here (`concat`, `lpad`,
    * `CAST AS STRING` — a VARCHAR alias in DuckDB too, `%`) evaluates
    * byte-identically on Spark and DuckDB, so both sides scan the SAME
    * text. Modulus cases vary which PII kinds each row carries — a
    * uniform one-of-each corpus would never catch a miscounting scan.
    */
  val piiTicketSql: String =
    "concat('Contact ', c_name, " +
      "CASE WHEN c_custkey % 3 = 0 THEN concat(' <user', " +
      "CAST(c_custkey AS STRING), '@example.com>') ELSE '' END, " +
      "CASE WHEN c_custkey % 2 = 0 THEN concat(' call +1-555-', " +
      "lpad(CAST(c_custkey % 10000 AS STRING), 4, '0')) ELSE '' END, " +
      "' from 10.', CAST(c_custkey % 256 AS STRING), '.0.', " +
      "CAST(c_custkey % 100 AS STRING))"

  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("phone", """\+\d{1,2}-\d{3}-\d{4}""", "<PHONE>"),
    ("ipv4", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"))

  /** PII SCAN — per-row counts of email / phone / IPv4 matches in a free-
    * text column, plus the `has_pii` routing flag. The pre-release audit
    * every training corpus runs: quantify leakage BEFORE deciding whether
    * to scrub, drop, or quarantine.
    *
    * Scale shape: pure row-local regexp_extract_all — scan-bound, zero
    * shuffle beyond the output sort, codegen'd end to end. At 100 TB this
    * is exactly the shape you want: the corpus streams through once and
    * the only state is the per-row match arrays.
    */
  def piiScan(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{greatest, lit, regexp_extract_all, size}
    val counts = piiPatterns.map { case (name, pat, _) =>
      // idx 0 = whole match; Spark's default idx 1 requires a group
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    df.select((col(keyCol) +: counts): _*)
      .withColumn("has_pii",
        greatest(piiPatterns.map(p => col(s"n_${p._1}")): _*) > 0L)
      .orderBy(keyCol)
  }

  /** PII SCRUB — replace every match of every [[piiPatterns]] entry with
    * its typed placeholder, in pattern order. Emits the scrubbed text so
    * a byte-level compare (or hash) can prove two engines scrub
    * identically, plus `residual_pii` — the count of matches REMAINING
    * after the scrub, which the contract pins to zero. Row-local,
    * scan-bound, zero shuffle (same shape as [[piiScan]]).
    */
  def piiScrub(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{lit, regexp_extract_all, regexp_replace, size}
    val scrubbed = piiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    val residual = piiPatterns.map { case (_, pat, _) =>
      size(regexp_extract_all(col("scrubbed"), lit(pat), lit(0))).cast("long")
    }.reduce(_ + _)
    df.select(col(keyCol), scrubbed.as("scrubbed"))
      .withColumn("residual_pii", residual)
      .orderBy(keyCol)
  }

  /** PMI COLLOCATIONS (t28): the corpus's most-associated adjacent word
    * pairs — phrase-mining for vocabulary induction (the "New York" /
    * "machine learning" detector that decides which bigrams deserve a
    * single token). PMI = log p(w1,w2)/(p(w1)p(w2)) is rank-equivalent to
    * the rational c12·N² / (M·c1·c2) (N total tokens, M total bigrams),
    * so the emitted score is that rational in FLOOR integer form —
    * engine-exact, no logarithm, no float. Min-support `minCount` kills
    * the hapax noise PMI is notorious for; ties after flooring break
    * lexically. int64 headroom: c12·N² ≤ 10⁵·(3·10⁵)² ≈ 10¹⁶ at sf0.1.
    *
    * Shape: one token explode → unigram counts; one bigram explode →
    * pair counts; two vocab-sized equi-joins attach c1/c2 (hash joins on
    * the word key — vocab scales sublinearly with the corpus); the two
    * corpus totals ride in as scalar subqueries. Top-k is
    * TakeOrderedAndProject.
    */
  def collocations(documents: DataFrame, minCount: Long = 5L,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.functions.{desc, explode, expr, split}
    val toksDf = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val unigrams = toksDf.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bigrams = toksDf
      .select(explode(shinglesKTokens(col("toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("c12"))
    // the two corpus totals are single scalars — a driver-side head()
    // (like the BPE argmax), embedded as literals so the score stays in
    // exact integer DIV arithmetic end to end
    val n = unigrams.agg(sum("c").cast("long")).head().getLong(0)
    val m = toksDf
      .select(explode(shinglesKTokens(col("toks"), 2)).as("bg"))
      .agg(count(lit(1))).head().getLong(0)
    bigrams
      .join(unigrams.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(unigrams.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .select(col("w1"), col("w2"), col("c12"),
        expr(s"c12 * ${n}L * ${n}L DIV (${m}L * c1 * c2)").as("pmi_score"))
      .orderBy(desc("pmi_score"), col("w1"), col("w2"))
      .limit(k)
  }

  /** DISTRIBUTED BPE MERGE LEARNING (t26): the `k` highest-count
    * byte-pair merges over the corpus word-frequency table — the
    * tokenizer-training step of an LLM data pipeline (Sennrich et al.,
    * ACL'16), emitted as (rank, left, right, pair_count).
    *
    * Exactly the reference algorithm, distributed:
    *  - the corpus collapses ONCE to (word, count) — all further passes
    *    touch the vocabulary, not the corpus (the standard trick: pair
    *    statistics are word-count-weighted, so a 100 TB corpus costs one
    *    word-count aggregation and then vocab-sized iterations);
    *  - per merge round: adjacent-pair counts (explode + one hash agg),
    *    argmax with deterministic (count desc, pair asc) tie-break —
    *    a driver-side top-1, like [[graft.operators.IvfIndex.kmeansExact]]'s
    *    centroid collect — then the merge applied scan-side to every word.
    *  - the greedy LEFT-TO-RIGHT non-overlapping merge (`aaa` + merge
    *    (a,a) → `[aa, a]`, never `[a, aa]`) rides on plain string
    *    `replace` over a DOUBLED-separator symbol encoding
    *    (`||a||b||a||b||`; pattern `|a||b|` → `|ab|`): each match spends
    *    one of the two separators on each side, leaving the other for
    *    the adjacent match, so consecutive pairs merge in one pass with
    *    textbook BPE semantics — and `replace` is identical on any
    *    engine, which is what lets a SQL oracle replay training
    *    bit-for-bit (floats never appear).
    *
    * Words are lowercased `[a-z]+` tokens (standard pre-tokenization;
    * also pins ASCII so per-character splitting agrees across engines).
    */
  def bpeMerges(documents: DataFrame, k: Int = 5): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeTrain(documents, k)._2
      .toDF("rank", "lhs", "rhs", "pair_count")
      .orderBy("rank")
  }

  /** The shared training loop: returns the post-merge vocabulary
    * (`w`, doubled-separator segmentation `s`, corpus count `wc`) and the
    * ordered merge list. The vocabulary frame is checkpointed (consumers
    * re-read it k times during training and once after).
    */
  private def bpeTrain(documents: DataFrame,
      k: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    import org.apache.spark.sql.functions.{array_join, concat, desc, explode,
      expr, filter, lower, replace, size => fsize, split, sum => fsum}
    val words = documents
      .select(explode(tokens(lower(col("text")))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("w"),
        concat(lit("||"), array_join(split(col("w"), ""), "||"),
          lit("||")).as("s"), col("wc"))
    var cur = Materialize(words) // the loop re-reads it k times
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to k) {
      val top = cur
        .select(col("wc"),
          filter(split(col("s"), "\\|\\|"), x => x =!= "").as("sa"))
        // single-symbol words have no pairs; also guards sequence(1, 0)'s
        // DESCENDING surprise (step defaults to -1 when stop < start)
        .filter(fsize(col("sa")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(sa) - 1), i -> struct(sa[i-1] AS a, sa[i] AS b))")).as("p"))
        .groupBy("p.a", "p.b").agg(fsum("wc").as("c"))
        .orderBy(desc("c"), col("a"), col("b"))
        .limit(1).head()
      val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((rank, a, b, c))
      cur = Materialize.round(cur)(Materialize(cur.select(col("w"),
        replace(col("s"), lit(s"|$a||$b|"), lit(s"|$a$b|")).as("s"), col("wc"))))
    }
    (cur, merges.result())
  }

  /** BPE ENCODE (t27): apply the `k` learned merges and report per-doc
    * token statistics — word count, post-merge token count, and the
    * compression the merges bought (`n_chars_coded` = characters covered
    * by multi-char tokens). The serving shape at 100 TB: training
    * produces a VOCAB-sized segmentation table, which broadcasts into
    * the corpus scan (AQE picks it up from the aggregated size) — the
    * corpus is touched exactly twice total (once to count words for
    * training, once to encode), never per merge round.
    */
  def bpeEncode(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.{explode, expr, filter, length,
      lower, split, sum => fsum}
    val (vocab, _) = bpeTrain(documents, k)
    val segmented = vocab.select(col("w"),
      filter(split(col("s"), "\\|\\|"), x => x =!= "").as("toks"))
    documents
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .join(segmented, "w")
      .select(col("doc_id"), col("toks"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        fsum(expr("size(toks)")).as("n_tokens"),
        fsum(expr(
          "aggregate(toks, 0L, (acc, t) -> acc + IF(length(t) > 1, length(t), 0))"))
          .as("n_chars_coded"))
      .orderBy("doc_id")
  }

  /** TEXT NORMALIZATION pass — the canonicalization step every real dedup
    * pipeline runs BEFORE exact/near-dup matching (case folding,
    * punctuation strip, whitespace collapse): two docs differing only in
    * formatting must land on the same content address. Emits the per-doc
    * audit a corpus-prep job keeps: raw vs normalized length, normalized
    * token count, and the first 8 hex chars of the normalized md5 — the
    * join key for normalization-aware exact dedup ([[Dedup]] d1 operates
    * on raw text; feeding it `norm_key` instead makes it
    * formatting-insensitive with zero other changes).
    *
    * Engine-exactness: the character class `[^a-z0-9 ]` and the run
    * collapse `" +"` mean the same thing in Java regex and RE2, lowercase
    * on ASCII is trivially shared, and md5 hex is bit-standard — so the
    * whole normalization is oracle-checkable character for character.
    * Scale shape: strictly row-local projections (regexes + hash), one
    * final order — no shuffle at all before the output sort.
    */
  def normalizeStats(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{lower, md5, regexp_replace, size,
      split, substring, trim}
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), norm.as("norm"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        size(split(col("norm"), " ")).cast("long").as("n_tokens_norm"),
        substring(md5(col("norm")), 1, 8).as("norm_key"))
      .orderBy("doc_id")
  }

  /** INVERTED-INDEX construction (the serving artifact behind
    * [[phraseSearch]]-style retrieval, built as a dataset): per token with
    * df ≥ `minDf` — document frequency, collection frequency, and the
    * top-`topPostings` postings by (tf desc, doc_id) rendered as a
    * deterministic `"doc:tf,…"` string.
    *
    * Scale shape: term frequencies are ONE map-side-combining aggregate
    * keyed (token, doc_id); the per-token rank is a sort-based window on
    * the token key (spills gracefully — a stopword's posting list is
    * never collected into executor memory as an array; only the ≤
    * `topPostings` survivors of the `when(rn ≤ …)` are, since
    * collect_list skips the nulls the guard produces). df/cf ride the
    * same final aggregate, so the full postings volume is counted but
    * never materialized per group.
    */
  def invertedIndex(documents: DataFrame, minDf: Long = 20L,
      topPostings: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{array_sort, collect_list, concat,
      concat_ws, desc, explode, row_number, struct, transform, when}
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    val byTok = Window.partitionBy("tok").orderBy(desc("tf"), col("doc_id"))
    tf.withColumn("rn", row_number().over(byTok))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        concat_ws(",", transform(
          array_sort(collect_list(when(col("rn") <= topPostings,
            struct(col("rn"), col("doc_id"), col("tf"))))),
          e => concat(e("doc_id"), lit(":"), e("tf")))).as("top_postings"))
      .filter(col("df") >= minDf)
      .orderBy("tok")
  }

  /** LEXICAL DIVERSITY per source: type-token ratio and hapax-legomenon
    * share — the corpus-linguistics health metrics that flag template
    * farms (low TTR: the same tokens over and over) and OCR noise (high
    * hapax share: huge one-off pseudo-vocabulary) in a crawl slice.
    * Floor-permille ratios, so the verdicts are engine-exact.
    *
    * Scale shape: one explode, then a (source, token) count whose state
    * is per-slice vocabulary, then a per-source rollup — both aggregates
    * combine map-side and nothing row-scale crosses the wire twice.
    */
  def lexicalDiversity(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{explode, when}
    documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000L div n_tokens").as("ttr_permille"),
        expr("n_hapax * 1000L div n_types").as("hapax_permille"))
      .orderBy("source")
  }

  /** EXACT-PERCENTILE quality gate ("keep the top 30% by score"): the
    * curation cut every corpus release makes, with the threshold derived
    * from the data, not hand-picked. The quality score is a BOUNDED
    * SMALL INTEGER (0–4), which turns the exact percentile into a
    * histogram walk — a 5-row aggregate plus a running sum — instead of
    * a global sort: at 100 TB the histogram is the whole trick, and it
    * extends to any low-cardinality metric (integer permille scores
    * bound the histogram at 1001 rows). The threshold is the SMALLEST
    * score whose cumulative count reaches ⌈pct·n⌉ (cum·den ≥ n·num in
    * exact integers); ties at the threshold are all kept — a rank-based
    * cut would split equal-quality documents nondeterministically.
    * One doc-side aggregate per language; the 5-row histogram window
    * runs on metadata scale (its single-partition WindowExec is over ≤5
    * rows, deliberate).
    */
  def qualityPercentileCut(documents: DataFrame, pctNum: Long = 7L,
      pctDen: Long = 10L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, max, min, when}
    val scored = documents
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("score"))
    val total = scored.agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val threshold = scored.groupBy("score").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(total))
      .filter(col("cum") * pctDen >= col("n") * pctNum)
      .agg(min(col("score")).as("threshold"))
    scored.crossJoin(broadcast(threshold))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        max(col("threshold")).as("threshold"))
      .orderBy("lang")
  }

  /** LENGTH-BUCKETED BATCHING: assign documents to fixed token-width
    * buckets, then to fixed-size batches within each bucket, and account
    * the padding waste (batch_max·count − batch_sum) each batch would
    * pay — the standard packing layout that minimizes pad tokens when
    * batching variable-length sequences for training. Buckets come from
    * a FIXED-WIDTH division of the token count (no global ntile — a
    * quantile bucketing needs a corpus-wide ordered window; the fixed
    * grid keeps every window KEYED by bucket, so the plan is one keyed
    * exchange and scales with the widest bucket, not the corpus).
    * Deterministic: batch membership orders by doc_id within bucket.
    */
  def lengthBatches(documents: DataFrame, bucketTokens: Int = 64,
      batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{max, min, row_number}
    val wB = Window.partitionBy("bucket").orderBy("doc_id")
    documents
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketTokens"))
      .withColumn("rn", row_number().over(wB))
      .withColumn("batch_id", expr(s"CAST(rn - 1 AS BIGINT) div $batchSize"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("bucket"), col("batch_id"), col("n_docs"), col("min_tokens"),
        col("max_tokens"), col("sum_tokens"),
        (col("max_tokens") * col("n_docs") - col("sum_tokens"))
          .as("padding_waste"))
      .orderBy("bucket", "batch_id")
  }

  /** CHARACTER-CLASS PROFILE per document: permille shares of uppercase,
    * digit, space, sentence-punctuation, and non-printable-ASCII
    * characters — the cheapest corpus-QA signals there are (shouting
    * docs, number dumps, binary-in-text, missing segmentation all show
    * up here before any tokenizer runs). Counts are derived as
    * length(text) − length(regexp_replace(text, class, '')) — pure
    * row-local codegen'd string ops, counting CHARACTERS (not matches),
    * identical under Java regex and RE2, and the character classes are
    * explicit ASCII ranges so no engine's Unicode tables are consulted.
    * Scale shape: a projection — embarrassingly parallel, no exchange
    * beyond the output sort.
    */
  def charClassProfile(documents: DataFrame): DataFrame = {
    def cnt(pattern: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), pattern, "")))
        .cast("long")
    // floor integer division, NOT float-divide-then-cast: Spark's cast
    // truncates where DuckDB's rounds — `div` sidesteps the disagreement.
    def pm(name: String): Column = expr(s"$name * 1000 div n_chars")
    documents
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        cnt("[A-Z]").as("n_upper"), cnt("[0-9]").as("n_digit"),
        cnt("[ ]").as("n_space"), cnt("[.,!?;:]").as("n_punct"),
        cnt("[^ -~]").as("n_nonascii"))
      .select(col("doc_id"), col("n_chars"),
        pm("n_upper").as("upper_permille"),
        pm("n_digit").as("digit_permille"),
        pm("n_space").as("space_permille"),
        pm("n_punct").as("punct_permille"),
        pm("n_nonascii").as("nonascii_permille"))
      .orderBy("doc_id")
  }

  /** BIGRAM NOVELTY per document: the permille of a document's word
    * bigrams that fall OUTSIDE the corpus's top-`topK` bigram list — a
    * distributional novelty/templatedness signal (boilerplate and
    * machine-generated text sit almost entirely inside the head;
    * genuinely novel prose does not). The head list is the integer-exact
    * analog of a unigram-LM cutoff: selected by (count DESC, bigram) —
    * a total order, so the top-K boundary is deterministic on any
    * engine.
    *
    * Scale shape: one explode + hash aggregate builds the corpus bigram
    * counts (map-side combined); the top-K is a TakeOrderedAndProject
    * whose result is broadcast back — the per-document pass joins
    * against K rows, never shuffling the corpus by bigram a second
    * time. Documents with fewer than two tokens have no bigrams and are
    * excluded (a null rate is not a zero rate).
    */
  def bigramNovelty(documents: DataFrame, topK: Int = 200): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val bigrams = expr(
      "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))")
    val docBigrams = documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigrams).as("bigram"))
    val head = docBigrams.groupBy("bigram").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bigram")).limit(topK)
      .select(col("bigram"), lit(1L).as("in_head"))
    docBigrams
      .join(broadcast(head), Seq("bigram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("in_head").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        expr("n_novel * 1000 div n_bigrams").as("novelty_permille"))
      .orderBy("doc_id")
  }

  /** READABILITY CENSUS — integer Flesch reading-ease per document, rolled
    * up into (lang, decile-bucket) cells: the curation signal that
    * separates "graduate-prose" from "see-spot-run" strata when building a
    * difficulty-balanced training mix (length and quality filters — t1,
    * t23, t35 — are blind to sentence/word shape, which is exactly what
    * Flesch measures).
    *
    * All three inputs are regex COUNTS — words = `[A-Za-z]+` runs,
    * sentences = `[.!?]+` runs (floored at 1), syllables ≈ vowel-group
    * runs `[aeiouy]+` on the lowercased text, the standard public
    * heuristic — so both engines count the same integers. The classic
    * formula 206.835 − 1.015·(words/sent) − 84.6·(syll/words) is scaled to
    * MILLI-points with division last:
    * `206835 − (1015·w) div s − (84600·syl) div w`; both quotients are
    * non-negative so Spark's `div` and DuckDB's `//` agree, and the final
    * score can legitimately go negative (dense legalese) — the decile
    * bucket uses `div 10000` whose toward-zero truncation both engines
    * share (documented, as in e40's log-buckets).
    *
    * One scan, all-regex map side, one hash aggregate on (lang, bucket) —
    * nothing here shuffles document text, only the tiny cell keys.
    */
  def readabilityCensus(documents: DataFrame): DataFrame = {
    val scored = documents
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .select(col("lang"),
        greatest(regexp_count(col("text"), lit("[A-Za-z]+")).cast("long"), lit(1L)).as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L)).as("s"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("syl"))
      .select(col("lang"), col("w"),
        (lit(206835L) - expr("(1015 * w) div s") -
          expr("(84600 * syl) div w")).as("score_milli"))
    scored
      .groupBy(col("lang"), expr("score_milli div 10000").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        min(col("score_milli")).as("min_score_milli"),
        max(col("score_milli")).as("max_score_milli"))
      .orderBy("lang", "bucket")
  }

  /** VOCABULARY GROWTH CURVE — distinct word-BIGRAM count after the
    * first 50/100/200/… documents (by doc_id order), the empirical
    * Heaps-law points that size a tokenizer's vocab budget and forecast
    * how much new text still buys new vocabulary. Bigrams, not unigrams:
    * the unigram vocabulary of a bounded-domain corpus saturates in the
    * first checkpoint (31 tokens here — a 1-row "curve"), while the
    * combinatorial unit keeps growing and actually exercises the law.
    * Computed the scale-right way: each bigram reduces to its FIRST
    * document (one map-side-combining MIN — the same first-seen
    * linearization as the adoption curve), gets binned to the smallest
    * checkpoint covering it, and the curve is a cumulative sum over the
    * ≤ |checkpoints| bins. Never one distinct-count per checkpoint
    * (k corpus scans). Checkpoints with no first-seen bigram emit
    * nothing (their curve value is the previous row's — a reader's
    * interpolation, not a stored zero).
    */
  def vocabGrowth(documents: DataFrame,
      checkpoints: Seq[Long] = Seq(50L, 100L, 200L, 500L, 1000L, 2000L,
        5000L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(checkpoints == checkpoints.sorted && checkpoints.nonEmpty,
      "checkpoints must be ascending")
    val firstDoc = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // Guarded: sequence(1, 0) DESCENDS in Spark ([1, 0] — reading
      // toks[-1]/toks[1], an INVALID_ARRAY_INDEX crash under ANSI mode
      // for 0/1-token docs), so short docs get an explicit empty array.
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2
          |     THEN transform(sequence(1, size(toks) - 1),
          |                    i -> concat(toks[i - 1], ' ', toks[i]))
          |     ELSE array() END""".stripMargin))
        .as("tok"))
      .groupBy("tok").agg(min("doc_id").as("first_doc"))
    val bin = checkpoints.foldRight(lit(null).cast("long")) { (cp, acc) =>
      when(col("first_doc") <= cp, lit(cp)).otherwise(acc)
    }
    val w = Window.orderBy("checkpoint")
      .rowsBetween(Window.unboundedPreceding, 0)
    firstDoc
      .select(bin.as("checkpoint"))
      .filter(col("checkpoint").isNotNull)
      .groupBy("checkpoint")
      .agg(count(lit(1)).as("n_new_tokens"))
      .withColumn("vocab_size", sum("n_new_tokens").over(w))
      .orderBy("checkpoint")
  }
}
