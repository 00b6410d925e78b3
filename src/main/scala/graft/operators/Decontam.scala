package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{tokens, shinglesKTokens}
import graft.spark.Materialize

/** Benchmark DECONTAMINATION: flag training documents that share any
  * token n-gram with an evaluation/benchmark set — the standard guard
  * against test-set leakage when assembling LLM training data (the
  * 13-gram collision rule of GPT-3 appendix C / PaLM; n is a parameter
  * and the fixture's short documents use n = 5).
  *
  * Scale design (100 TB corpus, benchmark-sized eval set):
  *  - The eval side collapses to its DISTINCT n-gram set before the join.
  *    Eval suites are millions of grams at most — orders of magnitude
  *    below the corpus — so the semi join broadcasts (AQE picks it up
  *    from the aggregated size; no forced hint needed, same reasoning as
  *    the d3 candidate join).
  *  - The train side is scan-shaped: tokenize → shingle → explode, one
  *    pass, no corpus-sized shuffle. Per-doc `array_distinct` keeps
  *    repeated boilerplate from inflating the exploded stream.
  *  - Output is the CONTAMINATED doc list with its distinct-gram hit
  *    count — the small frame a cleaning pass anti-joins back against
  *    the corpus (compose with [[TrainingPipeline]]'s gate).
  *
  * Reference scope: the reference engine has no training-data tier; this
  * extends its curated-zone gate (`b3_transform.py:242-352` row-quality
  * checks) to corpus-vs-benchmark hygiene.
  */
object Decontam {

  /** Distinct (doc_id, gram) pairs of `n`-token shingles. Tokens are
    * projected ONCE before the shingle builder: the builder references
    * its input k+2 times and higher-order functions run interpreted,
    * outside common-subexpression elimination (the t11 lesson).
    */
  private def docGrams(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shinglesKTokens(col("toks"), n))).as("gram"))

  /** Training docs sharing at least one n-gram with the eval set, with
    * the count of distinct colliding grams (`n_hits`) — descending hit
    * count is the triage order a pipeline reviews before dropping.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 5): DataFrame = {
    val evalGrams = docGrams(evalSet, n).select("gram").distinct()
    docGrams(train, n)
      .join(evalGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered variant of [[decontaminate]] — the shape for when
    * the eval gram set outgrows a comfortable broadcast hash table: the
    * distinct eval grams collapse further into ONE mergeable bloom filter
    * (a few MB for millions of grams at `fpp` ≈ 3%), which broadcasts as
    * a single row; the train side applies `might_contain(xxhash64(gram))`
    * as a SCAN-SIDE prefilter, so the semi-join exchange carries only the
    * bloom-positive sliver of the corpus gram stream instead of all of
    * it. False positives are then removed by the exact semi join over
    * that sliver — the output is IDENTICAL to [[decontaminate]] (the
    * oracle-equality the spec and the registered query both witness);
    * the bloom changes only where the data gets dropped.
    *
    * Uses Spark's own runtime-filter kernel (`BloomFilterAggregate` /
    * `BloomFilterMightContain` — what `InjectRuntimeFilter` plants under
    * AQE) composed explicitly, because the optimizer only injects it for
    * equi-JOIN keys, not for a semi join consumed by an aggregate.
    */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame, n: Int = 5,
      expectedGrams: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.GraftShims.{toColumn, toExpression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val evalGrams = docGrams(evalSet, n).select("gram").distinct()
    // might_contain requires its filter side as a constant or a SCALAR
    // SUBQUERY (not a join column): the 1-row bloom aggregate rides in as
    // .scalar(), evaluated once and inlined for every scan task
    val bloom = evalGrams.agg(toColumn(
      new BloomFilterAggregate(
        new XxHash64(Seq(toExpression(col("gram")))), expectedGrams)
        .toAggregateExpression()).as("bloom")).scalar()
    val prefiltered = docGrams(train, n)
      .filter(toColumn(new BloomFilterMightContain(
        toExpression(bloom),
        new XxHash64(Seq(toExpression(col("gram")))))))
      .select("doc_id", "gram")
    prefiltered
      .join(evalGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** FUZZY decontamination: training docs NEAR-DUPLICATING an eval doc
    * (3-gram shingle Jaccard ≥ `minJaccard`), not just colliding on one
    * n-gram — the guard for paraphrased/lightly-edited benchmark leakage
    * that the exact collision rule ([[decontaminate]]) over-triggers on
    * (one shared idiom ≠ contamination) and a high-n collision rule
    * under-triggers on. Emits every (train_doc, eval_doc) pair at or
    * above the threshold with its exact Jaccard — the graded evidence a
    * cleaning pass reviews, vs d9's binary hit count.
    *
    * Scale design: EXACT, yet never all-pairs AND never skew-quadratic —
    * candidate generation is df-ranked PREFIX FILTERING (the
    * [[Dedup.prefixFilterJoin]] AllPairs bound, adapted to the asymmetric
    * train-vs-eval case). Under one global gram order (ascending document
    * frequency over BOTH sides, ties by gram), a set of size n keeps a
    * prefix of n − ceil(t·n) + 1 grams; if J(x,y) ≥ t the smallest
    * common gram lies inside both prefixes, so joining prefixes only is
    * complete (recall exactly 1). The join key distribution is the
    * CRUCIAL difference from a naive gram equi-join: the stopword-heavy
    * 3-gram shared by a large fraction of the corpus has maximal df, so
    * it sorts to the END of every doc's ordered array and lands in
    * nobody's prefix — no single join key can carry
    * |train| × |eval| pairs, the skewed-reducer failure mode at 100 TB.
    * Candidates (distinct doc pairs passing the length filter
    * min·t ≤ max) are then exact-verified by [[SetOverlap.overlap]] over
    * the gram table, no second shingle pass. (An LSH prefilter would trade
    * recall for nothing at benchmark-scale eval sets.)
    */
  def fuzzyDecontaminate(train: DataFrame, evalSet: DataFrame,
      minJaccard: Double = 0.5): DataFrame =
    fuzzyCandidates(train, evalSet, minJaccard)
      .select(col("train_doc"), col("eval_doc"), SetOverlap.jaccard.as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("train_doc", "eval_doc")

  /** Candidate pairs from the prefix-filtered gram join, with their
    * [[SetOverlap.overlap]] counts. Split out so the spec can assert the
    * prune: candidate count must sit far below the naive gram-join's
    * colliding-pair count.
    */
  private[graft] def fuzzyCandidates(train: DataFrame, evalSet: DataFrame,
      minJaccard: Double): DataFrame = {
    // ONE tagged gram table over both sides: side tag 0/1 keeps same-id
    // docs on opposite sides distinct, the tokenize→shingle pipeline runs
    // over one stream, and df counts over the UNION, as it must (a gram's
    // rank must agree between a train doc and an eval doc or the prefix
    // theorem doesn't hold across the join).
    def side(df: DataFrame, tag: Int) =
      df.select(col("doc_id"), lit(tag).as("side"), col("text"))
    // Prefix length n − ceil(t·n) + 1, with an epsilon slack inside the
    // ceil so FP rounding can only LENGTHEN a prefix (hurts pruning a
    // hair, never recall).
    val ordered = SetOverlap.dfOrdered(
        side(train, 0).unionByName(side(evalSet, 1)), "doc_id", "side")
      .withColumn("p",
        (col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)) + 1).cast("int"))
    val tArr = ordered.filter(col("side") === 0)
    val eArr = ordered.filter(col("side") === 1)
    val tPre = tArr.select(col("doc_id").as("train_doc"), col("n").as("n_t"),
      explode(expr("slice(sh, 1, p)")).as("gram"))
    val ePre = eArr.select(col("doc_id").as("eval_doc"), col("n").as("n_e"),
      explode(expr("slice(sh, 1, p)")).as("gram"))
    // Length filter inside the join condition (J ≥ t forces
    // t·max(|A|,|B|) ≤ min(|A|,|B|)), with the same safe FP slack.
    val cand = tPre.join(ePre,
        tPre("gram") === ePre("gram") &&
          tPre("n_t").cast("double") >= lit(minJaccard) * ePre("n_e") - lit(1e-9) &&
          ePre("n_e").cast("double") >= lit(minJaccard) * tPre("n_t") - lit(1e-9))
      .select(col("train_doc"), col("eval_doc"))
      .distinct()
    // Verification (array_intersect over the full gram arrays) is
    // compute-dense over byte-small pair rows: spread them first. Keyed by
    // train_doc alone, join 1's key: a (train_doc, eval_doc) spread would
    // repeat the distinct's partitioning, and the optimizer erases it.
    SetOverlap.overlap(Materialize.spread(cand, col("train_doc")),
      "train_doc", tArr, "eval_doc", eArr)
  }

  /** [[fuzzyDecontaminate]] over the standard content-addressed split
    * (nibble 15 = held-out benchmark, rest = training data).
    */
  def fuzzyContaminationReport(documents: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val nb = TextOps.hexNibble("doc_id")
    fuzzyDecontaminate(documents.filter(nb < 15), documents.filter(nb === 15),
      minJaccard)
  }

  /** Deterministic corpus split for the registered query: docs whose
    * first md5(doc_id) nibble is 15 act as the held-out benchmark
    * (1/16 of the corpus), the rest as training data — the same
    * content-addressed split rule as t7/t8 sampling.
    */
  def contaminationReport(documents: DataFrame, n: Int = 5): DataFrame = {
    val nb = TextOps.hexNibble("doc_id")
    decontaminate(documents.filter(nb < 15), documents.filter(nb === 15), n)
  }

  /** [[contaminationReport]] through the bloom prefilter — must produce
    * byte-identical output (same oracle SQL as d9).
    */
  def contaminationReportBloom(documents: DataFrame, n: Int = 5): DataFrame = {
    val nb = TextOps.hexNibble("doc_id")
    decontaminateBloom(documents.filter(nb < 15), documents.filter(nb === 15), n)
  }
}
