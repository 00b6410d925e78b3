package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.OnceGate
import graft.functions.TextFunctions.{shingles3Tokens, tokens}
import graft.spark.Materialize

/** The VERIFY step every set-similarity join shares: a candidate pair's
  * 3-gram set overlap, from [[shingleSets]] or the [[dfOrdered]] gram
  * table, counted by [[overlap]]. Each join keeps its own candidate
  * generation and its own threshold predicate over the counts: rounded
  * [[jaccard]] ≥ t in d3b, d7, d8, d8b, d10, d16 (through
  * [[Dedup.nearDupPairs]] and [[Dedup.incrementalNearDups]]) and d14;
  * integer cross-multiplied Jaccard n_inter·den ≥ n_union·num in d18 and
  * d22; containment n_inter·den ≥ n_a·num in d19. Candidates in, overlap
  * rows out: the one step where a join's candidates-vs-verified count is
  * taken.
  *
  * Shingles: tokens are projected as their own column BEFORE the builder
  * (the [[graft.functions.TextFunctions.shingles3Tokens]] contract; the
  * inline `shingles3(text)` form re-splits each text once per reference).
  *
  * Intersect: |A∪B| = |A| + |B| − |A∩B| on distinct'd sets, so the one
  * O(|A|+|B|) hash build per candidate is the intersect; an
  * `array_union` kernel beside it would be pure waste. OnceGate pins the
  * intersect to ONE evaluation site: without it the optimizer pushes the
  * caller's threshold filter into the verification join's CONDITION and
  * re-derives the count in the output projection — d14's plan showed
  * three `array_intersect` evaluations per matched row.
  *
  * Negative result (measured r10): a codegen'd merge-scan intersect count
  * over `sort_array`'d sets was a WASH across d14/d18/d19 at sf1 and sf10
  * (±10 %, inside box noise; with `array_sort`'s interpreted lambda
  * comparator an outright 1.2–1.8× regression). The builtin hash
  * intersect is already near-optimal for string sets this size, and the
  * verify is not the bottleneck — the candidate equi-join + distinct is.
  * Don't re-litigate without a profile.
  */
object SetOverlap {

  /** `keys` of `documents` beside a distinct-3-gram-set column built by
    * `as` from the tokens projected once.
    */
  private def bySet(documents: DataFrame, keys: Seq[String])(as: Column => Column) = {
    val k = keys.map(col)
    documents
      .select(k ++ Seq(col("text"), tokens(col("text")).as("toks")): _*)
      .select(k :+ as(array_distinct(shingles3Tokens(col("toks"), col("text")))): _*)
  }

  /** `(doc_id, sh)`: each document's distinct 3-gram set. */
  def shingleSets(documents: DataFrame): DataFrame =
    bySet(documents, Seq("doc_id"))(_.as("sh"))

  /** `(keys…, shingle)`: one row per distinct 3-gram of each `keys` row.
    * The generator takes the set expression itself: exploding the `sh`
    * attribute of [[shingleSets]] instead makes the optimizer infer a
    * `size(sh) > 0` filter and push it, shingle builder inlined, into the
    * scan — the builder runs twice per doc and the scan no longer matches
    * (and reuses) its twin's exchange.
    */
  def shingleRows(documents: DataFrame, keys: String*): DataFrame =
    bySet(documents, keys)(explode(_).as("shingle"))

  /** [[shingleSets]] of only the documents whose id appears in one of
    * `cand`'s `idCols`. Shingle building is the expensive step, and
    * candidates are a vanishing fraction of the corpus at scale, so a
    * semi join prunes the rest first. No broadcast hint on the id side:
    * it scales with the corpus DUP RATE, and a forced broadcast would
    * override the threshold that prevents a driver OOM at 100×; AQE still
    * broadcasts it when it measures small.
    */
  def shingleSets(documents: DataFrame, cand: DataFrame, idCols: String*): DataFrame = {
    val ids = idCols match {
      case Seq(c) => cand.select(col(c).as("doc_id"))
      case cs => cand.select(explode(array(cs.map(col): _*)).as("doc_id")).distinct()
    }
    shingleSets(documents.join(ids, Seq("doc_id"), "left_semi"))
  }

  /** The df-ordered gram table over `documents` (`keys` + `text`): per
    * key, the distinct shingles under the global (df, shingle) AllPairs
    * order, rarest first (`ord` structs and the bare `sh` strings), the
    * distinct-shingle count `n`, and a 128-bit set-membership MASK
    * (`mask0`/`mask1`: each shingle sets bit xxhash64(shingle) mod 128,
    * folded by the codegen'd bit_or aggregate). d18 and d19 key it by
    * `doc_id`; d14 by `(doc_id, side)`, so df counts over both sides of
    * its train-vs-eval join, as its prefix theorem needs.
    *
    * The mask is a candidate-join prefilter: every common token of a
    * pair sets its bit in BOTH masks, so bits in maskA & ~maskB are set
    * only by tokens of A∖B and bit_count(maskA & ~maskB) ≤ |A∖B|, a
    * NECESSARY condition for any overlap bound, evaluated as integer ops
    * inside the join condition before a candidate pair materializes.
    *
    * One shingle pass: the ordered array serves both prefix generation
    * (slice) and exact verification ([[overlap]] reads `sh`). The table
    * is materialized: both prefix sides and both verification joins read
    * it, and lazily each would re-run the shingle + df + sort lineage
    * (measured 17.6 s → ~3 s for d14 at sf0.1).
    */
  def dfOrdered(documents: DataFrame, keys: String*): DataFrame = {
    val k = keys.map(col)
    val grams = shingleRows(documents, keys: _*)
    val dfreq = grams.groupBy("shingle").agg(count(lit(1)).as("df"))
    Materialize(grams.join(dfreq, "shingle")
      .withColumn("h", pmod(xxhash64(col("shingle")), lit(128)).cast("int"))
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ord"),
        count(lit(1)).as("n"),
        expr("bit_or(CASE WHEN h < 64 THEN shiftleft(CAST(1 AS BIGINT), h) " +
          "ELSE CAST(0 AS BIGINT) END)").as("mask0"),
        expr("bit_or(CASE WHEN h >= 64 THEN shiftleft(CAST(1 AS BIGINT), h - 64) " +
          "ELSE CAST(0 AS BIGINT) END)").as("mask1"))
      .select(k ++ Seq(col("n"), col("ord"), col("mask0"), col("mask1"),
        expr("transform(ord, x -> x.shingle)").as("sh")): _*))
  }

  /** `cand`'s columns plus the pair's overlap counts `n_a`, `n_b`,
    * `n_inter` and `n_union` (all BIGINT). Candidate column `a` is joined
    * to `setsA`'s `doc_id`, `b` to `setsB`'s; both set frames carry a
    * `sh` column ([[shingleSets]] or [[dfOrdered]]).
    */
  def overlap(cand: DataFrame, a: String, setsA: DataFrame,
      b: String, setsB: DataFrame): DataFrame =
    cand
      .join(setsA.select(col("doc_id").as(a), col("sh").as("sh_a")), a)
      .join(setsB.select(col("doc_id").as(b), col("sh").as("sh_b")), b)
      .select(cand.columns.map(col) ++ Seq(
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        OnceGate.once(size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .as("n_inter")): _*)
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))

  /** An [[overlap]] row's n_inter / n_union, rounded to 4 places as the oracles round it. */
  def jaccard: Column = round(col("n_inter").cast("double") / col("n_union"), 4)
}
