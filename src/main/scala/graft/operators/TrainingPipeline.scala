package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.spark.Materialize

/** End-to-end training-data preparation — the capstone composition of the
  * pipeline tier, every stage of which is individually oracle-proven:
  *
  *  1. deterministic content-addressed SAMPLE (t7/t8 machinery) — a
  *     reproducible subset, stable across runs and partitionings;
  *  2. quality + language GATE (d6) — codegen'd column predicates over
  *     one scan;
  *  3. exact DEDUP (d1) — min-doc_id representative per identical text;
  *  4. near-dup CLUSTER representatives (d3b + d7) — LSH pairs at
  *     J ≥ 0.9, connected components, keep only each cluster's min id
  *     (transitive closure: A≈B≈C collapses to one survivor even when
  *     A,C never pair directly);
  *  5. token-budget PACKING (t10) — contiguous 512-token chunks per
  *     language stream via a keyed window.
  *
  * Scale shape is inherited from the stages: map-side sample/gate, one
  * dedup shuffle, banded LSH (no all-pairs), connected components over
  * the near-dup pairs, and keyed windows — no stage concentrates the
  * corpus on one task. The near-dup pair set is usually far smaller than
  * the corpus: while it fits `spark.sql.autoBroadcastJoinThreshold` the
  * components finish on the driver in one collect and come back as a
  * local relation that the survivor join broadcasts, and only a pair set
  * past that size runs the O(log² n) distributed star rounds
  * ([[Dedup.connectedComponents]]).
  */
object TrainingPipeline {

  def trainingPrep(documents: DataFrame, sampleSixteenths: Int = 12,
      minQuality: Int = 3, nearDupThreshold: Double = 0.9,
      budgetTokens: Int = 512,
      evalSet: Option[DataFrame] = None): DataFrame =
    // 5: pack the survivors into token-budget chunks per language stream —
    // the same packing definition as t10 (TextOps.packTokenCounts)
    TextOps.packTokenCounts(
      curatedSurvivors(documents, sampleSixteenths, minQuality,
        nearDupThreshold, evalSet)
        .select(col("doc_id"), col("lang"), col("nt").cast("int").as("n_tokens")),
      budgetTokens)
      .orderBy("doc_id")

  /** Stages 1-4 of [[trainingPrep]] — the curated SURVIVOR set with its
    * text still attached: what a shard-writing job persists
    * ([[graft.jobs.CorpusPrepJob]]), where the packing query only needs
    * token counts.
    */
  def curatedSurvivors(documents: DataFrame, sampleSixteenths: Int = 12,
      minQuality: Int = 3, nearDupThreshold: Double = 0.9,
      evalSet: Option[DataFrame] = None): DataFrame = {
    // 1-2: sample + gate (single scan, all codegen'd predicates)
    val gated = documents
      .filter(TextOps.hexNibble("doc_id") < sampleSixteenths)
      .filter(qualityScore(col("text")) >= minQuality &&
        langIdHeuristic(col("text")) === "en")
    // 2b (optional): benchmark DECONTAMINATION (d9) — drop curated docs
    // sharing any 5-gram with the held-out eval set, before any dedup
    // (identical texts share contamination status, so ordering vs the
    // exact dedup is immaterial; near-dup clusters can legitimately
    // split when a contaminated bridge doc leaves)
    val curated = evalSet match {
      case Some(ev) =>
        val contaminated = Decontam.decontaminate(gated, ev)
          .select("doc_id")
        gated.join(contaminated, Seq("doc_id"), "left_anti")
      case None => gated
    }
    // 3: exact dedup; representative carries its own lang label
    // materialized once: the survivor set feeds LSH signature building,
    // candidate shingle verification AND the representative join — left
    // lazy, the sample+gate+dedup lineage would execute three times
    val deduped = Materialize(curated
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min(tokenCount(col("text"))).as("nt"))
      .select(col("doc_id"), col("text"), col("lang"), col("nt")))
    // 4: near-dup clusters among the survivors, keep component minima
    val edges = Dedup.nearDupPairs(deduped, nearDupThreshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = Dedup.connectedComponents(edges)
    deduped
      .join(labels, col("doc_id") === col("node"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("nt"))
  }

  /** Token-budget MIXTURE sampling: cap each source's contribution to the
    * training mix at a token budget, choosing documents in a
    * content-addressed order (md5 of doc_id — the engine's standard
    * deterministic-draw rule, t7/d11) so the selection is reproducible
    * across runs, engines and partitionings. This is the static
    * mixture-weighting step of corpus assembly: over-represented sources
    * (crawl) get truncated, under-budget sources pass through whole.
    *
    * A document is selected iff the running token total of its source, in
    * hash order, stays within budget THROUGH it (cum <= budget).
    *
    * Scale shape — the naive form is one `SUM OVER (PARTITION BY source
    * ORDER BY hash)` window, which at 100 TB serializes each source's
    * entire corpus through a single ordered partition (sources are few:
    * maybe a dozen — that window is the whole corpus on ~12 tasks). This
    * implementation is the two-phase refinement:
    *   1. aggregate token sums per (source, 2-hex-nibble hash bucket) —
    *      256 rows per source, a map-side-combined shuffle of counters;
    *   2. prefix-sum those bucket totals with a TINY window (256 rows per
    *      source) and classify each bucket: entirely inside budget (keep
    *      all, no row-level window), entirely past it (drop all), or THE
    *      boundary bucket (at most one per source);
    *   3. only boundary-bucket rows — ~1/256 of one source each — run a
    *      row-level cumulative window, partitioned per (source, bucket).
    * Because the bucket is a PREFIX of the hash, (bucket, hash) order
    * equals hash order, so the result is identical to the naive window —
    * `ScaleTechniquesSpec` pins that equivalence.
    *
    * @param budgets per-source overrides; sources not in the map use
    *                `defaultBudget`
    */
  def tokenBudgetMix(documents: DataFrame, defaultBudget: Long,
      budgets: Map[String, Long] = Map.empty): DataFrame = {
    require(defaultBudget >= 0 && budgets.values.forall(_ >= 0),
      "token budgets are non-negative")
    import org.apache.spark.sql.expressions.Window
    val budgetCol =
      if (budgets.isEmpty) lit(defaultBudget)
      else coalesce(element_at(typedLit(budgets), col("source")), lit(defaultBudget))

    val base = documents.select(
      col("doc_id"), col("source"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bucket", substring(col("h"), 1, 2))

    // phase 1-2: bucket totals + tiny prefix-sum window (≤256 rows/source)
    val wBefore = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val classified = base.groupBy("source", "bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
      .withColumn("cum_before", coalesce(sum("bucket_tokens").over(wBefore), lit(0L)))
      .withColumn("budget", budgetCol)
      // tokens are >= 1 per doc (split of any string is non-empty), so a
      // bucket starting AT the budget can contribute nothing — drop it
      .withColumn("cls",
        when(col("cum_before") + col("bucket_tokens") <= col("budget"), lit("keep"))
          .when(col("cum_before") >= col("budget"), lit("drop"))
          .otherwise(lit("boundary")))
      .filter(col("cls") =!= "drop")
      .select("source", "bucket", "cum_before", "budget", "cls")

    // phase 3: dropped buckets vanish in the inner join; keep-buckets pass
    // without any row-level window; only the boundary bucket pays one
    val joined = base.join(broadcast(classified), Seq("source", "bucket"))
    val keptWhole = joined.filter(col("cls") === "keep")
      .select("doc_id", "source", "n_tokens")
    val wIn = Window.partitionBy("source", "bucket").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundary = joined.filter(col("cls") === "boundary")
      .withColumn("cum", col("cum_before") + sum("n_tokens").over(wIn))
      .filter(col("cum") <= col("budget"))
      .select("doc_id", "source", "n_tokens")
    keptWhole.unionAll(boundary).orderBy("doc_id")
  }

  /** WALK-FORWARD temporal split with an EMBARGO gap — the
    * cross-validation scheme for time-dependent training data, where a
    * random split ([[groupAwareSplit]]'s hash buckets) silently leaks
    * the future into the train side. Fold i trains on everything before
    * boundary i and tests on a later window that starts `embargoDays`
    * AFTER the boundary — the gap absorbs label lookahead (a target
    * computed over a trailing window straddles a gapless boundary).
    *
    * Fold boundaries are pure integer arithmetic on the day span
    * (width = span div folds), so both engines derive identical
    * boundaries with no quantile call. The output is the fold spec
    * (boundary days) PLUS the realized train/test row counts — the
    * artifact a training run logs next to its metrics.
    *
    * Scale shape: the fact table collapses in one map-side-combining
    * daily count (output ∝ days); the fold fan-out and the conditional
    * counts run on that metadata-scale frame against the broadcast
    * (folds−1)-row spec. No per-row fold assignment ever materializes.
    */
  def temporalSplit(orders: DataFrame, folds: Int = 5,
      embargoDays: Int = 7): DataFrame = {
    require(folds >= 2, s"temporalSplit: folds=$folds must be >= 2")
    val daily = orders
      .filter(col("o_orderdate").isNotNull)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
    val spec = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(expr(s"sequence(1L, ${folds - 1}L)")).as("fold"),
        col("d0"), col("d1"))
      .withColumn("width", expr(s"(d1 - d0 + 1) div $folds"))
      .select(col("fold"),
        (col("d0") + col("fold") * col("width")).as("train_end_day"),
        (col("d0") + col("fold") * col("width") + embargoDays)
          .as("test_start_day"),
        (col("d0") + (col("fold") + 1) * col("width")).as("test_end_day"))
    daily.crossJoin(broadcast(spec))
      .groupBy("fold", "train_end_day", "test_start_day", "test_end_day")
      .agg(
        sum(when(col("day") < col("train_end_day"), col("c")).otherwise(0L))
          .as("n_train"),
        sum(when(col("day") >= col("test_start_day") &&
            col("day") < col("test_end_day"), col("c")).otherwise(0L))
          .as("n_test"))
      .orderBy("fold")
  }

  /** Smoothed TARGET ENCODING (m-estimate) of a high-ish-cardinality
    * category — the feature-engineering standard for feeding categoricals
    * to models that want numbers: the category's mean target shrunk
    * toward the global mean by `m` pseudo-observations,
    * enc = (Σ_c + m·μ̂_g) / (n_c + m), so rare categories don't memorize
    * their few labels. Exactness: μ̂_g is the FLOOR global mean in cents
    * (identical BIGINT both engines), the encoding a floor quotient of
    * non-negative BIGINTs — no float ever enters.
    *
    * Emitting the sufficient statistics (n_c, Σ_c) alongside the encoding
    * makes the frame MERGEABLE: tomorrow's batch adds its (n, Σ) and
    * re-derives the encoding without re-reading history — the same
    * insert-path contract as [[graft.operators.Dedup]]'s signature merge.
    *
    * Scale shape: the fact→dimension chain shuffles on the join key once
    * (customer is NOT broadcast — it scales with the fact table; nation
    * is); the encode aggregate is map-side-combining with state ∝
    * categories, and the 1-row global frame joins back broadcast.
    */
  def targetEncoding(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, m: Int = 20): DataFrame = {
    val fact = orders
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(customer.select(col("c_custkey").as("o_custkey"),
        col("c_nationkey")), Seq("o_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), Seq("c_nationkey"))
    val global = fact.agg(sum("cents").as("gsum"), count(lit(1)).as("gn"))
    fact.groupBy("n_name")
      .agg(count(lit(1)).as("n_c"), sum("cents").as("sum_c"))
      .crossJoin(broadcast(global))
      .select(col("n_name"), col("n_c"), col("sum_c"),
        expr("sum_c div n_c").as("raw_mean_cents"),
        expr(s"(sum_c + $m * (gsum div gn)) div (n_c + $m)").as("enc_cents"),
        expr("gsum div gn").as("global_mean_cents"))
      .orderBy("n_name")
  }

  /** INSERT-PATH MERGE of [[targetEncoding]]'s sufficient statistics —
    * the claim that frame makes ("mergeable: tomorrow's batch adds its
    * (n, Σ) without re-reading history") EXECUTED and verified by the
    * hash gate itself: this operator computes the encoding through TWO
    * disjoint batches (orderkey parity split) whose per-category and
    * global statistics are merged by addition, then re-derives the
    * encoding from the merged stats — while the REGISTERED ORACLE is
    * the single-pass full-batch SQL. Hash equality is therefore the
    * merge-correctness proof, not an internal self-comparison.
    *
    * Scale shape: same as [[targetEncoding]] twice over disjoint
    * partitions (in production the second "batch" is the day's delta —
    * cost ∝ delta); the merge is a hash aggregate over category keys.
    */
  def targetEncodingMerged(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, m: Int = 20): DataFrame = {
    val fact = orders
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(customer.select(col("c_custkey").as("o_custkey"),
        col("c_nationkey")), Seq("o_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), Seq("c_nationkey"))
    def stats(f: DataFrame): DataFrame = f.groupBy("n_name")
      .agg(count(lit(1)).as("n_c"), sum("cents").as("sum_c"))
    val merged = stats(fact.filter(col("o_orderkey") % 2 === 0))
      .unionAll(stats(fact.filter(col("o_orderkey") % 2 =!= 0)))
      .groupBy("n_name")
      .agg(sum("n_c").as("n_c"), sum("sum_c").as("sum_c"))
    val global = merged.agg(sum("sum_c").as("gsum"), sum("n_c").as("gn"))
    merged.crossJoin(broadcast(global))
      .select(col("n_name"), col("n_c"), col("sum_c"),
        expr("sum_c div n_c").as("raw_mean_cents"),
        expr(s"(sum_c + $m * (gsum div gn)) div (n_c + $m)").as("enc_cents"),
        expr("gsum div gn").as("global_mean_cents"))
      .orderBy("n_name")
  }

  /** TEMPERATURE-SMOOTHED language mix (α = 1/2) — the multilingual
    * corpus rebalancer: sampling languages proportional to n^α with
    * α < 1 lifts low-resource languages without drowning the head (the
    * exponent-smoothing scheme multilingual-pretraining recipes use).
    * α = 1/2 is the one temperature with an EXACT integer rendering:
    * weight = ⌊√n⌋ (floor-sqrt of a count ≤ 2⁵² is exact in IEEE
    * double on both engines, documented bound), and the budget is
    * apportioned by floor shares with the LARGEST-REMAINDER rule —
    * ranked by (remainder DESC, lang) so allocations sum to the budget
    * EXACTLY and deterministically (the same reconcile-to-total
    * discipline as [[graft.operators.Sessions.decayAttribution]]).
    *
    * Scale shape: the corpus collapses in one map-side-combining
    * per-language count; everything after runs on the language-domain
    * frame (metadata scale). The allocation column is the sampling
    * SPEC — the downstream sampler pairs it with the md5-nibble rule.
    */
  def temperatureMix(documents: DataFrame, budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .filter(col("lang").isNotNull)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs"))).cast("long"))
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = counts
      .withColumn("wsum", sum("w").over(tot))
      .withColumn("base", expr(s"w * $budget div wsum"))
      .withColumn("rem", expr(s"w * $budget % wsum"))
      .withColumn("short", expr(s"$budget - sum(base) over ()"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"))))
    ranked
      .select(col("lang"), col("n_docs"), col("w"),
        (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("allocation"))
      .orderBy("lang")
  }

  /** REFERENTIAL-INTEGRITY-PRESERVING sampling — cut a consistent slice
    * across fact tables by hashing the ROOT entity (customer), not the
    * rows: a customer is in or out wholesale, so every kept order keeps
    * ALL its lineitems and the slice is a valid mini-warehouse (the way
    * dev/test fixtures and staged backfills must be cut; row-level
    * sampling breaks every join). The decision is the engine-standard
    * md5-nibble rule ([[graft.operators.TextOps.hexNibble]]) — content-
    * addressed, so tomorrow's re-run keeps the same slice.
    *
    * The output is the audit row a sampling job logs: kept counts per
    * table, the realized rates (floor permille), and `n_orphan_lines` —
    * kept lineitems whose order is NOT kept, 0 BY CONSTRUCTION (the
    * lineitem filter is a semi-join on kept orders), emitted so the
    * integrity property is asserted by the hash gate, not assumed.
    *
    * Scale shape: one codegen'd filter on orders, one semi-join
    * (shuffle on orderkey — at 100 TB both sides bucket by orderkey and
    * it goes exchange-free), one anti-join that aggregates to the
    * 0-count. No sort, no window.
    */
  def referentialSample(orders: DataFrame, lineitem: DataFrame,
      sixteenths: Int = 4): DataFrame = {
    val keep = TextOps.hexNibble("o_custkey") < sixteenths
    val keptOrders = orders.filter(keep)
      .select(col("o_orderkey"))
    val keptLines = lineitem
      .join(keptOrders.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
    val orphans = keptLines
      .join(keptOrders.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_lines"))
    val oc = orders.agg(count(lit(1)).as("n_orders"))
    val okc = keptOrders.agg(count(lit(1)).as("n_orders_kept"))
    val lc = lineitem.agg(count(lit(1)).as("n_lines"))
    val lkc = keptLines.agg(count(lit(1)).as("n_lines_kept"))
    oc.crossJoin(broadcast(okc)).crossJoin(broadcast(lc))
      .crossJoin(broadcast(lkc)).crossJoin(broadcast(orphans))
      .select(col("n_orders"), col("n_orders_kept"),
        expr("n_orders_kept * 1000 div nullif(n_orders, 0)")
          .as("orders_permille"),
        col("n_lines"), col("n_lines_kept"),
        expr("n_lines_kept * 1000 div nullif(n_lines, 0)")
          .as("lines_permille"),
        col("n_orphan_lines"))
  }
}
