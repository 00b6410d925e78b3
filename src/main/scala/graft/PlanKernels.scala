package graft

/** The §R10.12 expensive-kernel sweep that `PlanHygieneSpec` runs over
  * every registered query's plan: the kernel list and the call-site
  * matcher.
  */
object PlanKernels {
  /** Kernels that scan a whole array/string payload per call; cheap
    * integer/comparison ops are deliberately absent.
    */
  val expensive: Seq[String] = Seq(
    "long_dot", "long_sqdist", "ann_plane_dots", "ann_cos_verify",
    "cosine_similarity", "dot_product", "levenshtein", "array_intersect",
    "array_union", "aggregate", "zip_with", "minhash", "minhash_tokens",
    "simhash64", "repetition_counts", "nearest_codewords")

  /** Call-sites of `kernel` in one plan line: occurrences of `kernel(`
    * whose preceding char is not an identifier char — so `minhash(`
    * does not count inside `minhash_tokens(`, and a bare substring hit
    * (`aggregate` inside `partial_aggregate`) does not count at all.
    */
  def callCount(line: String, kernel: String): Int = {
    val needle = kernel + "("
    var c = 0
    var i = line.indexOf(needle)
    while (i >= 0) {
      val boundary = i == 0 || {
        val ch = line.charAt(i - 1)
        !(Character.isLetterOrDigit(ch) || ch == '_')
      }
      if (boundary) c += 1
      i = line.indexOf(needle, i + 1)
    }
    c
  }

  /** Join-condition / filter lines where any expensive kernel appears as
    * ≥2 call sites — the alias-inlining shape: a filter over an
    * expensive projected column is substituted per occurrence into the
    * pushed join condition, and join-condition codegen has no
    * subexpression elimination (the pre-fix s17 paid THREE 64-element
    * dots per candidate this way).
    */
  def repeatedKernelLines(plan: String): Seq[String] =
    plan.linesIterator.filter { l =>
      val t = l.trim
      (t.contains("Join condition:") || t.contains("Filter ")) &&
        expensive.exists(k => callCount(t, k) >= 2)
    }.map(_.trim).toSeq
}

/** Queries allowed to plan a partition-less Window (the single-reducer
  * sort shape), each with (expected count, the bounded domain that
  * justifies it) — every entry's window input is metadata-scale (a
  * value/calendar/checkpoint domain or a ≤k survivor set), never a
  * data-scale row domain. Lives in main scope because TWO consumers
  * enforce it: `PlanHygieneSpec` (the CI gate — a new query with an
  * unlisted, or a listed query with a changed count of, global windows
  * fails the suite) and [[Bench]] (which silences the expected
  * WindowExec single-partition warnings and prints an explicit audit
  * line instead, so a SURPRISE warning from a future query is visible
  * rather than buried in ~21 expected ones).
  */
object GlobalWindows {
  val whitelist: Map[String, (Int, String)] = Map(
    "a18_sliding_hll" -> ((1, "calendar-day domain: sliding frame over per-day sketch partials")),
    "a21_share_tree" -> ((1, "nation-region aggregate (|nations| rows)")),
    "a23_rfm_cells" -> ((3, "distinct recency days + distinct order counts + <=64Ki monetary value buckets (r10 rewrite)")),
    "a30_abc_classes" -> ((2, "<=64Ki revenue value buckets + 3-row class rollup (r10 rewrite)")),
    "a31_order_size_mix" -> ((2, "distinct order-price cents (price-domain-bounded histogram)")),
    "d33_temperature_mix" -> ((3, "per-source mixture frame (|sources| rows)")),
    "dq28_concentration" -> ((1, "<=64Ki revenue value buckets (r10 rewrite)")),
    "dq4_outlier_gate" -> ((2, "distinct-cents histogram (price-domain-bounded)")),
    "e48_kaplan_meier" -> ((1, "distinct tenure-day risk-set checkpoints (calendar-bounded)")),
    "e49_linear_interp" -> ((1, "calendar-day spine gap fill")),
    "e52_adoption_curve" -> ((1, "calendar-day cumulative adoption")),
    "e55_open_orders" -> ((1, "calendar-day open/close deltas running net")),
    "g1_pagerank" -> ((1, "rank stamp over the <=k TakeOrdered survivors")),
    "j21_q15_topsupplier" -> ((1, "supplier-aggregated revenue view (documented deliberate at JoinOps.q15TopSupplier)")),
    "k3_range_planner" -> ((2, "file/bin layout-metadata frame")),
    "o_skyline" -> ((2, "price-bucket maxima + bucket-pruned skyline candidates")),
    "s14_rrf_fusion" -> ((2, "two <=kEach retrieval result lists")),
    "t22_bm25" -> ((1, "rank stamp over the <=k TakeOrdered survivors")),
    "t35_quality_cut" -> ((1, "distinct quality-score histogram (score-domain-bounded)")),
    "t39_vocab_coverage" -> ((1, "aggregated vocabulary, not the corpus (documented at TextOps.vocabCoverage)")),
    "t42_vocab_growth" -> ((1, "<=|checkpoints| vocab-growth bins")),
  )

  /** Partition-less WindowExec count in a (pre-AQE) physical plan. */
  def countPartitionless(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }.size
}
