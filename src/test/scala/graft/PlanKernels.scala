package graft

/** The §R10.12 expensive-kernel sweep that `PlanHygieneSpec` runs over
  * every registered query's plan: the kernel list and the call-site
  * matcher (also used by the specs that pin one kernel's call count).
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
