package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, LongDot, LongSqDist, LshSignature, MinHash, MinHashTokens, RepetitionCounts, SimHash64}

/** SQL surface for the engine's custom Catalyst expressions.
  *
  * One registration path: `spark.sql.extensions=graft.GraftExtensions`
  * at session build, which every session the engine builds sets
  * ([[GraftSession]]); sessions derived from one (`newSession()`, a
  * streaming batch's clone) inherit it. Plain SQL can then use
  * `simhash64(array<string>)`, `cosine_similarity(array<float>, array<float>)`,
  * `minhash(array<string>, k)`, `minhash_tokens(array<string>, k)`,
  * `lsh_signature(array<float>[, planes[, offset]])`,
  * `long_dot(array<bigint>, array<bigint>)`,
  * `long_sqdist(array<bigint>, array<bigint>)`, and
  * `repetition_counts(array<string>)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.specs.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    // memory-guard rewrite: size(collect_list/set(x)) → count([distinct] x)
    e.injectOptimizerRule(_ => graft.plans.CollectSizeToCount)
    // governance guard: unhinted condition-less inner joins fail at plan
    // time instead of scheduling |L|·|R| work on the cluster
    e.injectOptimizerRule(_ => graft.plans.CartesianGuard)
    // native as-of join: AsOfJoinPlan → AsOfJoinExec (partition-local
    // sorted merge; zero exchanges on key-bucketed inputs)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // native interval-overlap join: plane sweep over (key, start)-sorted
    // children — O(L+R+output) where SMJ post-filters the per-key product
    e.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
  }
}

object GraftFunctions {
  /** Arity gate: every SQL-registered builder validates its argument
    * count so misuse surfaces as an analysis-time error with the
    * function name, not an IndexOutOfBounds (too few) or silently
    * dropped extras (too many).
    */
  private def arity(name: String, args: Seq[Expression], lo: Int, hi: Int): Unit =
    if (args.length < lo || args.length > hi)
      throw new IllegalArgumentException(
        s"$name expects ${if (lo == hi) s"$lo" else s"$lo to $hi"} argument(s), got ${args.length}")

  private def one(name: String, args: Seq[Expression]): Expression = {
    arity(name, args, 1, 1); args.head
  }

  private def two(name: String, args: Seq[Expression]): (Expression, Expression) = {
    arity(name, args, 2, 2); (args(0), args(1))
  }

  private def intArg(args: Seq[Expression], pos: Int, default: Int): Int =
    if (args.length > pos) args(pos).eval().toString.toInt else default

  val specs: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (args => SimHash64(one("simhash64", args))),
    "cosine_similarity" -> (args => { val (a, b) = two("cosine_similarity", args); CosineSimilarity(a, b) }),
    "minhash" -> (args => { arity("minhash", args, 1, 2); MinHash(args.head, intArg(args, 1, 32)) }),
    "minhash_tokens" -> (args => { arity("minhash_tokens", args, 1, 2); MinHashTokens(args.head, intArg(args, 1, 32)) }),
    "lsh_signature" -> (args => { arity("lsh_signature", args, 1, 3); LshSignature(args.head, intArg(args, 1, 16), intArg(args, 2, 0)) }),
    "long_dot" -> (args => { val (a, b) = two("long_dot", args); LongDot(a, b) }),
    "long_sqdist" -> (args => { val (a, b) = two("long_sqdist", args); LongSqDist(a, b) }),
    "repetition_counts" -> (args => RepetitionCounts(one("repetition_counts", args))))
}
