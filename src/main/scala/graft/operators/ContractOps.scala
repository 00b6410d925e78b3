package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The counting passes of the driver-witnessed contracts, which reduce
  * each witness to counts on one row for a TRUE-emitting oracle: "how
  * much of the exact top-k does an approximate ranking keep?"
  * ([[recallCounts]]: s8, s12, s13) and "is A the same multiset as B?"
  * ([[diffCounts]]: s9, d12, e8b).
  */
object ContractOps {

  /** Ranks scored `(query_id, vec_id, exact, approx)` rows: `re` ranks
    * `exact` and `ra` ranks `approx` with `row_number` over `query_id`,
    * ascending, ties to the smaller `vec_id`. A null key (e.g. a
    * `long_sqdist` over a null element or unequal lengths) is not ranked:
    * it takes no top-k slot.
    */
  private[graft] def recallRanks(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
    def rank(key: String) = when(col(key).isNotNull,
      row_number().over(w.orderBy(col(key).asc_nulls_last, col("vec_id"))))
    scored.withColumn("re", rank("exact")).withColumn("ra", rank("approx"))
  }

  /** One row from one aggregate over [[recallRanks]]: `n_exact` rows in
    * their query's exact top-`k`, `n_match` of them also in the
    * approximate top-`shortlist` (recall = n_match / n_exact). Scale
    * shape: the windows sort all of a query's scored rows, where one
    * ranked leg per key with a `rank <= k` cut plans as a WindowGroupLimit
    * heap. At sf0.1 (5,000 vectors, `graft.StatsProbe` warm pass, 4 cores,
    * one run a side) s8 and s13 shuffle 0.72 and 0.68 MB instead of 0.01
    * and 0.02 MB, for 6 and 7 jobs instead of 13 and 12, at about the same
    * task time (1.27 vs 1.30 s, 0.72 vs 0.66 s).
    */
  def recallCounts(scored: DataFrame, k: Int, shortlist: Int): DataFrame =
    recallRanks(scored).agg(
      count(when(col("re") <= k, true)).as("n_exact"),
      count(when(col("re") <= k && col("ra") <= shortlist, true)).as("n_match"))

  /** One row: `extraName` = |a ∖ b| and `missingName` = |b ∖ a| under bag
    * semantics, the two `exceptAll` counts in one pass: the sides are
    * unioned with +1/−1 weights and grouped by every column (NULL groups
    * as a value, arrays by value, as in `exceptAll`), then |a ∖ b| =
    * Σ max(diff, 0) and |b ∖ a| = Σ max(−diff, 0). One shuffle, not two,
    * and each side is read once, so neither needs a checkpoint. A
    * same-session A/B on e8b's artifacts measured it faster than two
    * `exceptAll`s: warm 5.26 vs 5.45 s, exec 1.23 vs 1.79 s, task time 41
    * vs 51 s, jobs 57 vs 66 (`graft.StatsProbe`, sf0.1).
    */
  def diffCounts(a: DataFrame, b: DataFrame, extraName: String,
      missingName: String): DataFrame =
    a.withColumn("_d", lit(1L)).unionByName(b.withColumn("_d", lit(-1L)))
      .groupBy(a.columns.toSeq.map(col): _*).agg(sum(col("_d")).as("diff"))
      .agg(
        coalesce(sum(when(col("diff") > 0, col("diff"))), lit(0L)).as(extraName),
        coalesce(sum(when(col("diff") < 0, -col("diff"))), lit(0L)).as(missingName))

  /** `df`'s row count as a one-row frame with one column, `out`. */
  def rowCount(df: DataFrame, out: String): DataFrame = df.agg(count(lit(1)).as(out))

  /** One-row frames side by side: each later one is the broadcast side of
    * a cross join, the form [[graft.plans.CartesianGuard]] lets through.
    */
  def oneRow(parts: DataFrame*): DataFrame =
    parts.reduce((a, b) => a.crossJoin(broadcast(b)))
}
