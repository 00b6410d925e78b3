package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality and warehouse-maintenance tier.
  *
  * Reference analog: `b3_transform.py:242-352` revalidates the refined
  * frame with seven eager `count()` actions. These operators express the
  * same intent — "prove the batch is sane before publishing" — as single-
  * pass, query-shaped aggregations (the `Observability` listener covers
  * the in-flight form).
  */
object Quality {

  /** Column PROFILE: per-column row count, null count, exact distinct
    * count, min and max — the publish-gate summary a warehouse stores next
    * to each batch.
    *
    * Scale shape: the columns are UNPIVOTED first (`inline(array(...))` →
    * one (col_name, value) stream), so the whole profile is ONE hash aggregate
    * keyed by column name with a single distinct-rewrite — profiling k
    * columns via k separate `countDistinct` aggs in one `agg(...)` would
    * instead Expand the input k× through one shuffle with per-group
    * distinct state. The unpivot multiplies rows by k but carries two
    * columns, and partial aggregation collapses it map-side.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // typed Column construction (not an interpolated SQL string): a column
    // name containing a quote/comma/backtick is data here, never syntax
    val entries = cols.map(c => struct(
      lit(c).as("col_name"), col(quoteIdent(c)).cast("double").as("value")))
    df.select(inline(array(entries: _*)))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("value")).as("n_distinct"),
        min("value").as("min_v"),
        max("value").as("max_v"))
      .orderBy("col_name")
  }

  /** EXPECTATION report: named boolean rules evaluated corpus-wide in one
    * pass — (rule, rows checked, violations). Rules are plain `Column`
    * predicates, so every rule is codegen'd into the same scan; the output
    * is one row per rule regardless of input size. A CI-style gate then
    * fails the publish when any `n_violations` exceeds its budget.
    */
  def expectations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    // intermediate aliases are POSITIONAL (__n_0, __v_0, ...) so arbitrary
    // rule names never touch an identifier; names surface only as literals
    val aggs = rules.zipWithIndex.flatMap { case ((_, pred), i) => Seq(
      count(lit(1)).as(s"__n_$i"),
      sum(when(!pred, 1L).otherwise(0L)).as(s"__v_$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = rules.zipWithIndex.map { case ((name, _), i) => struct(
      lit(name).as("rule"),
      col(s"__n_$i").as("n_checked"),
      col(s"__v_$i").as("n_violations"))
    }
    one.select(inline(array(entries: _*)))
      .orderBy("rule")
  }

  /** Backtick-quote an identifier for `col(...)` resolution, escaping
    * embedded backticks (the one-part form of `Sinks.quoteParts`, which
    * quotes every dotted part of a catalog name).
    */
  private def quoteIdent(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** PII MASKING (governance gate before data leaves the refined zone):
    * direct identifiers are one-way hashed (sha2-256 — joinable across
    * datasets, not reversible), quasi-identifiers are GENERALIZED to
    * bands (k-anonymity-style coarsening) so individuals can't be singled
    * out by precise values. Pure codegen'd column functions — masking a
    * 100 TB export is scan-bound, no shuffle.
    */
  def maskPii(customer: DataFrame): DataFrame =
    customer
      .select(col("c_custkey"),
        sha2(col("c_name"), 256).as("name_masked"),
        (floor(col("c_acctbal") / 1000) * 1000).cast("long").as("acctbal_band"),
        col("c_mktsegment"))
      .orderBy("c_custkey")

  /** K-ANONYMITY audit — the measurement [[maskPii]]'s generalization is
    * supposed to satisfy: every combination of quasi-identifier values
    * must be shared by ≥ k rows, or the individuals in smaller groups can
    * be singled out by joining those attributes against any outside
    * dataset. Emits each violating combination with its group size — the
    * worklist a privacy officer suppresses or coarsens further.
    *
    * Scale shape: one map-side-combined aggregate whose shuffle carries
    * distinct quasi-identifier TUPLES (bounded by the generalized domain,
    * not the row count) — auditing 100 TB costs one scan. No window, no
    * join, no collect.
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
      k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, "k-anonymity below 2 is vacuous")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
      .orderBy(quasiCols.map(col): _*)
  }

  /** L-DIVERSITY audit — k-anonymity's necessary companion: a group can
    * be ≥ k rows yet still leak if every member shares the SAME sensitive
    * value (the homogeneity attack — knowing someone is in the group
    * reveals their attribute without identifying their row). Emits each
    * quasi-identifier combination whose sensitive column carries fewer
    * than `l` distinct values, with size and diversity.
    *
    * Same scan-bound scale shape as [[kAnonymityAudit]]; the exact
    * count_distinct adds one partial-distinct pass whose state is
    * (tuple × distinct sensitive values) — bounded by the generalized
    * domain times the sensitive domain, not rows.
    */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(l >= 2, "l-diversity below 2 is vacuous")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("sensitive_diversity"))
      .filter(col("sensitive_diversity") < l)
      .orderBy(quasiCols.map(col): _*)
  }

  /** INCREMENTAL aggregate maintenance: merge a keyed aggregate snapshot
    * with the aggregate of a delta batch — the materialized-view update
    * path that never rescans history. Works for any associative state;
    * here (count, integer sum) so the merge is exact (double sums would
    * reassociate).
    *
    * Scale: the snapshot is |keys|-sized, the delta agg is map-side
    * combined before its shuffle, and the merge is a full-outer join on
    * the group key — cost proportional to the DELTA + key space, not the
    * accumulated history. That asymmetry is the whole point at 100 TB:
    * the history is petabytes; its aggregate is kilobytes.
    */
  def mergeAggSnapshot(snapshot: DataFrame, deltaAgg: DataFrame,
      keys: Seq[String]): DataFrame =
    snapshot.join(deltaAgg
        .withColumnsRenamed(Map("cnt" -> "d_cnt", "total" -> "d_total")),
      keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L))).as("cnt"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("d_total"), lit(0L))).as("total")): _*)

  /** The (count, cents-sum) aggregate shape [[mergeAggSnapshot]] maintains. */
  def centsAgg(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("total"))

  /** RETRACTABLE incremental aggregate maintenance (e41): the
    * insert-only contract (e4) extended with DELETES — the CDC /
    * GDPR-erasure reality a maintained aggregate table actually faces.
    * The algebra this encodes:
    *
    *  - count and sum are ABELIAN-GROUP state: a delete is a weight −1
    *    row, maintenance is pure addition, NO rescan ever;
    *  - min/max are only SEMIGROUP state: a delete that touches the
    *    current extremum invalidates it (the evidence below it is gone)
    *    — the maintained path must DETECT that (`rescan_min`/`rescan_max`
    *    = the deleted extremum reached the maintained one) and fall back
    *    to a rescan, and must NOT rescan otherwise. That asymmetry —
    *    which aggregates retract for free and which need the flag — is
    *    the design line every incremental view maintainer draws.
    *
    * The registered query proves both paths: maintained count/sum and
    * the no-rescan min/max resolution against the ground-truth recompute
    * over the survivor set, with `matches` — hash-checked TRUE per group.
    * Splits are md5-nibble derived (deterministic, partition-invariant):
    * nibble₁ splits base/inserts, nibble₂ marks deletes inside base.
    */
  def retractableAggContract(events: DataFrame): DataFrame = {
    val e = events
      .filter(col("ts").isNotNull && col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        TextOps.hexNibble("event_id").as("n1"),
        TextOps.hexNibble("event_id", 2).as("n2"))
    val base = e.filter(col("n1") < 12)
    val inserts = e.filter(col("n1") >= 12)
    val deletes = base.filter(col("n2") >= 12)
    val baseAgg = base.groupBy("event_type").agg(
      count(lit(1)).as("b_cnt"), sum(col("cents")).as("b_sum"),
      min(col("cents")).as("b_min"), max(col("cents")).as("b_max"))
    val delta = inserts.select(col("event_type"), col("cents"), lit(1L).as("w"))
      .unionByName(deletes.select(col("event_type"), col("cents"), lit(-1L).as("w")))
    val deltaAgg = delta.groupBy("event_type").agg(
      sum(col("w")).as("d_cnt"),
      sum(col("w") * col("cents")).as("d_sum"),
      min(when(col("w") === 1L, col("cents"))).as("ins_min"),
      max(when(col("w") === 1L, col("cents"))).as("ins_max"),
      min(when(col("w") === -1L, col("cents"))).as("del_min"),
      max(when(col("w") === -1L, col("cents"))).as("del_max"))
    val truth = base.filter(col("n2") < 12).unionByName(inserts)
      .groupBy("event_type").agg(
        count(lit(1)).as("t_cnt"), sum(col("cents")).as("t_sum"),
        min(col("cents")).as("t_min"), max(col("cents")).as("t_max"))
    baseAgg
      .join(deltaAgg, Seq("event_type"), "full_outer")
      .join(truth, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        expr("coalesce(b_cnt, 0) + coalesce(d_cnt, 0)").as("cnt"),
        expr("coalesce(b_sum, 0) + coalesce(d_sum, 0)").as("total_cents"),
        col("t_min").as("min_cents"), col("t_max").as("max_cents"),
        expr("del_min IS NOT NULL AND del_min <= b_min").as("rescan_min"),
        expr("del_max IS NOT NULL AND del_max >= b_max").as("rescan_max"),
        expr("""(coalesce(b_cnt, 0) + coalesce(d_cnt, 0)) = t_cnt
            AND (coalesce(b_sum, 0) + coalesce(d_sum, 0)) = t_sum
            AND ((del_min IS NOT NULL AND del_min <= b_min) OR
                 (CASE WHEN b_min IS NULL THEN ins_min
                       WHEN ins_min IS NULL THEN b_min
                       ELSE least(b_min, ins_min) END) = t_min)
            AND ((del_max IS NOT NULL AND del_max >= b_max) OR
                 (CASE WHEN b_max IS NULL THEN ins_max
                       WHEN ins_max IS NULL THEN b_max
                       ELSE greatest(b_max, ins_max) END) = t_max)""")
          .as("matches"))
      .orderBy("event_type")
  }

  /** Percentile OUTLIER gate: flag values outside the exact
    * [p(1/64), p(63/64)] band of `l_extendedprice`, reported per return
    * flag — the numeric-sanity cousin of [[expectations]]: instead of a
    * hand-written threshold, the band comes from the data itself.
    *
    * Engine-exactness: the percentiles run over integer CENTS at
    * fractions that are exact binary rationals (1/64, 63/64), so the rank
    * index `p·(n−1)` and the linear interpolation between the two
    * bracketing integers are computed WITHOUT rounding error — every
    * IEEE-754 engine derives the identical rational, and the gate compares
    * integers against its `ceil`/`floor`. A fraction like 0.01 is not
    * binary-exact and would leave the bound one ulp apart across engines,
    * flipping rows that sit exactly on it.
    *
    * Scale shape: two passes — a one-row percentile aggregate (state ∝
    * distinct cents, not rows), then a broadcast of that single row into a
    * scan-bound gate + per-group aggregate. The exact percentile never
    * sees more state than a8's sort-based variant.
    */
  def outlierGate(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    // the rows are collapsed to a (cents, freq) histogram first by the
    // codegen'd hash aggregate, so percentile state is ∝ |distinct cents|
    // (bounded by the price domain, not the row count), not ∝ rows
    val hist = base.groupBy("cents").agg(count(lit(1)).as("freq"))
    // exact POSITIONAL percentile over the histogram, fully codegen'd —
    // no interpreted ObjectHashAggregate `percentile` (which was the
    // suite's 4.5 s floor): cumulative-sum the sorted histogram, pick the
    // values at the two interpolation positions, and reproduce
    // Percentile.getPercentile's arithmetic bit-for-bit:
    //   pos = p * (N-1);  v = (ceil(pos)-pos)*v_floor + (pos-floor(pos))*v_ceil
    // The single-partition window is ~|distinct cents| rows — the same
    // bounded state the previous formulation shipped to one agg anyway.
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist.select(col("cents"), col("freq"),
      sum("freq").over(wCum).as("cum"),
      sum("freq").over(wAll).as("n"))
    // value at expanded position i: the unique histogram row covering i,
    // i.e. cum - freq <= i < cum (positions are 0-based over N rows)
    def valueAt(i: Column): Column =
      max(when(col("cum") - col("freq") <= i && i < col("cum"),
        col("cents").cast("double")))
    def pct(p: Double): Column = lit(p) * (col("n") - 1L).cast("double")
    val posLo = pct(0.015625)
    val posHi = pct(0.984375)
    def interp(pos: Column, v0: Column, v1: Column): Column =
      when(floor(pos) === ceil(pos), v0)
        .otherwise((ceil(pos) - pos) * v0 + (pos - floor(pos)) * v1)
    val bounds = cum.agg(
      valueAt(floor(posLo).cast("long")).as("vlo0"),
      valueAt(ceil(posLo).cast("long")).as("vlo1"),
      valueAt(floor(posHi).cast("long")).as("vhi0"),
      valueAt(ceil(posHi).cast("long")).as("vhi1"),
      first(posLo).as("plo"),
      first(posHi).as("phi"))
      .select(
        ceil(interp(col("plo"), col("vlo0"), col("vlo1"))).cast("long").as("lo"),
        floor(interp(col("phi"), col("vhi0"), col("vhi1"))).cast("long").as("hi"))
    base.crossJoin(broadcast(bounds))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        min(when(col("cents").between(col("lo"), col("hi")), col("cents"))).as("kept_min"),
        max(when(col("cents").between(col("lo"), col("hi")), col("cents"))).as("kept_max"))
      .orderBy("l_returnflag")
  }

  /** REFERENTIAL-integrity audit: orphan foreign keys — child rows whose
    * key has no parent — as one (relation, n_checked, n_violations) row.
    * The orphan count is an anti-join aggregate. No broadcast hint: the
    * parent key set may itself be fact-sized (orders, customer), and a
    * forced broadcast of billions of distinct keys would OOM the driver —
    * AQE upgrades the join to broadcast at runtime whenever the distinct
    * key set actually turns out dimension-sized.
    */
  def fkOrphans(relation: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    // ONE pass over the (fact-sized) child: a left join with a presence
    // marker, counting unmatched rows - a separate anti-join aggregate
    // would scan the child twice. A NULL child key matches no parent and
    // counts as an orphan (NOT EXISTS semantics; NOT IN would silently
    // zero the audit the moment any key is null).
    child
      .join(parent.select(col(quoteIdent(parentKey)).as(childKey))
        .distinct().withColumn("_present", lit(1)), Seq(childKey), "left")
      .agg(count(lit(1)).as("n_checked"),
        count(when(col("_present").isNull, lit(1))).as("n_violations"))
      .select(lit(relation).as("relation"), col("n_checked"), col("n_violations"))

  /** PRIMARY-key audit: rows in excess of one per key (0 = key is unique).
    * One map-combined count by key, then a |keys|-row aggregate.
    */
  def pkDuplicates(relation: String, df: DataFrame, key: String): DataFrame =
    df.groupBy(col(quoteIdent(key))).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_checked"),
        sum(col("cnt") - 1).as("n_violations"))
      .select(lit(relation).as("relation"), col("n_checked"), col("n_violations"))

  /** Registered-query harness (dq6_integrity): the star schema's four core
    * constraints audited in one result — the publish gate a warehouse runs
    * before exposing a batch to joins that silently drop or fan out rows.
    */
  def integrityAudit(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame): DataFrame =
    fkOrphans("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
        orders, "o_orderkey")
      .unionByName(fkOrphans("orders.o_custkey->customer", orders, "o_custkey",
        customer, "c_custkey"))
      .unionByName(pkDuplicates("orders.o_orderkey unique", orders, "o_orderkey"))
      .unionByName(pkDuplicates("customer.c_custkey unique", customer, "c_custkey"))
      .orderBy("relation")

  /** Right-to-ERASURE propagation (GDPR/CCPA delete): rewrite a dataset
    * without the listed subjects. Delete lists are human-scale against a
    * corpus — the anti join broadcasts and the rewrite is scan-bound.
    */
  def eraseKeys(df: DataFrame, keyCol: String, deleteKeys: DataFrame): DataFrame =
    df.join(broadcast(deleteKeys), Seq(keyCol), "left_anti")

  /** The AUDIT side of [[eraseKeys]] — the per-subject deletion proof a
    * governed warehouse must retain: for every requested key, how many
    * rows the rewrite removed and whether the subject existed at all
    * (`found = false` is itself evidence: nothing was held). One
    * broadcast semi-side aggregate over the corpus scan; cost does not
    * depend on the number of requests.
    */
  def erasureAudit(df: DataFrame, keyCol: String,
      deleteKeys: DataFrame): DataFrame = {
    val hits = df.join(broadcast(deleteKeys), Seq(keyCol), "left_semi")
      .groupBy(col(quoteIdent(keyCol)))
      .agg(count(lit(1)).as("n_rows_removed"))
    deleteKeys.join(hits, Seq(keyCol), "left")
      .select(col(quoteIdent(keyCol)),
        coalesce(col("n_rows_removed"), lit(0L)).as("n_rows_removed"),
        col("n_rows_removed").isNotNull.as("found"))
      .orderBy(quoteIdent(keyCol))
  }

  /** Registered-query harness (e8_erasure_audit): the delete list is the
    * md5-nibble-7 slice of observed users plus two synthetic ids that
    * never existed — exercising both audit branches deterministically.
    */
  def erasureAuditDemo(events: DataFrame): DataFrame = {
    // nibble filter BEFORE distinct: it is a pure function of the key,
    // so filtering first shrinks the distinct exchange ~16x
    val requests = events.select(col("user_id"))
      .filter(TextOps.hexNibble("user_id") === 7).distinct()
      .unionByName(events.sparkSession.range(1000001, 1000003)
        .select(col("id").as("user_id")))
    erasureAudit(events, "user_id", requests)
  }

  /** Key-SKEW report — the diagnostic run before choosing a join/agg
    * strategy at scale: the top-k heaviest keys of a prospective shuffle
    * key with their absolute size and their size relative to the MEAN
    * group (per-mille, integer-exact). A key at 50× mean is the one you
    * salt ([[JoinOps.saltedJoin]]) or let AQE split; this query is how it
    * gets found before it burns a 100 TB run.
    *
    * Scale shape: one map-combined count by key (the same exchange the
    * diagnosed join would pay), a TakeOrderedAndProject top-k (heap per
    * partition, k rows to the driver), and a broadcast 1-row stats join.
    */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    val sizes = df.groupBy(col(quoteIdent(keyCol))).agg(count(lit(1)).as("cnt"))
    val stats = sizes.agg(sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    sizes
      .orderBy(col("cnt").desc, col(quoteIdent(keyCol)))
      .limit(topK)
      .crossJoin(broadcast(stats))
      // ratio-to-mean computed as cnt·1000 ÷ ⌊mean⌋, NOT cnt·n_keys·1000 ÷
      // total: the latter's numerator overflows Long exactly at the corpus
      // sizes this diagnostic exists for (cnt ~ 1e10 × n_keys ~ 1e9)
      .select(col(quoteIdent(keyCol)), col("cnt"), col("total_rows"), col("n_keys"),
        expr("cnt * 1000 div (total_rows div n_keys)").as("x_mean_permille"))
      .orderBy(col("cnt").desc, col(quoteIdent(keyCol)))
  }

  /** Driver-witnessable CONTRACT (a6/d5b pattern): splitting the corpus by
    * a deterministic hash, aggregating the halves independently, and
    * merging MUST equal the one-shot aggregate — exactly, because the
    * state is integer. A broken merge (lost key, double count) flips a
    * boolean against the TRUE-emitting oracle.
    */
  def incrementalAggContract(events: DataFrame): DataFrame = {
    val nb = TextOps.hexNibble("event_id")
    val merged = mergeAggSnapshot(
      centsAgg(events.filter(nb < 8)), centsAgg(events.filter(nb >= 8)),
      Seq("event_type"))
    val full = centsAgg(events)
      .withColumnsRenamed(Map("cnt" -> "f_cnt", "total" -> "f_total"))
    merged.join(full, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        col("f_cnt").as("cnt"), col("f_total").as("total_cents"),
        (col("cnt") <=> col("f_cnt") && col("total") <=> col("f_total"))
          .as("incremental_matches"))
      .orderBy("event_type")
  }

  /** Event-RATE anomaly monitor: per event type, flag hours whose count
    * deviates from the hourly median by more than 3× the median absolute
    * deviation — the robust (outlier-insensitive, unlike mean/stddev)
    * detector a pipeline-health dashboard runs over its ingest stream.
    * All arithmetic is integer (counts, LOWER medians picked positionally
    * at 0-based rank (cnt-1)/2), so the result is engine-exact.
    *
    * Scale shape: the corpus collapses to (hour, type) counts FIRST — a
    * map-side-combined aggregate; everything after runs on rows ∝
    * time-range·|types| (hours, not events), so the per-type median
    * windows are small regardless of corpus size.
    */
  def rateAnomalies(events: DataFrame, madFactor: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600).as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    // lower median of a column by positional pick (value at a rank is
    // well-defined under ties, so ordering by the value alone suffices)
    def lowerMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(valueCol)
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
        // Column./ is double division — floor to keep the rank integral
        .filter(col("rn") - 1 === floor((col("cnt") - 1) / 2))
        .select(col("event_type"), col(valueCol).as(outCol))
    }
    val med = lowerMedian(hourly, "n", "med_n")
    val dev = hourly.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("n") - col("med_n")))
    val mad = lowerMedian(dev.select(col("event_type"), col("dev")), "dev", "mad_n")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type", "med_n", "mad_n")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("dev") > lit(madFactor) * col("mad_n"), 1L).otherwise(0L))
          .as("n_anomalous"))
      .select("event_type", "n_hours", "med_n", "mad_n", "n_anomalous")
      .orderBy("event_type")
  }

  /** EVENT-TIME LATENESS / DISORDER audit (dq10): how far behind the
    * running event-time high-water mark do events arrive, per type — the
    * measurement that justifies a streaming watermark setting. Arrival
    * order is `event_id` (the monotone ingest sequence); an event is
    * "late at delay d" when its event time trails the running max of all
    * previously-arrived events of its type by more than d — exactly the
    * events a watermark of d would drop. Emits per type: event count,
    * late count at `delayUs`, and the worst observed disorder. If
    * `n_late` is a visible fraction of `n_events`, the configured delay
    * loses data; if `max_disorder_us` sits far below it, state is held
    * longer than needed.
    *
    * Scale shape: one running-max window partitioned by event_type
    * ordered by the ingest sequence — a single keyed exchange, state one
    * long per partition; the aggregate collapses on the same key, so the
    * window's partitioning is reused (no second exchange).
    */
  /** HAMPEL OUTLIER FILTER (dq11): flag events whose value deviates from
    * the per-user ROLLING median by more than `k` rolling MADs — the
    * streaming-shaped robust outlier detector ([[outlierGate]] is its
    * corpus-global batch sibling; this one adapts to each user's local
    * level, so a user whose spend baseline shifts mid-history doesn't
    * light up the whole tail). Integer cents throughout; the median and
    * MAD picks use the same discrete ⌈q·n⌉ rule as
    * [[WindowOps.rollingMedian]], so the oracle replays them exactly.
    * A zero-MAD frame (≥ half the frame at the median) flags ANY
    * deviation — the documented Hampel degenerate case; with 2-decimal
    * fixture values it just means "changed at all after 4+ flat rows".
    * Frames shorter than `minFrame` (each user's warm-up rows) never
    * flag: a MAD over 2-3 points is noise, and the degenerate rule would
    * otherwise flag every second event of every user.
    *
    * Shape: one keyed exchange + sort; the frame array (≤ 7 longs) and
    * its deviation transform are row-local.
    */
  def hampelOutliers(events: DataFrame, k: Long = 3L,
      minFrame: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    def pick(arr: org.apache.spark.sql.Column) =
      element_at(arr, ceil(lit(0.5) * size(arr)).cast("int"))
    // r11 optimization round: the 7-row frame is materialized from SIX
    // O(1) lag window functions + the current row instead of a sliding
    // collect_list — the object-aggregate frame re-collected its buffer
    // per row (ObjectAggregateFunction over a bounded frame re-runs the
    // whole frame each step); the lags are computed in the SAME single
    // WindowExec pass. array_compact drops exactly the entries
    // collect_list skipped: lags past the partition start AND in-frame
    // null cents both surface as NULL array slots. Same multiset per
    // row, same sorted array, bit-identical output.
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .select(col("event_id"), col("user_id"), col("cents"),
        array_sort(array_compact(array(
          (6 to 1 by -1).map(k => lag(col("cents"), k).over(w)) :+ col("cents"): _*)))
          .as("a7"))
      .withColumn("med", pick(col("a7")))
      .withColumn("mad",
        pick(array_sort(transform(col("a7"), x => abs(x - col("med"))))))
      .filter(size(col("a7")) >= minFrame &&
        abs(col("cents") - col("med")) > lit(k) * col("mad"))
      .select(col("event_id"), col("user_id"), col("cents"),
        col("med").as("med_7"), col("mad").as("mad_7"))
      .orderBy("event_id")
  }

  /** BENFORD first-digit forensics over a money column: the distribution
    * of leading significant digits in organically-generated amounts
    * follows log10(1 + 1/d) (Benford's law); fabricated or
    * system-generated batches (fixed fees, capped prices, synthetic
    * fills) deviate sharply, which makes the 9-row digit histogram a
    * standard publish-gate fraud/anomaly screen next to [[profile]].
    *
    * Exactness discipline: the digit is taken from the INTEGER cents
    * rendering (`round(amount·100)` → BIGINT → first character), never
    * from `log10`/float formatting — integer-to-string is engine-stable
    * where double rendering is not, and scaling by 100 does not change a
    * first-digit distribution. Shares and the Benford expectation are
    * integer permille (expectations are literal constants — ⌊1000·log10(1
    * + 1/d)⌋ precomputed, so no engine evaluates a logarithm at all);
    * `delta_permille` is the signed observed−expected gap the gate
    * thresholds on.
    *
    * Scale shape: scan → row-local digit extraction → ONE hash aggregate
    * on a 9-value key (fully map-side combined), then metadata-scale
    * share arithmetic over the 9-row result. No window over the data, no
    * second pass — the cheapest possible publish-gate shape at any corpus
    * size.
    */
  def benfordDigits(orders: DataFrame): DataFrame = {
    // ⌊1000·log10(1+1/d)⌋ for d = 1..9: the canonical Benford permille
    val expected = Seq(301, 176, 124, 96, 79, 66, 57, 51, 45)
    val exp = typedLit(expected)
    val digits = orders
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 0)
      .select(substring(
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    digits
      .crossJoin(broadcast(digits.agg(sum(col("n")).as("total"))))
      .withColumn("share_permille", expr("n * 1000 div total"))
      .withColumn("benford_permille",
        element_at(exp, col("digit")).cast("long"))
      .select(col("digit").cast("long").as("digit"), col("n"),
        col("share_permille"), col("benford_permille"),
        (col("share_permille") - col("benford_permille")).as("delta_permille"))
      .orderBy("digit")
  }

  def latenessAudit(events: DataFrame, delayUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("disorder", max(col("us")).over(w) - col("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("disorder") > delayUs, 1L).otherwise(0L)).as("n_late"),
        max(col("disorder")).as("max_disorder_us"))
      .orderBy("event_type")
  }

  /** EXACT CORRELATION SUFFICIENT STATISTICS per group: n, Σx, Σy, Σx²,
    * Σy², Σxy — everything Pearson's r (and covariance, and both
    * variances) needs, in pure integer arithmetic. The FP steps (the
    * centered cross-terms, the square-root-and-divide) are left to the
    * CONSUMER: n·Σy² overflows BIGINT around sf0.1 and the final division
    * is where engines disagree in the last bit, while the raw sums
    * themselves hash exactly (Σy² ≈ 6·10¹⁵ at sf0.1 in whole dollars —
    * headroom to ~sf100; cents would overflow at sf1, hence dollars).
    *
    * This is the distributed-statistics pattern that matters at 100 TB:
    * sufficient statistics are SUMS, so they combine map-side and merge
    * associatively across any partitioning — one hash aggregate, no
    * second pass — and incremental maintenance is addition (the e4/e22
    * contracts apply verbatim). Computing r per partition and averaging
    * is simply wrong; shipping raw pairs anywhere is a non-starter.
    */
  /** T-CLOSENESS audit — the third leg of the privacy triad after
    * [[kAnonymityAudit]] and [[lDiversityAudit]]: a group can be ≥ k rows
    * AND l-diverse yet still leak if its sensitive-value DISTRIBUTION
    * skews far from the table's (the skewness attack: "this group is
    * mostly top-decile balances" is a disclosure even with all deciles
    * present). Per quasi-identifier class, the Earth Mover's Distance
    * between the class's and the global sensitive-bucket distribution —
    * for an ordered attribute, EMD = Σᵢ |Σ_{j≤i}(p_j − q_j)| / (m−1).
    *
    * INTEGER-EXACT throughout: with class counts c_j (total C), global
    * counts g_j (total G), the cumulative term c_j·G − g_j·C clears both
    * denominators, so the audit emits emd_num = Σ|cum| and
    * emd_den = C·G·(m−1) with the breach test
    * emd_num·t_den > t_num·emd_den — no floating point, engine-exact.
    * Sensitive attribute: account balance on a fixed integer-cents decile
    * grid.
    *
    * Scale shape: two scan-bound aggregates (class×bucket and bucket
    * histograms — state ∝ domains, not rows); everything after runs on
    * metadata-scale frames (the dense class×bucket grid is |classes|·m
    * rows), with the tiny global histogram broadcast. The guarded
    * crossJoin is the blessed |small|-per-row kind.
    */
  def tClosenessAudit(customer: DataFrame, tNum: Long = 1L,
      tDen: Long = 4L): DataFrame = {
    require(tNum > 0 && tDen > 0, "threshold t = tNum/tDen must be positive")
    import org.apache.spark.sql.expressions.Window
    val base = customer.select(col("c_nationkey"), col("c_mktsegment"),
      expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 110000")
        .as("bucket"))
    val globalHist = base.groupBy("bucket").agg(count(lit(1)).as("g"))
    val totals = globalHist.agg(sum(col("g")).as("gtot"),
      count(lit(1)).as("nb"))
    val gh = globalHist.crossJoin(broadcast(totals))
    val classHist = base.groupBy("c_nationkey", "c_mktsegment", "bucket")
      .agg(count(lit(1)).as("c"))
    val classes = classHist.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("c")).as("ctot"))
    val byClass = Window.partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    classes.crossJoin(broadcast(gh))
      .join(classHist, Seq("c_nationkey", "c_mktsegment", "bucket"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum", sum(col("c") * col("gtot") - col("g") * col("ctot"))
        .over(byClass))
      .groupBy("c_nationkey", "c_mktsegment", "ctot", "gtot", "nb")
      .agg(sum(abs(col("cum"))).as("emd_num"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("ctot"),
        col("emd_num"),
        (col("ctot") * col("gtot") * (col("nb") - 1)).as("emd_den"),
        (col("emd_num") * tDen > col("emd_den") * tNum).as("breach"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** CUSUM CHANGE-POINT DETECTION over the hourly event-rate series, per
    * event type — the classic sequential drift detector
    * S_i = max(0, S_{i−1} + y_i), where y_i is the hour's count minus the
    * series' integer-mean target.
    *
    * The recurrence looks inherently sequential (the reset-at-zero makes
    * it nonlinear), but it has a closed window form:
    *   S_i = P_i − min(0, min_{j≤i} P_j)
    * with P the prefix sum of y — the reset is exactly "subtract the
    * lowest water mark so far". That identity turns per-row stateful
    * iteration into a prefix sum plus a running minimum: two window
    * functions on ONE (event_type)-partitioned ordering — a single
    * exchange, O(1) state per row, no mapPartitions/recursion anywhere.
    * (Proof sketch: both sides satisfy the recurrence — if P_i sets a new
    * minimum below 0 the difference clamps to ≥ 0, else it advances by
    * y_i.) All arithmetic is integer (counts, integer-div target), so the
    * detector is engine-exact.
    *
    * Scale: the hourly pre-aggregation reduces the raw stream to
    * bars × series rows before any window runs; parallelism = #series.
    */
  def cusumRate(events: DataFrame, barUs: Long = 3600000000L,
      threshold: Long = 20L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bars = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("bar_us", expr(s"(us div ${barUs}L) * ${barUs}L"))
      .groupBy("event_type", "bar_us")
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy("event_type")
    val ordered = byType.orderBy("bar_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .withColumn("target", expr("sum(n) OVER (PARTITION BY event_type) div " +
        "count(n) OVER (PARTITION BY event_type)"))
      .withColumn("y", col("n") - col("target"))
      .withColumn("p", sum(col("y")).over(ordered))
      .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(ordered)))
      .select(col("event_type"), col("bar_us"), col("n"), col("target"),
        col("cusum"), (col("cusum") >= threshold).as("drifting"))
      .orderBy("event_type", "bar_us")
  }

  def correlationStats(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("x")).as("sum_xx"),
        sum(col("y") * col("y")).as("sum_yy"),
        sum(col("x") * col("y")).as("sum_xy"))
      .orderBy("l_returnflag")

  /** FUNCTIONAL-DEPENDENCY audit (dq16): for each candidate A→B, the
    * exact number of determinant values that map to more than one
    * dependent value — the profiling primitive behind key discovery,
    * schema inference, and "is this column derivable" checks, and the
    * counting core of FD-discovery algorithms (TANE's stripped
    * partitions).
    *
    * Shape per candidate: `distinct(A, B)` then `count per A` — two
    * map-side-combining hash aggregates whose state is the PAIR
    * cardinality, never the row count. The naive per-A `countDistinct(B)`
    * over raw rows shuffles the same keys but carries every duplicate
    * row into the exchange; collapsing to the stripped partition first is
    * what keeps a 100 TB fact-table audit shuffle-proportional to the
    * key space. A null dependent counts as a value (an FD violated only
    * by nulls is still violated — exactly what the audit must surface);
    * null determinants are excluded (no key, no dependency claim).
    */
  def fdAudit(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def audit(df: DataFrame, det: String, dep: String): DataFrame =
      df.select(col(det).as("k"), col(dep).as("v"))
        .filter(col("k").isNotNull)
        .distinct()
        .groupBy("k").agg(count(lit(1)).as("ndep"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("ndep") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
          max(col("ndep")).as("max_distinct_dep"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_keys"), col("n_violating_keys"), col("max_distinct_dep"),
          (col("n_violating_keys") === 0).as("fd_holds"))
    // candidates span held FDs (a real key), violated ones (many-to-many
    // columns), and a date→status pair whose verdict is data-dependent
    Seq(
      audit(orders, "o_orderkey", "o_custkey"),
      audit(orders, "o_custkey", "o_orderpriority"),
      audit(orders, "o_orderdate", "o_orderstatus"),
      audit(lineitem, "l_orderkey", "l_returnflag"),
      audit(lineitem, "l_partkey", "l_suppkey"))
      .reduce(_ unionByName _)
      .orderBy("determinant", "dependent")
  }

  /** FINANCIAL RECONCILIATION (dq17): does each order's header total
    * equal the sum of its lines' extended amounts? The classic
    * cross-table integrity audit (invoice-vs-lines, ledger-vs-journal)
    * — per status: how many orders reconcile exactly, how many drift,
    * and by how much at worst and in aggregate. Header-only orders
    * (no lines) are their own category, not silently folded into
    * mismatches of amount 0.
    *
    * All arithmetic in integer cents (each side rounds its own dollars
    * once), so the verdict is engine-exact; the line rollup is one
    * map-side-combining aggregate and the header join is on the rollup
    * (∝ orders), never line-grain.
    */
  def reconcile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lines = lineitem.groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
        (lit(1) + col("l_tax")) * 100).cast("long")).as("lines_cents"))
    orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("header_cents"))
      .join(lines, Seq("o_orderkey"), "left")
      .withColumn("diff_cents",
        col("header_cents") - coalesce(col("lines_cents"), lit(0L)))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("lines_cents").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(col("lines_cents").isNotNull && col("diff_cents") === 0, 1L)
          .otherwise(0L)).as("n_reconciled"),
        sum(when(col("lines_cents").isNotNull && col("diff_cents") =!= 0, 1L)
          .otherwise(0L)).as("n_mismatched"),
        max(when(col("lines_cents").isNotNull, abs(col("diff_cents"))))
          .as("max_abs_diff_cents"),
        sum(when(col("lines_cents").isNotNull, abs(col("diff_cents")))
          .otherwise(0L)).as("total_abs_diff_cents"))
      .orderBy("o_orderstatus")
  }

  /** ORDER-INDEPENDENT TABLE CHECKSUMS (the CHECKSUM TABLE / publish-gate
    * integrity artifact): one row per table with a content signature that
    * any engine reproduces — row count plus the bit-XOR / min / max of a
    * canonical per-row hash. XOR is commutative-associative, so the
    * signature is partition- and order-invariant and combines map-side;
    * count+min+max catch the XOR blind spot (a vanished duplicate PAIR
    * cancels out of XOR but not out of the count).
    *
    * Canonicalization rules (the whole contract): money pre-rounded to
    * integer cents, timestamps as epoch-µs integers, fields joined with
    * '|', md5 → first 15 hex digits → BIGINT. No floating-point value is
    * ever stringified (engines format doubles differently).
    */
  def tableChecksums(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame): DataFrame = {
    val o = orders.select(concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long"),
      unix_micros(col("o_orderdate").cast("timestamp")), col("o_orderpriority")).as("__canon"))
    val l = lineitem.select(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"), round(col("l_quantity")).cast("long"),
      round(col("l_extendedprice") * 100).cast("long"),
      col("l_returnflag"), col("l_linestatus"),
      unix_micros(col("l_shipdate").cast("timestamp"))).as("__canon"))
    val c = customer.select(concat_ws("|",
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal") * 100).cast("long"),
      col("c_mktsegment")).as("__canon"))
    def one(name: String, canon: DataFrame): DataFrame = canon
      .select(expr("CAST(conv(substring(md5(__canon), 1, 15), 16, 10) AS BIGINT)")
        .as("h"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_sig"),
        min(col("h")).as("min_sig"), max(col("h")).as("max_sig"))
      .select(lit(name).as("table_name"), col("n_rows"), col("xor_sig"),
        col("min_sig"), col("max_sig"))
    one("customer", c).unionByName(one("lineitem", l))
      .unionByName(one("orders", o))
      .orderBy("table_name")
  }

  /** COMPLETENESS MATRIX: per event type, the non-null share of every
    * nullable column in integer permille — the first report any data
    * contract publishes, and the one that localizes "field X went dark
    * for source Y at 2pm" to a single cell. One scan, one keyed hash
    * aggregate; each cell is a `sum(when(isNotNull))` riding the same
    * partial aggregate, so adding columns adds state, not passes.
    */
  def completenessMatrix(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNotNull, 1L).otherwise(0L)).as("nn_user"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("nn_value"),
        sum(when(col("props").isNotNull, 1L).otherwise(0L)).as("nn_props"),
        sum(when(col("ts").isNotNull, 1L).otherwise(0L)).as("nn_ts"))
      .select(col("event_type"), col("n_rows"),
        expr("nn_user * 1000 div n_rows").as("user_id_permille"),
        expr("nn_value * 1000 div n_rows").as("value_permille"),
        expr("nn_props * 1000 div n_rows").as("props_permille"),
        expr("nn_ts * 1000 div n_rows").as("ts_permille"))
      .orderBy("event_type")

  /** DUPLICATE-PAYMENT AUDIT (the classic AP-forensics screen): pairs of
    * DISTINCT orders by the same customer in the same amount BAND within
    * `windowDays` of each other — double-submits, double-captures, and
    * replayed batches all land here. The band (floor of amount /
    * `bandDollars`, computed on exact integer cents) is the fuzziness an
    * auditor actually wants — re-keyed duplicates rarely match to the
    * cent — and it is also the join's strong EQUI key: the pair space is
    * per-(customer, band) groups, never a cross of the customer's whole
    * history. The day-window bound rides the same join as a non-equi
    * conjunct, and `o1 < o2` emits each pair once. At 100 TB: shuffle on
    * the composite key; a hot (customer, band) key IS the finding, not a
    * skew accident.
    */
  def duplicatePayments(orders: DataFrame, windowDays: Int = 90,
      bandDollars: Long = 1000L): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      to_date(col("o_orderdate")).as("d"))
      .withColumn("band", expr(s"cents div ${bandDollars * 100L}"))
    o.as("a").join(o.as("b"),
        col("a.o_custkey") === col("b.o_custkey") &&
          col("a.band") === col("b.band") &&
          col("a.o_orderkey") < col("b.o_orderkey") &&
          abs(datediff(col("a.d"), col("b.d"))) <= windowDays)
      .select(col("a.o_custkey").as("o_custkey"),
        col("a.o_orderkey").as("order_a"), col("b.o_orderkey").as("order_b"),
        col("a.band").as("band"),
        (col("a.cents") - col("b.cents")).as("delta_cents"),
        abs(datediff(col("a.d"), col("b.d"))).cast("long").as("days_apart"))
      .orderBy("o_custkey", "order_a", "order_b")
  }

  /** FULFILLMENT-LATENCY SLA percentiles (p50/p90/p99 of order→ship
    * days, per priority class), EXACT — latency in whole days is a
    * bounded small integer, so the exact percentile is a histogram
    * walk (the [[graft.operators.TextOps.qualityPercentileCut]] trick
    * applied per group): counts per (priority, days), one keyed
    * cumulative window over the ≤few-hundred distinct day values, and
    * each percentile is a `min(when(cum·den ≥ n·num))` riding ONE
    * final aggregate. No sort of the joined fact, no approx-percentile
    * nondeterminism; the shape scales with distinct latencies per
    * class, not with rows.
    */
  def fulfillmentLatency(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = lineitem
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("days"))
      .groupBy("o_orderpriority", "days")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("o_orderpriority").orderBy("days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("o_orderpriority")
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy("o_orderpriority")
      .agg(max(col("n")).as("n_lines"),
        min(when(col("cum") * 2 >= col("n"), col("days"))).as("p50_days"),
        min(when(col("cum") * 10 >= col("n") * 9, col("days"))).as("p90_days"),
        min(when(col("cum") * 100 >= col("n") * 99, col("days"))).as("p99_days"))
      .orderBy("o_orderpriority")
  }

  /** DISTRIBUTION DRIFT between the first and second half of the time
    * range, per series: total-variation distance over fixed value bins,
    * in floor permille — the integer-exact sibling of the PSI/KL drift
    * monitors (those need logarithms; TVD = ½·Σ|p₁ − p₂| needs only
    * counts, and bounds every downstream probability shift). A batch
    * whose TVD jumps is the "the signal changed under me" alarm that
    * gates model retraining and schema investigations.
    *
    * Exactness: with per-bin counts c₁, c₂ and half totals n₁, n₂,
    * tvd_permille = ⌊500·Σ|c₁·n₂ − c₂·n₁| / (n₁·n₂)⌋ — pure BIGINT
    * cross-multiplication (c ≤ n ≤ 10⁵ at sf0.1 ⇒ products ≤ 10¹⁰).
    * The split point is ⌊(min_us + max_us)/2⌋ — derived from the data,
    * broadcast as a 1-row join, so both engines cut identically.
    *
    * Scale shape: one tiny global min/max aggregate, then ONE hash
    * aggregate on (series, half, bin) — map-side combined, state ∝
    * series × bins — and metadata-scale arithmetic after. Two passes
    * over the input, no window, no sort.
    */
  def distributionDrift(events: DataFrame, binCents: Long = 5000L): DataFrame = {
    val e = events
      .filter(col("ts").isNotNull && col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        expr(s"CAST(round(value * 100) AS BIGINT) div ${binCents}L").as("bin"))
    val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
    val binned = e.crossJoin(broadcast(mid))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("us") <= col("mid_us"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("us") > col("mid_us"), 1L).otherwise(0L)).as("c2"))
    val totals = binned.groupBy("event_type")
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    binned
      .join(broadcast(totals), Seq("event_type"))
      .groupBy("event_type")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        count(lit(1)).as("n_bins"),
        expr("sum(abs(c1 * n2 - c2 * n1)) * 500 div (max(n1) * max(n2))")
          .as("tvd_permille"))
      .orderBy("event_type")
  }

  /** SEQUENCE-GAP AUDIT per series: the event_id space each series
    * actually occupies, and where it has holes — the "did ingestion drop
    * rows" integrity check for any source that promises a monotone
    * sequence (CDC log offsets, exchange sequence numbers, invoice
    * numbers). Reports, per series: id span, row count, total missing
    * ids (span − count — pure aggregation), number of gap runs and the
    * widest single gap (one lag() over the series-ordered ids).
    *
    * Scale shape: the summary columns come from ONE map-side-combined
    * aggregate; the gap-run columns ride ONE window exchange on the
    * series key ordered by id (ids unique ⇒ ordering total ⇒
    * engine-exact). Output is one row per series.
    */
  /** REVENUE CONCENTRATION ("whale") audit: the permille of total order
    * value held by the top 1% / 5% / 10% of customers — the
    * integer-exact Lorenz-curve checkpoints behind a Gini coefficient,
    * and the number a marketplace risk review actually asks for. Top
    * cohort sizes are ⌊n·p/100⌋ customers under a (revenue DESC,
    * custkey) total order, so cohort membership is deterministic; shares
    * are ⌊1000·cohort_cents/total_cents⌋ — all BIGINT.
    *
    * Scale shape (r10): the fact table collapses to one row per
    * customer in a map-side-combined aggregate; the three checkpoint
    * ranks are then located by the `a8_percentiles` two-level bucket
    * refinement — per revenue-bucket (count, sum) partials with a
    * cumulative window over the ≤64Ki-row BUCKET domain find each
    * checkpoint's bucket, and only those buckets see a row-level
    * (rank, running-sum) window. Bit-identical to the r9 global-window
    * form: buckets are revenue ranges, so bucket-desc + in-bucket
    * (rev DESC, custkey) concatenates to exactly the old total order —
    * but no partition-less window ever sees the customer domain.
    */
  def revenueConcentration(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = orders
      .filter(col("o_custkey").isNotNull)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("o_custkey").agg(sum(col("cents")).as("rev"))
    val totals = perCust.agg(
      count(lit(1)).as("n_customers"), sum(col("rev")).as("total_cents"),
      max(col("rev")).as("max_rev"))
      .withColumn("wdt", expr("greatest(1L, max_rev div 65536 + 1)"))
      .withColumn("k1", expr("greatest(n_customers div 100, 1L)"))
      .withColumn("k5", expr("greatest(n_customers div 20, 1L)"))
      .withColumn("k10", expr("greatest(n_customers div 10, 1L)"))
    val bucketed = perCust.crossJoin(broadcast(totals))
      .withColumn("b", expr("rev div wdt"))
    val perBucket = bucketed
      .groupBy("b", "k1", "k5", "k10", "n_customers", "total_cents")
      .agg(count(lit(1)).as("cnt"), sum("rev").as("bcents"))
      .withColumn("cum_before", coalesce(sum("cnt").over(
        Window.orderBy(col("b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cents_before", coalesce(sum("bcents").over(
        Window.orderBy(col("b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val holds = Seq(col("k1"), col("k5"), col("k10"))
      .map(k => k > col("cum_before") && k <= col("cum_before") + col("cnt"))
      .reduce(_ || _)
    val targets = perBucket.filter(holds)
      .select("b", "cum_before", "cents_before")
    val wIn = Window.partitionBy("b")
      .orderBy(col("rev").desc, col("o_custkey"))
    val ranked = bucketed.join(broadcast(targets), Seq("b"))
      .withColumn("rank",
        (col("cum_before") + row_number().over(wIn)).cast("long"))
      .withColumn("cum", col("cents_before") + sum(col("rev")).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked
      .filter(col("rank") === col("k1") || col("rank") === col("k5") ||
        col("rank") === col("k10"))
      .select(
        expr("CASE rank WHEN k1 THEN 1 WHEN k5 THEN 5 ELSE 10 END")
          .cast("long").as("top_pct"),
        col("rank").as("n_top_customers"), col("n_customers"),
        col("cum").as("top_cents"), col("total_cents"),
        expr("cum * 1000 div total_cents").as("share_permille"))
      .orderBy("top_pct")
  }

  /** PRICE-ENDING AUDIT: the distribution of the cents remainder
    * (price mod 1.00) — the pricing-psychology / fabrication screen that
    * complements [[benfordDigits]] (Benford reads the LEADING digit;
    * endings read the TRAILING ones: human-set prices pile on .99/.00,
    * machine-generated uniforms don't). Top endings by count with
    * floor-bp shares; (n DESC, ending) is a total order, so the cut is
    * deterministic. One map-side-combined aggregate to ≤100 rows.
    */
  def priceEndings(orders: DataFrame, k: Int = 10): DataFrame = {
    val ends = orders
      .filter(col("o_totalprice").isNotNull)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT) % 100").as("ending"))
      .groupBy("ending").agg(count(lit(1)).as("n"))
    ends
      .crossJoin(broadcast(ends.agg(sum(col("n")).as("total"))))
      .select(col("ending"), col("n"),
        expr("n * 10000 div total").as("share_bp"))
      .orderBy(col("n").desc, col("ending"))
      .limit(k)
  }

  /** SLO ERROR-BUDGET BURN per day: hourly error share vs a fixed
    * permille budget, rolled up to the SRE dashboard row — hours over
    * budget, the worst hour, and the day's overall burn MULTIPLE in
    * floor permille (1000 = burning exactly at budget; 2000 = a 30-day
    * budget gone in 15). The multi-window burn-rate alert policy is
    * evaluated from exactly these aggregates. Cross-multiplied integer
    * comparisons: an hour is over budget iff n_err·1000 > budget‰·n —
    * no rate is ever materialized as a float.
    *
    * Scale shape: events → (day, hour) counts in ONE map-side-combined
    * aggregate, → day rows in a second; output ∝ days.
    */
  def sloBurn(events: DataFrame, budgetPermille: Long = 150L): DataFrame = {
    val hourly = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"),
        expr("unix_micros(ts) div 3600000000L").as("hour"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy("day", "hour")
      .agg(count(lit(1)).as("n"), sum(col("err")).as("n_err"))
    hourly
      .groupBy("day")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n")).as("n_events"),
        sum(col("n_err")).as("n_errors"),
        sum(when(col("n_err") * 1000L > lit(budgetPermille) * col("n"), 1L)
          .otherwise(0L)).as("hours_over_budget"),
        max(expr("n_err * 1000 div n")).as("worst_hour_permille"))
      .withColumn("burn_multiple_permille",
        expr(s"n_errors * 1000000 div (n_events * $budgetPermille)"))
      .orderBy("day")
  }

  /** EXACT-TIMESTAMP COLLISION audit: events sharing (user, µs) — the
    * double-fire / replayed-producer signature (distinct from
    * [[Quality.sequenceGaps]]' missing ids and dq10's disorder: here
    * rows EXIST twice at one instant). Per series: colliding instants,
    * involved events, the worst pile-up, and how many collisions are
    * same-type (true double-fires) vs cross-type (coordinated writes —
    * often legitimate). Two stacked keyed aggregates, no window.
    */
  def timestampCollisions(events: DataFrame): DataFrame = {
    val perInstant = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .groupBy("user_id", "us")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_type")).as("n_types"))
      .filter(col("n") > 1L)
    perInstant
      .agg(count(lit(1)).as("n_colliding_instants"),
        coalesce(sum(col("n")), lit(0L)).as("n_events_involved"),
        max(col("n")).as("worst_pileup"),
        sum(when(col("n_types") === 1L, 1L).otherwise(0L))
          .as("n_same_type_instants"),
        sum(when(col("n_types") > 1L, 1L).otherwise(0L))
          .as("n_cross_type_instants"))
  }

  def sequenceGaps(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("event_id")
    events
      .filter(col("event_type").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"), col("event_id"))
      .withColumn("gap", col("event_id") - lag(col("event_id"), 1).over(w) - 1L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_ids"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        (max(col("event_id")) - min(col("event_id")) + 1L - count(lit(1)))
          .as("n_missing"),
        sum(when(col("gap") > 0L, 1L).otherwise(0L)).as("n_gap_runs"),
        max(when(col("gap") > 0L, col("gap"))).as("max_gap"))
      .orderBy("event_type")
  }

  /** Two-sample KOLMOGOROV–SMIRNOV drift per series: the sup-norm
    * distance between the first-half and second-half value ECDFs —
    * the UNBINNED complement to [[distributionDrift]]'s binned total
    * variation. TVD on coarse bins can miss a pure location shift that
    * never changes bin mass much; KS is exactly the statistic that
    * catches it, and it needs no bin-width tuning at all.
    *
    * Exactness: at each distinct value v, |F₁(v) − F₂(v)| =
    * |cum₁·n₂ − cum₂·n₁| / (n₁·n₂). The numerator max is integer; the
    * cross-products are computed in DECIMAL(38,0) (HUGEINT on the
    * oracle side) so the statistic stays exact to n ≈ 10¹⁸ per half —
    * far past any fixture. ks_permille = ⌊1000·maxD/(n₁·n₂)⌋, all
    * quantities non-negative so floor and truncation agree across
    * engines. The half split point ⌊(min_us+max_us)/2⌋ is derived from
    * the data and broadcast, identically in both engines.
    *
    * Scale shape: one tiny global min/max pass, then ONE map-side-
    * combining hash aggregate to (series, value) counts — the only
    * exchange that sees data volume — then one window over DISTINCT
    * values partitioned by series (state ∝ distinct values, not rows;
    * the running sums and the per-partition totals ride the same
    * exchange). Output is one row per series.
    */
  def ksDrift(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events
      .filter(col("ts").isNotNull && col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
    val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
    val perValue = e.crossJoin(broadcast(mid))
      .groupBy("event_type", "cents")
      .agg(sum(when(col("us") <= col("mid_us"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("us") > col("mid_us"), 1L).otherwise(0L)).as("c2"))
    val ordered = Window.partitionBy("event_type").orderBy("cents")
    val whole = Window.partitionBy("event_type")
    perValue
      .withColumn("cum1", sum(col("c1")).over(ordered))
      .withColumn("cum2", sum(col("c2")).over(ordered))
      .withColumn("n1", sum(col("c1")).over(whole))
      .withColumn("n2", sum(col("c2")).over(whole))
      .groupBy("event_type")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        count(lit(1)).as("n_values"),
        expr("""CAST(max(abs(CAST(cum1 AS DECIMAL(38,0)) * n2
               |             - CAST(cum2 AS DECIMAL(38,0)) * n1)) * 1000
               |     div (CAST(max(n1) AS DECIMAL(38,0)) * max(n2)) AS BIGINT)"""
          .stripMargin).as("ks_permille"))
      .orderBy("event_type")
  }

  /** COLUMN-CONCENTRATION profile: Gini impurity and the effective
    * number of categories (inverse Simpson index) per column — the
    * "is this column a real dimension or a near-constant" screen that
    * [[profile]]'s distinct COUNT alone can't answer (a column with
    * 10⁶ distincts where one value holds 99% of rows profiles as
    * high-cardinality but carries almost no splitting power).
    *
    * Both statistics are RATIONAL in the value counts — unlike Shannon
    * entropy, which would drag floats and cross-engine log() into the
    * hash gate:
    *   gini_permille        = ⌊1000·(n² − Σc²) / n²⌋
    *   effective_categories = ⌊n² / Σc²⌋   (= n_distinct iff uniform)
    * Cross-products ride DECIMAL(38,0)/HUGEINT, exact to n ≈ 10¹⁸.
    *
    * Scale shape: one `inline` unpivot (k columns → k rows carrying two
    * fields), then the only data-volume exchange is the map-side-
    * combining (col_name, value) count; the per-column reduction is
    * state ∝ distinct values. Same skeleton as [[profile]].
    */
  def giniImpurity(events: DataFrame): DataFrame = {
    val entries = Seq(
      ("event_type", col("event_type").cast("string")),
      ("user_id", col("user_id").cast("string")),
      ("value_cents", round(col("value") * 100).cast("long").cast("string")))
      .map { case (n, c) => struct(lit(n).as("col_name"), c.as("v")) }
    events
      .select(inline(array(entries: _*)))
      .filter(col("v").isNotNull)
      .groupBy("col_name", "v")
      .agg(count(lit(1)).as("c"))
      .groupBy("col_name")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sumsq"))
      .select(col("col_name"), col("n"), col("n_distinct"),
        expr("""CAST(1000 * (CAST(n AS DECIMAL(38,0)) * n - sumsq)
               |     div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"""
          .stripMargin).as("gini_permille"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * n) div sumsq AS BIGINT)")
          .as("effective_categories"))
      .orderBy("col_name")
  }

  /** WINSORIZED per-group statistics — order amounts clamped at the
    * group's exact discrete p05/p95 before averaging, the robust-mean
    * companion to [[outlierGate]]'s reject view (gate DROPS the tails;
    * winsorization KEEPS the rows and bounds their leverage — the
    * standard treatment before a mean enters a dashboard or a model
    * feature).
    *
    * Exactness: the bound is the DISCRETE order statistic — smallest
    * value v with #(x ≤ v) ≥ k, k = (n−1)·p div 100 + 1 (1-based) —
    * computed identically in both engines from integer cents; no
    * interpolating `percentile` call (Spark interpolates, DuckDB's
    * quantile_cont differs — the discrete definition sidesteps the
    * whole float hazard). The winsorized mean is reported as a floor
    * quotient of non-negative cents.
    *
    * Scale shape: NO per-row sort anywhere. The heavy input collapses
    * in a map-side-combining (group, cents) count; the cumulative
    * window then runs over DISTINCT values only (state ∝ price points,
    * not rows), and the clamp pass joins the 5-row bounds frame back
    * broadcast. This is the same two-level refinement contract as
    * [[outlierGate]] — at 100 TB the distinct-value frame is the only
    * windowed state and it is bounded by the price domain.
    */
  def winsorizedStats(orders: DataFrame, loPct: Int = 5,
      hiPct: Int = 95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = orders
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val counts = vals.groupBy("o_orderpriority", "cents")
      .agg(count(lit(1)).as("cnt"))
    val cum = counts
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy("o_orderpriority").orderBy("cents")))
      .withColumn("n",
        sum("cnt").over(Window.partitionBy("o_orderpriority")))
    val bounds = cum
      .groupBy("o_orderpriority")
      .agg(max("n").as("n"),
        min(when(col("cum") >= expr(s"(n - 1) * $loPct div 100 + 1"),
          col("cents"))).as("lo_cents"),
        min(when(col("cum") >= expr(s"(n - 1) * $hiPct div 100 + 1"),
          col("cents"))).as("hi_cents"))
    vals
      .join(broadcast(bounds), Seq("o_orderpriority"))
      .groupBy("o_orderpriority")
      .agg(max("n").as("n_orders"),
        max("lo_cents").as("lo_cents"),
        max("hi_cents").as("hi_cents"),
        sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("wins_sum_cents"),
        sum(when(col("cents") < col("lo_cents"), 1L).otherwise(0L))
          .as("n_clamped_low"),
        sum(when(col("cents") > col("hi_cents"), 1L).otherwise(0L))
          .as("n_clamped_high"))
      .withColumn("wins_mean_cents", expr("wins_sum_cents div n_orders"))
      .orderBy("o_orderpriority")
  }

  /** WEEKDAY-ADJUSTED volume anomalies — flag days whose event count
    * breaks from their OWN weekday's recent norm, because raw daily
    * volume has a weekly rhythm that a flat baseline ([[rateAnomalies]]
    * territory) would misread as 7 anomalies a week. Baseline for day d
    * is the MEDIAN of the counts at d−7, d−14, d−21, d−28 (same
    * weekday, trailing four weeks — robust: one bad reference week
    * cannot poison it, unlike a mean).
    *
    * Exactness: the median of four is the mean of the two middle order
    * statistics — kept as their SUM `med2` (an integer), so the
    * deviation is the exact floor permille 2000·c div med2 and no
    * half-value float ever appears. Only days with ALL four references
    * emit (a partial-history baseline is a different, weaker claim).
    *
    * Scale shape: one map-side-combining daily count, then a 4-way
    * explode of day offsets equi-joined back to the broadcast daily
    * frame — work ∝ days × 4, metadata scale. The 4-element sort is
    * `array_sort` over a collected list, never a window over rows.
    */
  def volumeAnomalies(events: DataFrame,
      thresholdPermille: Long = 1500L): DataFrame = {
    val daily = events
      .filter(col("ts").isNotNull)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val refs = daily
      .select(col("day"), col("c"),
        explode(expr("array(7L, 14L, 21L, 28L)")).as("off"))
      .join(broadcast(daily.select(col("day").as("r_day"),
        col("c").as("r_c"))), col("r_day") === col("day") - col("off"))
      .groupBy("day", "c")
      .agg(count(lit(1)).as("n_refs"),
        array_sort(collect_list(col("r_c"))).as("arr"))
      .filter(col("n_refs") === 4)
      .select(col("day"), col("c"),
        (element_at(col("arr"), 2) + element_at(col("arr"), 3)).as("med2"))
    refs
      .select(col("day"), col("c"), col("med2"),
        expr("c * 2000 div nullif(med2, 0)").as("dev_permille"))
      .withColumn("is_anomaly",
        (col("dev_permille") > thresholdPermille ||
          col("dev_permille") < lit(2000L) - thresholdPermille).cast("long"))
      .orderBy("day")
  }
}
