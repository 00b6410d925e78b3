package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation inventory (SURVEY.md §2.4, A1-A3) + parity extensions
  * (distinct counts, rollup) implied by the Athena-SQL consumption surface
  * (`/root/reference/README.md:17`).
  *
  * Reference shapes: multi-key 7-agg summary `b3_transform.py:88-112`,
  * single-key stats `b3_transform.py:336-344`, count actions
  * `b3_transform.py:242-352`.
  *
  * Scale notes: all are hash aggregates with map-side partial aggregation;
  * the shuffle carries only (key, partial-state) pairs, so at 100 TB the
  * exchanged bytes are proportional to group cardinality × partitions, not
  * input rows. Sums of doubles are rounded on both engine and oracle side
  * to absorb FP association order.
  */
object Aggregates {

  /** round-half-away-from-zero of `s / n` in pure integer arithmetic
    * (`s` a scaled-integer sum, `n` a count). Overflow-free form
    * (`q + [2·(s mod n) ≥ n]`, on |s|): never materializes `2·s`, so it
    * survives sums near Long range where the naive `(2s+n) div 2n` form
    * wraps. Scale-K display averages divide the result by K once at the
    * end — the scale-2 `round(double)` form this replaces diverges
    * cross-engine at .xx5 boundaries (Spark rounds the shortest decimal
    * repr HALF_UP, DuckDB rounds the binary value).
    */
  private def avgScaled(s: Column, n: Column): Column = {
    val a = abs(s)
    val q = call_function("div", a, n) // integral divide, never a double
    val roundUp = when((a % n) * lit(2L) >= n, lit(1L)).otherwise(lit(0L))
    (signum(s).cast("long") * (q + roundUp)).cast("long")
  }

  /** A1 analog: multi-key group-by with the reference's 7-agg shape
    * (count/sum/avg/min/max + two rounded averages) on lineitem.
    */
  def multiKeySummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("total_registros"),
        // quantities are integer-valued doubles -> their FP sum is exact
        // at any order; prices/discounts are 2dp/4dp -> summed in exact
        // integer cents/decimils (j6's half-cent-boundary class: these
        // groups sum millions of rows at scale). min/max are exact picks
        // in integer cents (a scale-2 round(min(double)) re-rounds a
        // binary double — integer-side is boundary-proof).
        round(sum("l_quantity"), 2).as("sum_qty"),
        (sum(expr(
          "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          / lit(100.0)).as("revenue"),
        (avgScaled(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT)")), count(lit(1)))
          / lit(100.0)).as("avg_price"),
        (min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          / lit(100.0)).as("min_price"),
        (max(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          / lit(100.0)).as("max_price"),
        (avgScaled(sum(expr(
          "CAST(round(l_discount * 10000) AS BIGINT)")), count(lit(1)))
          / lit(10000.0)).as("avg_disc"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A2 analog: single-key stats group-by (`b3_transform.py:336-344`).
    * acctbal can be negative, so the exact average uses the
    * sign-aware [[avgScaled]] (round half AWAY FROM ZERO, matching both
    * engines' ROUND convention).
    */
  def singleKeyStats(customer: DataFrame): DataFrame =
    customer
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("total_registros"),
        (avgScaled(sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")),
          count(lit(1))) / lit(100.0)).as("media_acctbal"),
        (min(expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
          / lit(100.0)).as("menor_acctbal"),
        (max(expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
          / lit(100.0)).as("maior_acctbal"))
      .orderBy("c_mktsegment")

  /** A3: count action as a 1-row relation (`b3_transform.py:242` etc.). */
  def countAll(lineitem: DataFrame): DataFrame =
    lineitem.agg(count(lit(1)).as("n"))

  /** Parity: exact distinct count per group — shuffle-heavy (two-phase
    * expand+agg); for 100 TB cardinality estimation prefer HLL++
    * (`approx_count_distinct`, accuracy pinned by [[approxDistinctChecked]]).
    */
  def distinctCount(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("l_returnflag")

  /** Parity: CUBE over two keys (all 4 grouping sets). */
  def cubeSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("total_registros"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Parity: exact interpolated percentiles + median per group (the
    * Athena-SQL stats surface). The builtin `percentile` aggregate
    * buffers every (value, count) pair per group in memory — measured
    * ~9 s vs ~1 s at sf0.1, and an OOM at 100 TB group sizes — and a
    * single whole-group `row_number` window is the 3-ordered-partitions
    * single-reducer shape; both rejected. The two-level bucket refinement
    * below (coarse counts locate each target rank, row-level ranking only
    * inside boundary buckets) spills like any sort and keeps every window
    * bucket-sized. Interpolation reproduces the builtin aggregate's exact
    * arithmetic (`(higher-pos)*lo + (pos-lower)*hi`, asserted equal in
    * `OperatorSpec`), so oracle hashes are unchanged.
    */
  def percentiles(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = lineitem
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      .filter(col("v").isNotNull) // builtin percentile skips nulls; so must n
      // two-level refinement (the dq4/d13 pattern): a whole-group
      // row_number window has |groups| ordered partitions — at 3 return
      // flags that is the corpus on 3 tasks, the single-reducer shape at
      // 100 TB. Coarse $256 buckets localize each target rank first; only
      // the <=4 boundary buckets per group ever see a row-level window.
      .withColumn("b", floor(col("v") / 256.0).cast("long"))
    val perBucket = base.groupBy("l_returnflag", "b")
      .agg(count(lit(1)).as("cnt"))
    val wB = Window.partitionBy("l_returnflag").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = perBucket
      .withColumn("cum_before", coalesce(sum("cnt").over(wB), lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("l_returnflag")))
    def k(p: Double) =
      floor((col("n") - 1).cast("double") * lit(p)).cast("long")
    // a bucket is a target iff it holds any of the four picked ranks
    // (k and k+1 for each percentile; an out-of-range k+1 simply lands in
    // no bucket and the interpolation never reads it)
    val holds = Seq(k(0.5), k(0.5) + 1, k(0.9), k(0.9) + 1)
      .map(kk => kk >= col("cum_before") && kk < col("cum_before") + col("cnt"))
      .reduce(_ || _)
    val targets = buckets.filter(holds)
      .select("l_returnflag", "b", "cum_before", "n")
    val ranked = base.join(broadcast(targets), Seq("l_returnflag", "b"))
      .withColumn("rk", col("cum_before") - 1 + row_number().over(
        Window.partitionBy("l_returnflag", "b").orderBy("v")))
    // value at 0-based global rank floor((n-1)*p) + off, as an aggregate pick
    def pick(p: Double, off: Int) =
      max(when(col("rk") === k(p) + off, col("v")))
    val agged = ranked.groupBy("l_returnflag").agg(
      max(col("n")).as("n"),
      pick(0.5, 0).as("v50lo"), pick(0.5, 1).as("v50hi"),
      pick(0.9, 0).as("v90lo"), pick(0.9, 1).as("v90hi"))
    def interp(vLo: Column, vHi: Column, p: Double): Column = {
      val pos = (col("n") - 1).cast("double") * lit(p)
      val lower = floor(pos)
      val higher = ceil(pos)
      when(lower === higher, vLo)
        .otherwise((higher - pos) * vLo + (pos - lower) * vHi)
    }
    agged.select(col("l_returnflag"),
      round(interp(col("v50lo"), col("v50hi"), 0.5), 4).as("p50"),
      round(interp(col("v90lo"), col("v90hi"), 0.9), 4).as("p90"),
      round(interp(col("v50lo"), col("v50hi"), 0.5), 4).as("med"))
      .orderBy("l_returnflag")
  }

  /** Parity: pivot (wide aggregation) — sum of quantity per orderpriority,
    * pivoted on returnflag. Pivot values are enumerated explicitly: an
    * unenumerated pivot triggers a driver-side distinct-collect (a scale
    * anti-pattern at 100 TB).
    */
  def pivotSummary(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .groupBy("o_orderpriority")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum("l_quantity"), 2))
      .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
      .orderBy("o_orderpriority")

  /** MULTI-AGGREGATE PIVOT (a20): pivot on order status carrying TWO
    * measures per pivot value — sum in exact integer cents and row count
    * — yielding the wide `<status>_{cents,n}` matrix a finance dashboard
    * reads as one row per priority. Spark compiles multi-agg pivot to
    * the SAME single hash aggregate as the one-measure form (each
    * (value, agg) pair becomes one conditional aggregate expression):
    * the pivot values are declared, so no extra distinct-values job
    * runs, and everything map-side combines. The oracle states it as
    * explicit FILTER aggregates — which is exactly the plan Spark
    * generates, making this a cross-engine contract on the conditional-
    * aggregation rewrite itself.
    */
  def pivotMultiAgg(orders: DataFrame): DataFrame =
    orders
      .select(col("o_orderpriority"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      .withColumnsRenamed(Map(
        "F_cents" -> "f_cents", "F_n" -> "f_n",
        "O_cents" -> "o_cents", "O_n" -> "o_n",
        "P_cents" -> "p_cents", "P_n" -> "p_n"))
      .orderBy("o_orderpriority")

  /** TWO-LEVEL SHARE DRILL-DOWN (a21): revenue per (region, nation) with
    * each nation's share of its region and each region's share of the
    * world, in floor basis points — the share-of-parent tree every BI
    * drill-down renders. The fact table collapses to ≤ |nations| rows in
    * ONE map-side-combined aggregate (dimension keys picked up by two
    * broadcast joins); the region and grand totals are then windows over
    * those ~25 aggregated rows — metadata scale, whatever the fact
    * volume. Shares are ⌊10000·part/total⌋ BIGINT, engine-exact.
    */
  def shareTree(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perNation = orders
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("cents")).as("nation_cents"))
    val wRegion = Window.partitionBy("region")
    val wAll = Window.partitionBy()
    perNation
      .withColumn("region_cents", sum(col("nation_cents")).over(wRegion))
      .withColumn("total_cents", sum(col("nation_cents")).over(wAll))
      .select(col("region"), col("nation"), col("nation_cents"),
        col("region_cents"),
        expr("nation_cents * 10000 div region_cents").as("nation_share_bp"),
        expr("region_cents * 10000 div total_cents").as("region_share_bp"))
      .orderBy("region", "nation")
  }

  /** WEEKDAY REVENUE PROFILE (a22): orders and revenue by day-of-week
    * with floor-bp shares — the seasonality sanity row. Day-of-week is
    * computed ARITHMETICALLY: (days-since-epoch + 4) mod 7, 0 = Sunday
    * (1970-01-01 was a Thursday) — never an engine's locale-dependent
    * day-name/`dayofweek` convention (Spark counts 1 = Sunday, DuckDB
    * 0 = Sunday; integer arithmetic sidesteps the whole family of
    * off-by-one bugs). One map-side-combined aggregate to 7 rows.
    */
  def weekdayRevenue(orders: DataFrame): DataFrame = {
    val dowed = orders
      .filter(col("o_orderdate").isNotNull)
      .select(
        expr("(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') + 4) % 7")
          .cast("long").as("dow"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    dowed
      .crossJoin(broadcast(dowed.agg(sum(col("cents")).as("total_cents"),
        sum(col("n_orders")).as("total_orders"))))
      .select(col("dow"), col("n_orders"), col("cents"),
        expr("cents * 10000 div total_cents").as("revenue_share_bp"),
        expr("n_orders * 10000 div total_orders").as("order_share_bp"))
      .orderBy("dow")
  }

  /** RFM SEGMENTATION CELLS (a23): every customer scored 1–5 on Recency
    * (days since last order), Frequency (order count) and Monetary
    * (total cents) by GLOBAL QUINTILE VALUE EDGES, then the ≤125-cell
    * census with each cell's averages — the classic CRM segmentation.
    * An edge is the exact order statistic at rank (n−1)·p div 100 + 1
    * (the [[orderSizeMix]] count-based scheme, p = 20/40/60/80), and a
    * score is 1 + the number of edges the customer's value is past —
    * value-banded, so tied customers always share a score (the r9 form
    * split ties positionally with a global `ntile`, which is exactly the
    * single-reducer window this rewrite removes).
    *
    * Scale shape: orders collapse to one row per customer (map-side
    * combined); recency/frequency edges ride a cumulative window over
    * DISTINCT VALUES (calendar-days / orders-per-customer domains —
    * metadata-scale); monetary is near-unique per customer, so its four
    * edges come from the [[percentiles]] two-level bucket refinement
    * (coarse ≤64Ki value buckets locate the ranks; only boundary buckets
    * see a row-level window). Banding is a broadcast of the 1-row edge
    * frame; the census is a second tiny aggregate. Recency is measured
    * against the corpus max date, so the query is reproducible.
    */
  def rfmCells(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = orders
      .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
      .select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("o_custkey")
      .agg(max(col("d")).as("last_d"), count(lit(1)).as("freq"),
        sum(col("cents")).as("monetary"))
    val base = perCust
      .crossJoin(broadcast(perCust.agg(max(col("last_d")).as("ref_d"),
        count(lit(1)).as("n"))))
      .withColumn("recency_days",
        datediff(col("ref_d"), col("last_d")).cast("long"))
    // quintile ranks: (n-1)*p div 100 + 1 for p = 20/40/60/80
    def k(p: Int) = expr(s"(n - 1) * $p div 100 + 1")
    // recency: ASC edges over the distinct-day domain (metadata-scale)
    val recEdges = base.groupBy("recency_days", "n")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("recency_days")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .agg(
        min(when(col("cum") >= k(20), col("recency_days"))).as("re1"),
        min(when(col("cum") >= k(40), col("recency_days"))).as("re2"),
        min(when(col("cum") >= k(60), col("recency_days"))).as("re3"),
        min(when(col("cum") >= k(80), col("recency_days"))).as("re4"))
    // frequency: DESC edges over the distinct-count domain (metadata-scale)
    val freqEdges = base.groupBy("freq", "n")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy(col("freq").desc)
        .rowsBetween(Window.unboundedPreceding, 0)))
      .agg(
        max(when(col("cum") >= k(20), col("freq"))).as("fe1"),
        max(when(col("cum") >= k(40), col("freq"))).as("fe2"),
        max(when(col("cum") >= k(60), col("freq"))).as("fe3"),
        max(when(col("cum") >= k(80), col("freq"))).as("fe4"))
    // monetary: DESC edges by two-level refinement — the per-customer sum
    // is near-unique, so a distinct-value cumulative would be a
    // customer-scale global window. Bucket width adapts to the value
    // domain (≤ 64Ki buckets at any corpus size).
    val mBucketed = base
      .crossJoin(broadcast(base.agg(max(col("monetary")).as("max_m"))
        .withColumn("wdt", expr("greatest(1L, max_m div 65536 + 1)"))))
      .withColumn("mb", expr("monetary div wdt"))
    val mBuckets = mBucketed.groupBy("mb", "n")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before", coalesce(sum("cnt").over(
        Window.orderBy(col("mb").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val mHolds = Seq(20, 40, 60, 80)
      .map(p => k(p) > col("cum_before") &&
        k(p) <= col("cum_before") + col("cnt"))
      .reduce(_ || _)
    val mTargets = mBuckets.filter(mHolds).select("mb", "cum_before")
    val mEdges = mBucketed.join(broadcast(mTargets), Seq("mb"))
      .withColumn("rk", col("cum_before") + row_number().over(
        Window.partitionBy("mb")
          .orderBy(col("monetary").desc, col("o_custkey"))))
      .agg(
        max(when(col("rk") === k(20), col("monetary"))).as("me1"),
        max(when(col("rk") === k(40), col("monetary"))).as("me2"),
        max(when(col("rk") === k(60), col("monetary"))).as("me3"),
        max(when(col("rk") === k(80), col("monetary"))).as("me4"))
    def past(v: Column, e: Column, desc: Boolean) =
      when(if (desc) v < e else v > e, 1).otherwise(0)
    val scored = base
      .crossJoin(broadcast(recEdges))
      .crossJoin(broadcast(freqEdges))
      .crossJoin(broadcast(mEdges))
      .withColumn("r_score", lit(1) +
        past(col("recency_days"), col("re1"), desc = false) +
        past(col("recency_days"), col("re2"), desc = false) +
        past(col("recency_days"), col("re3"), desc = false) +
        past(col("recency_days"), col("re4"), desc = false))
      .withColumn("f_score", lit(1) +
        past(col("freq"), col("fe1"), desc = true) +
        past(col("freq"), col("fe2"), desc = true) +
        past(col("freq"), col("fe3"), desc = true) +
        past(col("freq"), col("fe4"), desc = true))
      .withColumn("m_score", lit(1) +
        past(col("monetary"), col("me1"), desc = true) +
        past(col("monetary"), col("me2"), desc = true) +
        past(col("monetary"), col("me3"), desc = true) +
        past(col("monetary"), col("me4"), desc = true))
    scored
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).as("cell_cents"),
        expr("sum(recency_days) div count(1)").as("avg_recency_days"),
        expr("sum(freq) div count(1)").as("avg_orders"))
      .select(col("r_score").cast("long"), col("f_score").cast("long"),
        col("m_score").cast("long"), col("n_customers"), col("cell_cents"),
        col("avg_recency_days"), col("avg_orders"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** BASKET-SIZE HISTOGRAM (a24): orders per line count and per distinct
    * part count, with floor-bp shares — the first profile read before
    * any market-basket mining (it is where [[GraphOps.frequentTriples]]'
    * `maxBasket` cap and the skew bounds come from). Two stacked
    * map-side-combined aggregates: fact → per-order sizes (state ∝
    * orders), sizes → histogram (state ∝ distinct sizes — metadata
    * scale). No window, no sort of the fact.
    */
  def basketHistogram(lineitem: DataFrame): DataFrame = {
    val perOrder = lineitem
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_partkey")).as("n_parts"))
    val hist = perOrder
      .groupBy("n_lines", "n_parts")
      .agg(count(lit(1)).as("n_orders"))
    hist
      .crossJoin(broadcast(hist.agg(sum(col("n_orders")).as("total_orders"))))
      .select(col("n_lines"), col("n_parts"), col("n_orders"),
        expr("n_orders * 10000 div total_orders").as("share_bp"))
      .orderBy("n_lines", "n_parts")
  }

  /** UNPIVOT / melt (a14) — the inverse of [[pivotSummary]], the other
    * half of the wide↔long reshaping pair: the wide per-priority
    * (qty_a, qty_n, qty_r) frame back to long (priority, returnflag,
    * qty) rows. Uses the native `unpivot` API (Spark 3.4+) — it plans as
    * an `Expand` (each input row replicated once per value column,
    * row-local, no shuffle, no UDTF), which is also why the reshaping is
    * scale-free: cost is rows × value-columns, partition-preserving.
    * Round-tripping through [[pivotSummary]] makes the oracle trivial to
    * state (it re-derives the long form directly) and proves
    * pivot∘unpivot ≈ identity on this frame.
    */
  def unpivotSummary(lineitem: DataFrame, orders: DataFrame): DataFrame =
    pivotSummary(lineitem, orders)
      .unpivot(
        ids = Array(col("o_orderpriority")),
        values = Array(col("qty_a"), col("qty_n"), col("qty_r")),
        variableColumnName = "flag_col",
        valueColumnName = "sum_qty")
      .select(col("o_orderpriority"),
        upper(substring(col("flag_col"), 5, 1)).as("l_returnflag"),
        col("sum_qty"))
      .orderBy("o_orderpriority", "l_returnflag")

  /** Parity: collection aggregates. `collect_list`/`collect_set` order is
    * nondeterministic after a shuffle — wrapped in `array_sort` so the
    * result is comparable (same rule a user needs for reproducible output).
    * The sorted set is emitted '|'-joined: a scalar column survives any
    * downstream sink/compare that can't order array cells, with zero
    * information loss for a set of scalar codes.
    */
  def collectAggregates(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        concat_ws("|", array_sort(collect_set(col("l_linestatus")))).as("statuses"),
        // count(col), NOT size(collect_list(col)): identical value (both
        // skip nulls), but collect_list buffers every element per group —
        // an O(group-size) memory hazard the constant-space count avoids.
        count(col("l_orderkey")).cast("int").as("n_values"))
      .orderBy("l_returnflag")

  /** Parity: HLL++ accuracy witnessed THROUGH the oracle. Raw sketch
    * estimates aren't portable across engines (DuckDB's approx sketch
    * differs), so the query emits the exact distinct count plus a boolean
    * asserting the HLL estimate landed within 3·rsd of exact; the oracle
    * emits the exact count and literal TRUE. A broken sketch flips the
    * boolean and hash-mismatches — the accuracy contract itself is what
    * gets compared.
    */
  def approxDistinctChecked(lineitem: DataFrame, rsd: Double = 0.01): DataFrame =
    // HLL sketches are duplicate-insensitive, so both aggregates run over
    // the deduplicated (key, value) pairs: exact = count, approx = HLL of
    // the same rows. Mixing countDistinct + approx_count_distinct in ONE
    // agg instead triggers the distinct-rewrite Expand, which allocates an
    // HLL buffer (~16 KB at rsd 0.01) per INTERMEDIATE (key, value) group —
    // measured 14 s vs ~1 s at sf0.1, and a per-group-memory hazard at
    // scale. Here the shuffle is the dedup; the final agg holds one sketch
    // per output group only.
    lineitem
      .select(col("l_returnflag"), col("l_partkey"))
      .distinct()
      .groupBy("l_returnflag")
      .agg(
        count(col("l_partkey")).as("n_exact_parts"),
        approx_count_distinct(col("l_partkey"), rsd).as("_approx"))
      .select(col("l_returnflag"), col("n_exact_parts"),
        (abs(col("_approx") - col("n_exact_parts")) <=
          col("n_exact_parts") * (3 * rsd)).as("approx_within_3rsd"))
      .orderBy("l_returnflag")

  /** Parity: approximate percentile (Greenwald-Khanna sketch) witnessed
    * through the oracle by its accuracy CONTRACT, like [[approxDistinctChecked]]
    * for HLL: sketch internals aren't cross-engine comparable, but the
    * guarantee — the returned value's RANK is within n/accuracy of the
    * target rank — is checkable in exact integer arithmetic. Pass 1
    * computes the sketch per group; pass 2 counts rows ≤ the sketch value
    * (the value's actual rank). The emitted boolean asserts
    * |2·rank − n| · accuracy ≤ 2·n + 2·accuracy, i.e. |rank − n/2| ≤
    * n/accuracy + 1 scaled integer-side — engine-independent, no FP. A
    * broken sketch lands outside the band and hash-mismatches the
    * TRUE-emitting oracle.
    *
    * Scale note: the GK sketch is the 100 TB path — bounded memory per
    * group vs the exact sort's full shuffle; the exact-rank verification
    * pass here exists only to witness the contract.
    */
  def approxPercentileChecked(lineitem: DataFrame, accuracy: Int = 1000): DataFrame = {
    val sketch = lineitem
      .groupBy("l_returnflag")
      .agg(approx_percentile(col("l_extendedprice"), lit(0.5), lit(accuracy))
        .as("apx"))
    lineitem
      .join(sketch, "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        count(col("l_extendedprice")).as("n"),
        sum(when(col("l_extendedprice") <= col("apx"), 1L).otherwise(0L))
          .as("rank_apx"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("rank_apx") * 2 - col("n")) * accuracy <=
          col("n") * 2 + lit(2L * accuracy)).as("median_within_rank_error"))
      .orderBy("l_returnflag")
  }

  /** HLL DataSketches CONTRACT (a12): Spark 4's `hll_sketch_agg` /
    * `hll_union_agg` / `hll_sketch_estimate` surface, witnessed the d4c
    * way — the oracle can't parse sketch bytes, so the query emits
    * engine-checkable booleans next to an exactly-recomputable column:
    *
    *  - `within_5pct`: the sketch estimate is within 5% of the exact
    *    distinct count (lgK = 12 ⇒ ~1.6% RSE; 5% is > 3σ) — hash-compared
    *    against the oracle's literal TRUE, so an estimator regression
    *    fails the gate rather than drifting silently;
    *  - `merge_within_5pct`: the union of per-day sketches estimates the
    *    exact distinct count within the same 5% bound — the mergeability
    *    property that makes sketches the 100 TB answer (partial sketches
    *    per partition/day, one tiny union at read time, no re-scan).
    *    NOT exact equality with the direct sketch: DataSketches HLL
    *    unions may route through a different internal representation
    *    (coupon list vs dense HLL_4) than a directly-built sketch, so
    *    estimates can differ in low digits — they did at sf0.1 (the
    *    round-8 cross-scale sweep caught the r7 contract overclaiming
    *    equality; accuracy-after-merge is the actual guarantee).
    *
    * Scale shape: two partial-pushed aggregates over one scan each; the
    * merged path ships one ~2-4 KB sketch per (type, day) — the pattern
    * that replaces count-distinct's full key shuffle at scale.
    */
  def hllContract(events: DataFrame): DataFrame = {
    val base = events.filter(col("user_id").isNotNull)
    val direct = base
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est_direct"))
    val merged = base
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    direct.join(merged, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("est_direct") - col("n_exact")) * 20 <= col("n_exact"))
          .as("within_5pct"),
        (abs(col("est_merged") - col("n_exact")) * 20 <= col("n_exact"))
          .as("merge_within_5pct"))
      .orderBy("event_type")
  }

  /** COUNT-MIN SKETCH contract (a13): the frequency-sketch sibling of the
    * a12 HLL contract. Per event type, probe the busiest user's event
    * count through (1) one direct sketch and (2) per-day sketches merged
    * via [[graft.functions.CmsUnionAgg]], and witness the three CMS
    * guarantees as booleans the oracle asserts TRUE:
    *  - `never_under`: a CMS estimate is never below the true count
    *    (counters only ever over-count on hash collision) — always, not
    *    probabilistically;
    *  - `within_eps`: estimate ≤ exact + ⌈ε·N⌉ (the ε-accuracy bound at
    *    the sketch's confidence; deterministic here under the fixed seed);
    *  - `merge_consistent`: merged per-day sketches estimate IDENTICALLY
    *    to the direct sketch — CMS counters are additive, so shard-then-
    *    merge is exact, the property that lets 100 TB pipelines sketch
    *    per ingest batch and never re-scan history for a frequency probe.
    *
    * The probe key (busiest user, min id on ties) and its exact count are
    * SQL-derivable, which is what makes the contract hash-checkable.
    */
  def cmsContract(events: DataFrame): DataFrame = {
    import graft.functions.CountMin.{cmsEstimate, cmsUnion}
    val (eps, conf, seed) = (0.001, 0.99, 42)
    val base = events.filter(col("user_id").isNotNull)
    val exact = base.groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
    val top = exact.groupBy("event_type")
      .agg(
        max_by(col("user_id"),
          struct(col("cnt"), (-col("user_id")).as("neg"))).as("top_user"),
        max(struct(col("cnt"), (-col("user_id")).as("neg")))
          .getField("cnt").as("n_exact_top"),
        sum(col("cnt")).as("n_total"))
    def sketch = count_min_sketch(col("user_id"), lit(eps), lit(conf), lit(seed))
    val direct = base.groupBy("event_type").agg(sketch.as("sk"))
    val merged = base
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sketch.as("sk_day"))
      .groupBy("event_type").agg(cmsUnion(col("sk_day")).as("sk_m"))
    val est = cmsEstimate(col("sk"), col("top_user"))
    top.join(direct, "event_type").join(merged, "event_type")
      .select(col("event_type"), col("n_exact_top"),
        (est >= col("n_exact_top")).as("never_under"),
        (est <= col("n_exact_top") +
          ceil(lit(eps) * col("n_total")).cast("long")).as("within_eps"),
        (est === cmsEstimate(col("sk_m"), col("top_user"))).as("merge_consistent"))
      .orderBy("event_type")
  }

  /** Parity: rollup over two keys with grouping flags; ordered by grouping
    * level then keys NULLS FIRST so engine and oracle row streams align.
    */
  def rollupSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("total_registros"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** EXACT WEIGHTED MEDIAN per group: the smallest price (integer cents)
    * at which the running quantity-weight reaches half the group's total
    * — the order statistic inventory/revenue analyses want when a line
    * item's "vote" is its quantity, not its row count (a 50-unit line
    * weighs 50× a 1-unit line). `percentile_approx` has a weighted
    * variant but no exactness; this is the exact form, engine-checkable
    * because every step is integer arithmetic.
    *
    * Scale shape: the corpus first collapses to (group, value) cells with
    * summed weights — a map-side-combined hash aggregate, the same
    * corpus→domain collapse as the bucket-refined percentiles (dq4/a8):
    * everything after runs on cells, bounded by the price DOMAIN per
    * group (~10⁶ distinct cents at any corpus size), not row count. The
    * running sum is a partition-keyed window (per-group, never global —
    * no single-partition WindowExec), and the median pick is
    * `2·cum ≥ total` → `min(cents)`, the standard lower weighted median
    * (reduces to the ordinary lower median when all weights are 1).
    */
  def weightedMedian(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = lineitem
      .filter(col("l_extendedprice").isNotNull && col("l_quantity").isNotNull)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
      .groupBy("l_returnflag", "cents")
      .agg(sum(col("w")).as("w"))
    val run = Window.partitionBy("l_returnflag").orderBy("cents")
    val whole = Window.partitionBy("l_returnflag")
    // (r11 note: replacing the `whole` window with a broadcast of
    // per-flag totals was drafted and rejected — it re-derives `cells`
    // a second time, i.e. a second full fact scan at scale, to save one
    // buffered evaluation pass over the already-sorted cells. The two
    // windows share the single flag exchange + cents sort; this is the
    // one-pass shape.)
    cells
      .withColumn("cum", sum(col("w")).over(run))
      .withColumn("total", sum(col("w")).over(whole))
      .filter(col("cum") * 2 >= col("total"))
      .groupBy("l_returnflag")
      .agg(min(col("cents")).as("wmedian_cents"),
        max(col("total")).as("total_weight"))
      .orderBy("l_returnflag")
  }

  /** DETERMINISTIC MODE per group — the most frequent value, smallest
    * value on a frequency tie. Spark's builtin `mode()` breaks ties
    * arbitrarily (partition visit order), which is useless under a hash
    * gate and a repro hazard in production; the explicit two-level form
    * — count per (group, value), then `max_by` on the (count, −value)
    * struct — pins the tie and stays two map-side-combining hash
    * aggregates (state ∝ distinct values per group, no sort, no window
    * over the raw data).
    */
  def modeOf(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag", "q")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(max_by(struct(col("q"), col("cnt")),
        struct(col("cnt"), (-col("q")).as("neg"))).as("m"))
      .select(col("l_returnflag"), col("m.q").as("mode_quantity"),
        col("m.cnt").as("n_mode"))
      .orderBy("l_returnflag")

  /** KMV BOTTOM-K SKETCH contract (a17): the set-operation sketch that
    * completes the family — HLL (a12) estimates distinct counts, CMS
    * (a13) frequencies, KMV adds UNION and INTERSECTION estimates from
    * two groups' summaries, the one composition HLL cannot express.
    *
    * Per unordered pair of event types, the exact audience overlap is
    * recomputed (one hash equi-join on user_id over the distinct
    * (type, user) frame — SQL-derivable, which makes the contract
    * hash-checkable), and four witnessed booleans assert the sketch
    * estimates land within their error budgets:
    *  - `dist_*_within_20pct`: each side's distinct estimate (k = 1024 ⇒
    *    RSE 1/√(k−2) ≈ 3.1%; 20% is > 6σ — margin chosen after probing
    *    the one effectively-independent draw the fixture gives, since
    *    every type shares the same user set: 2.1% observed at sf0.1);
    *  - `union_within_20pct`: the k smallest of K(A) ∪ K(B) — computed
    *    with plain array ops over the two sketch columns — IS the KMV
    *    sketch of A ∪ B, so the union estimate carries the same bound;
    *  - `inter_within_quarter_union`: est(∩) = ρ̂ · est(∪) with ρ̂ the
    *    fraction of the union sketch present in both sides; its absolute
    *    error scales with |A∪B| (binomial ρ̂ noise × union estimate), so
    *    the honest bound is relative to the UNION, not the intersection.
    *
    * A sketch still under capacity is exhaustive, so the sf0.01 gate
    * (≈150 users ≪ k) pins EXACT behavior of the whole composition while
    * sf0.1 (1500 users) exercises the estimation regime — both witnessed
    * in the cross-scale sweep.
    */
  /** SLIDING-WINDOW DISTINCT via sketch merges (a18): per day, the
    * distinct users over the trailing 7 calendar days, estimated by
    * unioning the 7 daily HLL sketches — against the exactly recomputed
    * count, witnessed within 5%.
    *
    * Why this exists: exact trailing-window distinct at 100 TB re-shuffles
    * the full key universe once PER WINDOW (every day's query touches 7
    * days of raw keys); the sketch form reduces each day once into a
    * ~4 KB summary and every window after that is a 7-sketch union at
    * metadata scale — the canonical daily-active/weekly-active pattern.
    * The union rides a RANGE frame over epoch-day (calendar-correct
    * under day gaps, unlike a rows frame); the daily frame is |days|
    * rows, so the unpartitioned window is metadata-scale by
    * construction, not a data-scale single-reducer.
    *
    * The exact side re-derives per-window distincts with a broadcast
    * day-grid interval join over the distinct (day, user) frame — a
    * second independent path, which is what makes the 5% booleans an
    * actual contract rather than self-agreement.
    */
  def slidingDistinct(events: DataFrame): DataFrame = {
    val base = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = base.groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .withColumn("day_i", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day_i").rangeBetween(-6, 0)
    val est = daily
      .withColumn("est_7d", hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
      .select(col("day"), col("est_7d"))
    val du = base.distinct()
    val grid = daily.select(col("day").as("g_day"))
    val exact = du.join(broadcast(grid),
        col("day") >= date_sub(col("g_day"), 6) && col("day") <= col("g_day"))
      .groupBy("g_day")
      .agg(countDistinct(col("user_id")).as("n_exact_7d"))
      .select(col("g_day").as("day"), col("n_exact_7d"))
    exact.join(est, Seq("day"))
      .select(col("day"), col("n_exact_7d"),
        (abs(col("est_7d") - col("n_exact_7d")) * 20 <= col("n_exact_7d"))
          .as("within_5pct"))
      .orderBy("day")
  }

  def kmvContract(events: DataFrame, k: Int = 1024): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketchAgg(k))
    val base = events.filter(col("user_id").isNotNull)
    val perType = base.groupBy("event_type")
      .agg(kmv(xxhash64(col("user_id"))).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    val d = base.select(col("event_type"), col("user_id")).distinct()
    val inter = d.as("x").join(d.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("et_a"), col("y.event_type").as("et_b"))
      .agg(countDistinct(col("x.user_id")).as("n_inter_exact"))
    // flipped k-th value y reads back as the real h = y + 2⁶³ ∈ [0, 2⁶⁴)
    def estimate(sk: Column): Column =
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(lit((k - 1).toDouble * math.pow(2.0, 64)) /
          (element_at(sk, k).cast("double") + lit(math.pow(2.0, 63))))
    val a = perType.select(col("event_type").as("et_a"), col("sk").as("sk_a"),
      col("n_exact").as("n_a"))
    val b = perType.select(col("event_type").as("et_b"), col("sk").as("sk_b"),
      col("n_exact").as("n_b"))
    inter.join(broadcast(a), Seq("et_a")).join(broadcast(b), Seq("et_b"))
      .withColumn("sk_u",
        slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, k))
      .withColumn("n_union_exact", col("n_a") + col("n_b") - col("n_inter_exact"))
      .withColumn("est_u", estimate(col("sk_u")))
      .withColumn("n_common", size(array_intersect(col("sk_u"),
        array_intersect(col("sk_a"), col("sk_b")))).cast("double"))
      .withColumn("est_i", col("n_common") / size(col("sk_u")) * col("est_u"))
      .select(col("et_a"), col("et_b"), col("n_union_exact"), col("n_inter_exact"),
        (abs(estimate(col("sk_a")) - col("n_a")) * 5 <= col("n_a"))
          .as("dist_a_within_20pct"),
        (abs(estimate(col("sk_b")) - col("n_b")) * 5 <= col("n_b"))
          .as("dist_b_within_20pct"),
        (abs(col("est_u") - col("n_union_exact")) * 5 <= col("n_union_exact"))
          .as("union_within_20pct"),
        (abs(col("est_i") - col("n_inter_exact")) * 4 <= col("n_union_exact"))
          .as("inter_within_quarter_union"))
      .orderBy("et_a", "et_b")
  }

  /** TPC-H Q6 shape ("forecasting revenue change"): single-scan
    * conditional aggregate under three range predicates — the query
    * whose entire cost is how much the SCAN prunes. All three filters
    * (ship year, discount band, quantity cap) are scan-pushable
    * conjuncts: at 100 TB the year restricts partitions / row-group
    * min-max, and the other two drop row-groups before any operator
    * runs. Revenue here is price × discount (the forgone-discount
    * figure, per the spec), rounded to integer cents per row before the
    * BIGINT sum. The discount band is compared in integer permille
    * (round(d·1000)) — an FP `BETWEEN 0.05 AND 0.07` reads back
    * differently per engine for values stored as 64-bit doubles.
    */
  def q6ForecastRevenue(lineitem: DataFrame, yr: Int = 1997,
      dMinPm: Int = 50, dMaxPm: Int = 70, maxQty: Long = 24L): DataFrame =
    lineitem
      .filter(year(col("l_shipdate")) === yr &&
        round(col("l_discount") * 1000).cast("long")
          .between(dMinPm.toLong, dMaxPm.toLong) &&
        round(col("l_quantity")).cast("long") < maxQty)
      .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100)
        .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))

  /** CONTINGENCY TABLE via `DataFrameStatFunctions.crosstab` — the
    * pandas-`crosstab` API surface a notebook user reaches for first
    * when eyeballing two categoricals. Spark's implementation pivots on
    * the DRIVER-collected distinct values of the second column, so the
    * operator's contract is "column 2 is low-cardinality" — here
    * o_orderstatus (3 values); the fact table itself is reduced by one
    * map-side-combining (priority, status) count aggregate before the
    * tiny pivot. High-cardinality cross-tabs belong in a9_pivot's
    * groupBy-pivot form instead (bounded, spill-safe) — this entry pins
    * the stat-function surface itself.
    */
  def crosstabPriorityStatus(orders: DataFrame): DataFrame =
    orders.stat.crosstab("o_orderpriority", "o_orderstatus")
      .orderBy("o_orderpriority_o_orderstatus")

  /** BOOLEAN/CONDITIONAL aggregate battery: `count_if`, `bool_and`,
    * `bool_or`, and DETERMINIZED argmax/argmin — the everyday SQL:2023
    * aggregate surface. Plain `max_by`/`arg_max` are nondeterministic
    * under ties; here the argmax rides `max` over a (cents, key) STRUCT
    * — lexicographic struct comparison is the tie-break, identical in
    * both engines, so the answer is exact even when two orders share a
    * price. All five are map-side-combining hash aggregates in one
    * pass; state ∝ groups.
    */
  def boolAggBattery(orders: DataFrame): DataFrame =
    orders
      .groupBy("o_orderpriority")
      .agg(
        expr("count_if(o_totalprice > 200000.0)").as("n_big"),
        expr("bool_and(o_totalprice > 1000.0)").as("all_over_1k"),
        expr("bool_or(o_orderstatus = 'P')").as("any_pending"),
        max(struct(round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey").as("k"))).getField("k").as("max_price_key"),
        min(struct(round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey").as("k"))).getField("k").as("min_price_key"))
      .orderBy("o_orderpriority")

  /** RANK MOVERS — the "biggest movers" BI page: each part's revenue
    * rank in year A vs year B and the rank delta, top `k` by absolute
    * movement. Ranks use `row_number` with the (revenue DESC, partkey)
    * total order, so ties are deterministic and the ranks — unlike the
    * revenue doubles they order — are engine-exact integers; the delta
    * survives the hash gate where a revenue ratio wouldn't. Only parts
    * trading in BOTH years emit (a rank against absence is not a move).
    *
    * Scale shape: the fact join collapses in one (year, part) map-side-
    * combining aggregate; the two rank windows partition by year over
    * the PART DOMAIN (not rows), and the movers join is an equi-join of
    * those two domain-sized frames. The final top-k is a sort of the
    * joined domain frame with pushed-down limit.
    */
  def rankMovers(lineitem: DataFrame, orders: DataFrame,
      yearA: Int = 1997, yearB: Int = 1998, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(year(col("o_orderdate")).isin(yearA, yearB))
      .groupBy(year(col("o_orderdate")).as("yr"), col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("cents"))
    val w = Window.partitionBy("yr")
      .orderBy(col("cents").desc, col("l_partkey"))
    val ranked = rev.withColumn("rk", row_number().over(w).cast("long"))
    val a = ranked.filter(col("yr") === yearA)
      .select(col("l_partkey"), col("rk").as("rk_a"),
        col("cents").as("cents_a"))
    val b = ranked.filter(col("yr") === yearB)
      .select(col("l_partkey"), col("rk").as("rk_b"),
        col("cents").as("cents_b"))
    a.join(b, Seq("l_partkey"))
      .select(col("l_partkey"), col("rk_a"), col("rk_b"),
        (col("rk_a") - col("rk_b")).as("rank_delta"),
        col("cents_a"), col("cents_b"))
      .orderBy(abs(col("rank_delta")).desc, col("l_partkey"))
      .limit(k)
  }

  /** TOP-N + OTHER — the dashboard rollup every pie chart needs: the
    * `n` biggest customers per priority as named rows plus ONE residual
    * "OTHER" row absorbing the tail, so the group total is preserved
    * (a bare top-n silently drops the tail and the percentages lie).
    * Ranks are `row_number` over (revenue DESC, custkey) — ties
    * deterministic; OTHER carries rank n+1 so the output sorts into
    * display order with no special-casing.
    *
    * Scale shape: the fact table collapses in one (priority, customer)
    * map-side-combining aggregate; the rank window runs over that
    * aggregated CUSTOMER DOMAIN per priority (never raw rows); the tail
    * re-aggregates to 1 row per group.
    */
  def topNWithOther(orders: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = orders
      .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull)
      .groupBy("o_orderpriority", "o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
    val ranked = rev.withColumn("rk", row_number().over(
      Window.partitionBy("o_orderpriority")
        .orderBy(col("cents").desc, col("o_custkey"))).cast("long"))
    val top = ranked.filter(col("rk") <= n)
      .select(col("o_orderpriority"),
        col("o_custkey").cast("string").as("entity"),
        col("cents"), col("n_orders"), col("rk"))
    val other = ranked.filter(col("rk") > n)
      .groupBy("o_orderpriority")
      .agg(sum("cents").as("cents"), sum("n_orders").as("n_orders"))
      .select(col("o_orderpriority"), lit("OTHER").as("entity"),
        col("cents"), col("n_orders"), lit(n + 1L).as("rk"))
    top.unionAll(other).orderBy("o_orderpriority", "rk")
  }

  /** PRICE-VOLUME-MIX decomposition — the "why did revenue change"
    * bridge between two years, per brand: Δrevenue split into a VOLUME
    * effect ((q₁−q₀)·p₀), a PRICE effect (q₁·(p₁−p₀)) and an explicit
    * RESIDUAL, where p is the floor unit price (cents div qty) of each
    * year. The floor makes the decomposition integer-exact but not
    * perfectly additive — so the residual column CARRIES the crumbs and
    * the identity Δ = vol + price + residual holds to the cent BY
    * CONSTRUCTION (the honest form of a bridge that normally hides its
    * rounding in the mix bucket).
    *
    * Scale shape: the fact join collapses in one (year, brand)
    * map-side-combining aggregate (brand domain ≈ 25 rows); the bridge
    * is an equi-join of two domain-sized frames. Parts dim broadcast.
    */
  def priceVolumeMix(lineitem: DataFrame, orders: DataFrame,
      part: DataFrame, yearA: Int = 1997, yearB: Int = 1998): DataFrame = {
    val base = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), Seq("l_partkey"))
      .filter(year(col("o_orderdate")).isin(yearA, yearB))
      .groupBy(year(col("o_orderdate")).as("yr"), col("p_brand"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")).as("cents"))
    val a = base.filter(col("yr") === yearA)
      .select(col("p_brand"), col("qty").as("q0"), col("cents").as("c0"))
    val b = base.filter(col("yr") === yearB)
      .select(col("p_brand"), col("qty").as("q1"), col("cents").as("c1"))
    a.join(b, Seq("p_brand"))
      .select(col("p_brand"), col("q0"), col("q1"), col("c0"), col("c1"),
        expr("(q1 - q0) * (c0 div q0)").as("vol_eff"),
        expr("q1 * (c1 div q1 - c0 div q0)").as("price_eff"))
      .withColumn("residual",
        col("c1") - col("c0") - col("vol_eff") - col("price_eff"))
      .orderBy("p_brand")
  }

  /** ABC (Pareto) CLASSIFICATION — inventory's 80/15/5 rule: parts
    * ranked by revenue, class A = the head covering the first 80% of
    * cumulative revenue, B through 95%, C the tail. The class boundary
    * is an integer comparison on the EXACT cumulative share (cum·1000
    * div total ≤ threshold), with ranking ties broken by partkey, so
    * membership is deterministic in both engines — the float
    * running-percentage form flips boundary parts between runs.
    *
    * Scale shape (r10): the fact table collapses in one per-part
    * aggregate; the two class boundaries are located by the
    * [[percentiles]] two-level refinement on the RUNNING REVENUE (per
    * value-bucket partial sums find the bucket where the cumulative
    * crosses `C = (p·total−1) div 1000`; only boundary buckets see a
    * row-level window), and every part is then classified by
    * lexicographic comparison against the two broadcast boundary keys
    * `(cents, partkey)`. Bit-identical to the r9 global-running-sum form
    * (`cum ≤ C_p  ⟺  rank ≤ boundary rank  ⟺  key before boundary key`,
    * since per-part revenue is strictly positive so `cum` is strictly
    * increasing), with no partition-less window over the part domain.
    */
  def abcClasses(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = lineitem
      .filter(col("l_extendedprice").isNotNull)
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("cents"))
    // cum*1000 div total <= p  ⟺  cum <= (p+1)*total-1 div 1000 =: C_p
    // (overflow-safe split: total can be near Long range at true scale)
    val tot = rev.agg(sum("cents").as("total"), max("cents").as("max_c"))
      .withColumn("wdt", expr("greatest(1L, max_c div 65536 + 1)"))
      // (p·total−1) div 1000 without materializing p·total (Long-safe);
      // the r = 0 branch is split out because Spark's `div` truncates
      // toward zero, so `(−1) div 1000` would be 0, not the −1 floor
      .withColumn("c_a", expr(
        """CASE WHEN total % 1000 = 0 THEN 801 * (total div 1000) - 1
          |ELSE 801 * (total div 1000) + (801 * (total % 1000) - 1) div 1000
          |END""".stripMargin))
      .withColumn("c_b", expr(
        """CASE WHEN total % 1000 = 0 THEN 951 * (total div 1000) - 1
          |ELSE 951 * (total div 1000) + (951 * (total % 1000) - 1) div 1000
          |END""".stripMargin))
    val bucketed = rev.crossJoin(broadcast(tot))
      .withColumn("b", expr("cents div wdt"))
    val perBucket = bucketed.groupBy("b", "c_a", "c_b")
      .agg(sum("cents").as("bcents"))
      .withColumn("cents_before", coalesce(sum("bcents").over(
        Window.orderBy(col("b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // the boundary row for threshold C is the FIRST row (in the global
    // (cents DESC, partkey) order) whose running sum exceeds C; it lives
    // in the bucket where the running sum crosses C
    val holds = Seq(col("c_a"), col("c_b"))
      .map(c => col("cents_before") <= c &&
        col("cents_before") + col("bcents") > c)
      .reduce(_ || _)
    val targets = perBucket.filter(holds).select("b", "cents_before")
    val wIn = Window.partitionBy("b")
      .orderBy(col("cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val bounds = bucketed.join(broadcast(targets), Seq("b"))
      .withColumn("run", col("cents_before") + sum("cents").over(wIn))
      .agg(
        max(when(col("run") - col("cents") <= col("c_a") &&
          col("run") > col("c_a"), col("cents"))).as("ba_cents"),
        max(when(col("run") - col("cents") <= col("c_a") &&
          col("run") > col("c_a"), col("l_partkey"))).as("ba_pk"),
        max(when(col("run") - col("cents") <= col("c_b") &&
          col("run") > col("c_b"), col("cents"))).as("bb_cents"),
        max(when(col("run") - col("cents") <= col("c_b") &&
          col("run") > col("c_b"), col("l_partkey"))).as("bb_pk"))
    rev.crossJoin(broadcast(bounds))
      .withColumn("cls",
        when(col("cents") > col("ba_cents") ||
          (col("cents") === col("ba_cents") &&
            col("l_partkey") < col("ba_pk")), "A")
          .when(col("cents") > col("bb_cents") ||
            (col("cents") === col("bb_cents") &&
              col("l_partkey") < col("bb_pk")), "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), sum("cents").as("rev_cents"))
      .withColumn("share_permille",
        expr("rev_cents * 1000 div sum(rev_cents) over ()"))
      .orderBy("cls")
  }

  /** ORDER-SIZE MIX by GLOBAL quantile bands — small/mid/large order
    * shares per year, where the band edges are the corpus-wide discrete
    * terciles (p33/p67 order statistics in cents, the
    * count-based-cumulative scheme of
    * [[graft.operators.Quality.winsorizedStats]] — no interpolating
    * percentile, no per-row sort). GLOBAL bands are the point: per-year
    * terciles would by construction show a flat 333/333/333 mix — only
    * fixed edges reveal whether the business is drifting toward bigger
    * orders.
    *
    * Scale shape: one (cents → count) map-side-combining aggregate for
    * the edges (distinct-value cumulative window), one broadcast of the
    * 1-row bounds frame, one (year, band) aggregate.
    */
  def orderSizeMix(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = orders
      .filter(col("o_totalprice").isNotNull && col("o_orderdate").isNotNull)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val cum = vals.groupBy("cents").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val bounds = cum.agg(
      min(when(col("cum") >= expr("(n - 1) * 33 div 100 + 1"),
        col("cents"))).as("p33"),
      min(when(col("cum") >= expr("(n - 1) * 67 div 100 + 1"),
        col("cents"))).as("p67"))
    vals.crossJoin(broadcast(bounds))
      .select(col("yr"),
        when(col("cents") <= col("p33"), "small")
          .when(col("cents") <= col("p67"), "mid")
          .otherwise("large").as("band"))
      .groupBy("yr", "band")
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("share_permille", expr(
        "n_orders * 1000 div sum(n_orders) over (partition by yr)"))
      .orderBy("yr", "band")
  }
}
