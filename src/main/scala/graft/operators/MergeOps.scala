package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (Type 2) MERGE — the versioned-upsert half of
  * the medallion data plane (SURVEY.md §2.9's refined tier): apply a batch
  * of dimension updates to a versioned snapshot, closing superseded rows
  * and appending new versions, without ever rewriting history.
  *
  * Reference analog: the refined-zone overwrite in
  * `/root/reference/src/glue/b3_transform.py:382-400` replaces the whole
  * refined table per run; a warehouse consuming it loses row history. SCD2
  * is the standard upgrade: every logical row carries
  * `(valid_from, valid_to, is_current)` and an update CLOSES the old
  * version (sets `valid_to`, clears `is_current`) and INSERTS the new one.
  *
  * Scale design (100 TB dimension):
  *  - ONE full-outer shuffle join of the open snapshot against the update
  *    batch on the business key — history rows (`is_current = false`) are
  *    filtered out before the join and unioned back untouched, so the join
  *    only carries the live snapshot.
  *  - The matched/unmatched/changed branches are decided per joined row
  *    and emitted via one `array(...)` + `explode` pass — NOT one join per
  *    branch, which would execute the shuffle three times.
  *  - No-op updates (every tracked attribute identical, null-safely) emit
  *    no new version: idempotent re-delivery of a batch cannot grow the
  *    table — the same guarantee the streaming tier's dedup sink provides.
  */
object MergeOps {

  /** Current-snapshot bootstrap: stamp an unversioned dimension frame with
    * `(valid_from = 0, valid_to = null, is_current = true)`.
    */
  def scd2Init(dim: DataFrame, batchId: Long = 0L): DataFrame =
    dim
      .withColumn("valid_from", lit(batchId))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

  /** Apply one update batch to a versioned dimension.
    *
    * @param current  versioned rows: keyCols ++ trackedCols ++
    *                 (valid_from, valid_to, is_current)
    * @param updates  keyCols ++ trackedCols (the new attribute values).
    *                 MUST be key-unique — a batch carrying several
    *                 versions of one key fans out the join and breaks the
    *                 one-open-row invariant; collapse it with
    *                 [[latestByKey]] first (the streaming sink does).
    * @param batchId  version stamp for rows closed/opened by this batch
    */
  def scd2Merge(current: DataFrame, updates: DataFrame,
      keyCols: Seq[String], trackedCols: Seq[String], batchId: Long): DataFrame = {
    val outCols = keyCols ++ trackedCols ++ Seq("valid_from", "valid_to", "is_current")
    val history = current.filter(!col("is_current")).select(outCols.map(col): _*)
    // row-presence markers survive the full-outer join where key columns
    // alone cannot (a coalesced join key is non-null on either side)
    val open = current.filter(col("is_current")).withColumn("_open", lit(1))
    // ENFORCE key-uniqueness of the batch (doc contract above): a
    // duplicate key would fan out the join and silently leave several
    // open rows per key. The per-key count windows on the SAME key the
    // join shuffles on, so the gate reuses the join's exchange; the
    // raise_error fires at execution time on the first duplicate.
    val keyW = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val upd = updates.select(
      keyCols.map(col) ++ trackedCols.map(c => col(c).as("u_" + c)): _*)
      .withColumn("_kn", count(lit(1)).over(keyW))
      .withColumn("_upd",
        when(col("_kn") > 1, raise_error(concat(
          lit("scd2Merge: updates batch is not key-unique (key "),
          concat_ws(",", keyCols.map(c => col(c).cast("string")): _*),
          lit(" appears more than once); collapse with latestByKey first"))
          .cast("int")))
        .otherwise(lit(1)))
      .drop("_kn")
    val joined = open.join(upd, keyCols, "full_outer")

    val hasOpen = col("_open").isNotNull
    val hasUpd = col("_upd").isNotNull
    // null-safe: a tracked value changing to/from NULL is still a change
    val changed: Column = trackedCols
      .map(c => !(col("u_" + c) <=> col(c)))
      .reduce(_ || _)

    // both output rows a joined row can produce, built in ONE projection:
    //  - the pre-existing open row, closed iff a differing update matched
    //  - the new version, present iff the update is an insert or a change
    val oldVersion = struct(
      keyCols.map(col) ++ trackedCols.map(col) ++ Seq(
        col("valid_from"),
        when(hasUpd && changed, lit(batchId)).otherwise(col("valid_to")).as("valid_to"),
        (!(hasUpd && changed)).as("is_current")): _*)
    val newVersion = struct(
      keyCols.map(col) ++ trackedCols.map(c => col("u_" + c).as(c)) ++ Seq(
        lit(batchId).as("valid_from"),
        lit(null).cast("long").as("valid_to"),
        lit(true).as("is_current")): _*)
    val emitted = joined.select(explode(filter(array(
      when(hasOpen, oldVersion),
      when(hasUpd && (!hasOpen || changed), newVersion)),
      v => v.isNotNull)).as("v"))
      .select(outCols.map(c => col("v." + c)): _*)

    history.unionByName(emitted)
  }

  /** CDC COMPACTION (latest-wins dedup): keep each key's most recent row
    * by a monotone ordering column — the upsert-log → snapshot collapse
    * that precedes an SCD2 merge when the change feed carries several
    * versions of one key per batch.
    *
    * Scale shape: rank-1 window per key. Spark 4 plans `row_number = 1`
    * as WindowGroupLimit BELOW the exchange — each map task keeps one
    * candidate row per key before shuffling, so the exchange carries
    * ~|keys| rows, not the log. The ordering column must be totally
    * ordered per key (here: a monotone id, deliberately NOT a raw
    * nanosecond timestamp — sub-microsecond ties rank nondeterministically
    * after timestamp-precision conversion).
    */
  def latestByKey(df: DataFrame, keyCol: String, ordCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("_rn", row_number().over(
      Window.partitionBy(keyCol).orderBy(col(ordCol).desc)))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** SNAPSHOT DIFF: classify every logical row of two table versions as
    * `added` / `removed` / `changed` — the audit view behind "what did
    * this batch actually do", and the generator for a CDC feed when the
    * upstream can only hand over full snapshots.
    *
    * Scale shape: ONE co-partitioned full-outer join on the key; unchanged
    * rows — the overwhelming mass between two versions of a 100 TB table —
    * are dropped before the output sort, so downstream work scales with
    * the CHANGE volume. Row-presence markers classify sides (a coalesced
    * key column cannot — it is non-null for every joined row); attribute
    * changes compare null-safely. For very wide rows, project each side to
    * `(key, xxhash64(attrs))` first so the shuffle carries 16 bytes per
    * row; here the attributes ride along so the oracle can re-derive the
    * classification exactly.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val o = oldSnap.select((keyCols ++ compareCols).map(col): _*)
      .withColumnsRenamed(compareCols.map(c => c -> s"old_$c").toMap)
      .withColumn("_in_old", lit(1))
    val n = newSnap.select((keyCols ++ compareCols).map(col): _*)
      .withColumnsRenamed(compareCols.map(c => c -> s"new_$c").toMap)
      .withColumn("_in_new", lit(1))
    val changed = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(changed, lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("change_type")) ++
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
      .orderBy(keyCols.map(col): _*)
  }

  /** Registered-query harness (e7_snapshot_diff): two order-table versions
    * derived from md5-nibble buckets of the key — nibble 0-1 rows exist
    * only in the old version (`removed`), 12-15 only in the new
    * (`added`), 4-5 get a one-dollar price bump (`changed`), the rest are
    * identical and must NOT appear in the diff. Money is compared in
    * integer cents.
    */
  def snapshotDiffDemo(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    def nb = TextOps.hexNibble("o_orderkey")
    val oldSnap = base.filter(nb <= 11)
    val newSnap = base.filter(nb >= 2)
      .withColumn("cents",
        when(nb.isin(4, 5), col("cents") + 100L).otherwise(col("cents")))
    snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"), Seq("o_orderstatus", "cents"))
  }

  /** The warehouse temporal-join demo: facts resolved against the SCD2
    * dimension AS OF two different times, side by side — "which segment
    * was this order's customer in before/after the batch-1 relocation".
    * Each PIT side collapses to the one version per key valid at its time
    * (`valid_from <= t < coalesce(valid_to, +inf)`), so both joins are
    * ordinary equi-joins (broadcast at dim size).
    */
  def pitLookupDemo(customer: DataFrame, orders: DataFrame): DataFrame = {
    // BOTH snapshots resolve in ONE pass over the version history: at most
    // one version per key is valid at each time, so a conditional-max
    // aggregation picks it without running the merge lineage (or the fact
    // join) once per point in time
    def validAt(t: Long) = col("valid_from") <= t &&
      (col("valid_to").isNull || col("valid_to") > t)
    val both = scd2Demo(customer).groupBy("c_custkey")
      .agg(max(when(validAt(0L), col("c_mktsegment"))).as("seg_t0"),
        max(when(validAt(1L), col("c_mktsegment"))).as("seg_t1"))
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(both, col("o_custkey") === col("c_custkey"), "left")
      .drop("c_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("seg_t0"), col("seg_t1"),
        (!(col("seg_t0") <=> col("seg_t1"))).as("segment_changed"))
      .orderBy("o_orderkey")
  }

  /** Registered-query harness (e2_scd2_merge): a deterministic CDC batch
    * derived from the customer dimension itself — md5-nibble buckets (the
    * t7 sampling primitive) select which keys change, pass through
    * unchanged, or arrive as brand-new keys — exercising every merge
    * branch with update values the oracle can reconstruct:
    *  - nibble < 4:       segment rewritten to 'RELOCATED'  → close + new version
    *  - nibble in [4, 6): identical attribute values         → NO new version
    *  - nibble >= 14:     key + 10_000_000, fresh attributes → plain insert
    */
  def scd2Demo(customer: DataFrame, batchId: Long = 1L): DataFrame = {
    val dim = customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    def nb = TextOps.hexNibble("c_custkey")
    val changed = dim.filter(nb < 4).withColumn("c_mktsegment", lit("RELOCATED"))
    val noop = dim.filter(nb >= 4 && nb < 6)
    val inserts = dim.filter(nb >= 14)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        lit("NEWSEG").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
    scd2Merge(scd2Init(dim), changed.unionByName(noop).unionByName(inserts),
      Seq("c_custkey"), Seq("c_mktsegment", "c_acctbal"), batchId)
      // (key, valid_from) is unique — at most one closed + one opened row
      // per key per batch — so the sort is total and oracle-comparable
      .orderBy("c_custkey", "valid_from")
  }

  /** CDC CHANGELOG APPLY: compact a multi-operation change stream to its
    * per-key FINAL operation, then merge into the base snapshot — the
    * Debezium/binlog-consumer pattern (upsert-with-delete materialization)
    * that [[scd2Merge]]'s key-unique-batch precondition delegates to.
    *
    * Semantics per key, ops ordered by `seq`: the LAST operation wins —
    * `D` removes the key, anything else upserts its payload; keys the
    * changelog never touches keep their base row. `src` labels the
    * provenance (base / update / insert).
    *
    * Scale shape: compaction is ONE `max_by` hash aggregate on the key —
    * partial max_by combines map-side, so a key with a million changelog
    * entries ships one row per map task, never the history (the
    * sort-within-key window alternative buffers and shuffles every
    * operation). The merge is one full-outer join of base against the
    * already-compacted (≤ one row per key) batch.
    */
  def cdcApply(base: DataFrame, changelog: DataFrame): DataFrame = {
    // ordering struct (seq, op, cents): seq decides, and a seq TIE falls
    // back on the payload itself — rows that still tie are identical, so
    // the winner is deterministic on any engine (a bare max_by(_, seq)
    // would be partition-order-dependent under duplicate seqs)
    val compacted = changelog
      .groupBy("key")
      .agg(max_by(struct(col("op"), col("cents")),
        struct(col("seq"), col("op"), col("cents"))).as("last"))
      .select(col("key"), col("last.op").as("op"), col("last.cents").as("chg_cents"))
    base.join(compacted, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        coalesce(col("chg_cents"), col("base_cents")).as("cents"),
        when(col("op").isNull, "base")
          .when(col("base_cents").isNull, "insert")
          .otherwise("update").as("src"))
      .orderBy("key")
  }

  /** Registered-query harness (e21_cdc_apply): base = orders whose key
    * md5-nibble < 12; changelog = lineitem rows replayed as operations on
    * their order (seq = l_linenumber, so keys carry up to 7 competing
    * ops and compaction is actually exercised; `R` return-flag rows
    * delete, everything else upserts the line's extended price). Nibble
    * ≥ 12 orders exist only through the changelog → `insert` branch.
    */
  def cdcApplyDemo(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val base = orders
      .filter(TextOps.hexNibble("o_orderkey") < 12)
      .select(col("o_orderkey").as("key"),
        round(col("o_totalprice") * 100).cast("long").as("base_cents"))
    val changelog = lineitem.select(
      col("l_orderkey").as("key"), col("l_linenumber").as("seq"),
      when(col("l_returnflag") === "R", "D").otherwise("U").as("op"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    cdcApply(base, changelog)
  }

  /** INCREMENTAL JOIN-VIEW MAINTENANCE contract: the delta-decomposition
    * identity  Δ(L ⋈ O) = ΔL⋈O₀ ∪ L₀⋈ΔO ∪ ΔL⋈ΔO  applied to a revenue
    * view over lineitem ⋈ orders, witnessed against a from-scratch
    * recompute. This is the algebra that lets a 100 TB materialized view
    * absorb a batch at cost ∝ |Δ| (each delta term has a delta side —
    * small, broadcastable) instead of re-scanning both full tables; the
    * stored view contributes the `view_old` term without recomputation in
    * production (recomputed here only so the contract is self-contained).
    *
    * Output per o_orderstatus: the recomputed aggregate, the maintained
    * aggregate (old view + three delta terms), and the equality booleans
    * the driver hash-compares as literal TRUE. Additivity of SUM/COUNT
    * over the disjoint union is what makes maintenance exact — the same
    * reason the terms must partition the new-pairs space: L and O split
    * on INDEPENDENT deterministic predicates (line number / key nibble),
    * so every (line, order) pair lands in exactly one term.
    */
  def joinMaintenanceDemo(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_orderstatus"))
    val l = lineitem.select(col("l_orderkey"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val (oOld, oNew) = (o.filter(TextOps.hexNibble("o_orderkey") < 12),
      o.filter(TextOps.hexNibble("o_orderkey") >= 12))
    val (lOld, lNew) = (l.filter(col("l_orderkey") % 7 =!= 0),
      l.filter(col("l_orderkey") % 7 === 0))
    def agg(li: DataFrame, or: DataFrame) = li
      .join(or, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(sum(col("cents")).as("c"), count(lit(1)).as("n"))
    val maintained = agg(lOld, oOld)      // = the stored view in production
      .unionByName(agg(lNew, oOld))       // ΔL ⋈ O₀
      .unionByName(agg(lOld, oNew))       // L₀ ⋈ ΔO
      .unionByName(agg(lNew, oNew))       // ΔL ⋈ ΔO
      .groupBy("o_orderstatus")
      .agg(sum(col("c")).as("maintained_cents"), sum(col("n")).as("maintained_rows"))
    val full = agg(l, o)
      .select(col("o_orderstatus"), col("c").as("full_cents"), col("n").as("full_rows"))
    full.join(maintained, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"), col("full_cents"), col("maintained_cents"),
        col("full_rows"), col("maintained_rows"),
        (col("full_cents") <=> col("maintained_cents")).as("cents_agree"),
        (col("full_rows") <=> col("maintained_rows")).as("rows_agree"))
      .orderBy("o_orderstatus")
  }

  /** GOLDEN-RECORD attribute survivorship (the MDM merge pattern): one
    * consolidated row per entity where EACH attribute independently takes
    * its most recent NON-NULL observation, with per-attribute provenance
    * (the µs timestamp of the contributing event) — unlike
    * [[latestByKey]], which keeps one whole winning row, survivorship
    * composes the golden row from different source events per column.
    *
    * Recency is the total order (us, event_id) — event_id is unique, so
    * ties at the same microsecond resolve deterministically. Each
    * attribute is a `max_by(struct(us, event_id, attr)) FILTER (WHERE
    * attr IS NOT NULL)` leg: all legs ride ONE map-side-combining hash
    * aggregate keyed by user_id (state = a handful of scalars per entity,
    * never the event list), so 100 TB of history consolidates in a single
    * exchange. Entities with zero observations for an attribute surface
    * NULL there (never a resurrected stale value).
    *
    * Attributes deliberately come from DIFFERENT source events — spend
    * from the latest purchase (integer cents), `k` from the latest
    * click's `props` JSON, status from any event — so the golden row is
    * genuinely composed, not a copy of one winning event.
    */
  def goldenRecord(events: DataFrame): DataFrame = {
    val base = events.select(
      col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"),
      col("event_type"),
      when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).as("value_cents"),
      when(col("event_type") === "click",
        get_json_object(col("props"), "$.k").cast("long")).as("k"))
    def lastNonNull(attr: String) = expr(
      s"""max_by(struct(us, event_id, $attr), struct(us, event_id))
         |  FILTER (WHERE $attr IS NOT NULL)""".stripMargin)
    base
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        lastNonNull("event_type").as("_t"),
        lastNonNull("value_cents").as("_v"),
        lastNonNull("k").as("_k"))
      .select(col("user_id"), col("n_events"),
        col("_t.event_type").as("last_event_type"),
        col("_t.us").as("last_event_type_us"),
        col("_v.value_cents").as("last_purchase_cents"),
        col("_v.us").as("last_purchase_us"),
        col("_k.k").as("last_click_k"),
        col("_k.us").as("last_click_us"))
      .orderBy("user_id")
  }

  /** BITEMPORAL AS-OF — the two-axis upgrade of [[pitSnapshot]]: every
    * assertion carries a TRANSACTION day (when the warehouse learned it)
    * AND a VALID day (when it became true in the world), and the query
    * "what did we believe at time T about the state at time V" resolves,
    * per key, to the latest-transacted assertion with `txn <= T` whose
    * validity has begun (`vd <= V`). SCD2 alone cannot answer this:
    * a RETROACTIVE correction (learned late, valid early) silently
    * rewrites what PIT reads for historical V — bitemporal keeps both
    * readings reproducible, which is what audit/restatement (and
    * leakage-free ML feature backfills) require.
    *
    * The assertion log derives deterministically from `orders` so the
    * oracle reconstructs it exactly:
    *  - every order: original price asserted at `txn = vd = o_orderdate`;
    *  - md5-nibble₁ < 4: a correction (+500 cents) asserted 10 days
    *    later but valid from 5 days EARLIER — the retro case;
    *  - md5-nibble₂ < 2: a void (price → 0) asserted 20 days later.
    *
    * Resolution is ONE hash aggregate per key — per-key `txn` values are
    * distinct by construction, so `max(struct(txn, cents))` under each
    * scenario's qualifying filter is the bitemporal winner, and BOTH
    * scenarios (knowledge at D vs final knowledge) resolve in the same
    * pass: one shuffle of one row per (key, assertion), partial-aggregated
    * map-side. No windows, no per-scenario re-join — at 100 TB the cost is
    * the one keyed exchange the semantics require.
    */
  def bitemporalAsOf(orders: DataFrame): DataFrame = {
    val D = java.time.LocalDate.of(1995, 6, 1).toEpochDay // knowledge + valid cut
    val o = orders.select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("pr"),
      datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("d0"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      TextOps.hexNibble("o_orderkey").as("n1"),
      TextOps.hexNibble("o_orderkey", 2).as("n2"))
    val assertions = o.select(col("k"), col("pr"), col("d0").as("txn"),
        col("d0").as("vd"), col("cents"))
      .unionByName(o.filter(col("n1") < 4).select(col("k"), col("pr"),
        (col("d0") + 10).as("txn"), (col("d0") - 5).as("vd"),
        (col("cents") + 500).as("cents")))
      .unionByName(o.filter(col("n2") < 2).select(col("k"), col("pr"),
        (col("d0") + 20).as("txn"), col("d0").as("vd"), lit(0L).as("cents")))
    def winner(cond: Column) =
      max(when(cond, struct(col("txn"), col("cents"))))
    val perKey = assertions.groupBy("k", "pr").agg(
      winner(col("txn") <= D && col("vd") <= D).as("asof"),
      winner(col("vd") <= D).as("fin"))
    perKey.groupBy(col("pr").as("o_orderpriority")).agg(
        count(when(col("asof").isNotNull, 1)).as("n_known"),
        sum(col("asof.cents")).as("cents_known"),
        count(when(col("fin").isNotNull, 1)).as("n_final"),
        sum(col("fin.cents")).as("cents_final"),
        count(when(col("asof.cents") =!= col("fin.cents"), 1)).as("n_revised"))
      .orderBy("o_orderpriority")
  }
}
