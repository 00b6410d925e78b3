package graft

import org.apache.spark.sql.functions._
import graft.operators.MergeOps

/** SCD Type-2 merge invariants: one open version per key, closed rows
  * stamped with the closing batch, no-op updates emit nothing, and the
  * merge is idempotent under batch redelivery.
  */
class MergeOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def dim = Seq(
    (1L, "BUILDING", 10.0),
    (2L, "MACHINERY", 20.0),
    (3L, "HOUSEHOLD", 30.0)
  ).toDF("k", "seg", "bal")

  private def updates = Seq(
    (1L, "RELOCATED", 10.0), // changed -> close + new version
    (2L, "MACHINERY", 20.0), // identical -> no-op
    (9L, "NEWSEG", 0.0)      // unknown key -> insert
  ).toDF("k", "seg", "bal")

  private def merge(cur: org.apache.spark.sql.DataFrame, batch: Long) =
    MergeOps.scd2Merge(cur, updates, Seq("k"), Seq("seg", "bal"), batch)

  test("scd2 merge closes changed, skips no-ops, inserts new keys") {
    val out = merge(MergeOps.scd2Init(dim), 1L).cache()
    // exactly one OPEN row per key, including the insert
    val open = out.filter(col("is_current"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(open === Map(1L -> "RELOCATED", 2L -> "MACHINERY",
      3L -> "HOUSEHOLD", 9L -> "NEWSEG"))
    // the superseded row is closed AT the batch id, original values kept
    val closed = out.filter(!col("is_current")).collect()
    assert(closed.length === 1)
    assert(closed.head.getLong(0) === 1L)
    assert(closed.head.getString(1) === "BUILDING")
    assert(closed.head.getLong(4) === 1L, "valid_to must be the closing batch")
    // the no-op update must NOT have produced a second version for key 2
    assert(out.filter(col("k") === 2L).count() === 1)
    out.unpersist()
  }

  test("scd2 merge is idempotent under batch redelivery") {
    val once = merge(MergeOps.scd2Init(dim), 1L)
    val twice = merge(once, 2L)
    // redelivering the same batch finds every update already applied:
    // nothing closes, nothing inserts — byte-identical version table
    val a = once.orderBy("k", "valid_from").collect().toSeq
    val b = twice.orderBy("k", "valid_from").collect().toSeq
    assert(a === b)
  }

  test("scd2 history rows pass through untouched across batches") {
    val v1 = merge(MergeOps.scd2Init(dim), 1L)
    // second batch changes key 1 again -> key 1 accumulates THREE versions
    val upd2 = Seq((1L, "RELOCATED-2", 11.0)).toDF("k", "seg", "bal")
    val v2 = MergeOps.scd2Merge(v1, upd2, Seq("k"), Seq("seg", "bal"), 2L)
    val k1 = v2.filter(col("k") === 1L).orderBy("valid_from")
      .collect().map(r => (r.getString(1), r.get(3), r.get(4), r.getBoolean(5)))
    assert(k1.toSeq === Seq(
      ("BUILDING", 0L, 1L, false),
      ("RELOCATED", 1L, 2L, false),
      ("RELOCATED-2", 2L, null, true)))
  }

  test("scd2 merge rejects a non-key-unique updates batch at runtime") {
    // two versions of key 1 in one batch would fan out the join and leave
    // two open rows — the in-plan gate must fail the action instead
    val dup = Seq((1L, "X", 1.0), (1L, "Y", 2.0)).toDF("k", "seg", "bal")
    val e = intercept[Exception] {
      MergeOps.scd2Merge(MergeOps.scd2Init(dim), dup,
        Seq("k"), Seq("seg", "bal"), 1L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("not key-unique")), e.toString)
  }

  test("latestByKey is map-side-limited (WindowGroupLimit) and picks the max-ord row") {
    val ev = Tables.events(spark, sf0001).select("event_id", "user_id", "value")
    val out = MergeOps.latestByKey(ev, "user_id", "event_id")
    // Spark 4 plans row_number()=1 as WindowGroupLimit below the exchange:
    // each map task forwards ONE candidate per key, so the shuffle carries
    // ~|keys| rows, not the whole change log — the property that makes
    // CDC compaction viable on a 100 TB upsert log
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
    val expected = ev.groupBy("user_id")
      .agg(max("event_id").as("event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(got === expected)
  }

  test("snapshot diff classifies added/removed/changed and drops unchanged") {
    val oldSnap = Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "C", 30L),
      (5L, null.asInstanceOf[String], 50L)).toDF("k", "seg", "cents")
    val newSnap = Seq((2L, "B", 20L), (3L, "C", 31L), (4L, "D", 40L),
      (5L, "E", 50L)).toDF("k", "seg", "cents")
    val got = MergeOps.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("seg", "cents"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 2L unchanged -> absent; 5L null -> non-null is a change (null-safe)
    assert(got === Map(1L -> "removed", 3L -> "changed", 4L -> "added",
      5L -> "changed"))
  }

  test("scd2 demo matches its oracle shape on the fixture") {
    val out = MergeOps.scd2Demo(Tables.customer(spark, sf0001))
    val total = Tables.customer(spark, sf0001).count()
    // every pre-existing key keeps >= 1 row; inserts add more
    assert(out.select("c_custkey").distinct().count() > total)
    // at most one open row per key — the SCD2 core invariant
    val maxOpen = out.filter(col("is_current")).groupBy("c_custkey")
      .count().agg(max("count")).head().getLong(0)
    assert(maxOpen === 1L)
  }

  test("point-in-time lookup resolves one version per key and flags real changes") {
    val dim = MergeOps.scd2Demo(Tables.customer(spark, sf0001))
    for (t <- Seq(0L, 1L)) {
      val dup = dim.filter(col("valid_from") <= t &&
          (col("valid_to").isNull || col("valid_to") > t))
        .groupBy("c_custkey").count().filter(col("count") > 1).count()
      assert(dup === 0, s"multiple versions valid at t=$t")
    }
    val pit = MergeOps.pitLookupDemo(
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001))
    val nb = graft.operators.TextOps.hexNibble("o_custkey")
    // nibble < 4 customers were RELOCATED in batch 1: exactly those orders
    // flip segment; everyone else resolves identically at both times
    assert(pit.filter(nb < 4 &&
      (!col("segment_changed") || col("seg_t1") =!= "RELOCATED")).count() === 0)
    assert(pit.filter(nb >= 4 && col("segment_changed")).count() === 0)
    assert(pit.filter(nb < 4).count() > 0)
  }

  test("cdcApply: last op wins, deletes remove, untouched keys keep base") {
    val base = Seq((1L, 100L), (2L, 200L), (3L, 300L))
      .toDF("key", "base_cents")
    val changelog = Seq(
      (1L, 1L, "U", 110L), (1L, 2L, "U", 120L), // compaction: seq 2 wins
      (2L, 1L, "U", 210L), (2L, 2L, "D", 0L),   // delete after update → gone
      (4L, 1L, "U", 400L), (4L, 2L, "U", 410L), // insert of a new key
      (5L, 1L, "D", 0L)                          // delete of an absent key → no row
    ).toDF("key", "seq", "op", "cents")
    val out = MergeOps.cdcApply(base, changelog)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out === Map(
      1L -> ((120L, "update")),
      3L -> ((300L, "base")),
      4L -> ((410L, "insert"))))
  }

  test("cdcApply compaction is a single hash aggregate, no window pass") {
    val base = Seq((1L, 100L)).toDF("key", "base_cents")
    val changelog = Seq((1L, 1L, "U", 110L)).toDF("key", "seq", "op", "cents")
    val plan = MergeOps.cdcApply(base, changelog)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"compaction must not sort/window:\n$plan")
  }

  test("join-maintenance contract holds TRUE on the fixture") {
    val out = MergeOps.joinMaintenanceDemo(
      Tables.orders(spark, sf001), Tables.lineitem(spark, sf001)).cache()
    assert(out.count() > 0)
    assert(out.filter(!col("cents_agree") || !col("rows_agree")).count() === 0,
      "delta decomposition must equal the recompute for every group")
    out.unpersist()
  }

  test("bitemporalAsOf: retro corrections revise the past, late knowledge appears only in the final reading") {
    import spark.implicits._
    // md5 nibbles of the key decide its assertion lineage — pick keys by
    // the same derivation the operator (and oracle) use
    def nib(k: Long, pos: Int): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(h.substring(pos - 1, pos), 16)
    }
    val plainKey = (1L to 500L).find(k => nib(k, 1) >= 4 && nib(k, 2) >= 2).get
    val retroKey = (1L to 500L).find(k => nib(k, 1) < 4 && nib(k, 2) >= 2).get
    val lateKey  = (500L to 1000L).find(k => nib(k, 1) < 4 && nib(k, 2) >= 2).get
    val voidKey  = (1L to 500L).find(k => nib(k, 2) < 2 && nib(k, 1) >= 4).get
    val D = java.time.LocalDate.of(1995, 6, 1).toEpochDay
    def date(d: Long) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))
    val orders = Seq(
      // plain: one assertion, inside both horizons
      (plainKey, "P1", date(D - 100), 100.00),
      // retro: original on D-3; the +500-cent correction transacts D+7
      // (after the knowledge cut) but is valid from D-8 -> the two
      // readings disagree about the SAME valid instant
      (retroKey, "P2", date(D - 3), 200.00),
      // late: ordered D+4, so at T=D nothing is known; the correction's
      // retro validity (D-1) makes it visible to the final reading only
      (lateKey, "P3", date(D + 4), 300.00),
      // void: price zeroed 20 days after a D-30 order — latest txn wins
      // in both readings, nothing revised
      (voidKey, "P4", date(D - 30), 400.00)
    ).toDF("o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice")
    val out = MergeOps.bitemporalAsOf(orders).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("P1").getLong(1) === 1L && out("P1").getLong(5) === 0L)
    assert(out("P1").getLong(2) === 10000L && out("P1").getLong(4) === 10000L)
    assert(out("P2").getLong(2) === 20000L, "at T=D we believed the original price")
    assert(out("P2").getLong(4) === 20500L, "final knowledge applies the retro correction")
    assert(out("P2").getLong(5) === 1L, "the key counts as revised")
    assert(out("P3").getLong(1) === 0L, "nothing known about the late order at T=D")
    assert(out("P3").getLong(3) === 1L && out("P3").getLong(4) === 30500L,
      "the retro-valid correction surfaces only in the final reading")
    assert(out("P4").getLong(2) === 0L && out("P4").getLong(4) === 0L
      && out("P4").getLong(5) === 0L, "void wins both readings, not a revision")
  }
}
