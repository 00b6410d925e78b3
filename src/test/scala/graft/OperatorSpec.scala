package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Unit semantics for the relational battery on crafted inputs (the
  * fixture-level behavior is oracle-checked; these pin the edge cases the
  * sf0.01 data can't exercise).
  */
class OperatorSpec extends SparkTestBase {
  import spark.implicits._

  test("unionByName is column-order independent") {
    val a = Seq((1L, "x", 10.0)).toDF("k", "s", "v")
    val b = Seq((20.0, "y", 2L)).toDF("v", "s", "k")
    val u = a.unionByName(b.select("k", "s", "v")).orderBy("k")
    assert(u.columns.toSeq === Seq("k", "s", "v"))
    assert(u.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("anti join keeps exactly the unmatched left rows") {
    val cust = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c_custkey", "c_name")
    val ords = Seq((10L, 1L)).toDF("o_orderkey", "o_custkey")
    val r = JoinOps.antiJoin(cust, ords).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(2L, 3L))
  }

  test("semi join emits each matching left row once") {
    val ords = Seq((1L, 5.0), (2L, 6.0)).toDF("o_orderkey", "o_totalprice")
    val li = Seq((1L, 50.0), (1L, 60.0), (3L, 50.0))
      .toDF("l_orderkey", "l_quantity")
    val r = JoinOps.semiJoin(ords, li).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("except/intersect on crafted keys") {
    val c = Seq(1L, 2L, 3L).toDF("c_custkey").withColumn("c_name", lit("n"))
    val o = Seq(2L).toDF("o_custkey")
    assert(SetOps.exceptKeys(c, o).collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(SetOps.intersectKeys(c, o).collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("symmetric diff reports |count_a - count_b| with the surplus side") {
    // URGENT: 3 in 1996 vs 1 in 1997 → surplus 1996 ×2; LOW: 0 vs 2 →
    // surplus 1997 ×2; HIGH: 1 vs 1 → equal multiplicity, must vanish
    val rows = Seq(
      ("URGENT", "1996-02-01"), ("URGENT", "1996-03-01"), ("URGENT", "1996-04-01"),
      ("URGENT", "1997-02-01"),
      ("LOW", "1997-05-01"), ("LOW", "1997-06-01"),
      ("HIGH", "1996-07-01"), ("HIGH", "1997-07-01"),
      ("HIGH", "1995-01-01")) // out-of-range year must be ignored
      .toDF("o_orderpriority", "d")
      .withColumn("o_orderdate", col("d").cast("date"))
    val out = SetOps.symmetricDiffPriorities(rows).collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("LOW", "1997", 2L), ("URGENT", "1996", 2L)))
  }

  test("guarded rename falls back only when date is absent") {
    val noDate = Seq((1L, "t")).toDF("o_orderkey", "o_orderdate")
    assert(ColumnOps.guardedRename(noDate).columns.contains("date"))
    val hasDate = Seq((1L, "keep", "x")).toDF("o_orderkey", "date", "o_orderdate")
    // date already present → o_orderdate must NOT be renamed over it
    val out = ColumnOps.guardedRename(hasDate).collect()
    assert(out.head.getString(1) === "keep")
  }

  test("broadcast dim join plans a BroadcastHashJoin") {
    val plan = JoinOps.broadcastDim(Tables.nation(spark, sf0001),
      Tables.region(spark, sf0001)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("star join broadcasts all three dims") {
    val plan = JoinOps.starJoin(Tables.lineitem(spark, sf0001),
      Tables.orders(spark, sf0001), Tables.customer(spark, sf0001),
      Tables.nation(spark, sf0001), Tables.region(spark, sf0001))
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("top-k plans TakeOrderedAndProject (no global sort materialization)") {
    val plan = SetOps.topK(Tables.orders(spark, sf0001), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("projection prunes the parquet read schema") {
    val plan = ColumnOps.projection(Tables.part(spark, sf0001))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("p_type"), s"unused column must be pruned:\n$plan")
  }

  test("asof join matches a brute-force reference on random data") {
    val rnd = new scala.util.Random(11)
    val leftRows = (0 until 200).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val rightRows = (0 until 150).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, 1000L + i))
    // dedupe times per key to keep the expected answer well-defined
    val l = leftRows.distinctBy(r => (r._1, r._2))
    val r = rightRows.distinctBy(r => (r._1, r._2))
    val left = l.toDF("k", "t", "lid")
    val right = r.toDF("k", "t", "rid")

    val got = JoinOps.asofJoin(left, right, key = "k", time = "t",
      rightCols = Seq("rid"))
      .collect().map(row => row.getLong(2) -> Option(row.get(3)).map(_.asInstanceOf[Long])).toMap

    val want = l.map { case (k, t, lid) =>
      val candidates = r.filter(rr => rr._1 == k && rr._2 <= t)
      lid -> (if (candidates.isEmpty) None
              else Some(candidates.maxBy(_._2)._3))
    }.toMap
    assert(got === want)
  }

  test("forward asof join matches a brute-force reference on random data") {
    val rnd = new scala.util.Random(13)
    val l = (0 until 200).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .distinctBy(r => (r._1, r._2))
    val r = (0 until 150).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, 1000L + i))
      .distinctBy(r => (r._1, r._2))
    val got = JoinOps.asofJoin(l.toDF("k", "t", "lid"), r.toDF("k", "t", "rid"),
      key = "k", time = "t", rightCols = Seq("rid"), direction = "forward")
      .collect().map(row => row.getLong(2) ->
        Option(row.get(3)).map(_.asInstanceOf[Long])).toMap
    val want = l.map { case (k, t, lid) =>
      val candidates = r.filter(rr => rr._1 == k && rr._2 >= t)
      lid -> (if (candidates.isEmpty) None
              else Some(candidates.minBy(_._2)._3))
    }.toMap
    assert(got === want)
    // equal timestamps match in BOTH directions (inclusive)
    val tied = JoinOps.asofJoin(
      Seq((1L, 10L, 1L)).toDF("k", "t", "lid"),
      Seq((1L, 10L, 99L)).toDF("k", "t", "rid"),
      "k", "t", Seq("rid"), direction = "forward").head()
    assert(tied.getLong(3) === 99L)
  }

  test("asof tolerance: distant matches revert to null, boundary inclusive") {
    val left = Seq((1L, 100L, 1L), (1L, 200L, 2L), (1L, 1000L, 3L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 90L, 90L)).toDF("k", "t", "rid")
    def run(tol: Option[Long]) = JoinOps.asofJoin(left, right, "k", "t",
      Seq("rid"), tolerance = tol)
      .collect().map(r => r.getLong(2) ->
        Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    // no tolerance: the 90-click carries forever
    assert(run(None) === Map(1L -> Some(90L), 2L -> Some(90L), 3L -> Some(90L)))
    // tolerance 110: gap 10 and 110 qualify (boundary inclusive), 910 not
    assert(run(Some(110L)) ===
      Map(1L -> Some(90L), 2L -> Some(90L), 3L -> None))
    // forward direction: gaps measured the other way
    val fwd = JoinOps.asofJoin(
      Seq((1L, 100L, 1L)).toDF("k", "t", "lid"),
      Seq((1L, 150L, 150L), (2L, 90L, 90L)).toDF("k", "t", "rid"),
      "k", "t", Seq("rid"), direction = "forward", tolerance = Some(49L))
      .collect().map(r => Option(r.get(3))).head
    assert(fwd.isEmpty, "gap 50 > tolerance 49 must not match")
  }

  test("asof join carries the matched row atomically — a null field stays null") {
    val left = Seq((1L, 12L, 100L)).toDF("k", "t", "lid")
    val right = Seq((1L, 3L, Some(7.0), "old"), (1L, 10L, None, "new"))
      .toDF("k", "t", "cv", "tag")
    val out = JoinOps.asofJoin(left, right, "k", "t", Seq("cv", "tag")).collect().head
    // matched row is (t=10): its null cv must NOT be replaced by the older
    // row's 7.0, and tag must come from the same matched row
    assert(out.isNullAt(out.fieldIndex("asof_cv")), out.toString)
    assert(out.getString(out.fieldIndex("asof_tag")) === "new")
  }

  test("asof join rejects colliding column names") {
    val left = Seq((1L, 2L)).toDF("k", "t").withColumn("_tag", lit(0))
    val right = Seq((1L, 1L, 5.0)).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      JoinOps.asofJoin(left, right, "k", "t", Seq("v"))
    }
  }

  test("asof join plan is one shuffle + window — no join operator") {
    val ev = Tables.events(spark, sf0001)
    val plan = JoinOps.asofJoin(
      ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "value"),
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("value").as("cv")),
      "user_id", "event_id", Seq("cv"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"asof must compose without a join:\n$plan")
    assert("(?s)Window".r.findAllIn(plan).size === 1, plan)
  }

  test("sort-based percentile equals the builtin percentile aggregate exactly") {
    val li = Tables.lineitem(spark, sf0001)
    // builtin (buffer-per-group) formulation, full precision — the
    // sort-based rewrite must reproduce its interpolation bit-for-bit
    val builtin = li.groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.9)).as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // recompute sort-based WITHOUT rounding by reusing the public op at
    // higher precision: compare rounded(14) ≈ full double equality
    val sorted = Aggregates.percentiles(li).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def r4(x: Double) = // Spark round() semantics: HALF_UP at scale 4
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    builtin.foreach { case (k, (b50, b90)) =>
      val (s50, s90) = sorted(k)
      assert(s50 === r4(b50), s"$k p50: $b50 vs $s50")
      assert(s90 === r4(b90), s"$k p90: $b90 vs $s90")
    }
  }

  test("percentile rewrite: also exact on a crafted group with interpolation") {
    // 4 values, p=0.5 → pos 1.5 → (2-1.5)*20 + (1.5-1)*30 = 25.0
    val df = Seq(("A", 10.0), ("A", 20.0), ("A", 30.0), ("A", 40.0))
      .toDF("l_returnflag", "l_extendedprice")
    val r = Aggregates.percentiles(df).collect().head
    assert(r.getDouble(1) === 25.0)   // p50
    assert(r.getDouble(3) === 25.0)   // med
    // p=0.9 → pos 2.7 → (3-2.7)*30 + (2.7-2)*40 = 37.0
    assert(r.getDouble(2) === 37.0)
  }

  test("approxDistinctChecked matches exact counts and passes its own bound") {
    val li = Tables.lineitem(spark, sf0001)
    val exact = Aggregates.distinctCount(li).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val checked = Aggregates.approxDistinctChecked(li).collect()
    checked.foreach { r =>
      assert(r.getLong(1) === exact(r.getString(0)), "n_exact_parts must be exact")
      assert(r.getBoolean(2), s"HLL outside 3*rsd for ${r.getString(0)}")
    }
  }

  test("typed curation gate equals the untyped column pipeline") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val untyped = Dedup.curatedCorpus(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val typed = TypedOps.curatedCorpusTyped(docs.as[TypedOps.Doc]).collect()
      .map(c => (c.doc_id, c.n_tokens)).toSeq
    assert(typed === untyped)
    assert(typed.nonEmpty)
  }

  test("deterministic sample: stable across runs/partitionings, rate near target") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang")
    val n = docs.count()
    val ids = TextOps.deterministicSample(docs, "doc_id", 6)
      .collect().map(_.getLong(0)).toSeq
    // same selection regardless of physical layout — the whole point
    // vs df.sample()'s per-partition RNG
    val reparted = TextOps.deterministicSample(docs.repartition(13), "doc_id", 6)
      .collect().map(_.getLong(0)).toSeq
    assert(ids === reparted, "selection must not depend on partitioning")
    val rate = ids.size.toDouble / n
    assert(rate > 0.20 && rate < 0.55, s"expected ~6/16=0.375, got $rate")
    assert(TextOps.deterministicSample(docs, "doc_id", 16).count() === n)
    assert(TextOps.deterministicSample(docs, "doc_id", 0).count() === 0)
  }

  test("stratified sample applies per-stratum rates, subset semantics hold") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang")
    val sampled = TextOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 6), defaultSixteenths = 12).collect()
    val uniform6 = TextOps.deterministicSample(docs, "doc_id", 6)
      .collect().map(_.getLong(0)).toSet
    val uniform12 = TextOps.deterministicSample(docs, "doc_id", 12)
      .collect().map(_.getLong(0)).toSet
    // a rate-6 stratum is exactly the uniform-6 selection restricted to
    // the stratum (nested samples — the nibble decision is shared)
    val en = sampled.filter(_.getString(1) == "en").map(_.getLong(0)).toSet
    val rest = sampled.filter(_.getString(1) != "en").map(_.getLong(0)).toSet
    assert(en.subsetOf(uniform6))
    assert(rest.subsetOf(uniform12))
    assert((en ++ rest).subsetOf(uniform12), "rates nest: 6/16 ⊂ 12/16")
  }

  test("boilerplate strip removes exactly the covered spans") {
    import spark.implicits._
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"   // df = 3 → stripped
    val rare = "c1 c2 c3 c4 c5 c6 c7 c8"     // df = 2 → kept
    val docs = Seq(
      (0L, s"x $boiler y"),                  // span inside a doc
      (1L, s"$boiler $boiler"),              // two occurrences, fully stripped
      (2L, boiler),                          // exactly one gram, fully stripped
      (3L, "u v w"),                         // shorter than n — untouched
      (4L, s"p $rare"),
      (5L, s"$rare q")
    ).toDF("doc_id", "text")
    val out = TextOps.stripBoilerplate(docs, n = 8, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(0L) === ((10, 8, "x y")))
    assert(out(1L) === ((16, 16, "")), "both occurrences' spans union")
    assert(out(2L) === ((8, 8, "")))
    assert(out(3L) === ((3, 0, "u v w")))
    assert(out(4L) === ((9, 0, s"p $rare")), "df=2 gram survives")
    assert(out(5L) === ((9, 0, s"$rare q")))
  }

  test("repeated spans: maximal intervals, overlaps and adjacency merge") {
    import spark.implicits._
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (0L, s"x $boiler y"),          // one span [1, 9)
      (1L, s"$boiler $boiler"),      // adjacent occurrences merge: [0, 16)
      (2L, boiler),                  // whole doc: [0, 8)
      (3L, "u v w"),                 // no spans → no rows
      (4L, s"$boiler z $boiler")     // gap of one token → TWO spans
    ).toDF("doc_id", "text")
    val spans = TextOps.repeatedSpans(docs, n = 8, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.toSeq === Seq(
      (0L, 1, 9, 8L),
      (1L, 0, 16, 16L),
      (2L, 0, 8, 8L),
      (4L, 0, 8, 8L), (4L, 9, 17, 8L)))
  }

  test("repeated spans agree with boilerplate strip on the fixture") {
    // two independent formulations of the same coverage: per doc, the
    // spans' token total must equal the strip's removed-token count, and
    // docs absent from the span report must have zero tokens removed
    val docs = Tables.documents(spark, sf0001)
    val spanTotals = TextOps.repeatedSpans(docs, 8, 3)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("span_tokens").as("covered"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removed = TextOps.stripBoilerplate(docs, 8, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    assert(removed.nonEmpty)
    removed.foreach { case (doc, n) =>
      assert(spanTotals.getOrElse(doc, 0L) === n,
        s"doc $doc: spans cover ${spanTotals.getOrElse(doc, 0L)}, strip removed $n")
    }
  }

  test("group split: sources co-travel, leakage witness holds") {
    import spark.implicits._
    // many docs per source: every doc of a source must share its split
    val docs = (0 until 60).map(i => (i.toLong, s"src${i % 6}", s"text $i"))
      .toDF("doc_id", "source", "text")
    val out = TextOps.groupSplit(docs, "source", 12, 2).collect()
    assert(out.forall(_.getBoolean(3)), "no source spans two splits")
    assert(out.map(_.getLong(2)).sum === 60L, "every doc lands in a split")
    assert(out.map(_.getLong(1)).sum === 6L,
      "every source counted exactly once across splits")
    // each source contributes all 10 docs to one split: per-split doc
    // counts are multiples of 10
    assert(out.forall(r => r.getLong(2) % 10 === 0),
      s"whole sources move together: ${out.mkString(",")}")
  }

  test("bm25 ranking: idf dominance, tf monotonicity, length normalization") {
    import spark.implicits._
    val docs = Seq(
      (1L, "rare x x x"),          // one rare-term hit
      (2L, "common x x x"),        // one common-term hit, same length
      (3L, "common common x x"),   // two common-term hits, same length
      (4L, "common x"),            // one common-term hit, shorter doc
      (5L, "common y y y"),
      (6L, "common z z z"),
      (7L, "filler filler filler")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25Rank(docs, Seq("rare", "common"), k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(!out.contains(7L), "docs hitting no query term are unranked")
    assert(out(1L) > out(2L), "rare term (df=1) outscores common (df=5)")
    assert(out(3L) > out(2L), "higher tf scores higher, all else equal")
    assert(out(4L) > out(2L), "shorter doc scores higher at equal tf")
  }

  test("lm quality score: hand-computed floor-log2 values, OOV scores zero") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a a"),         // cnt(a)=4 → flog2(5)=2 per token
      (1L, "w x y z")          // four singletons → flog2(2)=1 per token
    ).toDF("doc_id", "text")
    val out = TextOps.lmQualityScore(docs, trainSixteenths = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(0L) === 20000L, "4 tokens of mass 2 → 10000*8/4")
    assert(out(1L) === 10000L, "4 tokens of mass 1 → 10000*4/4")
    // an empty reference slice = every token out-of-model → score 0
    val oov = TextOps.lmQualityScore(docs, trainSixteenths = 0)
      .collect().map(_.getLong(3))
    assert(oov.forall(_ === 0L))
  }

  test("bpe merges: hand-computed cascade, greedy left-to-right, tie-break") {
    import spark.implicits._
    // "aaab" x3, "ab" x2: round 1 pairs — (a,a): 2 per "aaab" x3 = 6;
    // (a,b): 1x3 + 1x2 = 5  →  merge (a,a).
    // round 2 over [aa,a,b] x3, [a,b] x2: (aa,a)=3, (a,b)=5 wait —
    // [aa,a,b] has pairs (aa,a) and (a,b): (a,b) count 3+2=5 → merge (a,b).
    // round 3 over [aa,ab] x3, [ab] x2: (aa,ab)=3 → merge.
    val docs = Seq((1L, "aaab aaab aaab ab ab")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L)))

    // greedy left-to-right: "aaaa" merges to [aa, aa], not [a, aa, a] —
    // visible in round 2 where pair (aa, aa) must exist with count 1
    val docs2 = Seq((1L, "aaaa zz")).toDF("doc_id", "text")
    val got2 = TextOps.bpeMerges(docs2, 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a)=3 beats (z,z)=1 (count desc); round 2: greedy "aaaa"
    // → [aa, aa] so (aa,aa)=1 ties (z,z)=1 and (aa,aa) < (z,z) lexically
    assert(got2.toSeq === Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))

    // case folds BEFORE the filter (ABC counts as abc); digit words are out
    val docs3 = Seq((1L, "abc abc a1c ABC")).toDF("doc_id", "text")
    val got3 = TextOps.bpeMerges(docs3, 1).head()
    assert((got3.getString(1), got3.getString(2), got3.getLong(3)) === (("a", "b", 3L)))
  }

  test("rolling median picks and single-exchange plan; share-of-group exact") {
    import spark.implicits._
    import java.sql.Timestamp
    val ev = Seq(
      (1L, new Timestamp(1000L), 1L, 0.10),
      (2L, new Timestamp(2000L), 1L, 0.30),
      (3L, new Timestamp(3000L), 1L, 0.20)
    ).toDF("event_id", "ts", "user_id", "value")
    val med = WindowOps.rollingMedian(ev)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    // frames (cents): [10]; [10,30]; [10,20,30] — ceil(q·n) discrete picks
    assert(med.toSeq === Seq((1L, 10L, 10L, 10L), (2L, 10L, 10L, 30L),
      (3L, 20L, 10L, 30L)))
    val medPlan = WindowOps.rollingMedian(ev).queryExecution.executedPlan.toString
    assert(medPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"rollingMedian should shuffle once:\n$medPlan")

    val sup = Seq((1L, "a", 10, 0.0), (2L, "b", 10, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val li = Seq((100L, 1L, 1L, 1, 1.0, 100.0, 0.0, 0.0, "N", "O"),
                 (101L, 2L, 2L, 1, 1.0, 300.0, 0.0, 0.0, "N", "O"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus")
    val share = WindowOps.shareOfGroup(sup, li)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(share === Map(1L -> 2500L, 2L -> 7500L)) // 100/400, 300/400 in bp
  }

  test("quality cut: histogram threshold keeps ties; length batches account padding") {
    import spark.implicits._
    // 10 docs, scores land so that the 70th-percentile threshold falls
    // on a tie group — every tied doc must be kept, not rank-split.
    // All texts are crafted to differ only in the length criterion:
    // short texts lose the length point.
    val long = ("the quick brown fox jumps over the lazy dog and " * 4).trim
    val docs = (1L to 10L).map { i =>
      val text = if (i <= 4) "the cat sat" else long
      (i, text, "en", "web", text.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val cut = TextOps.qualityPercentileCut(docs).collect()
    assert(cut.length === 1)
    val r = cut.head
    // 6 long docs tie at the top score (4); the 70th-percentile value
    // IS that tie bin (cum 10 ≥ 7), so ALL six tied docs are kept — a
    // rank cut would keep exactly 3 and split equal-quality docs. The
    // keep count always covers the requested 30% (6 ≥ 3).
    assert(r.getLong(1) === 10L)
    assert((r.getLong(2), r.getInt(3)) === ((6L, 4)),
      s"all threshold-tied docs must be kept, got $r")

    val lb = TextOps.lengthBatches(docs, bucketTokens = 8, batchSize = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(6)))
    // short docs: 3 tokens -> bucket 0; long docs: 40 tokens -> bucket 5
    // batchSize=2: bucket 0 has 2 batches (4 docs), bucket 5 has 3 (6)
    assert(lb.count(_._1 == 0L) === 2 && lb.count(_._1 == 5L) === 3)
    // identical lengths within a bucket => zero padding waste
    assert(lb.forall(_._4 == 0L))
  }

  test("dim stats: one-pass vector aggregate equals the explode formulation") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(0.5f, -0.25f, 1.0f), 0),
      (2L, Seq(0.1f, 0.75f, -1.0f), 1),
      (3L, Seq(-0.3f, 0.5f, 0.25f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.dimStats(emb, dim = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val naive = emb
      .select(posexplode(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")))
      .groupBy(col("pos")).agg(count(lit(1)).as("n"), sum(col("col")).as("s"),
        sum(col("col") * col("col")).as("q"))
      .select(col("pos").cast("int"), col("n"), expr("s div n"),
        expr("q div n - (s div n) * (s div n)"))
      .orderBy("pos")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === naive.toSeq)
    // malformed rows (wrong dim / null) are skipped, not poisoning sums
    val withBad = emb.unionAll(Seq((9L, Seq(1.0f), 9)).toDF("vec_id", "embedding", "label"))
    val n = graft.operators.Similarity.dimStats(withBad, dim = 3)
      .select(max(col("n"))).head().getLong(0)
    assert(n === 3L)
  }

  test("rolling distinct: duplicate-link running sum equals the frame-set answer") {
    import spark.implicits._
    // literal case, frame 3, one event type: users a b a a c b
    //   frames: [a]=1 [a,b]=2 [a,b,a]=2 [b,a,a]=2 [a,a,c]=2 [a,c,b]=3
    val ev = Seq((1L, "x", "a"), (2L, "x", "b"), (3L, "x", "a"),
        (4L, "x", "a"), (5L, "x", "c"), (6L, "x", "b"))
      .toDF("event_id", "event_type", "user_id")
    val got = WindowOps.rollingDistinct(ev, frame = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 2L),
      (5L, 2L), (6L, 3L)))

    // equivalence oracle on real fixture data: the O(n·frame) windowed
    // set rewrite IS the spec; the link formulation must match it row
    // for row (frame 7 exercises partial frames, repeats, many types)
    val events = Tables.events(spark, sf0001)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("event_id")
      .rowsBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    val naive = events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"),
        size(array_distinct(collect_list(col("user_id")).over(w)))
          .cast("long").as("d"))
    val fast = WindowOps.rollingDistinct(events, frame = 7)
      .select(col("event_id"), col("distinct_users").as("d"))
    assert(naive.exceptAll(fast).isEmpty && fast.exceptAll(naive).isEmpty,
      "link-formulation rolling distinct diverged from the frame-set answer")
  }

  test("bpe encode: token counts under the learned merges, per doc") {
    import spark.implicits._
    // k=1 learns (a,a) (count 2 in "aaab", beats (a,b)'s 2? (a,a)=2,
    // (a,b)=2 -> tie breaks lexically to (a,a)). "aaab" -> [aa,a,b] = 3
    // tokens (2 chars coded), "ab" -> [a,b] = 2 tokens (0 coded).
    val docs = Seq((7L, "aaab ab")).toDF("doc_id", "text")
    val got = TextOps.bpeEncode(docs, 1).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ===
      ((7L, 2L, 5L, 2L)))
    // fixture invariants: every word is at least one token, and docs with
    // any trainable word appear with positive counts
    val enc = TextOps.bpeEncode(Tables.documents(spark, sf0001), 5)
    assert(enc.count() > 0)
    assert(enc.filter(col("n_tokens") < col("n_words") ||
      col("n_words") <= 0L || col("n_chars_coded") < 0L).count() === 0L)
  }

  test("event transitions: pair multiset, out-shares, floor-average gaps") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: A@0 → B@10 → A@30 ; user 2: B@0 → B@5
    val ev = Seq(
      (1L, 1L, ts(0), "A"), (2L, 1L, ts(10), "B"), (3L, 1L, ts(30), "A"),
      (4L, 2L, ts(0), "B"), (5L, 2L, ts(5), "B")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = Sessions.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      ("A", "B", 1L, 10000L, 10000000L),  // A's only exit → 100%
      ("B", "A", 1L, 5000L, 20000000L),   // B exits split 50/50
      ("B", "B", 1L, 5000L, 5000000L)))
    // cross-user boundaries never pair: 2 users → 5 − 2 transitions
    assert(got.map(_._3).sum === 3L)
  }

  test("blocked ER links names sharing their rarest token, and only those") {
    import spark.implicits._
    // vocabulary: red/hot (df 3 each), bolt/ring/gear (df 2 each) — every
    // name's rarest token is its NOUN, so adjective drift blocks together
    val parts = Seq(
      "red bolt", "red bolt", "red bolt", "hot bolt",
      "red ring", "hot ring", "red gear", "hot gear"
    ).zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("p_partkey", "p_name")
    val got = EntityResolution.blockedNamePairs(parts, maxDistance = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      ("hot bolt", "red bolt", 3L, 1L, 3L), // dup records roll into n_b
      ("hot gear", "red gear", 3L, 1L, 1L),
      ("hot ring", "red ring", 3L, 1L, 1L)))
    // the documented recall tradeoff: "red bolt"/"red ring" differ in the
    // rarest token itself (dist 3 would pass) but live in different
    // blocks, so the single-pass form never compares them
    assert(!got.exists(p => p._1 == "red bolt" && p._2 == "red ring"))
  }

  test("modeOf picks the most frequent value, smallest on a frequency tie") {
    val df = Seq(
      ("A", 5.0), ("A", 5.0), ("A", 9.0), ("A", 9.0), ("A", 2.0), // tie 5 vs 9 → 5
      ("B", 7.0), ("B", 3.0), ("B", 7.0))                          // clear winner 7
      .toDF("l_returnflag", "l_quantity")
    val got = Aggregates.modeOf(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map("A" -> ((5L, 2L)), "B" -> ((7L, 2L))))
  }

  test("slidingDistinct: trailing window accumulates and expires by calendar") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val day = 86400000000L
    // users 1,2 on day 0; user 3 on day 2; user 1 AGAIN on day 8 — day 8's
    // trailing-7 window must contain only {3 (day 2? no — expired), 1}:
    // day 2 is 6 days before day 8, so user 3 still counts; day 0 expired.
    val df = Seq((1L, 0L, 1L), (2L, 1L, 2L), (3L, 2 * day, 3L),
      (4L, 8 * day, 1L))
      .toDF("event_id", "usl", "user_id")
      .withColumn("ts", timestamp_micros(col("usl"))).drop("usl")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("x"))
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
    val got = Aggregates.slidingDistinct(df).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq === Seq(
      ("1970-01-01", 2L, true),   // {1,2}
      ("1970-01-03", 3L, true),   // {1,2,3}
      ("1970-01-09", 2L, true)),  // {3 (in range), 1}; day-0 users expired
      s"got ${got.toSeq}")
  }

  test("associationRules: hand-computed confidence and lift, both directions emitted") {
    import graft.operators.GraphOps
    // orders: {1:(a,b)}, {2:(a,b)}, {3:(a,c)}, {4:(b)} -> N=4
    // pair (a,b): co=2; n_a=3, n_b=3
    //   a->b: conf = 2*10000/3 = 6666 bp; lift = 2*4*1000/(3*3) = 888
    val li = Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 20L))
      .toDF("l_orderkey", "l_partkey")
    val got = GraphOps.associationRules(li, minSupport = 2L, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(5), r.getLong(6)))).toMap
    assert(got((10L, 20L)) === ((2L, 6666L, 888L)), "a->b")
    assert(got((20L, 10L)) === ((2L, 6666L, 888L)), "b->a (same co, symmetric here)")
    assert(got.size === 2, "only the (a,b) pair clears minSupport")
  }

  test("weekdayRevenue: epoch arithmetic hits known weekdays") {
    import graft.operators.Aggregates
    // 1970-01-01 was a Thursday (dow 4); 1970-01-04 a Sunday (dow 0)
    val o = Seq(
      ("1970-01-01", 1.00), ("1970-01-04", 2.00), ("1970-01-08", 4.00))
      .toDF("o_orderdate", "o_totalprice")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    val got = Aggregates.weekdayRevenue(o).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(4L) === ((2L, 500L)), "both Thursdays aggregate under dow 4")
    assert(got(0L) === ((1L, 200L)), "Sunday is dow 0")
    assert(!got.contains(6L))
  }

  test("rfmCells is invariant to input partitioning (total-order ntile)") {
    import graft.operators.Aggregates
    val orders = Tables.orders(spark, sf0001)
    val a = Aggregates.rfmCells(orders).collect().toSeq
    val b = Aggregates.rfmCells(orders.repartition(17)).collect().toSeq
    assert(a === b, "ntile scores must not depend on partitioning")
    assert(a.map(_.getLong(3)).sum === orders
      .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
      .select("o_custkey").distinct().count(),
      "census covers every customer exactly once")
  }

  test("lpaOnEdges: two triangles across a bridge converge to two communities") {
    import spark.implicits._
    import graft.operators.GraphOps
    // triangle {1,2,3} — bridge 3-4 — triangle {4,5,6}; synchronous LPA
    // with (count DESC, label ASC) settles each triangle on its own
    // label and the bridge does NOT merge them (components would)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val out = GraphOps.lpaOnEdges(edges, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 3L, 1L), (3L, 3L, 4L)),
      "hand-traced 3-round labels: {1,2,3}->1, {4,5,6}->3")
  }

  test("compactionPlan: prefix-sum binning, straddling files never split") {
    import spark.implicits._
    // one month, three 'files' of 150/100/30 rows, capacity 200:
    // bins cut at exclusive prefix sums 0/150/250 -> bins 0/0/1
    val rows =
      Seq.fill(150)((java.sql.Date.valueOf("1994-03-10"), 1L)) ++
      Seq.fill(100)((java.sql.Date.valueOf("1994-03-20"), 2L)) ++
      Seq.fill(30)((java.sql.Date.valueOf("1994-03-25"), 3L))
    val li = rows.toDF("l_shipdate", "l_suppkey")
    val out = graft.sources.Sinks.compactionPlan(li, capacity = 200L).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "1994-03")
    assert(r.getLong(1) === 3L && r.getLong(2) === 280L)
    assert(r.getLong(3) === 2L, "two output bins")
    assert(r.getLong(4) === 250L,
      "file 2 starts inside bin 0, so bin 0 legitimately overshoots")
    assert(r.getLong(5) === 1L, "the 30-row tail bin is under half capacity")
  }

  test("skippingStats: zone-map pruning counts and scan amplification") {
    import spark.implicits._
    // file 1 (supplier 1): q = 50,50,46 — not skippable, all 3 match
    // file 2 (supplier 2): q = 10,20 — max 20 <= 45, skipped outright
    val li = Seq(
      (java.sql.Date.valueOf("1994-03-01"), 1L, 50.0),
      (java.sql.Date.valueOf("1994-03-02"), 1L, 50.0),
      (java.sql.Date.valueOf("1994-03-03"), 1L, 46.0),
      (java.sql.Date.valueOf("1994-03-04"), 2L, 10.0),
      (java.sql.Date.valueOf("1994-03-05"), 2L, 20.0)
    ).toDF("l_shipdate", "l_suppkey", "l_quantity")
    val out = graft.sources.Sinks.skippingStats(li).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "1994-03")
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) === ((2L, 1L, 5L, 3L, 3L)))
  }

  test("readabilityCensus computes the integer Flesch formula exactly") {
    import spark.implicits._
    import graft.operators.TextOps
    // "The cat sat. It ran!" -> 5 words, 2 sentence runs, 5 vowel groups:
    // 206835 - (1015*5) div 2 - (84600*5) div 5 = 206835 - 2537 - 84600
    val docs = Seq((1L, "The cat sat. It ran!", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.readabilityCensus(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "en")
    assert(r.getLong(1) === 11L, "decile bucket of 119698 milli-points")
    assert(r.getLong(2) === 1L)
    assert(r.getLong(3) === 5L, "word count")
    assert(r.getLong(4) === 119698L && r.getLong(5) === 119698L)
  }

  test("nullSafeCohortJoin: the NULL cohort reconciles into ONE row, unlike plain equality") {
    import spark.implicits._
    // user 17 -> cohort NULL (nullif(17 % 10, 7)); users 1, 11 -> cohort 1
    val events = Seq(
      (1L, 17L, "purchase", 2.5), (2L, 17L, "click", 0.0),
      (3L, 1L, "purchase", 1.0), (4L, 11L, "click", 0.0),
      (5L, 22L, "click", 0.0)) // cohort 2: click-only leg
      .toDF("event_id", "user_id", "event_type", "value")
    val got = JoinOps.nullSafeCohortJoin(events).collect()
    assert(got.length === 3, "NULL pairs up: one row, not two dangling legs")
    val nullRow = got.head // asc_nulls_first
    assert(nullRow.isNullAt(0) && nullRow.getLong(1) === 250L && nullRow.getLong(2) === 1L,
      "unattributed purchases AND clicks land on the same reconciled row")
    val byCohort = got.tail.map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(byCohort(1L) === ((Some(100L), Some(1L))))
    assert(byCohort(2L) === ((None, Some(1L))), "click-only cohort keeps a null purchase leg")
    // referee: the SAME plan with plain equality leaves two dangling null rows
    val plain = events.filter(col("event_type") === "purchase")
      .groupBy(expr("nullif(user_id % 10, 7)").as("cohort"))
      .agg(sum(round(col("value") * 100).cast("long")).as("purchase_cents"))
      .join(events.filter(col("event_type") === "click")
          .groupBy(expr("nullif(user_id % 10, 7)").as("c_cohort"))
          .agg(count(lit(1)).as("n_clicks")),
        col("cohort") === col("c_cohort"), "full_outer")
    assert(plain.filter(col("cohort").isNull || col("c_cohort").isNull).count() === 3,
      "plain equality: null purchase leg + null click leg + cohort-2 dangle")
  }

  test("periodOverPeriod: calendar-key alignment skips gap months, negative deltas truncate") {
    import spark.implicits._
    def o(k: Long, d: String, p: Double) = (k, java.sql.Date.valueOf(d), p)
    val orders = Seq(
      o(1L, "2024-01-15", 100.0), o(2L, "2024-02-10", 40.0),
      // March missing entirely; April present
      o(3L, "2024-04-01", 90.0),
      o(4L, "2025-02-20", 50.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val got = TimeSeries.periodOverPeriod(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val feb24 = got((2024L, 2L))
    assert(feb24.getLong(5) === -600L, "(4000-10000)*1000 div 10000 truncates to -600")
    assert(feb24.isNullAt(6), "no 2023 data -> NULL YoY")
    val apr24 = got((2024L, 4L))
    assert(apr24.isNullAt(3) && apr24.isNullAt(5),
      "March gap -> April has NO MoM baseline, never February's")
    val feb25 = got((2025L, 2L))
    assert(feb25.getLong(6) === 250L, "(5000-4000)*1000 div 4000 vs LAST YEAR'S February")
    assert(feb25.isNullAt(5), "January 2025 absent -> NULL MoM")
  }

  test("boolAggBattery: struct comparison breaks argmax ties by key") {
    import spark.implicits._
    val orders = Seq(
      (5L, "A", "F", 300000.0), (2L, "A", "O", 300000.0), // price tie
      (9L, "A", "O", 10.0),
      (1L, "B", "P", 5000.0))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
    val got = Aggregates.boolAggBattery(orders).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("A")
    assert(a.getLong(1) === 2L, "two orders over 200k")
    assert(!a.getBoolean(2), "the 10.0 order breaks bool_and")
    assert(!a.getBoolean(3))
    assert(a.getLong(4) === 5L, "tie at 300k: HIGHER key wins under struct max")
    assert(a.getLong(5) === 9L)
    val b = got("B")
    assert(b.getBoolean(2) && b.getBoolean(3))
    assert(b.getLong(4) === 1L && b.getLong(5) === 1L)
  }

  test("bitwiseBattery: and/or/xor fold and popcounts on a crafted group") {
    val df = Seq(("G", 1L), ("G", 2L), ("G", 3L))
      .toDF("o_orderpriority", "o_orderkey")
    val r = ColumnOps.bitwiseBattery(df).collect().head
    assert(r.getLong(1) === 3L, "n")
    assert(r.getLong(2) === 0L, "bit_and(1,2,3)")
    assert(r.getLong(3) === 3L, "bit_or(1,2,3)")
    assert(r.getLong(4) === 0L, "bit_xor(1,2,3) = 1^2^3")
    assert(r.getLong(5) === 4L, "popcounts 1+1+2")
    assert(r.getLong(6) === 2L, "max popcount from 3 = 0b11")
  }

  test("erMatchScores: field agreement separates matches from name-only neighbors") {
    // rose/rosy have df 3 each, so the SHARED first token (df 2) is every
    // name's rarest → three 2-name blocks, three dist-1 pairs.
    val df = Seq(
      (1L, "quartz rose", "B1", "T1", 10),
      (2L, "quartz rosy", "B1", "T1", 10), // all fields agree → match
      (3L, "mint rose", "B2", "T2", 20),
      (4L, "mint rosy", "B3", "T3", 40),   // name-only → score 50, no match
      (5L, "navy rose", "B4", "T4", 50),
      (6L, "navy rosy", "B5", "T5", 60)
    ).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val got = EntityResolution.erMatchScores(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === Map(
      (1L, 2L) -> ((30L + 25L + 15L + 50L, 1L)),
      (3L, 4L) -> ((50L, 0L)),
      (5L, 6L) -> ((50L, 0L))))
  }

  test("tryBattery: null-on-failure for cast/divide, poisoned rows keyed identically") {
    val df = (1L to 5L).map(k => (k, "1-URGENT", 3.0, "1995-06-15"))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice", "d")
      .withColumn("o_orderdate", col("d").cast("date"))
    val r = ColumnOps.tryBattery(df).collect().head
    assert(r.getLong(1) === 5L, "n")
    assert(r.getLong(2) === 5L, "sum of prio digit 1 over 5 rows")
    assert(r.getLong(3) === 1L, "key 5 poisons exactly one date")
    assert(r.getLong(4) === 1L, "key 3 divides by zero → one NULL")
    assert(r.getLong(5) === 300L + 150L + 300L + 150L,
      "floor(300/(k%3)) over surviving keys 1,2,4,5")
  }

  test("assortativityStats: exact sufficient statistics on a 2-edge path") {
    import graft.operators.GraphOps
    // support-2 edges 1–2 and 2–3: degrees 1, 2, 1
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (4L, 2L), (4L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val r = GraphOps.assortativityStats(li).collect().head
    assert(r.getLong(0) === 2L, "n_edges")
    assert(r.getLong(1) === 6L, "S1 = (1+2)+(2+1)")
    assert(r.getLong(2) === 10L, "S2 = (1+4)+(4+1)")
    assert(r.getLong(3) === 4L, "S3 = 1*2 + 2*1")
  }

  test("rankMovers: year-over-year rank deltas, only both-year parts emit") {
    val orders = Seq((1L, "1997-05-01"), (2L, "1998-05-01"))
      .toDF("o_orderkey", "d")
      .withColumn("o_orderdate", col("d").cast("date"))
    val li = Seq(
      (1L, 10L, 100.0, 0.0), (1L, 20L, 50.0, 0.0), // 1997: p10 #1, p20 #2
      (2L, 10L, 40.0, 0.0), (2L, 20L, 90.0, 0.0),  // 1998: p20 #1, p10 #2
      (1L, 30L, 10.0, 0.0))                        // p30: 1997 only → absent
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    val got = Aggregates.rankMovers(li, orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      10L -> ((1L, 2L, -1L)),
      20L -> ((2L, 1L, 1L))))
  }

  test("coPurchaseComponentsIncremental equals the full recompute across a split merge") {
    import graft.operators.GraphOps
    // support-2 edges (2,4) [even sum → batch 1] and (4,5) [odd → batch 2]:
    // the component only forms when phase 2 merges across the split.
    val li = Seq((1L, 2L), (1L, 4L), (2L, 2L), (2L, 4L),
      (3L, 4L), (3L, 5L), (4L, 4L), (4L, 5L))
      .toDF("l_orderkey", "l_partkey")
    val full = GraphOps.coPurchaseComponents(li).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = GraphOps.coPurchaseComponentsIncremental(li).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === Map(2L -> 2L, 4L -> 2L, 5L -> 2L))
    assert(inc === full, "contraction path must reproduce the recompute")
  }

  test("topNWithOther: tail collapses to one residual row, totals preserved") {
    val df = (1 to 5).map(c => ("P", c.toLong, (60 - c * 10).toDouble))
      .toDF("o_orderpriority", "o_custkey", "o_totalprice")
    val rows = Aggregates.topNWithOther(df, n = 3).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(rows.toMap === Map(
      "1" -> ((5000L, 1L, 1L)), "2" -> ((4000L, 1L, 2L)),
      "3" -> ((3000L, 1L, 3L)), "OTHER" -> ((3000L, 2L, 4L))))
    assert(rows.map(_._2._1).sum === 15000L, "group total preserved")
  }

  test("priceVolumeMix: bridge reconciles to the cent with explicit residual") {
    val orders = Seq((1L, "1997-06-01"), (2L, "1998-06-01"))
      .toDF("o_orderkey", "d")
      .withColumn("o_orderdate", col("d").cast("date"))
    // brand X: q 10→20, revenue 10.00→30.00: p0f=100, p1f=150
    val li = Seq((1L, 7L, 10.0, 10.0, 0.0), (2L, 7L, 20.0, 30.0, 0.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount")
    val part = Seq((7L, "X")).toDF("p_partkey", "p_brand")
    val r = Aggregates.priceVolumeMix(li, orders, part).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((10L, 20L, 1000L, 3000L)))
    assert(r.getLong(5) === 1000L, "volume effect (20-10)*100")
    assert(r.getLong(6) === 1000L, "price effect 20*(150-100)")
    assert(r.getLong(7) === 0L, "residual closes the bridge exactly")
  }

  test("abcClasses: integer cumulative-share boundaries classify the Pareto head") {
    // revenues 80/15/4/1: cum shares 800, 950, 990, 1000 permille
    val li = Seq((1L, 80.0), (2L, 15.0), (3L, 4.0), (4L, 1.0))
      .map { case (p, v) => (p, v, 0.0) }
      .toDF("l_partkey", "l_extendedprice", "l_discount")
    val got = Aggregates.abcClasses(li).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      "A" -> ((1L, 8000L, 800L)),
      "B" -> ((1L, 1500L, 150L)),
      "C" -> ((2L, 500L, 50L))))
  }

  test("orderSizeMix: GLOBAL tercile edges expose per-year drift") {
    // 1997: cents 100,200,300; 1998: 300,300,300. Global terciles over
    // {100,200,300,300,300,300}: p33 = 2nd value (200), p67 = 4th (300).
    val df = Seq(("1997-01-01", 1.0), ("1997-02-01", 2.0),
        ("1997-03-01", 3.0), ("1998-01-01", 3.0), ("1998-02-01", 3.0),
        ("1998-03-01", 3.0))
      .toDF("d", "o_totalprice")
      .withColumn("o_orderdate", col("d").cast("date"))
    val got = Aggregates.orderSizeMix(df).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      (1997L, "small") -> ((2L, 666L)), // 100 and 200 ≤ p33=200
      (1997L, "mid") -> ((1L, 333L)),   // 300 ≤ p67=300
      (1998L, "mid") -> ((3L, 1000L)))) // the drift: all mid, none small
  }
}
