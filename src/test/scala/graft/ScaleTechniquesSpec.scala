package graft

import org.apache.spark.sql.functions._
import graft.operators.JoinOps
import graft.sources.Sinks

/** Scale techniques the engine must get right at 100 TB: salted joins for
  * skew and bucketed tables for shuffle-free co-located joins. Each test
  * asserts BOTH correctness (same result as the naive form) and the
  * plan/partition property that makes it scale.
  */
class ScaleTechniquesSpec extends SparkTestBase {
  import spark.implicits._

  test("salted join matches plain join and spreads the hot key") {
    // heavily skewed fact: 10k rows on one key, a handful elsewhere
    val fact = spark.range(10000).select(lit(1L).as("k"), col("id").as("payload"))
      .union(spark.range(50).select((col("id") % 5 + 2).as("k"), col("id").as("payload")))
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "d"), (6L, "e"))
      .toDF("k", "name")

    val plain = fact.join(dim, "k").groupBy("k", "name").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val salted = JoinOps.saltedJoin(fact, dim, "k", col("payload"), 8)
      .groupBy("k", "name").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(salted === plain)

    // the hot key's rows actually land in multiple salt partitions
    val saltSpread = fact.filter(col("k") === 1L)
      .withColumn("_salt", pmod(xxhash64(col("payload")), lit(8)))
      .select("_salt").distinct().count()
    assert(saltSpread === 8, s"salt must spread the hot key, got $saltSpread buckets")
  }

  test("bucketed tables join without an exchange on either side") {
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_orderpriority")
    Sinks.saveBucketed(li, "li_bucketed", "l_orderkey", 4)
    Sinks.saveBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_bucketed", "l_orderkey", 4)

    // at fixture scale Spark prefers broadcast (which bypasses buckets);
    // disable it to surface the co-located sort-merge path a 100 TB
    // fact-fact join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // correctness vs the unbucketed join
      val expected = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("repartition by partition column bounds file count per partition dir") {
    val df = Tables.events(spark, sf0001)
      .withColumn("etype", col("event_type"))
    val dir = tmpDir("partfiles")
    Sinks.writePartitioned(df, dir, Seq("etype"))
    val dirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("etype="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"${d.getName} has $files files; repartition-first must yield 1")
    }
  }

  test("AQE splits a skewed join at runtime (skew=true in the final adaptive plan)") {
    // the AQE-native complement to the manual salted join above: no code
    // change in the query, the runtime detects the oversized partition
    // from MEASURED map output and splits it. Thresholds lowered so the
    // test-sized skew qualifies.
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffled join
      val fact = spark.range(60000)
        .select(when(col("id") % 4 === 0, lit(1L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val dim = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = fact.join(dim, "k")
      val n = joined.count()
      assert(n > 0)
      joined.collect() // finalize joined's own adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(2000))
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE skew handling did not engage:\n${plan.take(4000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("compaction rewrites many small files into the byte-derived count, data intact") {
    val dir = tmpDir("compact")
    val df = Tables.events(spark, sf0001).select("event_id", "user_id", "value")
    df.repartition(40).write.mode("overwrite").parquet(dir) // simulate small-file debris
    val beforeSum = spark.read.parquet(dir)
      .agg(sum("event_id"), count(lit(1))).head()
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    val (before, after) = Sinks.compact(spark, dir, targetFileBytes = totalBytes / 3)
    assert(before === 40)
    assert(after === 3 || after === 4, s"expected ~3 files, got $after") // ceil slack
    val afterSum = spark.read.parquet(dir)
      .agg(sum("event_id"), count(lit(1))).head()
    assert(afterSum === beforeSum, "compaction must preserve every row")
  }

  test("partitioned compaction preserves the partition directory layout") {
    val dir = tmpDir("compact-part")
    val df = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "value", "event_type")
    df.repartition(10).write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val beforeSum = spark.read.parquet(dir)
      .agg(sum("event_id"), count(lit(1))).head()
    val partsBefore = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type=")).map(_.getName).sorted
    // flat compact must REFUSE a partitioned tree rather than flatten it
    intercept[IllegalArgumentException] { Sinks.compact(spark, dir) }
    val (before, after) = Sinks.compactPartitioned(spark, dir)
    assert(after < before, s"expected fewer files, got $before -> $after")
    val partsAfter = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type=")).map(_.getName).sorted
    assert(partsAfter.toSeq === partsBefore.toSeq, "partition dirs must survive")
    val afterSum = spark.read.parquet(dir)
      .agg(sum("event_id"), count(lit(1))).head()
    assert(afterSum === beforeSum, "compaction must preserve every row")
    // missing path must be a pointed error, not an NPE
    intercept[IllegalArgumentException] { Sinks.compact(spark, dir + "/nope") }
  }

  test("range-clustered write yields non-overlapping per-file key ranges (data skipping)") {
    val dir = tmpDir("clustered")
    Sinks.writeRangeClustered(
      Tables.events(spark, sf0001).select("event_id", "user_id", "value"),
      dir, numFiles = 8, "event_id")
    // per-file min/max of the clustering key must not overlap: that is
    // precisely what lets parquet row-group stats skip files for a
    // point/range predicate
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("event_id").as("lo"), max("event_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 2, s"need several files, got ${ranges.length}")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file ranges overlap: $ranges")
      case _ =>
    }
  }

  test("z-ordered write narrows per-file ranges on BOTH clustering columns") {
    // avg fraction of a column's global range that one file spans — the
    // probability a random point predicate on that column CANNOT skip it
    def coverage(dir: String, c: String): Double = {
      val g = spark.read.parquet(dir)
        .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
      val span = g.getDouble(1) - g.getDouble(0)
      val per = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col(c).cast("double")) - min(col(c).cast("double"))).as("w"))
        .agg(avg("w")).head().getDouble(0)
      per / span
    }
    val df = Tables.events(spark, sf0001).select("event_id", "user_id", "value")
    val zDir = tmpDir("zorder")
    val rDir = tmpDir("range1d")
    Sinks.writeZOrdered(df, zDir, numFiles = 16, "user_id", "value")
    Sinks.writeRangeClustered(df, rDir, numFiles = 16, "user_id")
    // 16 z-range files over a 2-D Morton curve ≈ a 4×4 grid: each file
    // should cover roughly a quarter of EACH dimension
    assert(coverage(zDir, "user_id") < 0.5,
      s"z-order must narrow user_id ranges, got ${coverage(zDir, "user_id")}")
    assert(coverage(zDir, "value") < 0.5,
      s"z-order must narrow value ranges, got ${coverage(zDir, "value")}")
    // the 1-D range-clustered baseline leaves the SECOND column unclustered
    // (per-file value ranges ≈ the full global range) — the gap z-order closes
    assert(coverage(zDir, "value") < coverage(rDir, "value") * 0.7,
      s"z-order value coverage ${coverage(zDir, "value")} must beat " +
        s"1-D clustering's ${coverage(rDir, "value")}")
    // row preservation
    assert(spark.read.parquet(zDir).count() === df.count())
    // empty input: no bounds to linearize — must write an empty dataset,
    // not NPE on the null min/max row (round-5 advice finding)
    val eDir = tmpDir("zorder-empty")
    Sinks.writeZOrdered(df.filter(lit(false)), eDir, 4, "user_id", "value")
    assert(spark.read.parquet(eDir).count() === 0L)
  }

  test("runtime bloom-filter pruning injects a fact-side filter from the dim predicate") {
    // a selective dim-side predicate should produce a bloom filter APPLIED
    // ON THE FACT SIDE before the shuffle — at 100 TB this prunes the fact
    // scan's shuffle volume by the dim selectivity without any manual
    // semi-join. Broadcast joins bypass it (they prune inside the hash
    // join already), so force the shuffle path the big-fact plan takes.
    val keep = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // fixture scans are far below the production 10 GB threshold
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom filter in:\n$plan")
      // pruning must not change the result
      val expected = Tables.lineitem(spark, sf0001).alias("l")
        .join(Tables.orders(spark, sf0001).alias("o"),
          col("l.l_orderkey") === col("o.o_orderkey"))
        .filter(col("o.o_orderpriority") === "1-URGENT").count()
      assert(joined.count() === expected)
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning injects a fact-side partition filter from the dim filter") {
    val dir = tmpDir("dpp")
    Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real scan: a filter over a local Seq relation
    // constant-folds away during optimization, and DPP only fires when
    // the build side still carries a selective predicate
    val dimDir = tmpDir("dpp-dim")
    Seq(("A", 1), ("N", 2), ("R", 3)).toDF("flag", "x")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter(col("x") === 1),
      col("l_returnflag") === col("flag"))
    // the partitioned scan must carry a runtime pruning predicate derived
    // from the dim filter — at 100 TB this is what keeps a dim-filtered
    // fact join from reading every partition directory
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
    val expected = fact.filter(col("l_returnflag") === "A").count()
    assert(joined.count() === expected && expected > 0)
  }

  test("two-phase token-budget mix equals the naive per-source window") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TrainingPipeline
    import graft.functions.TextFunctions.tokenCount
    val docs = Tables.documents(spark, sf0001)

    // naive form: ONE cumulative window per source over the whole corpus —
    // correct but serializes each source through a single ordered
    // partition; the operator must reproduce it exactly
    val naive = docs.select(
        col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("cum", sum("n_tokens").over(
        Window.partitionBy("source").orderBy("h", "doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum") <= 768L)
      .select("doc_id", "source", "n_tokens")
      .orderBy("doc_id")

    val twoPhase = TrainingPipeline.tokenBudgetMix(docs, 768L)
    assert(twoPhase.collect().toSeq === naive.collect().toSeq)

    // budget is respected per source, and the selection is MAXIMAL: the
    // next doc in hash order would cross the budget
    val perSource = twoPhase.groupBy("source").agg(sum("n_tokens").as("used"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.values.forall(_ <= 768L), perSource)
    val nextInOrder = docs.select(
        col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .join(twoPhase.select(col("doc_id").as("kept_id")),
        col("doc_id") === col("kept_id"), "left_anti")
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")))
      .filter(col("rk") === 1)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    nextInOrder.foreach { case (src, nextToks) =>
      assert(perSource.getOrElse(src, 0L) + nextToks > 768L,
        s"$src: selection not maximal")
    }

    // per-source override map: a zero budget empties that source, others
    // keep their default-budget selection
    val zeroed = TrainingPipeline.tokenBudgetMix(docs, 768L, Map("src0" -> 0L))
    assert(zeroed.filter(col("source") === "src0").count() === 0)
    assert(zeroed.filter(col("source") =!= "src0").collect().toSeq ===
      twoPhase.filter(col("source") =!= "src0").collect().toSeq)
  }

  test("binned proximity join: boundary inclusive, cross-bucket match, no dups") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val W = 300L // seconds (windowUs = 300e6)
    val ev = Seq(
      // error at t=600s (bucket 2): clicks at 300s (=W away, inclusive),
      // at 301s (within), at 901s (out by 1s), different-user at 600s
      (1L, ts(600), 1L, "error"),
      (2L, ts(300), 1L, "click"),
      (3L, ts(301), 1L, "click"),
      (4L, ts(901), 1L, "click"),
      (5L, ts(600), 2L, "click"),
      // error with zero nearby clicks must still appear
      (6L, ts(5000), 3L, "error"),
      // cross-bucket: error late in bucket (899s), click early in next
      // bucket (930s) — |dt|=31s, found via the +1 neighbor probe
      (7L, ts(899), 4L, "error"),
      (8L, ts(930), 4L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = JoinOps.proximityJoin(ev)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 2L, 6L -> 0L, 7L -> 1L))
  }

  test("temporalSplit: integer boundaries, embargo excluded from test counts") {
    import graft.operators.TrainingPipeline
    import org.apache.spark.sql.functions.{col, date_add, lit}
    // 100 days, one order per day: width = 20, embargo 7 → each fold
    // trains on fold*20 rows and tests on the 13 post-embargo days.
    val df = (0 until 100).map(i => Tuple1(i)).toSeq.toDF("i")
      .select(date_add(lit("1970-01-01").cast("date"), col("i"))
        .as("o_orderdate"))
    val got = TrainingPipeline.temporalSplit(df, folds = 5, embargoDays = 7)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(1L) === ((20L, 27L, 40L, 20L, 13L)))
    assert(got(2L) === ((40L, 47L, 60L, 40L, 13L)))
    assert(got(4L) === ((80L, 87L, 100L, 80L, 13L)))
  }

  test("targetEncoding: m-estimate shrinks rare categories toward the global mean") {
    import graft.operators.TrainingPipeline
    val orders = Seq((1L, 10.0), (1L, 20.0), (2L, 30.0))
      .toDF("o_custkey", "o_totalprice")
    val customer = Seq((1L, 101L), (2L, 102L)).toDF("c_custkey", "c_nationkey")
    val nation = Seq((101L, "ALPHA"), (102L, "BETA"))
      .toDF("n_nationkey", "n_name")
    val got = TrainingPipeline
      .targetEncoding(orders, customer, nation, m = 20)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // global mean = 6000 cents div 3 = 2000
    assert(got("ALPHA") === ((2L, 3000L, 1500L, (3000L + 20 * 2000L) / 22L, 2000L)))
    assert(got("BETA") === ((1L, 3000L, 3000L, (3000L + 20 * 2000L) / 21L, 2000L)))
  }

  test("referentialSample: lineitems follow their order wholesale, zero orphans") {
    import graft.operators.TrainingPipeline
    val orders = (1L to 20L).map(k => (k, k)).toSeq
      .toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 20L).flatMap(k => Seq((k, 1L), (k, 2L))).toSeq
      .toDF("l_orderkey", "l_linenumber")
    val r = TrainingPipeline.referentialSample(orders, lineitem).collect().head
    assert(r.getLong(0) === 20L, "n_orders")
    assert(r.getLong(3) === 40L, "n_lines")
    assert(r.getLong(4) === 2 * r.getLong(1),
      "every kept order keeps BOTH its lineitems")
    assert(r.getLong(6) === 0L, "n_orphan_lines is structurally zero")
    assert(r.getLong(2) === r.getLong(1) * 1000L / 20L, "orders permille")
  }

  test("rangePlanner: uniform history splits evenly, an atomic hot key overfills its strip") {
    val mk = (counts: Seq[Int]) => counts.zipWithIndex.flatMap { case (n, d) =>
      Seq.fill(n)(d)
    }.toDF("i").select(
      org.apache.spark.sql.functions.date_add(
        org.apache.spark.sql.functions.lit("1970-01-01").cast("date"),
        org.apache.spark.sql.functions.col("i")).as("o_orderdate"))
    val uniform = graft.sources.Sinks.rangePlanner(mk(Seq.fill(8)(1)), parts = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(uniform === Map(0L -> ((2L, 1000L)), 1L -> ((2L, 1000L)),
      2L -> ((2L, 1000L)), 3L -> ((2L, 1000L))))
    // day 0 carries 12 of 21 rows: its strip lands at fill 2000‰ and
    // strip 0 goes unemitted — the can't-split-an-atomic-key signal.
    val skew = graft.sources.Sinks.rangePlanner(mk(12 +: Seq.fill(9)(1)),
        parts = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(skew === Map(1L -> ((14L, 2000L)), 2L -> ((7L, 1000L))))
  }

  test("targetEncodingMerged equals the single-pass encoding on a literal frame") {
    import graft.operators.TrainingPipeline
    val orders = Seq((1L, 10L, 10.0), (1L, 11L, 20.0), (2L, 12L, 30.0))
      .toDF("o_custkey", "o_orderkey", "o_totalprice")
    val customer = Seq((1L, 101L), (2L, 102L)).toDF("c_custkey", "c_nationkey")
    val nation = Seq((101L, "ALPHA"), (102L, "BETA"))
      .toDF("n_nationkey", "n_name")
    val direct = TrainingPipeline
      .targetEncoding(orders.drop("o_orderkey"), customer, nation).collect()
    val merged = TrainingPipeline
      .targetEncodingMerged(orders, customer, nation).collect()
    assert(merged.toSeq === direct.toSeq,
      "two-batch stats merge re-derives the identical encoding frame")
  }

  test("temperatureMix: floor-sqrt weights, largest remainder reconciles to budget") {
    import graft.operators.TrainingPipeline
    // counts 9/4/1 → weights 3/2/1 (wsum 6); floor shares 5000/3333/1666
    // leave 1 short; largest remainder (cc, rem 4) takes it.
    val docs = (Seq.fill(9)("aa") ++ Seq.fill(4)("bb") ++ Seq("cc"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("doc_id", "lang")
    val got = TrainingPipeline.temperatureMix(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map("aa" -> ((3L, 5000L)), "bb" -> ((2L, 3333L)),
      "cc" -> ((1L, 1667L))))
    assert(got.values.map(_._2).sum === 10000L, "allocations sum to budget")
  }
}
