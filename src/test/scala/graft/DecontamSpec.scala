package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Decontam, TextOps}

/** Decontamination and repetition-quality semantics on crafted corpora,
  * plus the shuffle-free plan shape of the per-doc repetition metrics.
  */
class DecontamSpec extends SparkTestBase {
  import spark.implicits._

  test("decontaminate flags train docs sharing a 5-gram with the eval set") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // shares a 5-gram
      (2L, "completely different text with no overlap here"), // clean
      (3L, "quick brown fox jumps over and over again")       // shares one
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix words the quick brown fox jumps over suffix")
    ).toDF("doc_id", "text")
    val got = Decontam.decontaminate(train, eval, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the quick brown fox jumps" + "quick brown fox jumps over"
    // doc 3 shares "quick brown fox jumps over"; doc 2 is absent entirely
    assert(got === Map(1L -> 2L, 3L -> 1L))
  }

  test("a document shorter than n tokens has no n-grams and no hits") {
    import graft.functions.TextFunctions.{shinglesKTokens, tokens}
    val docs = Seq((1L, "too short"), (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val grams = docs.select(col("doc_id"), shinglesKTokens(tokens(col("text")), 5).as("g"))
    assert(grams.schema("g").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    assert(grams.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap === Map(
      1L -> Seq.empty, 2L -> Seq("one two three four five", "two three four five six")))
    val eval = Seq((100L, "too short")).toDF("doc_id", "text")
    assert(Decontam.decontaminate(docs, eval, n = 5).collect().isEmpty)
  }

  test("fuzzy decontamination grades near-dup pairs by exact Jaccard") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),  // near-copy of eval 100
      (2L, "completely different text with no overlap here"), // clean
      (3L, "alpha beta gamma unrelated tail words entirely")  // shares 1 gram
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon eta")
    ).toDF("doc_id", "text")
    val got = Decontam.fuzzyDecontaminate(train, eval, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 1: shingles {abg,bgd,gde,dez} vs {abg,bgd,gde,dee'}: i=3, union=5
    //   -> J = 0.6; doc 3 shares only "alpha beta gamma" -> J = 1/8 < 0.5
    assert(got.keySet === Set((1L, 100L)))
    assert(math.abs(got((1L, 100L)) - 0.6) < 1e-9, got)

    // fixture-wide: the collision-count formulation must equal the
    // brute-force all-pairs array_intersect form it replaces
    val docs = Tables.documents(spark, sf0001)
    val nb = TextOps.hexNibble("doc_id")
    val tr = docs.filter(nb < 15)
    val ev = docs.filter(nb === 15)
    import graft.functions.TextFunctions.shingles3
    def sh(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("doc_id").as(s"${p}_doc"),
        array_distinct(shingles3(col("text"))).as(s"sh_$p"))
    val brute = sh(tr, "train").crossJoin(sh(ev, "eval"))
      .select(col("train_doc"), col("eval_doc"),
        round(size(array_intersect(col("sh_train"), col("sh_eval"))).cast("double") /
          size(array_union(col("sh_train"), col("sh_eval"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fuzzy = Decontam.fuzzyContaminationReport(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fuzzy === brute)
    assert(fuzzy.nonEmpty, "fixture must contain at least one cross-split near-dup")
  }

  test("fuzzy prefix filtering prunes candidates below the naive gram join") {
    // The de-skew contract (the d18-style candidate-count assertion): the
    // df-ranked prefix join must generate strictly fewer candidate pairs
    // than the naive any-shared-gram join — the high-df stopword shingles
    // sort to the end of every doc's ordered array and never join. Recall
    // stays 1 (the brute-force equality test above witnesses it); this
    // test witnesses that the prune actually happens.
    val docs = Tables.documents(spark, sf001)
    val nb = TextOps.hexNibble("doc_id")
    val tr = docs.filter(nb < 15)
    val ev = docs.filter(nb === 15)
    import graft.functions.TextFunctions.shingles3
    def grams(df: org.apache.spark.sql.DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs),
        explode(array_distinct(shingles3(col("text")))).as("gram"))
    val naivePairs = grams(tr, "train_doc").join(grams(ev, "eval_doc"), "gram")
      .select("train_doc", "eval_doc").distinct().count()
    val prefixPairs = Decontam.fuzzyCandidates(tr, ev, 0.5).count()
    assert(prefixPairs < naivePairs,
      s"prefix filter must prune: $prefixPairs candidates vs $naivePairs naive")
    // at the 0.5 threshold roughly half of each gram set is prefix-exempt;
    // demand a real reduction, not an off-by-one
    assert(prefixPairs * 2 <= naivePairs,
      s"prune too weak: $prefixPairs vs $naivePairs")
  }

  test("bloom-prefiltered decontamination equals the exact semi join") {
    // crafted case (verifies classification) + fixture-wide equality
    // (verifies the bloom prefilter drops nothing the exact join keeps)
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text with no overlap here"),
      (3L, "quick brown fox jumps over and over again")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix words the quick brown fox jumps over suffix")
    ).toDF("doc_id", "text")
    val viaBloom = Decontam.decontaminateBloom(train, eval, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBloom === Map(1L -> 2L, 3L -> 1L))
    val docs = Tables.documents(spark, sf001)
    assert(Decontam.contaminationReportBloom(docs).collect().toSeq ===
      Decontam.contaminationReport(docs).collect().toSeq)
    // the prefilter is really in the plan, on the scan side of the join
    val plan = Decontam.contaminationReportBloom(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom filter missing from:\n$plan")
  }

  test("repetition metrics count sorted-run statistics exactly") {
    val docs = Seq(
      (1L, "a b a b a b"), // grams: 3x"a b", 2x"b a" -> top 3, all duplicated
      (2L, "x y z"),       // grams: "x y","y z" -> all singletons
      (3L, "w w"),         // one gram -> top 1, no dup
      (4L, "solo")         // < 2 tokens -> filtered out
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === Map(
      1L -> ((5L, 2L, 3L, 5L)),
      2L -> ((2L, 2L, 1L, 0L)),
      3L -> ((1L, 1L, 1L, 0L))))
  }

  test("repetition metrics are shuffle-free (no hash exchange, scan-shaped)") {
    val out = TextOps.repetitionStats(Tables.documents(spark, sf0001))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-doc metrics must not shuffle, plan:\n$plan")
    assert(out.count() > 0)
  }

  /** Builtin-composition form of `TextOps.repetitionStats` (array_sort +
    * zip_with adjacency runs + aggregate folds): the referee for the fused
    * `repetition_counts` expression. HOF lambdas evaluate interpreted per
    * element, which is why the fused kernel owns the registered query.
    */
  private def repetitionStatsBuiltin(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{shinglesKTokens, tokens}
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks")) // split ONCE
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), array_sort(shinglesKTokens(col("toks"), 2)).as("sorted"))
      .withColumn("m", size(col("sorted")))
      // eq(i) = 1 iff sorted(i) == sorted(i+1): run-length encoding seed
      .withColumn("eq", zip_with(
        slice(col("sorted"), lit(1), col("m") - 1),
        slice(col("sorted"), lit(2), col("m") - 1),
        (a, b) => when(a === b, 1).otherwise(0)))
      // sum(eq) = number of adjacent-equal positions = m - distinct count
      .withColumn("n_eq", aggregate(col("eq"), lit(0), (a, x) => a + x))
      .select(
        col("doc_id"),
        col("m").cast("long").as("n_grams"),
        (col("m") - col("n_eq")).cast("long").as("n_distinct_grams"),
        // longest equal-run + 1, via a sequential fold (cur, best)
        (aggregate(col("eq"),
          struct(lit(0).as("cur"), lit(0).as("best")),
          (acc, x) => {
            val cur = when(x === 1, acc("cur") + 1).otherwise(lit(0))
            struct(cur.as("cur"), greatest(acc("best"), cur).as("best"))
          },
          acc => acc("best")) + 1).cast("long").as("top_gram_count"),
        // a gram instance is a SINGLETON iff no equal neighbor on either
        // side of its sorted position (pad the run-flags with 0 at both
        // ends so the borders read cleanly)
        (col("m") - aggregate(
          zip_with(
            slice(concat(array(lit(0)), col("eq")), lit(1), col("m")),
            slice(concat(col("eq"), array(lit(0))), lit(1), col("m")),
            (l, r) => when(l === 0 && r === 0, 1).otherwise(0)),
          lit(0), (a, x) => a + x)).cast("long").as("dup_gram_count"))
      .orderBy("doc_id")
  }

  test("fused repetition expression equals the builtin HOF formulation") {
    val docs = Tables.documents(spark, sf0001)
    val fused = TextOps.repetitionStats(docs).collect().toSeq
    val builtin = repetitionStatsBuiltin(docs).collect().toSeq
    assert(fused === builtin)
  }
}
