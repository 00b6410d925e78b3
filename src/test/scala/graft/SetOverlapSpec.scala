package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SetOverlap}

/** [[graft.operators.SetOverlap]]: every set-similarity join verifies its
  * candidates through one pinned intersect over one shingle-set form.
  */
class SetOverlapSpec extends SparkTestBase {
  import spark.implicits._

  test("one array_intersect call site and no shingle-building filter in each join's plan") {
    for (name <- Seq("d3b_minhash_highsim", "d10_incremental_dedup",
        "d14_fuzzy_decontam", "d18_jaccard_join", "d19_containment",
        "d22_minhash_oracle")) {
      val plan = SparkEntry.queries(name)(spark, sf0001).queryExecution.optimizedPlan
      val sites = plan.toString.linesIterator
        .map(PlanKernels.callCount(_, "array_intersect")).sum
      assert(sites == 1, s"$name: expected 1 array_intersect call site, found $sites:\n$plan")
      assert(!builderInFilter(plan.toString), s"$name: shingle builder in a filter:\n$plan")
    }
    val docs = Tables.documents(spark, sf0001)
    val rows = SetOverlap.shingleRows(docs, "doc_id").queryExecution.optimizedPlan.toString
    assert(!builderInFilter(rows), s"shingle builder in a filter:\n$rows")
  }

  /** An inferred `size(set) > 0` filter with the shingle builder inlined. */
  private def builderInFilter(plan: String): Boolean =
    plan.linesIterator.exists(l => l.contains("Filter") && l.contains("zip_with("))

  test("the pair verify, its shingle form and the gram order live only in SetOverlap") {
    val root = Paths.get("src/main/scala/graft/operators")
    val owner = root.resolve("SetOverlap.scala")
    // Aggregates' KMV sketch intersect estimates a set size; it is no pair verify
    val kmv = root.resolve("Aggregates.scala")
    val rules = Seq(
      ("array_intersect(", """\barray_intersect\(""".r, Set(owner, kmv)),
      ("inline shingles3(", """\bshingles3\(""".r, Set(owner)),
      ("shingles3Tokens(", """\bshingles3Tokens\(""".r, Set(owner)),
      ("df-ordered gram list", """collect_list\(struct\(col\("df"\)""".r, Set(owner)))
    val sources = Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, s"expected the operator sources under $root")
    val found = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
      (what, re, allowed) <- rules
      if !allowed(p) && re.findFirstIn(line).isDefined
    } yield s"$what at ${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("1- and 2-token documents verify on their whole-text shingle") {
    // below 3 tokens the shingle set is array(text): equal texts overlap
    // fully, different ones not at all
    val docs = Seq(
      (1L, "hello world"), (2L, "hello world"), (3L, "solo"), (4L, "solo"),
      (5L, "hello there"), (6L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs === Seq((1L, 2L, 1.0), (3L, 4L, 1.0)))

    val corpus = docs.filter(col("doc_id") =!= 2L && col("doc_id") =!= 4L)
    val incoming = Seq((10L, "hello world"), (11L, "solo"), (12L, "hello moon"))
      .toDF("doc_id", "text")
    val inc = Dedup.incrementalNearDups(Dedup.bandIndex(corpus), corpus, incoming, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inc === Seq((10L, 1L, 1.0), (11L, 3L, 1.0)))

    val sets = SetOverlap.shingleSets(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sets(1L) === Seq("hello world"))
    assert(sets(3L) === Seq("solo"))
  }

  test("overlap counts equal a plain-Scala set reference on the fixture") {
    import graft.functions.TextFunctions.shingles3
    val docs = Tables.documents(spark, sf0001)
    val cand = docs.select(col("doc_id").as("doc_a")).limit(40)
      .crossJoin(docs.select(col("doc_id").as("doc_b")).limit(40))
      .filter(col("doc_a") < col("doc_b"))
    val sets = SetOverlap.shingleSets(docs)
    val got = SetOverlap.overlap(cand, "doc_a", sets, "doc_b", sets).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_inter"),
          r.getAs[Long]("n_union")))).toMap
    // the reference builds its sets with the inline shingle form
    val ref = docs.select(col("doc_id"), shingles3(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got.size > 100, s"too few pairs to mean anything: ${got.size}")
    got.foreach { case ((a, b), counts) =>
      val (sa, sb) = (ref(a), ref(b))
      assert(counts === ((sa.size.toLong, sb.size.toLong,
        (sa & sb).size.toLong, (sa | sb).size.toLong)), s"pair ($a, $b)")
    }
  }
}
