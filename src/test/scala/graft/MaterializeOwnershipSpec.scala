package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Materialization and shuffle width have one owner,
  * [[graft.spark.Materialize]], and every session gets its planner
  * strategies from `spark.sql.extensions`: this reads `src/main/scala` and
  * names each line elsewhere that checkpoints, caches a loop invariant in
  * an operator, pushes a runtime strategy, hands the materialize decision
  * to callers through a flag, or picks a shuffle width by hand.
  */
class MaterializeOwnershipSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def under(prefixes: String*)(p: Path): Boolean =
    prefixes.exists(d => root.relativize(p).toString.startsWith(d))

  /** Each line outside Materialize.scala that a rule applies to and matches. */
  private def hits(rules: Seq[(String, Path => Boolean, scala.util.matching.Regex)]) = {
    val owner = root.resolve("graft/spark/Materialize.scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(sources.size > 50, s"expected the main sources under $root")
    for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      (name, applies, re) <- rules
      if applies(p) && re.findFirstIn(line).isDefined
    } yield s"$name at ${root.relativize(p)}:${i + 1}: ${line.trim}"
  }

  test("checkpoints, operator caches and runtime strategies live only in Materialize") {
    val found = hits(Seq(
      ("localCheckpoint", _ => true, """localCheckpoint\(""".r),
      (".cache()", under("graft/operators/", "graft/streaming/"), """\.cache\(\)""".r),
      ("extraStrategies", _ => true, """extraStrategies""".r),
      ("materialize flag", _ => true, """\bmaterialize(Candidates)?\s*:""".r)))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("operators, streaming, jobs and Tables take their shuffle width from Materialize.spread") {
    val found = hits(Seq((".repartition(",
      under("graft/operators/", "graft/streaming/", "graft/jobs/", "graft/Tables.scala"),
      """\.repartition\(""".r)))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
