package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Materialization has one owner, [[graft.spark.Materialize]], and every
  * session gets its planner strategies from `spark.sql.extensions`: this
  * reads `src/main/scala` and names each line elsewhere that checkpoints,
  * caches a loop invariant in an operator, pushes a runtime strategy, or
  * hands the materialize decision to callers through a flag.
  */
class MaterializeOwnershipSpec extends AnyFunSuite {

  test("checkpoints, operator caches and runtime strategies live only in Materialize") {
    val root = Paths.get("src/main/scala")
    val owner = root.resolve("graft/spark/Materialize.scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(sources.size > 50, s"expected the main sources under $root")
    def inOperators(p: Path) = Seq("graft/operators/", "graft/streaming/")
      .exists(d => root.relativize(p).toString.startsWith(d))
    val rules: Seq[(String, Path => Boolean, scala.util.matching.Regex)] = Seq(
      ("localCheckpoint", _ => true, """localCheckpoint\(""".r),
      (".cache()", inOperators, """\.cache\(\)""".r),
      ("extraStrategies", _ => true, """extraStrategies""".r),
      ("materialize flag", _ => true, """\bmaterialize(Candidates)?\s*:""".r))
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      (name, applies, re) <- rules
      if applies(p) && re.findFirstIn(line).isDefined
    } yield s"$name at ${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
