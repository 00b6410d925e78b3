package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code compiles once per JVM. Spark's compiled-class cache is
  * one JVM-wide LRU, sized by the launch option
  * `spark.sql.codegen.cache.maxEntries` in build.sbt; at Spark's default of
  * 100, a plan sequence whose working set is larger than that recompiles
  * every class each time it repeats.
  */
class CodegenCacheSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated working set of 150 generated classes compiles nothing the second time") {
    // the literal is inlined in the generated code, so each query compiles
    // classes of its own (two: at a cache of 100 the second run adds 300)
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(3).selectExpr(s"id * $i + 1 AS c").collect()
    }
    val c0 = compiles
    pass()
    val c1 = compiles
    assert(c1 - c0 > 100, "the working set should exceed Spark's default cache size")
    pass()
    assert(compiles - c1 === 0)
  }
}
