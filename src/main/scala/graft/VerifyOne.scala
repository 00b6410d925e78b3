package graft
import java.nio.file.{Files, Paths}

/** Dev-only single-query verify dump (not part of the driver contract):
  * `runMain graft.VerifyOne <sfDir> <outDir> <name> [<name>...]` — writes
  * each named query's result parquet plus an oracle_sql.json restricted to
  * those names, for `tools/qcheck`-style spot comparison while iterating.
  *
  * With NO names it becomes the oracle-lint dump: writes the FULL
  * oracle_sql.json plus spark_schema.json (every registered query's
  * ANALYZED schema — no execution, so the whole registry dumps in
  * seconds) for `tools/oraclelint.py` to diff against DuckDB's result
  * types. The full-registry gate remains [[Verify]].
  */
object VerifyOne {
  import Verify.jsonString

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val lintAll = names.isEmpty
    val keep: String => Boolean =
      if (lintAll) _ => true else names.contains(_)
    val json = SparkEntry.oracleSql.view.filterKeys(keep)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (lintAll) {
      // Analyzed (not executed) schemas: name -> {col -> simpleString}.
      val schemas = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) =>
          val fields = fn(spark, sfDir).schema.fields
            .map(f =>
              s"${jsonString(f.name)}: ${jsonString(f.dataType.simpleString)}")
            .mkString("{", ",", "}")
          s"${jsonString(name)}: $fields"
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/spark_schema.json"), schemas)
    }
    spark.stop()
  }
}
