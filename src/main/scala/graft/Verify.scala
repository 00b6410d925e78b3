package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // Optional dev-loop filter (comma-separated names). The driver never
    // sets it, so the contract — dump EVERY query — is unchanged.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Scale referees for tools/scalecheck.py (wide gates only — the
    // driver reads oracle_sql.json exclusively): per query, a tractable
    // oracle reformulation plus an optional spark-side slice selector.
    val ref = SparkEntry.scaleOracleSql.map { case (k, v) =>
      val sparkSide = SparkEntry.scaleSparkSql.get(k)
        .map(sql => s""""spark": ${jsonString(sql)}""").getOrElse(""""spark": null""")
      s"${jsonString(k)}: {\"oracle\": ${jsonString(v)}, $sparkSide}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scale_referee.json"), ref)
    spark.stop()
  }

  /** A JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
