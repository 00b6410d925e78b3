package graft

/** [[ScaleGen]] run inside a JVM that already has a session: it writes
  * through that session and leaves it running.
  */
class ScaleGenSpec extends SparkTestBase {

  test("ScaleGen uses the running session and does not stop it") {
    val out = tmpDir("scalegen")
    ScaleGen.main(Array(sf0001, out, "2"))
    assert(!spark.sparkContext.isStopped, "ScaleGen stopped the caller's session")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet").count()
    assert(spark.read.parquet(s"$out/lineitem.parquet").count() === 2 * li)
  }
}
