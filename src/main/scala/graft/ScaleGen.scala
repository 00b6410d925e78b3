package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale-up generator (not part of the driver contract):
  * `runMain graft.ScaleGen <srcDir> <dstDir> <factor>` writes a factor-N
  * copy of the fixture tables for measuring scaling exponents (SURVEY's
  * 100 TB claims are argued from plan shape; this gives each heavy
  * operator a measured 10x data point).
  *
  * Replication model: N INDEPENDENT shards, each isomorphic to the
  * source. Every key space is shifted per replica so joins never collide
  * across shards; document tokens get a per-replica suffix (within-shard
  * gram/shingle structure identical to the source, cross-shard Jaccard
  * exactly 0 — a 10x corpus with the source's dup rate, not 10 exact
  * copies of every doc); embeddings are cyclically rotated per replica
  * (norms and within-shard cosines preserved bit-for-bit, cross-shard
  * structure scrambled). region/nation are fixed enums and copy as-is.
  */
object ScaleGen {
  // Exceeds every sf<=1 NATURAL key space AND every key an operator
  // synthesizes from one: scd2Demo manufactures insert keys at
  // c_custkey + 1e7, so a 1e7 shard offset made replica 0's synthetic
  // inserts collide with replica 1's natural customers — scd2Merge's
  // key-unique-batch require caught it at sf1. Synthesized keys stay
  // below 2e7, so 1e8 keeps every shard's full key band disjoint.
  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1); val k = args(2).toInt
    require(k >= 1, "factor must be >= 1")
    // a caller's running session is used as found and left running;
    // only a session built here is stopped here
    val found = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = found.getOrElse(GraftSession.create())

    def rep(table: String)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val out = (0 until k).map(i => remap(df, i)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scalegen] $table x$k written")
    }
    def shift(cols: String*)(df: DataFrame, i: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Off)))

    rep("region")((df, i) => if (i == 0) df else df.limit(0))
    rep("nation")((df, i) => if (i == 0) df else df.limit(0))
    rep("customer")(shift("c_custkey"))
    rep("supplier")(shift("s_suppkey"))
    rep("part")(shift("p_partkey"))
    rep("orders")(shift("o_orderkey", "o_custkey"))
    rep("lineitem")(shift("l_orderkey", "l_partkey", "l_suppkey"))
    rep("events")(shift("event_id", "user_id"))
    rep("documents") { (df, i) =>
      val s = shift("doc_id")(df, i)
      if (i == 0) s
      else s
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), x => concat(x, lit(s"_$i")))))
        .withColumn("n_chars", length(col("text")))
    }
    rep("embeddings") { (df, i) =>
      val s = shift("vec_id")(df, i)
      if (i == 0) s
      else {
        val dim = 64
        val r = i % dim
        s.withColumn("embedding", concat(
          slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r)))
      }
    }
    if (found.isEmpty) spark.stop()
  }
}
