package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Custom typed AGGREGATE: combine per-document MinHash signatures into
  * the signature of the GROUP's shingle-set union, via the MinHash union
  * property — `sig(A ∪ B) = elementwise_min(sig(A), sig(B))` — so corpus-
  * level similarity (e.g. per-language or per-source Jaccard estimates)
  * costs one hash aggregation over already-computed signatures, never a
  * re-shingle of the concatenated corpus.
  *
  * `Aggregator` (not a UDF over collect_list): partial buffers merge
  * map-side, so the shuffle carries one `numHashes`-long array per
  * (group × partition) — constant state, 100 TB-safe.
  */
class MinHashUnionAgg(numHashes: Int)
    extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {

  override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  override def reduce(buf: Array[Long], sig: Seq[Long]): Array[Long] = {
    if (sig != null) {
      var i = 0
      val n = math.min(buf.length, sig.length)
      while (i < n) { if (sig(i) < buf(i)) buf(i) = sig(i); i += 1 }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(r: Array[Long]): Seq[Long] = r.toIndexedSeq

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

object MinHashUnionAgg {
  /** Column-API entry: `minhashUnion(sigCol)` inside `.agg(...)`. */
  def minhashUnion(sig: Column, numHashes: Int = 32): Column =
    udaf(new MinHashUnionAgg(numHashes), ExpressionEncoder[Seq[Long]]())
      .apply(sig)
}
