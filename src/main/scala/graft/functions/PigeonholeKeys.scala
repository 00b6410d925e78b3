package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Native generator of the two-segment pigeonhole keys behind
  * [[graft.operators.Dedup.editDistanceJoin]]: emits `(i, j, sub)` rows,
  * one per distinct segment-pair key of a string's first `prefixLen` code
  * points.
  *
  * The string is cut into `k + 2` contiguous segments whose lengths differ
  * by at most one. For every segment pair i < j, `sub` is segment i, the
  * separator and segment j, each cut at its start shifted by the net indel
  * drift before it. In probe mode the shifts (s₁, s₂) range over every
  * |s₁| + |s₂ − s₁| ≤ k whose cuts stay inside the prefix (≤ 41 arms per
  * pair at k = 4); index mode emits only the zero shift, so exactly
  * C(k+2, 2) rows per string. Probe keys are distinct within each (i, j):
  * on self-similar text several shifts cut the same key, and every
  * duplicate would multiply the join's matched rows for no new pair.
  *
  * Segment bounds and feasible arms are fixed when the expression is
  * built; a row only cuts substrings. Cuts use `UTF8String.substring`,
  * which counts code points as Spark's `substring` and DuckDB's `substr`
  * do, so a supplementary-plane character is one position, not two UTF-16
  * units. Null strings and strings shorter than `prefixLen` emit no rows;
  * code points past `prefixLen` are never read.
  *
  * Why a kernel and not a composed plan: see `editDistanceMatches`.
  */
case class PigeonholeKeys(child: Expression, k: Int, prefixLen: Int, probe: Boolean)
    extends UnaryExpression with Generator with CodegenFallback {
  import PigeonholeKeys._
  require(k >= 1, s"pigeonhole keys: k=$k must be >= 1")
  require(prefixLen >= 2 * (k + 2),
    s"pigeonhole keys: prefixLen=$prefixLen too short for k=$k (needs ${2 * (k + 2)})")

  /** Per segment pair: (i, j, arms), each arm the two cut starts. */
  @transient private lazy val plan: Array[(Int, Int, Array[(Int, Int)])] =
    armsByPair(k, prefixLen, probe).toArray.map { case ((i, j), arms) => (i, j, arms.toArray) }

  @transient private lazy val lens: Array[Int] =
    Array.tabulate(k + 2)(i => segStart(k, prefixLen, i + 1) - segStart(k, prefixLen, i))

  override def elementSchema: StructType = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("j", IntegerType, nullable = false),
    StructField("sub", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pigeonhole_keys expects string, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input).asInstanceOf[UTF8String]
    val s = if (text == null) null else text.substring(0, prefixLen)
    if (s == null || s.numChars() < prefixLen) Iterator.empty
    else {
      val out = new ArrayBuffer[InternalRow]()
      val seen = new java.util.HashSet[UTF8String]()
      for ((i, j, arms) <- plan) {
        seen.clear()
        for ((pi, pj) <- arms) {
          val key = UTF8String.concat(s.substring(pi, pi + lens(i)), Separator,
            s.substring(pj, pj + lens(j)))
          if (seen.add(key)) out += InternalRow(i, j, key)
        }
      }
      out
    }
  }

  override protected def withNewChildInternal(newChild: Expression): PigeonholeKeys =
    copy(child = newChild)
}

object PigeonholeKeys {
  import org.apache.spark.sql.{Column, GraftShims}

  /** Joins the two segments of a key. Not needed for uniqueness: within
    * one (i, j) both segment lengths are fixed, so every key splits at the
    * same code point. It costs one byte a key and keeps each key readable
    * as its two segments.
    */
  val Separator: UTF8String = UTF8String.fromString("\u0001")

  /** 0-based start of segment `i` of `k + 2` over `prefixLen` code points;
    * `segStart(k + 2)` is `prefixLen`.
    */
  private[graft] def segStart(k: Int, prefixLen: Int, i: Int): Int = {
    val nSeg = k + 2
    i * (prefixLen / nSeg) + math.min(i, prefixLen % nSeg)
  }

  /** Segment pairs i < j in order, each with its feasible cut starts. A
    * shift pair needs |s₁| + |s₂ − s₁| ≤ k: edits before segment i bound
    * the first drift, edits between i and j the second, and the two edit
    * sets are disjoint. Cuts past either end of the prefix are dropped.
    */
  private[graft] def armsByPair(k: Int, prefixLen: Int, probe: Boolean): Seq[((Int, Int), Seq[(Int, Int)])] = {
    def start(i: Int) = segStart(k, prefixLen, i)
    val shifts =
      if (!probe) Seq((0, 0))
      else for {
        s1 <- -k to k; s2 <- -k to k
        if math.abs(s1) + math.abs(s2 - s1) <= k
      } yield (s1, s2)
    (0 until k + 2).combinations(2).map { c =>
      val (i, j) = (c(0), c(1))
      val (li, lj) = (start(i + 1) - start(i), start(j + 1) - start(j))
      (i, j) -> shifts.map { case (s1, s2) => (start(i) + s1, start(j) + s2) }
        .filter { case (pi, pj) =>
          pi >= 0 && pi + li <= prefixLen && pj >= 0 && pj + lj <= prefixLen
        }
    }.toSeq
  }

  /** Column-API entry: `select(pigeonholeKeys(s, k, prefixLen, probe))`
    * yields `(i, j, sub)` rows through a single `Generate` node.
    */
  def pigeonholeKeys(s: Column, k: Int, prefixLen: Int, probe: Boolean): Column =
    GraftShims.toColumn(PigeonholeKeys(GraftShims.toExpression(s), k, prefixLen, probe))
}
