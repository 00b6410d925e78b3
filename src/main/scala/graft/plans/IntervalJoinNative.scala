package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** NATIVE INTERVAL-OVERLAP JOIN — the second full custom operator
  * (LogicalPlan + SparkStrategy + SparkPlan next to [[AsOfJoinPlan]]),
  * built for the non-equi shape none of the composed strategies covers:
  * BOTH interval sets scale with the data AND share a partition key.
  *
  * The strategy surface so far: a metadata-scale side broadcasts
  * ([[graft.operators.Sessions.sessionIncidentOverlap]]), a point set
  * against static ranges is a broadcast bucket lookup
  * ([[graft.operators.JoinOps.rangeJoin]]), and two data-scale POINT
  * sets bin into ±1-bucket probes
  * ([[graft.operators.JoinOps.proximityJoin]]). For two data-scale
  * INTERVAL sets Spark's own planning of `key = key AND overlap` is a
  * sort-merge join that buffers each right key group and post-filters
  * the full L×R product per key — O(|L_k|·|R_k|) per key even when
  * almost nothing overlaps. This operator instead runs the textbook
  * PLANE SWEEP over (key, start)-sorted inputs: right rows enter an
  * active window when their start passes the current left end, leave it
  * for good when their end falls behind the (ascending) left start, and
  * per left row only the active window is scanned —
  * O(|L| + |R| + output) per partition, memory bounded by the maximum
  * interval concurrency, not the key-group size.
  *
  * Like the as-of node it DECLARES ClusteredDistribution(key) +
  * (key, start) child ordering, so on key-bucketed tables
  * (`DataFrameWriter.bucketBy`) EnsureRequirements plans ZERO
  * exchanges; on anything else it inserts exactly the sort-merge
  * shuffles. Semantics: INNER join on `lKey = rKey AND lStart ≤ rEnd
  * AND rStart ≤ lEnd` (closed endpoints, the SQL `overlaps` convention
  * both oracles replicate); rows with a null key or bound never match.
  * A point set is the `start = end` degenerate case — pass the same
  * column twice.
  */
case class IntervalJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftStart: Attribute, leftEnd: Attribute,
    rightKey: Attribute, rightStart: Attribute, rightEnd: Attribute,
    outer: Boolean = false)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    if (outer) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class IntervalJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftStart: Attribute, leftEnd: Attribute,
    rightKey: Attribute, rightStart: Attribute, rightEnd: Attribute,
    outer: Boolean)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (outer) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftStart, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightStart, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // emitted pairs follow the left scan order, so the (key, start) child
  // ordering survives into the output
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftStart, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lStartOrd = left.output.indexWhere(_.exprId == leftStart.exprId)
    val lEndOrd = left.output.indexWhere(_.exprId == leftEnd.exprId)
    val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rStartOrd = right.output.indexWhere(_.exprId == rightStart.exprId)
    val rEndOrd = right.output.indexWhere(_.exprId == rightEnd.exprId)
    require(lKeyOrd >= 0 && lStartOrd >= 0 && lEndOrd >= 0 &&
      rKeyOrd >= 0 && rStartOrd >= 0 && rEndOrd >= 0,
      "interval join key/bound attributes must come from the child outputs")
    val keyType = leftKey.dataType
    val timeType = leftStart.dataType
    val keyOrdering = TypeUtils.getInterpretedOrdering(keyType)
    val timeOrdering = TypeUtils.getInterpretedOrdering(timeType)
    val nRight = right.output.length
    val emitOuter = outer
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joined = new JoinedRow
      val nullRight =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(nRight)
      val rBuf = rIter.buffered
      // right rows of the CURRENT key whose start has been passed and
      // whose end hasn't fallen behind the sweep line (the left start)
      val active = new ArrayBuffer[InternalRow]
      var activeKey: Any = null
      lIter.flatMap { lRow =>
        if (lRow.isNullAt(lKeyOrd) || lRow.isNullAt(lStartOrd) ||
            lRow.isNullAt(lEndOrd)) {
          if (emitOuter) Iterator.single(joined(lRow, nullRight))
          else Iterator.empty
        } else {
          val lk = lRow.get(lKeyOrd, keyType)
          val ls = lRow.get(lStartOrd, timeType)
          val le = lRow.get(lEndOrd, timeType)
          if (activeKey == null || keyOrdering.compare(activeKey, lk) != 0) {
            active.clear()
            activeKey = lk
          }
          // admit right rows: discard keys behind the ascending left key,
          // buffer current-key rows whose start has been reached (≤ le);
          // later keys / later starts stay for a later left row
          var admitting = true
          while (admitting && rBuf.hasNext) {
            val h = rBuf.head
            if (h.isNullAt(rKeyOrd) || h.isNullAt(rStartOrd) ||
                h.isNullAt(rEndOrd)) { rBuf.next() }
            else {
              val cmp = keyOrdering.compare(h.get(rKeyOrd, keyType), lk)
              if (cmp < 0) rBuf.next()
              else if (cmp == 0 &&
                  timeOrdering.compare(h.get(rStartOrd, timeType), le) <= 0)
                active += rBuf.next().copy()
              else admitting = false
            }
          }
          // one pass: retire rows the sweep line has passed (their end is
          // behind this left's start — left starts only ascend, so they
          // can never match again) and collect this row's matches
          val matches = new ArrayBuffer[InternalRow]
          var i = 0
          var kept = 0
          while (i < active.length) {
            val r = active(i)
            if (timeOrdering.compare(r.get(rEndOrd, timeType), ls) < 0) {
              // expired — drop by not keeping
            } else {
              active(kept) = r
              kept += 1
              if (timeOrdering.compare(r.get(rStartOrd, timeType), le) <= 0)
                matches += r
            }
            i += 1
          }
          active.dropRightInPlace(active.length - kept)
          if (matches.isEmpty && emitOuter)
            Iterator.single(joined(lRow, nullRight))
          else matches.iterator.map(r => joined(lRow, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: [[IntervalJoinPlan]] → [[IntervalJoinExec]], AND
  * recognition of the same shape written as a PLAIN `join(cond)`: an
  * inner/left-outer equi-key join whose remaining condition is exactly
  * the closed-interval overlap `lStart ≤ rEnd AND rStart ≤ lEnd` over
  * bare attribute operands. Users don't have to know the native API —
  * the ordinary DataFrame join plans as the sweep instead of a
  * sort-merge join that post-filters each key group's full product.
  * Injected by [[graft.GraftExtensions]].
  */
object IntervalJoinStrategy extends SparkStrategy
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, GreaterThanOrEqual, LessThanOrEqual}
  import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
  import org.apache.spark.sql.catalyst.plans.logical.Join

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, ls, le, rk, rs, re, outer) =>
      IntervalJoinExec(planLater(l), planLater(r),
        lk, ls, le, rk, rs, re, outer) :: Nil
    case Join(l, r, joinType, Some(cond), hint)
        if (joinType == Inner || joinType == LeftOuter) &&
          hint.leftHint.isEmpty && hint.rightHint.isEmpty &&
          !l.isStreaming && !r.isStreaming =>
      recognize(l, r, cond, joinType == LeftOuter) match {
        case Some(p) => IntervalJoinExec(planLater(p.left), planLater(p.right),
          p.leftKey, p.leftStart, p.leftEnd,
          p.rightKey, p.rightStart, p.rightEnd, p.outer) :: Nil
        case None => Nil
      }
    case _ => Nil
  }

  /** Sort each conjunct into (left-attr, right-attr) pairs by which side
    * its operands resolve to; claim the join only when the condition is
    * EXACTLY one key equality plus the two overlap bounds (any extra
    * conjunct → leave it to the built-in join strategies).
    */
  private def recognize(l: LogicalPlan, r: LogicalPlan, cond: Expression,
      outer: Boolean): Option[IntervalJoinPlan] = {
    def attrOf(e: Expression, side: LogicalPlan): Option[Attribute] = e match {
      case a: Attribute if a.references.subsetOf(side.outputSet) &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(a.dataType) => Some(a)
      case _ => None
    }
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.length != 3) return None
    var key: Option[(Attribute, Attribute)] = None // (left, right)
    var upper: Option[(Attribute, Attribute)] = None // lStart ≤ rEnd
    var lower: Option[(Attribute, Attribute)] = None // rStart ≤ lEnd
    conjuncts.foreach {
      case EqualTo(a, b) =>
        (attrOf(a, l), attrOf(b, r), attrOf(b, l), attrOf(a, r)) match {
          case (Some(la), Some(ra), _, _) if key.isEmpty => key = Some((la, ra))
          case (_, _, Some(la), Some(ra)) if key.isEmpty => key = Some((la, ra))
          case _ => return None
        }
      case LessThanOrEqual(a, b) => classifyRange(a, b, l, r) match {
        case Some(Left(p)) if upper.isEmpty => upper = Some(p)
        case Some(Right(p)) if lower.isEmpty => lower = Some(p)
        case _ => return None
      }
      case GreaterThanOrEqual(a, b) => classifyRange(b, a, l, r) match {
        case Some(Left(p)) if upper.isEmpty => upper = Some(p)
        case Some(Right(p)) if lower.isEmpty => lower = Some(p)
        case _ => return None
      }
      case _ => return None
    }
    (key, upper, lower) match {
      case (Some((lk, rk)), Some((lStart, rEnd)), Some((rStart, lEnd)))
          if lStart.dataType == rEnd.dataType &&
            rStart.dataType == lEnd.dataType &&
            lStart.dataType == rStart.dataType =>
        Some(IntervalJoinPlan(l, r, lk, lStart, lEnd, rk, rStart, rEnd, outer))
      case _ => None
    }
  }

  /** A `a ≤ b` range conjunct is Left((lStart, rEnd)) when a is a left
    * attr and b a right attr, Right((rStart, lEnd)) when the sides are
    * swapped, None otherwise.
    */
  private def classifyRange(a: Expression, b: Expression,
      l: LogicalPlan, r: LogicalPlan)
    : Option[Either[(Attribute, Attribute), (Attribute, Attribute)]] = {
    def attrOf(e: Expression, side: LogicalPlan): Option[Attribute] = e match {
      case at: Attribute if at.references.subsetOf(side.outputSet) &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(at.dataType) => Some(at)
      case _ => None
    }
    (attrOf(a, l), attrOf(b, r), attrOf(a, r), attrOf(b, l)) match {
      case (Some(la), Some(ra), _, _) => Some(Left((la, ra)))
      case (_, _, Some(ra), Some(la)) => Some(Right((ra, la)))
      case _ => None
    }
  }
}

/** Column-level API over the native interval-overlap join. */
object IntervalJoinNative {
  /** Interval-overlap join of `left` to `right` on `key`, with
    * closed-interval bounds `[lStart, lEnd]` × `[rStart, rEnd]`; right
    * columns surfaced under `outPrefix`. The right side is re-aliased
    * column-by-column (fresh ExprIds — self-join-safe), exactly as
    * [[AsOfJoinNative.join]]. For a point right side pass the same
    * column as both bounds. `outer = true` keeps unmatched (and
    * null-bound) left rows with null right columns — the zero-retention
    * shape without a second join-back pass.
    */
  def join(left: DataFrame, right: DataFrame, key: String,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      rightCols: Seq[String], outPrefix: String = "iv_",
      outer: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = left.sparkSession
    val rAliased = right.select(
      (Seq(key, rStart, rEnd) ++ rightCols).distinct.map(c => col(c).as(c)): _*)
    val la = left.queryExecution.analyzed
    val ra = rAliased.queryExecution.analyzed
    require(la.outputSet.intersect(ra.outputSet).isEmpty,
      "interval join sides must not share attributes (re-alias the right side)")
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val out = GraftShims.ofRows(spark,
      IntervalJoinPlan(la, ra,
        attr(la, key), attr(la, lStart), attr(la, lEnd),
        attr(ra, key), attr(ra, rStart), attr(ra, rEnd), outer))
    val projections = la.output.map(a => GraftShims.toColumn(a)) ++
      rightCols.map(c => GraftShims.toColumn(attr(ra, c)).as(outPrefix + c))
    out.select(projections: _*)
  }
}
