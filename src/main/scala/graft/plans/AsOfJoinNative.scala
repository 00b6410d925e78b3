package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** NATIVE AS-OF JOIN — the full custom-operator ladder (LogicalPlan +
  * SparkStrategy + SparkPlan, injected via [[graft.GraftExtensions]]),
  * built for the one capability the composed form can't express:
  *
  * [[graft.operators.JoinOps.asofJoin]] merges both sides through ONE
  * union exchange — always, even when the inputs are already
  * co-partitioned. This physical operator instead DECLARES its needs
  * ([[ClusteredDistribution]] on the key for both children, (key, time)
  * ordering) and lets `EnsureRequirements` decide: on two tables
  * BUCKETED by the key ([[graft.sources.Sinks.saveBucketed]]) the
  * planned query has ZERO exchanges — the 100 TB shape where the corpus
  * and the quote/dimension stream are both maintained bucketed and an
  * as-of enrichment is a pure partition-local sorted merge. (Plan-pinned
  * in `AsOfNativeSpec`; on un-bucketed inputs EnsureRequirements inserts
  * the same two exchanges a sort-merge join would need.)
  *
  * Semantics match `asofJoin(direction="backward")`: for each left row,
  * the right row with the greatest time ≤ the left time within the same
  * key; unmatched left rows carry nulls (left-outer). Among right rows
  * tied on (key, time) the carried row is scan-order-dependent — give
  * the time column a unique tiebreak (the fixture's `event_id`) when
  * bit-stable output matters, exactly as for the composed form.
  *
  * The merge itself is the textbook partition-local algorithm: both
  * iterators arrive sorted by (key, time); right rows with key < current
  * left key can never match again (left keys ascend) and are discarded;
  * right rows at the current key with time ≤ left time advance the
  * buffered match. O(|L| + |R|) per partition, one buffered row of
  * state.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the contract that buys the zero-exchange plan on bucketed inputs:
  // EnsureRequirements co-partitions the children on the keys (adding
  // exchanges ONLY where the existing partitioning doesn't already
  // satisfy the distribution) and sorts within partitions
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTimeOrd = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTimeOrd = right.output.indexWhere(_.exprId == rightTime.exprId)
    require(lKeyOrd >= 0 && lTimeOrd >= 0 && rKeyOrd >= 0 && rTimeOrd >= 0,
      "as-of join key/time attributes must come from the child outputs")
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    val keyOrdering = TypeUtils.getInterpretedOrdering(keyType)
    val timeOrdering = TypeUtils.getInterpretedOrdering(timeType)
    val nRight = right.output.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      var matched: InternalRow = null
      var matchedKey: Any = null
      lIter.map { lRow =>
        if (lRow.isNullAt(lKeyOrd) || lRow.isNullAt(lTimeOrd)) {
          joined(lRow, nullRight)
        } else {
          val lk = lRow.get(lKeyOrd, keyType)
          val lt = lRow.get(lTimeOrd, timeType)
          // discard right rows that can never match again (their key is
          // behind the ascending left key) and null-key/time rows
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val h = rBuf.head
            if (h.isNullAt(rKeyOrd) || h.isNullAt(rTimeOrd)) { rBuf.next() }
            else {
              val cmp = keyOrdering.compare(h.get(rKeyOrd, keyType), lk)
              if (cmp < 0) rBuf.next()
              else if (cmp == 0 &&
                  timeOrdering.compare(h.get(rTimeOrd, timeType), lt) <= 0) {
                matched = rBuf.next().copy()
                matchedKey = lk
              } else advancing = false
            }
          }
          if (matched != null && keyOrdering.compare(matchedKey, lk) == 0)
            joined(lRow, matched)
          else joined(lRow, nullRight)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: our logical node → our physical node, everything
  * else untouched. Injected by [[graft.GraftExtensions]].
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt) :: Nil
    case _ => Nil
  }
}

/** Column-level API over the native operator. */
object AsOfJoinNative {
  /** Backward as-of join of `left` to `right` on `key` ordered by `time`,
    * right columns surfaced under `outPrefix`. The right side is
    * re-aliased column-by-column first: fresh ExprIds keep the node
    * self-join-safe (both sides may derive from the same table) and the
    * prefix keeps output names unambiguous.
    */
  def join(left: DataFrame, right: DataFrame, key: String, time: String,
      rightCols: Seq[String], outPrefix: String = "asof_"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = left.sparkSession
    // re-aliasing mints fresh ExprIds on the right side — self-join-safe
    val rAliased = right.select(
      (Seq(key, time) ++ rightCols).distinct.map(c => col(c).as(c)): _*)
    val la = left.queryExecution.analyzed
    val ra = rAliased.queryExecution.analyzed
    require(la.outputSet.intersect(ra.outputSet).isEmpty,
      "as-of join sides must not share attributes (re-alias the right side)")
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val out = GraftShims.ofRows(spark,
      AsOfJoinPlan(la, ra, attr(la, key), attr(la, time),
        attr(ra, key), attr(ra, time)))
    // project by ATTRIBUTE, not name — key/time exist on both sides
    val projections = la.output.map(a => GraftShims.toColumn(a)) ++
      rightCols.map(c => GraftShims.toColumn(attr(ra, c)).as(outPrefix + c))
    out.select(projections: _*)
  }
}
