// Custom whole-operator extension: logical node + strategy + physical exec
// for the as-of join — the SURVEY §2.11(c) extension tier (LogicalPlan +
// SparkStrategy + SparkPlan), complementing the expression- and rule-level
// extensions elsewhere in graftx.
package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Logical as-of join: for every left row, attach the right row with the
  * same key and the greatest `time` not exceeding the left row's time.
  * Key/time/value columns are held as ATTRIBUTES (not names) so
  * `references` is correct and column pruning cannot drop them from the
  * children.
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    keyL: Attribute, timeL: Attribute,
    keyR: Attribute, timeR: Attribute,
    values: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ values.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy of [[AsofJoinNode]], installed at session build by
  * [[GraftExtensions]].
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, kL, tL, kR, tR, vals) =>
      AsofJoinExec(planLater(l), planLater(r), kL, tL, kR, tR, vals) :: Nil
    case _ => Nil
  }
}

/** Physical sort-merge as-of join.
  *
  * Both children are required hash-clustered on the key and sorted by
  * (key, time) — EnsureRequirements inserts exactly one exchange + sort per
  * side (the SortMergeJoin envelope). Execution is then a single forward
  * merge per co-partition: the right iterator advances while its (key,
  * time) is at or before the current left row, remembering the last value
  * row per key — O(|left| + |right|) with one remembered row of state, no
  * buffering of either side.
  */
case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    keyL: Attribute, timeL: Attribute,
    keyR: Attribute, timeR: Attribute,
    values: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ values.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(keyL)), ClusteredDistribution(Seq(keyR)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(keyL, Ascending), SortOrder(timeL, Ascending)),
    Seq(SortOrder(keyR, Ascending), SortOrder(timeR, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val kLOrd = left.output.indexWhere(_.exprId == keyL.exprId)
    val tLOrd = left.output.indexWhere(_.exprId == timeL.exprId)
    val kROrd = right.output.indexWhere(_.exprId == keyR.exprId)
    val tROrd = right.output.indexWhere(_.exprId == timeR.exprId)
    val vOrds = values.map(v => right.output.indexWhere(_.exprId == v.exprId)).toArray
    require((Seq(kLOrd, tLOrd, kROrd, tROrd) ++ vOrds).forall(_ >= 0),
      "as-of join column not found in child output")
    val keyDt = keyL.dataType
    val timeDt = timeL.dataType
    val valueDts = values.map(_.dataType).toArray
    val keyOrdering = TypeUtils.getInterpretedOrdering(keyDt)
    val timeOrdering = TypeUtils.getInterpretedOrdering(timeDt)
    val outAttrs = output
    val inAttrs = left.output ++ values.map(_.withNullability(true))
    val nValues = values.length

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAttrs, inAttrs)
      val joined = new JoinedRow
      val nullVals = new GenericInternalRow(nValues)
      var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
      var lastKey: Any = null
      var lastVals: GenericInternalRow = null

      def advanceRight(): Unit = {
        // sorted-iterator rows are reused — copy the VALUES (not the row)
        if (!rHead.isNullAt(kROrd) && !rHead.isNullAt(tROrd)) {
          lastKey = InternalRow.copyValue(rHead.get(kROrd, keyDt))
          val g = new GenericInternalRow(nValues)
          var i = 0
          while (i < nValues) {
            g.update(i,
              if (rHead.isNullAt(vOrds(i))) null
              else InternalRow.copyValue(rHead.get(vOrds(i), valueDts(i))))
            i += 1
          }
          lastVals = g
        }
        rHead = if (rIter.hasNext) rIter.next() else null
      }

      lIter.map { lRow =>
        if (lRow.isNullAt(kLOrd) || lRow.isNullAt(tLOrd)) {
          proj(joined(lRow, nullVals))
        } else {
          val lKey = lRow.get(kLOrd, keyDt)
          val lTime = lRow.get(tLOrd, timeDt)
          var continue = rHead != null
          while (continue) {
            if (rHead.isNullAt(kROrd) || rHead.isNullAt(tROrd)) {
              rHead = if (rIter.hasNext) rIter.next() else null
            } else {
              val c = keyOrdering.compare(rHead.get(kROrd, keyDt), lKey)
              if (c < 0 ||
                  (c == 0 && timeOrdering.compare(rHead.get(tROrd, timeDt), lTime) <= 0))
                advanceRight()
              else continue = false
            }
            if (rHead == null) continue = false
          }
          val matched = lastVals != null && lastKey != null &&
            keyOrdering.compare(lastKey, lKey) == 0
          proj(joined(lRow, if (matched) lastVals else nullVals))
        }
      }
    }
  }
}

/** Public builder for the custom operator. */
object AsofPhysical {

  /** As-of join via the custom physical operator: semantics identical to
    * `graft.operators.AsofJoin` (right value columns come back as
    * `asof_<name>`, null when no right row qualifies). Right value column
    * names must not collide with left column names. The session of `left`
    * must have been built with [[GraftExtensions]] (every `graft.GraftSession`
    * is); without its planner strategy the join fails to plan.
    */
  def asof(left: DataFrame, right: DataFrame, key: String, time: String,
      rightCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    // fresh exprIds on the right side (Alias always re-ids) so a self-join
    // never carries duplicate attribute ids into the binary node
    val rightFresh = right.select(
      (Seq(key, time) ++ rightCols).distinct.map(n => col(n).as(n)): _*)
    val lp = left.queryExecution.analyzed
    val rp = rightFresh.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        sys.error(s"as-of join: column $n not found in ${p.output.map(_.name)}"))
    val node = AsofJoinNode(lp, rp,
      attr(lp, key), attr(lp, time), attr(rp, key), attr(rp, time),
      rightCols.map(attr(rp, _)))
    val out = org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], node)
    rightCols.foldLeft(out: DataFrame)((d, c) =>
      d.withColumnRenamed(c, s"asof_$c"))
  }
}
