package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge

/** AS-OF JOIN as a first-class operator (logical node → strategy →
  * physical exec) — the §(c) tier of the custom-operator ladder: Spark has
  * no native as-of join, and while the union+window composition
  * (`queries.Ext.joinAsof`) expresses the semantics, a dedicated operator
  * owns its distribution/ordering contracts: both sides hash-cluster on
  * the key and sort on (key, time), then one streaming merge pass per
  * partition emits, for every left row, the latest right row with
  * `right.time <= left.time`. No row buffering beyond one right row per
  * key — O(1) state, no window materialization.
  *
  * Left-outer semantics: unmatched left rows emit nulls on the right.
  * Null join keys never match (SQL equi-join semantics): null-key probe
  * rows emit null-extended output, null-key build rows are skipped.
  *
  * @param tolerance maximum probe−build time distance in the time
  *                  column's unit for a match (< 0 = unbounded): a stale
  *                  build row beyond the bound yields nulls — the
  *                  standard "as-of within" refinement.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Long = -1L) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Long) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // both sides cluster on the key …
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // … and arrive sorted by (key, time): the merge is then one pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKey = BindReferences.bindReference(leftKey, leftOut)
    val lTime = BindReferences.bindReference(leftTime, leftOut)
    val rKey = BindReferences.bindReference(rightKey, rightOut)
    val rTime = BindReferences.bindReference(rightTime, rightOut)
    val out = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(out,
        leftOut ++ rightOut.map(_.withNullability(true)))
      val joiner = new JoinedRow
      val nullRight = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rightOut.size)
      val rBuf = rIter.buffered

      // per-current-key state: the latest right row at-or-before the probe
      var curKey: Any = null
      var lastRight: InternalRow = null
      var lastRightTime = Long.MinValue

      lIter.map { lRow =>
        val k = lKey.eval(lRow)
        val t = lTime.eval(lRow).asInstanceOf[Long]
        if (k == null) {
          // null never equi-matches: null-key probes are unmatched
          proj(joiner(lRow, nullRight))
        } else {
          if (k != curKey) { curKey = MergeJoinSupport.own(k); lastRight = null }
          // advance the right side through (key < k) and (key == k, time <= t)
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val head = rBuf.head
            val hk = rKey.eval(head)
            if (hk == null) { rBuf.next() } // null build keys never match
            else {
              val cmp = MergeJoinSupport.ordCompare(hk, k)
              if (cmp < 0) { rBuf.next() } // drained keys
              else if (cmp == 0 && rTime.eval(head).asInstanceOf[Long] <= t) {
                lastRight = rBuf.next().copy()
                lastRightTime = rTime.eval(lastRight).asInstanceOf[Long]
              } else advancing = false
            }
          }
          val r =
            if (lastRight != null && (tolerance < 0L || t - lastRightTime <= tolerance))
              lastRight
            else nullRight
          proj(joiner(lRow, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol) :: Nil
    case _ => Nil
  }
}

object AsOfJoinApi {
  /** Dataset-level entry: as-of join `probe` with `build` on equal key,
    * latest `build.timeCol <= probe.timeCol` (long/µs columns), optionally
    * within `tolerance` time units. Requires [[AsOfStrategy]] injected
    * (see [[GraftExtensions.ensureStrategies]]). */
  def asofJoin(
      probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String,
      probeTime: String, buildTime: String,
      tolerance: Long = -1L): DataFrame = {
    val spark = probe.sparkSession
    val lPlan = probe.queryExecution.analyzed
    val rPlan = build.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Expression =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    Bridge.ofRows(spark,
      AsOfJoin(lPlan, rPlan,
        attr(lPlan, probeKey), attr(rPlan, buildKey),
        attr(lPlan, probeTime), attr(rPlan, buildTime), tolerance))
  }
}
