package graft.plans

import scala.collection.mutable.ArrayDeque

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge

/** INTERVAL (range) JOIN as a first-class operator: all (left, right)
  * pairs with equal key and `|l.time − r.time| ≤ window`.
  *
  * The composable alternatives both over-pay at scale: the raw theta join
  * degenerates to per-key cross products, and the bucketized rewrite
  * (`queries.Ext.joinRangeBucketed`) triples the build side (±1 bucket
  * explode). This exec clusters and sorts both sides once, then one merge
  * pass per partition keeps a sliding buffer of in-window right rows —
  * memory is O(rows within 2·window of the probe), the optimum for this
  * join, and nothing is replicated.
  */
/** @param leftOuter true → unmatched (or null-key) left rows emit one
  *                   null-extended output row instead of being dropped.
  *                   Null join keys never match in either mode (SQL
  *                   equi-join semantics). */
case class IntervalJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    window: Long,
    leftOuter: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoin =
    copy(left = newLeft, right = newRight)
}

case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    window: Long,
    leftOuter: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKey = BindReferences.bindReference(leftKey, leftOut)
    val lTime = BindReferences.bindReference(leftTime, leftOut)
    val rKey = BindReferences.bindReference(rightKey, rightOut)
    val rTime = BindReferences.bindReference(rightTime, rightOut)
    val out = output
    val w = window

    val outer = leftOuter

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(out,
        leftOut ++ (if (outer) rightOut.map(_.withNullability(true)) else rightOut))
      val joiner = new JoinedRow
      val nullRight = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rightOut.size)
      val rBuf = rIter.buffered
      val active = ArrayDeque.empty[(Long, InternalRow)] // in-window right rows
      var curKey: Any = null

      lIter.flatMap { lRow =>
        val k = lKey.eval(lRow)
        val t = lTime.eval(lRow).asInstanceOf[Long]
        if (k == null) {
          // null never equi-matches; in outer mode the row still surfaces
          if (outer) Iterator.single(proj(joiner(lRow, nullRight)))
          else Iterator.empty
        } else {
          if (k != curKey) { curKey = MergeJoinSupport.own(k); active.clear() }
          // pull right rows: skip keys before k (and null keys, which sort
          // first and never match), buffer key-k rows ≤ t+w
          var pulling = true
          while (pulling && rBuf.hasNext) {
            val head = rBuf.head
            val hk = rKey.eval(head)
            if (hk == null) rBuf.next()
            else {
              val cmp = MergeJoinSupport.ordCompare(hk, k)
              if (cmp < 0) rBuf.next()
              else if (cmp == 0 && rTime.eval(head).asInstanceOf[Long] <= t + w) {
                val r = rBuf.next().copy()
                active += ((rTime.eval(r).asInstanceOf[Long], r))
              } else pulling = false
            }
          }
          // evict rows that fell behind the window (left times ascending)
          while (active.nonEmpty && active.head._1 < t - w) active.removeHead()
          // everything remaining is within [t−w, t+w]
          if (active.isEmpty && outer) Iterator.single(proj(joiner(lRow, nullRight)))
          else active.toArray.iterator.map { case (_, r) => proj(joiner(lRow, r)) }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

object IntervalStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoin(l, r, lk, rk, lt, rt, w, lo) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, w, lo) :: Nil
    case _ => Nil
  }
}

object IntervalJoinApi {
  /** Interval join on equal `key` and `|probeTime − buildTime| ≤
    * windowMicros` (long/µs time columns); `leftOuter = true` keeps
    * unmatched probe rows with nulls. Requires [[IntervalStrategy]]
    * injected (see [[GraftExtensions.ensureStrategies]]). */
  def intervalJoin(
      probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String,
      probeTime: String, buildTime: String,
      windowMicros: Long,
      leftOuter: Boolean = false): DataFrame = {
    val lPlan = probe.queryExecution.analyzed
    val rPlan = build.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Expression =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    Bridge.ofRows(probe.sparkSession,
      IntervalJoin(lPlan, rPlan,
        attr(lPlan, probeKey), attr(rPlan, buildKey),
        attr(lPlan, probeTime), attr(rPlan, buildTime), windowMicros, leftOuter))
  }
}
