package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftshim.DatasetShim

/** Native as-of join: for every left row, the latest right row of the
  * same key with `rightTime <= leftTime` (ties on time resolved by the
  * largest tiebreak value), left-outer semantics.
  *
  * This is the one operator in the engine whose semantics Spark's
  * built-ins can't plan directly as a join, so it follows the full
  * custom-operator path: logical node → planner strategy → physical
  * exec. The physical plan declares a hash-clustered distribution on
  * the key and a (key, time, tiebreak) sort for BOTH children, so
  * EnsureRequirements inserts exactly one exchange+sort per side and
  * the join itself is a linear two-pointer merge per partition —
  * the optimal distributed as-of plan (same shape the composed
  * union+window formulation reaches, but without materializing the
  * tagged union or carrying window state).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        rightTiebreak: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        rightTiebreak: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTiebreak, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val nRight = right.output.size

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      var matchRow: InternalRow = null
      var matchKey: Long = 0L

      lIter.map { lRow =>
        val kAny = lKey.eval(lRow)
        val tAny = lTime.eval(lRow)
        if (kAny == null || tAny == null) {
          // SQL join semantics: a null key/time matches nothing —
          // left-outer null right (Debezium-style keys CAN be null)
          joined(lRow, nullRight)
        } else {
          val k = kAny.asInstanceOf[Long]
          val t = tAny.asInstanceOf[Long]
          if (matchRow != null && matchKey != k) matchRow = null
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val head = rBuf.head
            val hkAny = rKey.eval(head)
            val htAny = rTime.eval(head)
            if (hkAny == null || htAny == null) {
              // null-keyed right rows match nothing; nulls sort first
              // under the required Ascending order, so this only
              // skips a prefix of the partition
              rBuf.next()
            } else {
              val hk = hkAny.asInstanceOf[Long]
              val ht = htAny.asInstanceOf[Long]
              if (hk < k || (hk == k && ht <= t)) {
                if (hk == k) { matchRow = head.copy(); matchKey = k }
                rBuf.next()
              } else advancing = false
            }
          }
          joined(lRow, if (matchRow != null) matchRow else nullRight)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, rtb) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rtb) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {
  /** DataFrame-level entry: as-of join `left` to `right` on long keys
    * and timestamp/long time columns (internally both are longs).
    */
  def join(left: DataFrame, right: DataFrame,
           leftKey: Column, rightKey: Column,
           leftTime: Column, rightTime: Column,
           rightTiebreak: Column): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val lPlan = DatasetShim.analyzedPlan(left)
    val rPlan = DatasetShim.analyzedPlan(right)
    def resolve(df: DataFrame, plan: LogicalPlan, c: Column): Expression = {
      val name = df.select(c).columns.head
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${plan.output.map(_.name)}"))
    }
    // the merge compares keys/times as raw longs; fail fast on any
    // other type instead of ClassCastException mid-job
    def requireLong(role: String, e: Expression): Expression = {
      val ok = e.dataType == LongType || e.dataType == TimestampType ||
        e.dataType == TimestampNTZType
      if (!ok) throw new IllegalArgumentException(
        s"as-of join $role must be LongType or TimestampType, got ${e.dataType.sql}")
      e
    }
    val node = AsOfJoinPlan(lPlan, rPlan,
      requireLong("left key", resolve(left, lPlan, leftKey)),
      requireLong("right key", resolve(right, rPlan, rightKey)),
      requireLong("left time", resolve(left, lPlan, leftTime)),
      requireLong("right time", resolve(right, rPlan, rightTime)),
      resolve(right, rPlan, rightTiebreak))
    GraftSqlBridge.ofRows(left.sparkSession, node)
  }
}
