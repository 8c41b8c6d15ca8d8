package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** As-of join as a first-class operator (SURVEY.md §2.3 J5): for each
  * left row, attach the right row with the greatest right-time ≤ the
  * left row's time within the same key — the `ASOF JOIN` of
  * DuckDB/QuestDB/pandas merge_asof, which Spark has no native
  * operator for.
  *
  * This is the (c)-tier extension path from the engine's design
  * rules: LogicalPlan node → planner Strategy → physical exec. The
  * physical operator declares ClusteredDistribution on the keys and
  * (key, time) child orderings, so EnsureRequirements inserts exactly
  * one hash exchange + sort per side (identical shuffle shape to a
  * sort-merge join), and the merge itself is a single forward pass
  * per partition with O(1) carried state — no window buffering, no
  * union, no per-row lookups. The compositional union+window
  * formulation (ops.Relational.asofJoin) remains the baseline it is
  * verified against.
  *
  * Semantics: left rows with a NULL key or NULL time match nothing;
  * right rows with NULL key/time are ignored; ties (right-time ==
  * left-time) match, later right rows at the same time winning —
  * callers wanting deterministic tie-breaks should pre-dedup the
  * right side (as the baseline query does).
  */
final case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val boundLK = BindReferences.bindReference(leftKey, lOut)
    val boundLT = BindReferences.bindReference(leftTime, lOut)
    val boundRK = BindReferences.bindReference(rightKey, rOut)
    val boundRT = BindReferences.bindReference(rightTime, rOut)
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    val allOut = output

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      val resultProj = UnsafeProjection.create(allOut, allOut)

      new Iterator[InternalRow] {
        private var lastMatch: InternalRow = _
        private var lastMatchKey: Any = _
        private var rHead: InternalRow = _
        private var rHeadKey: Any = _
        private var rHeadTime: Any = _
        private var primed = false

        private def advanceRight(): Unit = {
          rHead = null
          while (rHead == null && rIt.hasNext) {
            val r = rIt.next()
            val k = boundRK.eval(r)
            val t = boundRT.eval(r)
            if (k != null && t != null) { rHead = r; rHeadKey = k; rHeadTime = t }
          }
        }

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          if (!primed) { advanceRight(); primed = true }
          val l = lIt.next()
          val lKey = boundLK.eval(l)
          val lTime = boundLT.eval(l)
          if (lKey == null || lTime == null) {
            resultProj(joined(l, nullRight))
          } else {
            // consume right rows at-or-before (lKey, lTime)
            var continue = rHead != null
            while (continue) {
              val c = keyOrd.compare(rHeadKey, lKey)
              if (c < 0 || (c == 0 && timeOrd.compare(rHeadTime, lTime) <= 0)) {
                if (c == 0) { lastMatch = rHead.copy(); lastMatchKey = rHeadKey }
                advanceRight()
                continue = rHead != null
              } else continue = false
            }
            val matched = lastMatch != null && keyOrd.compare(lastMatchKey, lKey) == 0
            resultProj(joined(l, if (matched) lastMatch else nullRight))
          }
        }
      }
    }
  }
}

/** User-facing API. `AsOfJoin` nodes come only from [[AsOf.join]],
  * which registers the planner strategy on first use via the public
  * experimental-strategies hook, once per session. */
object AsOf {

  def ensureRegistered(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val strategies = classic.experimental.extraStrategies
    if (!strategies.exists(_.isInstanceOf[AsOfJoinStrategy.type]))
      classic.experimental.extraStrategies = strategies :+ AsOfJoinStrategy
  }

  /** As-of join `left` to `right` on `key`, matching the latest
    * `rightTime` ≤ `leftTime` per left row. Output column names must
    * be disjoint (rename beforehand, as with any join). */
  def join(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String): DataFrame =
    join(left, right, key, key, leftTime, rightTime)

  /** Variant with differently named keys on each side (use when the
    * sides would otherwise collide on the key column name). */
  def join(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String) = p.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${p.output.map(_.name).mkString(",")}"))
    DatasetBridge.ofRows(spark,
      AsOfJoin(lPlan, rPlan, attr(lPlan, leftKey), attr(rPlan, rightKey),
        attr(lPlan, leftTime), attr(rPlan, rightTime)))
  }
}
