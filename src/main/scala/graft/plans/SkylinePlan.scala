package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}

/** Logical skyline node (after the EDBT'23 "Integration of Skyline
  * Queries into Spark SQL" pattern — PAPERS.md), planned by both the
  * `SKYLINE OF` clause and [[graft.skyline.SkylineOp.skyline]]: keep
  * exactly the child rows not Pareto-dominated under `dims`.
  *
  * `dims` are (expression, sign) pairs in MIN convention: sign +1 for
  * MIN, −1 for MAX (the reference's value_type encoding,
  * Range.java:19). Output = child output — skyline filters rows, never
  * reshapes them. Rows with a NULL/NaN dim are excluded, matching
  * [[graft.skyline.SkylineOp.prepare]].
  */
case class SkylinePlan(dimExprs: Seq[Expression], signs: Seq[Int], child: LogicalPlan)
  extends UnaryNode {

  def dims: Seq[(Expression, Int)] = dimExprs.zip(signs)

  override def output: Seq[Attribute] = child.output

  /** Dim expressions must resolve against the child. They live in a
    * plain Seq[Expression] field (not tuples) so the analyzer's generic
    * expression traversal sees and resolves them.
    */
  override lazy val resolved: Boolean =
    childrenResolved && dimExprs.forall(_.resolved)

  override protected def withNewChildInternal(newChild: LogicalPlan): SkylinePlan =
    copy(child = newChild)
}
