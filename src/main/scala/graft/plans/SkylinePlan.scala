package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}

/** Logical skyline node (after the EDBT'23 "Integration of Skyline
  * Queries into Spark SQL" pattern — PAPERS.md), planned by the
  * `SKYLINE OF` clause, [[graft.skyline.SkylineOp.skyline]] and
  * [[graft.skyline.SkylineOp.grouped]]: keep exactly the child rows not
  * Pareto-dominated under `dims` by a row of the same group.
  *
  * `dims` are (expression, sign) pairs in MIN convention: sign +1 for
  * MIN, −1 for MAX (the reference's value_type encoding,
  * Range.java:19). `groupExprs` split the child into independent
  * skylines, one per distinct key (NULL keys form their own group); no
  * group expression means one global skyline. Output = child output —
  * skyline filters rows, never reshapes them. Rows with a NULL/NaN dim
  * are excluded, matching [[graft.skyline.SkylineOp.prepare]].
  * `routing` places the merge's work ([[SkylineRouting]]); it never
  * changes the result.
  */
case class SkylinePlan(dimExprs: Seq[Expression], signs: Seq[Int], child: LogicalPlan,
    groupExprs: Seq[Expression] = Nil, routing: SkylineRouting = SkylineRouting.AllTasks)
  extends UnaryNode {

  def dims: Seq[(Expression, Int)] = dimExprs.zip(signs)

  override def output: Seq[Attribute] = child.output

  /** Dim and group expressions must resolve against the child. They
    * live in plain Seq[Expression] fields (not tuples) so the analyzer's
    * generic expression traversal sees, resolves and type-checks them.
    */
  override lazy val resolved: Boolean =
    childrenResolved && (dimExprs ++ groupExprs).forall(_.resolved)

  override protected def withNewChildInternal(newChild: LogicalPlan): SkylinePlan =
    copy(child = newChild)
}
