package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.types.StringType

/** Logical skycube node, planned by both the `SKYCUBE OF` clause and
  * [[graft.skyline.Skycube.skycube]]: the skyline of EVERY non-empty
  * subspace of `dims`, each output row labeled with its subspace
  * (dimension names joined "+", in clause order; Yuan et al., VLDB'05).
  *
  * Output = a prepended non-null `subspace` string column + the child
  * output (rows appear once per subspace they win). The subspace
  * attribute is minted at construction and threaded through copies so
  * its exprId stays stable across analyzer transformations.
  */
case class SkycubePlan(
    dimExprs: Seq[Expression],
    signs: Seq[Int],
    child: LogicalPlan,
    subspaceAttr: Attribute =
      AttributeReference("subspace", StringType, nullable = false)())
  extends UnaryNode {

  def dims: Seq[(Expression, Int)] = dimExprs.zip(signs)

  /** Subspace label parts: the column each dim reads. */
  def dimNames: Seq[String] = dimExprs.map { e =>
    e.references.toSeq match {
      case Seq(a) => a.name
      case _ => e.sql
    }
  }

  override def output: Seq[Attribute] = subspaceAttr +: child.output

  /** `subspace` is minted here, not read from the child — without this
    * the analyzer's missing-attribute check rejects the plan.
    */
  override def producedAttributes:
      org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(subspaceAttr))

  override lazy val resolved: Boolean =
    childrenResolved && dimExprs.forall(_.resolved)

  override protected def withNewChildInternal(newChild: LogicalPlan): SkycubePlan =
    copy(child = newChild)
}
