package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import graft.skyline.Gsky

/** Physical operator for [[SkylinePlan]], and the one two-phase GSKY
  * kernel behind both `SKYLINE OF` and [[graft.skyline.SkylineOp.skyline]]:
  *
  *  - phase 1: per-partition local skyline (zero shuffle — the
  *    reference's combiner trick, Skyline.java:408) over the child
  *    sorted by the SFS key ([[SkylineDims.sfsOrder]]), which
  *    `requiredChildOrdering` hands to Spark's spillable `SortExec`;
  *  - phase 2: survivors move to one task, are SFS-sorted in memory and
  *    merged (local skylines are orders of magnitude smaller than the
  *    input; for hostile data the quadtree SkyMr path remains the
  *    operator-API alternative).
  *
  * Dim vectors come from [[SkylineDims.vectors]]; rows with a NULL/NaN
  * dim are dropped (SkylineOp.prepare semantics).
  */
case class SkylineExec(dims: Seq[(Expression, Int)], child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(SkylineDims.sfsOrder(dims))

  override protected def doExecute(): RDD[InternalRow] = {
    val (dims, input) = (this.dims, child.output)

    val local = child.execute().mapPartitions { it =>
      val vecOf = SkylineDims.vectors(dims, input)
      val buf = Gsky.emptyBuf[InternalRow]
      it.foreach { row =>
        val vec = vecOf(row)
        if (vec != null) SkylineDims.insertCopy(buf, vec, row)
      }
      buf.iterator.map(_._2)
    }
    // shuffle=true: plain coalesce(1) is a narrow dependency that would
    // compute ALL phase-1 partitions serially in the single merge task;
    // with a shuffle only the tiny local skylines move to it. Shuffled
    // rows arrive as fresh objects, so the merge buffers them uncopied.
    local.coalesce(1, shuffle = true).mapPartitions { it =>
      val vecOf = SkylineDims.vectors(dims, input)
      SkylineDims.sfsSkyline(it.map(row => (vecOf(row), row))).iterator.map(_._2)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SkylineExec =
    copy(child = newChild)
}
