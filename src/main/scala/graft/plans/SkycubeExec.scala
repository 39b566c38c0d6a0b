package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.unsafe.types.UTF8String

import graft.skyline.Gsky

/** Physical operator for [[SkycubePlan]], and the one-scan skycube
  * kernel behind both `SKYCUBE OF` and [[graft.skyline.Skycube.skycube]]:
  *
  *  - phase 1: ONE pass over the child, sorted by the full-space SFS
  *    key ([[SkylineDims.sfsOrder]] — still a valid arrival order for
  *    every projection; eviction handles the rest); per partition, a
  *    GSKY buffer PER SUBSPACE (2^d − 1 of them, d ≤ 6 enforced by both
  *    front ends) receives the row's projected vector — the multi-group
  *    combiner trick, so the scan/parse cost is paid once for the cube;
  *  - phase 2: local survivors shuffle ON THE SUBSPACE MASK (each
  *    subspace's final merge is its own parallel task), are SFS-sorted
  *    per subspace and re-merged.
  *
  * Output rows are the child row prefixed with the subspace label
  * (dim names joined "+", clause order). Rows with a NULL/NaN dim are
  * dropped (SkylineOp.prepare semantics, as in [[SkylineExec]]).
  */
case class SkycubeExec(
    dims: Seq[(Expression, Int)],
    dimNames: Seq[String],
    subspaceAttr: Attribute,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = subspaceAttr +: child.output

  override def producedAttributes:
      org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(subspaceAttr))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(SkylineDims.sfsOrder(dims))

  override protected def doExecute(): RDD[InternalRow] = {
    val (dims, input, names) = (this.dims, child.output, dimNames)
    val d = dims.length
    val masks: Array[Int] = (1 until (1 << d)).toArray

    def project(vec: Array[Double], mask: Int): Array[Double] = {
      val out = new Array[Double](java.lang.Integer.bitCount(mask))
      var i = 0; var j = 0
      while (i < d) {
        if ((mask & (1 << i)) != 0) { out(j) = vec(i); j += 1 }
        i += 1
      }
      out
    }

    val local: RDD[(Int, (Array[Double], InternalRow))] =
      child.execute().mapPartitions { it =>
        val vecOf = SkylineDims.vectors(dims, input)
        val bufs = masks.map(_ => Gsky.emptyBuf[InternalRow])
        it.foreach { row =>
          val vec = vecOf(row)
          if (vec != null) {
            var copied: InternalRow = null
            var k = 0
            while (k < masks.length) {
              copied = SkylineDims.insertCopy(bufs(k), project(vec, masks(k)), row, copied)
              k += 1
            }
          }
        }
        masks.iterator.zip(bufs.iterator).flatMap { case (m, buf) =>
          buf.iterator.map(p => (m, p))
        }
      }

    val outSchema = output
    local
      .partitionBy(new HashPartitioner(masks.length))
      .mapPartitions { it =>
        // Downstream exchanges/serializers require UnsafeRow — project
        // the (label, child-row) join into the output layout. The
        // projection's buffer reuse is safe: every standard consumer
        // copies on buffering.
        val toUnsafe = UnsafeProjection.create(outSchema, outSchema)
        it.toSeq.groupMap(_._1)(_._2).iterator.flatMap { case (m, points) =>
          val label = UTF8String.fromString(
            names.zipWithIndex.collect { case (n, i) if (m & (1 << i)) != 0 => n }.mkString("+"))
          val left = new GenericInternalRow(Array[Any](label))
          val joined = new JoinedRow
          SkylineDims.sfsSkyline(points.iterator).iterator.map { case (_, r) =>
            toUnsafe(joined(left, r))
          }
        }
      }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SkycubeExec =
    copy(child = newChild)
}
