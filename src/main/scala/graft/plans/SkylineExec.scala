package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import graft.skyline.Gsky
import SkylineExec.{merge, Routed}

/** Physical operator for [[SkylinePlan]], and the one two-phase GSKY
  * kernel behind both `SKYLINE OF` and [[graft.skyline.SkylineOp.skyline]]:
  *
  *  - phase 1: per-partition local skyline (zero shuffle — the
  *    reference's combiner trick, Skyline.java:408) over the child
  *    sorted by the SFS key ([[SkylineDims.sfsOrder]]), which
  *    `requiredChildOrdering` hands to Spark's spillable `SortExec`;
  *  - phase 2: a parallel elimination over `m = min(phase-1 partitions,
  *    defaultParallelism)` merge tasks, after G-SKY-MR (SKY-MR's
  *    GSkyMapper/GSkyReducer). Phase-1 task `pid` sends each survivor
  *    once, as a candidate, to merge task `pid % m`, and one packed
  *    block of its survivors' vectors, as probes, to every merge task.
  *    A merge task keeps a candidate iff no probe dominates it
  *    ([[SkylineExec.merge]]). One shuffle, one job.
  *
  * The merge is exact: a row that dominates a survivor is itself
  * dominated by, or equal to, some phase-1 survivor (transitivity), so
  * the survivors are all the probes a candidate needs.
  *
  * Dim vectors come from [[SkylineDims.vectors]]; rows with a NULL/NaN
  * dim are dropped (SkylineOp.prepare semantics).
  */
case class SkylineExec(dims: Seq[(Expression, Int)], child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(SkylineDims.sfsOrder(dims))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numSurvivors" -> SQLMetrics.createMetric(sparkContext, "phase-1 survivors"),
    "numProbes" -> SQLMetrics.createMetric(sparkContext, "probe vectors sent"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "mergeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "merge time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (dims, input, d) = (this.dims, child.output, this.dims.length)
    val (numInput, numSurvivors, numProbes, numOutput, mergeTime) = (longMetric("numInputRows"),
      longMetric("numSurvivors"), longMetric("numProbes"), longMetric("numOutputRows"),
      longMetric("mergeTime"))
    val phase1 = child.execute()
    val m = math.max(1, math.min(phase1.getNumPartitions, sparkContext.defaultParallelism))

    val routed = phase1.mapPartitionsWithIndex { (pid, it) =>
      val vecOf = SkylineDims.vectors(dims, input)
      val buf = Gsky.emptyBuf[InternalRow]
      var rows = 0L
      it.foreach { row =>
        val vec = vecOf(row)
        if (vec != null) { rows += 1; SkylineDims.insertCopy(buf, vec, row) }
      }
      numInput += rows
      numSurvivors += buf.length
      if (buf.isEmpty) Iterator.empty
      else {
        numProbes += buf.length.toLong * m
        val block = new Array[Double](buf.length * d)
        var i = 0
        while (i < buf.length) { System.arraycopy(buf(i)._1, 0, block, i * d, d); i += 1 }
        Iterator.tabulate(m)(j => (j, Left(block): Routed)) ++
          buf.iterator.map(p => (pid % m, Right(p._2): Routed))
      }
    }

    // Shuffled rows arrive as fresh objects, so the merge keeps them uncopied.
    routed.partitionBy(new HashPartitioner(m)).mapPartitions { it =>
      val start = System.nanoTime()
      val vecOf = SkylineDims.vectors(dims, input)
      val out = merge(it.map(_._2), d, vecOf)
      numOutput += out.length
      mergeTime += System.nanoTime() - start
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SkylineExec =
    copy(child = newChild)
}

object SkylineExec {

  /** A phase-2 shuffle value: a probe block, or one candidate row. */
  private type Routed = Either[Array[Double], InternalRow]

  /** Fixed-order sum of a vector: the SFS key of the phase-2 merge. */
  private def sum(v: Array[Double], from: Int, d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) { s += v(from + i); i += 1 }
    s
  }

  /** One merge task: the candidates no probe dominates.
    *
    * The probes, every phase-1 survivor's vector, are packed `d` doubles
    * apiece and sorted by their sum under `Ordering.Double.TotalOrdering`
    * (NaN sums, from +∞ plus −∞, last). A candidate's scan stops at the
    * first probe whose sum is greater than its own: floating-point
    * addition in a fixed order is monotone, so a dominator's sum is never
    * greater than its victim's, and a NaN sum compares greater than
    * nothing, so it never ends a scan early.
    *
    * Throws [[Gsky.overflow]] once the probes it holds exceed `cap`.
    * Every probe is a phase-1 survivor, so this fires wherever a one-task
    * GSKY merge of the same survivors would; it fires earlier only when
    * more than `cap` survivors would already sit in one task.
    */
  private[plans] def merge[P](values: Iterator[Either[Array[Double], P]], d: Int,
      vecOf: P => Array[Double], cap: Int = Gsky.DefaultMaxBufferSize): ArrayBuffer[P] = {
    val blocks = ArrayBuffer.empty[Array[Double]]
    val candidates = ArrayBuffer.empty[P]
    var held = 0L
    values.foreach {
      case Left(block) =>
        held += block.length / d
        if (held > cap) throw Gsky.overflow(cap)
        blocks += block
      case Right(p) => candidates += p
    }
    val all = Array.concat(blocks.toSeq: _*)
    val order = Array.tabulate(all.length / d)(i => (sum(all, i * d, d), i))
      .sortBy(_._1)(Ordering.Double.TotalOrdering)
    val sums = order.map(_._1)
    val probes = new Array[Double](all.length)
    order.indices.foreach(k => System.arraycopy(all, order(k)._2 * d, probes, k * d, d))

    def dominated(v: Array[Double]): Boolean = {
      val s = sum(v, 0, d)
      var k = 0
      while (k < sums.length && !(sums(k) > s)) {
        val at = k * d
        var i = 0
        var better = false
        while (i < d && probes(at + i) <= v(i)) { better ||= probes(at + i) < v(i); i += 1 }
        if (i == d && better) return true
        k += 1
      }
      false
    }
    candidates.filterNot(p => dominated(vecOf(p)))
  }
}
