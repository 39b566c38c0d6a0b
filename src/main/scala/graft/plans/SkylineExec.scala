package graft.plans

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.KeyBridge
import graft.skyline.Gsky
import SkylineExec.{localSkylines, merge, Routed}

/** Physical operator for [[SkylinePlan]], and the one two-phase GSKY
  * kernel behind `SKYLINE OF`, [[graft.skyline.SkylineOp.skyline]],
  * [[graft.skyline.SkylineOp.grouped]] and [[graft.skyline.SkyMr.skyline]]:
  *
  *  - phase 1: per-partition local skyline of each group (zero shuffle —
  *    the reference's combiner trick, Skyline.java:408) over the child
  *    sorted by (group keys…, SFS key [[SkylineDims.sfsOrder]]), which
  *    `requiredChildOrdering` hands to Spark's spillable `SortExec`.
  *    Each group is then one contiguous run, so one GSKY buffer is live
  *    at a time, flushed when the key changes (SKY-MR's LSkyReducer).
  *    Rows the routing does not admit are dropped first;
  *  - phase 2: a parallel elimination over `m = min(phase-1 partitions,
  *    defaultParallelism)` merge tasks, after G-SKY-MR (SKY-MR's
  *    GSkyMapper/GSkyReducer). The [[SkylineRouting]] sends each
  *    survivor of group `g` once, as a candidate, to its home task, and
  *    its vector, as a probe, to every task that may hold a candidate it
  *    dominates; phase-1 task `pid` packs the probes of a group bound for
  *    one task into one block. A merge task keeps a candidate iff no
  *    probe of its group dominates it ([[SkylineExec.merge]], once per
  *    group held). One shuffle, one job.
  *
  * With no group expression every row shares the one empty key: the
  * global skyline, through the same code.
  *
  * The merge is exact: a row that dominates a survivor is itself
  * dominated by, or equal to, some phase-1 survivor of its group
  * (transitivity), and the routing sends that survivor to every task
  * holding a candidate it dominates, so those survivors are all the
  * probes a candidate needs.
  *
  * Dim vectors come from [[SkylineDims.vectors]]; rows with a NULL/NaN
  * dim are dropped (SkylineOp.prepare semantics). Group keys compare as
  * Spark's grouping does: NULL is a key of its own, and -0.0/0.0 and
  * all NaNs are one key each.
  */
case class SkylineExec(dims: Seq[(Expression, Int)], groupExprs: Seq[Expression], child: SparkPlan,
    routing: SkylineRouting = SkylineRouting.AllTasks)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(groupExprs.map(SortOrder(_, Ascending)) ++ SkylineDims.sfsOrder(dims))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numLeaves" -> SQLMetrics.createMetric(sparkContext, "quadtree leaves"),
    "numPrunedLeaves" -> SQLMetrics.createMetric(sparkContext, "pruned quadtree leaves"),
    "numDropped" -> SQLMetrics.createMetric(sparkContext, "rows dropped before phase 1"),
    "numSurvivors" -> SQLMetrics.createMetric(sparkContext, "phase-1 survivors"),
    "numProbes" -> SQLMetrics.createMetric(sparkContext, "probe vectors sent"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "mergeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "merge time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (dims, input, d, routing) = (this.dims, child.output, this.dims.length, this.routing)
    val keys = groupExprs.map(KeyBridge.normalizeFloats)
    val (numInput, numDropped, numSurvivors, numProbes, numOutput, mergeTime) = (longMetric("numInputRows"),
      longMetric("numDropped"), longMetric("numSurvivors"), longMetric("numProbes"),
      longMetric("numOutputRows"), longMetric("mergeTime"))
    val (leaves, pruned) = (longMetric("numLeaves"), longMetric("numPrunedLeaves"))
    leaves.set(routing.leaves)
    pruned.set(routing.prunedLeaves)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(leaves, pruned))
    val phase1 = child.execute()
    val m = math.max(1, math.min(phase1.getNumPartitions, sparkContext.defaultParallelism))

    val routed = phase1.mapPartitionsWithIndex { (pid, it) =>
      val vecOf = SkylineDims.vectors(dims, input)
      val admitted = (row: InternalRow) => {
        val vec = vecOf(row)
        if (vec == null) null
        else {
          numInput += 1
          if (routing.admits(vec)) vec else { numDropped += 1; null }
        }
      }
      localSkylines(it, UnsafeProjection.create(keys, input), admitted).flatMap {
        case (_, buf) if buf.isEmpty => Iterator.empty
        case (key, buf) =>
          numSurvivors += buf.length
          val blocks = Array.fill(m)(new mutable.ArrayBuilder.ofDouble)
          buf.foreach { case (v, _) => routing.probe(v, m)(blocks(_).addAll(v)) }
          val probes = blocks.indices.iterator.filter(blocks(_).length > 0).map { j =>
            val block = blocks(j).result()
            numProbes += block.length / d
            (j, Left((key, block)): Routed)
          }
          probes ++ buf.iterator.map(p => (routing.home(p._1, key.hashCode, pid, m), Right(p._2): Routed))
      }
    }

    // Shuffled rows arrive as fresh objects, so the merge keeps them uncopied.
    routed.partitionBy(new HashPartitioner(m)).mapPartitions { it =>
      val start = System.nanoTime()
      val vecOf = SkylineDims.vectors(dims, input)
      val keyOf = UnsafeProjection.create(keys, input)
      val groups = mutable.HashMap.empty[UnsafeRow, ArrayBuffer[Either[Array[Double], InternalRow]]]
      def group(key: UnsafeRow) = groups.getOrElseUpdate(key, ArrayBuffer.empty)
      it.foreach {
        case (_, Left((key, block))) => group(key) += Left(block)
        case (_, Right(row)) => group(keyOf(row).copy()) += Right(row)
      }
      val out = groups.valuesIterator.flatMap(values => merge(values.iterator, d, vecOf)).toArray
      numOutput += out.length
      mergeTime += System.nanoTime() - start
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SkylineExec =
    copy(child = newChild)
}

object SkylineExec {

  /** A phase-2 shuffle value: a group's probe block, or one candidate row. */
  private type Routed = Either[(UnsafeRow, Array[Double]), InternalRow]

  /** Phase 1 over a partition sorted by group key: each run of equal
    * keys becomes (key, its local skyline), one GSKY buffer at a time.
    * `vecOf` gives a row's vector, or null for a row phase 1 drops.
    */
  private def localSkylines(rows: Iterator[InternalRow], keyOf: UnsafeProjection,
      vecOf: InternalRow => Array[Double]): Iterator[(UnsafeRow, Gsky.Buf[InternalRow])] =
    new Iterator[(UnsafeRow, Gsky.Buf[InternalRow])] {
      private var row = if (rows.hasNext) rows.next() else null
      def hasNext: Boolean = row != null
      def next(): (UnsafeRow, Gsky.Buf[InternalRow]) = {
        val key = keyOf(row).copy()
        val buf = Gsky.emptyBuf[InternalRow]
        do {
          val vec = vecOf(row)
          if (vec != null) SkylineDims.insertCopy(buf, vec, row)
          row = if (rows.hasNext) rows.next() else null
        } while (row != null && keyOf(row) == key)
        (key, buf)
      }
    }

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

/** Where [[SkylineExec]]'s phase 2 sends each phase-1 survivor, and
  * which rows phase 1 may drop before its local skyline. Routing places
  * work; it never changes the result, as long as every instance keeps
  * the contract below. [[SkylineRouting.AllTasks]] serves the global
  * and grouped skylines; SKY-MR's quadtree-leaf routing
  * ([[graft.skyline.QuadTreeRouting]]) is the other instance.
  */
trait SkylineRouting extends Serializable {

  /** Whether phase 1 keeps the row with vector `v`. False only when some
    * input row strictly dominates `v`.
    */
  def admits(v: Array[Double]): Boolean

  /** The merge task, in `[0, m)`, of a candidate with vector `v` from
    * phase-1 task `pid`, in the group whose key hashes to `group`.
    */
  def home(v: Array[Double], group: Int, pid: Int, m: Int): Int

  /** Calls `send` once for each merge task to which `home` may send a
    * candidate that `v` dominates.
    */
  def probe(v: Array[Double], m: Int)(send: Int => Unit): Unit

  /** Quadtree leaves, and leaves whose rows all drop, for the SQL metrics. */
  def leaves: Int = 0
  def prunedLeaves: Int = 0
}

object SkylineRouting {

  /** Each group's candidates spread over the tasks by `(hash(g) + pid)
    * mod m`, and every survivor probes all `m` tasks.
    */
  case object AllTasks extends SkylineRouting {
    def admits(v: Array[Double]): Boolean = true
    def home(v: Array[Double], group: Int, pid: Int, m: Int): Int = Math.floorMod(group + pid, m)
    def probe(v: Array[Double], m: Int)(send: Int => Unit): Unit = (0 until m).foreach(send)
  }
}
