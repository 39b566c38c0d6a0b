package graft.skyline

import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

import graft.plans.{SkylineDims, SkylinePlan, SkylineRouting}
import graft.sql.SkylineSql

/** SKY-MR: the reference's quadtree-partitioned two-phase skyline
  * (Skyline.java + GlobalSkyline.java, per Park/Min/Shim PVLDB'13),
  * planned as the one skyline kernel, [[SkylinePlan]] → `SkylineExec`,
  * with quadtree-leaf routing ([[QuadTreeRouting]]).
  *
  * Plan:
  *  1. eager, one job: exact per-dim bounds and a seeded per-partition
  *     reservoir sample of the dim vectors `SkylineExec` will compute
  *     (the same normalized dims as [[SkylineOp.skyline]]), which
  *     replaces the reference's hardcoded root (Skyline.java:365-366);
  *  2. driver quadtree over the sample (the paper samples; the
  *     reference driver-reads the WHOLE input, Skyline.java:355-363 — we
  *     follow the paper), plus the optional sample-skyline prunes;
  *  3. the kernel, one job: phase 1 drops rows in pruned cells
  *     (LSkyMapper.java:45-50) or dominated by a sample-skyline point,
  *     then keeps each partition's local skyline; phase 2 sends each
  *     survivor, as a candidate, to its leaf's merge task and, as a
  *     probe, only to tasks holding a leaf it may dominate (the
  *     CORRECTED replication condition, see [[CellAlgebra]], with the
  *     reference's target-key bug fixed, GSkyMapper.java:86,92); each
  *     task drops the candidates a probe dominates (GSkyReducer.java:4-37).
  *
  * Not kept from the reference: the per-cell VPn corners and per-dim
  * argmin sky-filter points (LSkyReducer.java:19-49) — they need phase-1
  * results on the driver, a job between the phases — and the echoed `*`
  * probe rows of its output.
  *
  * Scale story vs [[SkylineOp.skyline]]: the same operator, plus one
  * eager scan of the input (the bounds+sample job) and driver work over
  * the sample. What the tree buys is routing: pruned cells and the
  * sample prunes drop rows before phase 1, and a probe goes only to the
  * merge tasks whose leaves it may dominate, where [[SkylineOp.skyline]]
  * sends every survivor's vector to every merge task. Driver-side state
  * is O(sample + leaves·d), shipped with the plan; only the sample's
  * dim vectors reach the driver, never a row.
  */
object SkyMr {

  /** @param sampleFilterK 0 disables (default); K > 0 drops, in phase 1,
    *   rows strictly dominated by one of the K ascending-sum-strongest
    *   points of the SAMPLE's skyline (sound: sample points are input
    *   rows; ties survive because dominance is strict). Capped at K so
    *   the per-row cost stays bounded when the d-dimensional sample
    *   skyline is large — the cap is what makes it pay: at d=9/sf0.1
    *   K=64 won ~18% (4.4s vs 5.4s, interleaved A/B in both slot
    *   orders, tools/Gsod9Probe) while K≥512 gave the win back to
    *   per-row filter cost. Default off; opt in per workload.
    * @param cellPrune drop a WHOLE LEAF when some sample-skyline point
    *   dominates its lower corner — sound because every routed point is
    *   ≥ the corner per dim, so a dominator of the corner dominates them
    *   all (and cannot itself sit in the leaf: it would have to dominate
    *   itself). Unlike the capped row filter this uses the FULL sample
    *   skyline — the cost is leaves × sample-sky dominance checks on the
    *   DRIVER, never per row. Default off; opt in per workload after an
    *   A/B (tools/Gsod9Probe).
    */
  def skyline(
      df: DataFrame,
      spec: SkylineSpec,
      maxp: Int = 256,
      maxDepth: Int = 8,
      sampleSize: Int = 20000,
      seed: Long = 42L,
      sampleFilterK: Int = 0,
      cellPrune: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val d = spec.d
    val unrouted = SkylineOp.skyline(df, spec)
    val plan = unrouted.queryExecution.analyzed.asInstanceOf[SkylinePlan]

    // -- 1. ONE pass over the input as it arrives (the kernel may spread
    // it; the bounds and the sample do not care): exact per-dim bounds
    // + per-partition reservoir sample of the kernel's own vectors, so
    // every row routes exactly as it was counted. The bounds must stay
    // EXACT even though the sample is approximate: cellPrune drops a
    // leaf whose lower corner a sample point dominates, which speaks for
    // every row of the leaf only if no row lies below the root's lower
    // corner — a correctness bug, not a quality loss. The reservoir is
    // Vitter's Algorithm R, seeded by partition id, and the driver takes
    // a seeded shuffle of the union; partition-size skew can
    // under-represent big partitions in the merged sample, which only
    // shapes tree quality, never results.
    val (dims, input) = (plan.dims, df.queryExecution.executedPlan.output)
    val rows = df.queryExecution.toRdd
    val kPerPart = math.max(32, math.ceil(sampleSize.toDouble / math.max(1, rows.getNumPartitions)).toInt)
    val perPart = spark.sparkContext.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) => {
      val vecOf = SkylineDims.vectors(dims, input)
      val rnd = new java.util.Random(seed ^ (ctx.partitionId().toLong * 0x9e3779b97f4a7c15L))
      val res = new Array[Array[Double]](kPerPart)
      var cnt = 0L
      val plo = Array.fill(d)(Double.PositiveInfinity)
      val phi = Array.fill(d)(Double.NegativeInfinity)
      it.map(vecOf).filter(_ != null).foreach { v =>
        var i = 0
        while (i < d) {
          if (v(i) < plo(i)) plo(i) = v(i)
          if (v(i) > phi(i)) phi(i) = v(i)
          i += 1
        }
        if (cnt < kPerPart) res(cnt.toInt) = v
        else {
          val j = (rnd.nextDouble() * (cnt + 1)).toLong
          if (j < kPerPart) res(j.toInt) = v
        }
        cnt += 1
      }
      (cnt, plo, phi, res.take(math.min(cnt, kPerPart.toLong).toInt))
    }).filter(_._1 > 0)
    if (perPart.isEmpty) return unrouted

    // -- 2. driver quadtree and sample prunes ----------------------------
    val lo = Array.tabulate(d)(i => perPart.iterator.map(_._2(i)).min)
    // Nudge hi so max-valued points still route into the top half-open cell.
    val hi = Array.tabulate(d) { i =>
      val h = perPart.iterator.map(_._3(i)).max
      if (h == lo(i)) h + 1.0 else h
    }
    val sample = new scala.util.Random(seed)
      .shuffle(perPart.iterator.map(_._4).flatten.toIndexedSeq)
      .take(sampleSize).toArray
    val tree = QuadTree.build(sample, lo, hi, maxp, maxDepth)

    // Full sample skyline, driver-side (SFS-sorted GSKY over
    // ≤ sampleSize vectors), ascending-sum order — shared by the row
    // pre-filter (truncated to K) and the leaf prune (full).
    val sampleSky: Array[Array[Double]] =
      if (sampleFilterK <= 0 && !cellPrune) Array.empty
      else {
        val buf = Gsky.emptyBuf[Unit]
        sample.sortBy(_.sum).foreach(v => Gsky.insert(buf, v, ()))
        buf.iterator.map(_._1).toArray.sortBy(_.sum)
      }
    val dropped = Array.tabulate(tree.leafCount)(ord =>
      cellPrune && sampleSky.exists(s => Dominance.dominates(s, tree.leafLos(ord))))

    // Merge tasks own contiguous runs of leaves (depth-first order, so
    // neighbouring regions), balanced by sample count: a leaf weighs one
    // plus its sample points, so an empty leaf still gets a slice of
    // [0, 1), and its share is the midpoint of that slice.
    val weight = Array.fill(tree.leafCount)(1.0)
    sample.foreach { v => val leaf = tree.route(v); if (leaf >= 0) weight(leaf) += 1 }
    val total = weight.sum
    var seen = 0.0
    val share = weight.map { w => val s = (seen + w / 2) / total; seen += w; s }

    // -- 3. the kernel ----------------------------------------------------
    SkylineSql.ofPlan(spark, plan.copy(routing =
      new QuadTreeRouting(tree, dropped, sampleSky.take(sampleFilterK), share)))
  }
}

/** SKY-MR's [[SkylineRouting]]: a row is admitted unless it routes to a
  * pruned cell or leaf, or one of the `filter` points dominates it; a
  * candidate's home is its leaf's merge task, and a probe goes to the
  * tasks of the leaves [[QuadTree.Tree.probeLeaves]] finds for it, less
  * the dropped ones (they hold no candidates).
  *
  * @param dropped leaves whose rows all drop (cellPrune)
  * @param share per leaf, its position in [0, 1): leaf l belongs to task
  *   `floor(share(l) · m)`
  */
final class QuadTreeRouting(tree: QuadTree.Tree, dropped: Array[Boolean],
    filter: Array[Array[Double]], share: Array[Double]) extends SkylineRouting {

  private def task(leaf: Int, m: Int): Int = math.min(m - 1, (share(leaf) * m).toInt)

  def admits(v: Array[Double]): Boolean = {
    val leaf = tree.route(v)
    leaf >= 0 && !dropped(leaf) && !filter.exists(Dominance.dominates(_, v))
  }

  def home(v: Array[Double], group: Int, pid: Int, m: Int): Int = task(tree.route(v), m)

  def probe(v: Array[Double], m: Int)(send: Int => Unit): Unit = {
    val tasks = new mutable.BitSet(m)
    tree.probeLeaves(v)(leaf => if (!dropped(leaf)) tasks += task(leaf, m))
    tasks.foreach(send)
  }

  override def leaves: Int = tree.leafCount
  override def prunedLeaves: Int = tree.prunedCells + dropped.count(identity)

  override def toString: String =
    s"QuadTreeRouting(leaves=$leaves, pruned=$prunedLeaves, filter=${filter.length})"
}
