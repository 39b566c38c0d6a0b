package graft.skyline

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row

/** GSKY — the block-nested-loop local skyline of the reference
  * (Skyline.java:44-70, O(n²·d) worst case, but O(n·s) in practice where
  * s = running skyline size, which is typically tiny).
  *
  * The key algebraic property (what makes skyline a distributable,
  * combiner-friendly aggregate): `sky(A ∪ B) = sky(sky(A) ∪ sky(B))`.
  * `insert` is the reduce step; folding one buffer into another is the
  * merge step. The reference exploits the same property by registering
  * its reducer as a Hadoop combiner (Skyline.java:408).
  *
  * Streaming-friendly: consumes an Iterator, holds only the current
  * skyline candidates in memory — never the whole group.
  */
object Gsky {

  type Buf[P] = ArrayBuffer[(Array[Double], P)]

  /** Hard cap on one local-skyline buffer (SURVEY §7's named risk:
    * anti-correlated data makes every point incomparable, so the
    * buffer — and each insert's O(buf) scan — grows to the group size
    * and the "skyline" IS the input). 4M points × (9 doubles + row) is
    * already ~1 GB of executor heap and an O(n²) loop; past the cap
    * the query is miscast — the answer would be a copy of the input —
    * so fail LOUDLY (the q_quantiles row-cap precedent) instead of
    * grinding an executor to death. Overridable per call for tests and
    * genuinely-huge-skyline workloads.
    */
  val DefaultMaxBufferSize: Int = 4 << 20

  def emptyBuf[P]: Buf[P] = ArrayBuffer.empty

  /** Insert one point. Either it is dominated by a candidate (dropped),
    * or it enters the buffer, evicting every candidate it dominates.
    * Eviction is swap-remove (O(1)); order of the buffer is not
    * meaningful. Returns whether the point entered the buffer (it is
    * then the last element). Throws once the buffer would exceed `cap`
    * points — the anti-correlated blowup guard (see
    * [[DefaultMaxBufferSize]]).
    */
  def insert[P](buf: Buf[P], v: Array[Double], p: P,
      cap: Int = DefaultMaxBufferSize): Boolean = {
    var i = 0
    while (i < buf.length) {
      Dominance.compare(buf(i)._1, v) match {
        case -1 => return false // existing candidate dominates the new point
        case 1 => // new point dominates candidate: swap-remove, don't advance
          buf(i) = buf(buf.length - 1)
          buf.remove(buf.length - 1)
        case _ => i += 1
      }
    }
    if (buf.length >= cap) throw overflow(cap)
    buf += ((v, p))
    true
  }

  /** The blowup guard's error: a skyline buffer would hold more than
    * `cap` points.
    */
  def overflow(cap: Int): IllegalStateException = new IllegalStateException(
    s"local skyline buffer exceeded $cap points — the input looks " +
      "anti-correlated (all points mutually incomparable), so the " +
      "skyline would approach the input itself; raise the cap " +
      "explicitly if such an output is genuinely intended")

  /** Merge two skyline buffers (the "combiner"/partial-agg step).
    * NOTE: BOTH input buffers are invalidated by this call — the larger
    * one is mutated in place and returned, the smaller is consumed.
    * Only the return value may be used afterwards.
    */
  def merge[P](into: Buf[P], from: Buf[P],
      cap: Int = DefaultMaxBufferSize): Buf[P] = {
    // Fold the smaller buffer into the larger one.
    val (big, small) = if (into.length >= from.length) (into, from) else (from, into)
    var i = 0
    while (i < small.length) {
      val (v, p) = small(i)
      insert(big, v, p, cap)
      i += 1
    }
    big
  }

  /** Skyline of an iterator of (vector, payload). */
  def skyline[P](it: Iterator[(Array[Double], P)],
      cap: Int = DefaultMaxBufferSize): Buf[P] = {
    val buf = emptyBuf[P]
    while (it.hasNext) {
      val (v, p) = it.next()
      insert(buf, v, p, cap)
    }
    buf
  }

  /** The normalized vector a Row carries in an array<double> column at
    * `skyIdx` (see SkylineOp.prepare).
    */
  @inline def vecOf(r: Row, skyIdx: Int): Array[Double] = {
    val s = r.getSeq[Double](skyIdx)
    val n = s.length
    val a = new Array[Double](n)
    var i = 0
    while (i < n) { a(i) = s(i); i += 1 }
    a
  }

  /** Reference brute force for tests: O(n²) all-pairs check. */
  def bruteForce[P](points: Seq[(Array[Double], P)]): Seq[(Array[Double], P)] =
    points.filter { case (v, _) =>
      !points.exists { case (w, _) => Dominance.dominates(w, v) }
    }
}
