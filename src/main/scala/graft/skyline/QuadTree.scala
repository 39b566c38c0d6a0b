package graft.skyline

import scala.collection.mutable.ArrayBuffer

/** Driver-built quadtree space partitioner for the SKY-MR plan.
  *
  * Mirrors the reference's QTNode (QTNode.java:49-100, inline copy
  * Skyline.java:120-171) re-expressed for Spark: the tree is built on the
  * driver over a SAMPLE of normalized vectors and ships with the plan;
  * executors only call [[Tree.route]] and [[Tree.probeLeaves]].
  *
  * Semantics kept from the reference:
  *  - 2^d fanout at midpoints; a point routes to the upper half of dim k
  *    iff v(k) >= mid(k) (QTNode.java:37-47);
  *  - split while a node holds more than `maxp` points (QTNode.java:54);
  *  - prune rule: when a node splits, if the all-lower child (00…0) is
  *    non-empty the all-upper child (11…1) is deleted — every point in it
  *    is strictly dominated by any point of the 00…0 child
  *    (QTNode.java:89-92). This stays sound under sampling: sample points
  *    are real data points, so an occupied 00…0 cell witnesses a real
  *    dominator.
  *
  * Deviations (deliberate):
  *  - `maxDepth` cap — the reference recurses unboundedly and would loop
  *    forever on >maxp duplicate points;
  *  - runtime `d` instead of the compile-time DIM=9 (Skyline.java:25).
  *
  * Cell ids are bit-strings of length depth*d, one bit per dim per level
  * (char position k within a level block = dim k); they double as the
  * region-dominance code — see [[CellAlgebra]].
  */
object QuadTree {

  sealed trait Node extends Serializable
  /** mid(k) = split point of dim k at this node; children indexed by the
    * d-bit child index; a pruned child is null. */
  final case class Internal(mid: Array[Double], children: Array[Node]) extends Node
  /** ord = dense leaf ordinal (shuffle key); id = bit-string region code. */
  final case class Leaf(id: String, ord: Int) extends Node

  /** `leafLos(ord)` is leaf ord's lower corner in normalized space —
    * the most optimistic point the cell can contain; a sample point
    * dominating it dominates EVERY point routed to the cell (the basis
    * of SkyMr's cell-level pre-filter prune). */
  final case class Tree(root: Node, d: Int, leafIds: Array[String],
      leafLos: Array[Array[Double]]) extends Serializable {
    def leafCount: Int = leafIds.length

    /** Leaf ordinal for a normalized vector, or -1 if it lands in a
      * pruned (dominated) cell — the caller drops such points
      * (LSkyMapper.java:45-50 behavior). */
    def route(v: Array[Double]): Int = {
      var node = root
      while (true) {
        node match {
          case Leaf(_, ord) => return ord
          case Internal(mid, children) =>
            var chi = 0
            var k = 0
            while (k < d) {
              if (v(k) >= mid(k)) chi |= (1 << k)
              k += 1
            }
            val child = children(chi)
            if (child == null) return -1
            node = child
        }
      }
      -1 // unreachable
    }

    /** Calls `visit` with the ordinal of every leaf that may hold a
      * point `v` dominates: the descent enters a lower child on dim k
      * only while v(k) < mid(k), since its points all lie below mid(k).
      * An upper child bounds nothing from above (the root's top is
      * closed at the exact maximum), and nothing routes above a NaN
      * mid, whose lower child is therefore unbounded. The leaves
      * visited are exactly those whose region reaches v's upper orthant,
      * so [[CellAlgebra.mayDominate]] holds from v's own leaf to each:
      * two leaves' dim-k codes part at a split value both paths share.
      */
    def probeLeaves(v: Array[Double])(visit: Int => Unit): Unit = {
      def go(node: Node): Unit = node match {
        case null =>
        case Leaf(_, ord) => visit(ord)
        case Internal(mid, children) =>
          var upper = 0
          var free = 0
          var k = 0
          while (k < d) {
            if (v(k) >= mid(k)) upper |= 1 << k else if (v(k) < mid(k)) free |= 1 << k
            k += 1
          }
          var sub = free
          var more = true
          while (more) {
            go(children(upper | sub))
            more = sub != 0
            sub = (sub - 1) & free
          }
      }
      go(root)
    }

    /** Children the build pruned (see the class doc): no point routes there. */
    def prunedCells: Int = {
      def go(node: Node): Int = node match {
        case null => 1
        case Leaf(_, _) => 0
        case Internal(_, children) => children.iterator.map(go).sum
      }
      go(root)
    }
  }

  /** Build over a driver-local sample. `lo`/`hi` are the full-data
    * per-dim bounds (from RangeStats — replacing the reference's
    * hardcoded root bounds, Skyline.java:365-366). */
  def build(
      sample: Array[Array[Double]],
      lo: Array[Double],
      hi: Array[Double],
      maxp: Int = 256,
      maxDepth: Int = 8): Tree = {
    val d = lo.length
    require(d >= 1 && d <= 12, s"quadtree fanout is 2^d; d=$d unsupported")
    require(hi.length == d)
    val ids = ArrayBuffer.empty[String]
    val los = ArrayBuffer.empty[Array[Double]]

    def leaf(id: String, lo: Array[Double]): Leaf = {
      ids += id; los += lo; Leaf(id, ids.length - 1)
    }

    def divide(pts: Array[Array[Double]], id: String, lo: Array[Double],
        hi: Array[Double], depth: Int): Node = {
      if (pts.length <= maxp || depth >= maxDepth) return leaf(id, lo)
      val mid = Array.tabulate(d)(k => (lo(k) + hi(k)) / 2)
      val buckets = Array.fill(1 << d)(ArrayBuffer.empty[Array[Double]])
      pts.foreach { v =>
        var chi = 0
        var k = 0
        while (k < d) { if (v(k) >= mid(k)) chi |= (1 << k); k += 1 }
        buckets(chi) += v
      }
      val children = new Array[Node](1 << d)
      val pruneTop = buckets(0).nonEmpty // 00…0 occupied ⇒ 11…1 dominated
      var chi = 0
      while (chi < (1 << d)) {
        if (chi == (1 << d) - 1 && pruneTop) {
          children(chi) = null
        } else {
          val cLo = Array.tabulate(d)(k => if ((chi & (1 << k)) == 0) lo(k) else mid(k))
          val cHi = Array.tabulate(d)(k => if ((chi & (1 << k)) == 0) mid(k) else hi(k))
          children(chi) = divide(buckets(chi).toArray, id + levelId(d, chi), cLo, cHi, depth + 1)
        }
        chi += 1
      }
      Internal(mid, children)
    }

    Tree(divide(sample, "", lo, hi, 0), d, ids.toArray, los.toArray)
  }

  /** Debug JSON dump of a tree — the engine's replacement for the
    * reference's text (de)serialization round trip (SURVEY §2 row 7;
    * dfsWriteQT/readQT, Skyline.java:272-340, was transport; transport
    * here is the broadcast, so only the human-readable dump remains).
    */
  def toJson(tree: Tree): String = {
    def go(n: Node): String = n match {
      case null => "null"
      case Leaf(id, ord) => s"""{"leaf":{"id":"$id","ord":$ord}}"""
      case Internal(mid, children) =>
        val mids = mid.mkString("[", ",", "]")
        val kids = children.map(go).mkString("[", ",", "]")
        s"""{"internal":{"mid":$mids,"children":$kids}}"""
    }
    s"""{"d":${tree.d},"leaves":${tree.leafCount},"root":${go(tree.root)}}"""
  }

  /** d-bit level block for a child index: char k = upper/lower bit of
    * dim k (reference numToOneDepthId, QTNode.java:11-18, modulo bit
    * order — self-consistent with [[CellAlgebra.sub]]). */
  def levelId(d: Int, chi: Int): String = {
    val sb = new StringBuilder(d, "")
    var k = 0
    while (k < d) { sb.append(if ((chi & (1 << k)) == 0) '0' else '1'); k += 1 }
    sb.toString
  }
}

/** Region (cell-id) dominance algebra — SURVEY §2 row 25.
  *
  * A cell id of depth L encodes, per dim k, an L-bit binary fraction
  * (chars k, k+d, k+2d, … — reference `sub`, Skyline.java:191-198): the
  * cell's lower corner in [0,1)-normalized space, with width 2^-L. Ids of
  * different depths compare on the common prefix (Skyline.java:186-189).
  *
  * KNOWN REFERENCE BUG (documented deviation #2, beyond the own-key bug
  * of GSkyMapper.java:86,92): `isNeeded` (GlobalSkyline.java:69-74)
  * replicates probes only to cells whose per-dim codes are ALL
  * prefix-equal; pairs where some dim compares strictly below (the
  * algebra's "dominates", QTNode.java:130-138) are skipped — but region
  * "dominates" under this algebra does NOT imply pointwise dominance
  * when other dims overlap, so cross-cell dominated points survive. The
  * correct send condition is [[mayDominate]]: no dim in which A's
  * interval lies entirely above B's. We implement that.
  */
object CellAlgebra {

  /** Per-dim bit substring: chars k, k+d, k+2d, … */
  def sub(id: String, d: Int, k: Int): String = {
    val sb = new StringBuilder
    var i = k
    while (i < id.length) { sb.append(id.charAt(i)); i += d }
    sb.toString
  }

  /** Common-prefix compare of two per-dim codes (Skyline.java:186-189):
    * <0 ⇒ A's interval entirely below B's, 0 ⇒ overlap/containment,
    * >0 ⇒ entirely above. */
  def cmpDim(a: String, b: String): Int = {
    val ml = math.min(a.length, b.length)
    var i = 0
    while (i < ml) {
      val c = a.charAt(i) - b.charAt(i)
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** True iff some point of cell A could strictly dominate some point of
    * cell B: there is no dim where every A-value exceeds every B-value.
    * This is the corrected replication condition (superset of the
    * reference's `isNeeded`). */
  def mayDominate(idA: String, idB: String, d: Int): Boolean = {
    var k = 0
    while (k < d) {
      if (cmpDim(sub(idA, d, k), sub(idB, d, k)) > 0) return false
      k += 1
    }
    true
  }

  /** Region-level strict dominance (QTNode.java:130-138): every dim
    * compares <= 0 and at least one < 0. NOTE: per the class doc this is
    * an optimistic relation (not pointwise) — kept for algebra fidelity
    * and tests, not used as a replication filter. */
  def dominates(idA: String, idB: String, d: Int): Boolean = {
    var less = false
    var k = 0
    while (k < d) {
      val c = cmpDim(sub(idA, d, k), sub(idB, d, k))
      if (c > 0) return false
      if (c < 0) less = true
      k += 1
    }
    less
  }

  /** The reference's `isNeeded`/`mayOrMayNotDominate` (all dims
    * prefix-equal — GlobalSkyline.java:69-74, QTNode.java:145-150). */
  def mayOrMayNotDominate(idA: String, idB: String, d: Int): Boolean = {
    var k = 0
    while (k < d) {
      if (cmpDim(sub(idA, d, k), sub(idB, d, k)) != 0) return false
      k += 1
    }
    true
  }

  /** 3-way region compare (QTNode.java:156-165). */
  def compare(idA: String, idB: String, d: Int): Int = {
    var aLess = false
    var bLess = false
    var k = 0
    while (k < d) {
      val c = cmpDim(sub(idA, d, k), sub(idB, d, k))
      if (c < 0) aLess = true else if (c > 0) bLess = true
      k += 1
    }
    if (aLess && !bLess) -1 else if (bLess && !aLess) 1 else 0
  }
}
