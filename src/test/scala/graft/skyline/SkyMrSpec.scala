package graft.skyline

import scala.util.Random
import graft.SparkSpec

/** SKY-MR path: quadtree mechanics, cell-id algebra truth tables, and
  * the SURVEY §7 equivalence promise — SkyMr ≡ skyline ≡ antiJoin on
  * random mixed-direction data (with duplicates/ties forced by small
  * integer domains).
  */
class SkyMrSpec extends SparkSpec {
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  // --- quadtree mechanics ---------------------------------------------

  test("quadtree: splits past maxp, routes points to the leaf that holds them") {
    val rnd = new Random(3)
    val pts = Array.fill(500)(Array(rnd.nextDouble(), rnd.nextDouble()))
    val tree = QuadTree.build(pts, Array(0.0, 0.0), Array(1.0, 1.0), maxp = 20, maxDepth = 8)
    assert(tree.leafCount > 1)
    pts.foreach(p => assert(tree.route(p) >= -1)) // every point routes (possibly pruned)
    // routed ords are valid
    pts.map(tree.route).filter(_ >= 0).foreach(o => assert(o < tree.leafCount))
  }

  test("quadtree: 11…1 child pruned when 00…0 occupied; dominated points drop") {
    // Dense lower-left corner forces a split with occupied 00 child;
    // the upper-right sibling must be pruned.
    val low = Array.fill(100)(Array(0.1, 0.1))
    val hix = Array.fill(5)(Array(0.9, 0.9))
    val tree = QuadTree.build(low ++ hix, Array(0.0, 0.0), Array(1.0, 1.0),
      maxp = 50, maxDepth = 4)
    assert(tree.route(Array(0.9, 0.9)) == -1) // lands in pruned 11 cell
    assert(tree.route(Array(0.1, 0.1)) >= 0)
  }

  test("quadtree: maxDepth caps recursion on duplicate-heavy data") {
    val dup = Array.fill(1000)(Array(0.5, 0.5)) // would recurse forever unchecked
    val tree = QuadTree.build(dup, Array(0.0, 0.0), Array(1.0, 1.0), maxp = 10, maxDepth = 6)
    assert(tree.route(Array(0.5, 0.5)) >= 0)
  }

  // --- cell-id algebra (truth tables from QTNode.java:106-114,140-150) --

  test("cell algebra: per-dim compare truth table") {
    import CellAlgebra._
    assert(cmpDim("", "010011") == 0) // "" matches anything
    assert(cmpDim("0", "0") == 0)
    assert(cmpDim("0", "1") < 0)
    assert(cmpDim("0", "01") == 0)
    assert(cmpDim("11", "1100") == 0)
    assert(cmpDim("11", "101") > 0)
    assert(cmpDim("10", "01") > 0)
  }

  test("cell algebra: d=2 region relations") {
    import CellAlgebra._
    // ids are one level deep, char k = dim k: "00"=lower/lower, "11"=upper/upper
    assert(dominates("00", "11", 2))
    assert(dominates("00", "01", 2)) // optimistic: dim0 overlaps — algebra still says dominates
    assert(!dominates("01", "10", 2)) // dim 1 surely above
    assert(!mayOrMayNotDominate("00", "01", 2)) // dim 1 strictly below, not all-equal
    assert(mayOrMayNotDominate("00", "0000", 2)) // coarser region contains finer
    assert(compare("00", "11", 2) == -1)
    assert(compare("11", "00", 2) == 1)
    assert(compare("01", "10", 2) == 0)
    // corrected replication condition: includes region-dominates pairs
    assert(mayDominate("00", "11", 2)) // surely dominates — still may
    assert(!mayDominate("10", "00", 2)) // dim 0 surely above — impossible
    assert(!mayDominate("11", "00", 2))
  }

  test("reference under-replication regression: region-dominates pair still probes") {
    // A="00", B="10" (d=2): region A "dominates" B per the algebra, but
    // a B-point like (0.6, 0.2) is NOT dominated by every A-point, so B
    // still needs probes from A. The reference's isNeeded skips the pair
    // (GlobalSkyline.java:69-74); our mayDominate keeps it.
    assert(CellAlgebra.dominates("00", "10", 2))
    assert(!CellAlgebra.mayOrMayNotDominate("00", "10", 2)) // reference would skip
    assert(CellAlgebra.mayDominate("00", "10", 2)) // we probe
  }

  // --- end-to-end equivalence -------------------------------------------

  test("SkyMr == twoPhase == antiJoin on random mixed-direction data") {
    val rnd = new Random(19)
    for (trial <- 1 to 5) {
      val n = 500 + rnd.nextInt(2500)
      val rows = Seq.fill(n)((rnd.nextInt(30).toDouble, rnd.nextInt(30).toDouble,
        rnd.nextInt(30).toDouble, rnd.nextInt(10)))
      val df = rows.toDF("x", "y", "z", "k").repartition(5)
      val spec = SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Max), SkyDim("z", Min)))
      val mr = canon(SkyMr.skyline(df, spec, maxp = 40, maxDepth = 4, sampleSize = 400))
      val tp = canon(SkylineOp.skyline(df, spec))
      assert(mr == tp, s"trial $trial: SkyMr != twoPhase")
      if (trial == 1) assert(tp == canon(SkylineOp.antiJoin(df, spec)))
      // the sample-skyline pre-filter is a pure physical rewrite: same
      // result at every cap, including one that filters aggressively.
      val filtered = canon(SkyMr.skyline(df, spec, maxp = 40, maxDepth = 4,
        sampleSize = 400, sampleFilterK = 8))
      assert(filtered == tp, s"trial $trial: sampleFilterK changed the skyline")
      // so is the cell-level prune — alone and stacked on the row filter.
      val pruned = canon(SkyMr.skyline(df, spec, maxp = 40, maxDepth = 4,
        sampleSize = 400, cellPrune = true))
      assert(pruned == tp, s"trial $trial: cellPrune changed the skyline")
      val both = canon(SkyMr.skyline(df, spec, maxp = 40, maxDepth = 4,
        sampleSize = 400, sampleFilterK = 8, cellPrune = true))
      assert(both == tp, s"trial $trial: cellPrune+filter changed the skyline")
    }
  }

  test("SkyMr: ties kept, sentinels excluded") {
    val df = Seq(
      (1.0, 1.0, "a"), (1.0, 1.0, "b"), // tied skyline points
      (2.0, 2.0, "dominated"),
      (9999.9, 0.0, "sentinel")).toDF("x", "y", "tag")
    val spec = SkylineSpec(Seq(SkyDim("x", Min, missing = Some(9999.9)), SkyDim("y", Min)))
    assert(canon(SkyMr.skyline(df, spec).select("tag")).flatten == Seq("a", "b"))
  }

  test("SkyMr leaves nothing cached") {
    val rnd = new Random(23)
    val df = Seq.fill(2000)((rnd.nextInt(40).toDouble, rnd.nextInt(40).toDouble)).toDF("x", "y")
      .repartition(4)
    spark.catalog.clearCache()
    assert(SkyMr.skyline(df, SkylineSpec.min("x", "y"), maxp = 50).collect().nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("quadtree probe descent: every leaf a dominated point sits in, and only leaves it may dominate") {
    val rnd = new Random(31)
    Seq(2, 3, 5).foreach { d =>
      // small integer grid: ties on split values and on the top bound
      val pts = Array.fill(400)(Array.fill(d)(rnd.nextInt(8).toDouble))
      val tree = QuadTree.build(pts, Array.fill(d)(0.0), Array.fill(d)(7.0), maxp = 4, maxDepth = 5)
      pts.filter(tree.route(_) >= 0).foreach { v =>
        val own = tree.leafIds(tree.route(v))
        val reached = scala.collection.mutable.Set.empty[Int]
        tree.probeLeaves(v)(reached += _)
        reached.foreach(l => assert(CellAlgebra.mayDominate(own, tree.leafIds(l), d)))
        pts.filter(w => Dominance.dominates(v, w) && tree.route(w) >= 0).foreach { w =>
          assert(reached(tree.route(w)), s"d=$d: ${v.toSeq} misses the leaf of ${w.toSeq}")
        }
      }
    }
  }

  test("quadtree JSON dump is well-formed and reflects the leaf count") {
    val rnd = new Random(7)
    val sample = Array.fill(300)(Array(rnd.nextDouble() * 10, rnd.nextDouble() * 10))
    val tree = QuadTree.build(sample, Array(0.0, 0.0), Array(10.0, 10.0), maxp = 20, maxDepth = 4)
    val json = QuadTree.toJson(tree)
    assert(json.contains(s""""leaves":${tree.leafCount}"""))
    // parseable by a strict JSON parser (spark ships jackson)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    assert(root.get("d").asInt == 2)
    assert(root.get("leaves").asInt == tree.leafCount)
  }
}
