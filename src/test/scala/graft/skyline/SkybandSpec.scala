package graft.skyline

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Brute-force equivalence for the skyline-family extensions:
  * k-skyband, top-k dominating, k-dominant skyline.
  */
class SkybandSpec extends SparkSpec {

  private val spec = SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Min), SkyDim("z", Max)))

  private def mkDf(pts: Seq[(Long, Double, Double, Double)]) = {
    import spark.implicits._
    pts.toDF("id", "x", "y", "z").repartition(3)
  }

  /** MIN-normalized vector of a row under `spec`. */
  private def vec(p: (Long, Double, Double, Double)): Array[Double] =
    Array(p._2, p._3, -p._4)

  private def randPts(n: Int, r: Random): Seq[(Long, Double, Double, Double)] =
    // Small value grid on purpose: plenty of ties and duplicate
    // vectors, the edge cases that break naive dominance counting.
    (0 until n).map(i => (i.toLong,
      r.nextInt(8).toDouble, r.nextInt(8).toDouble, r.nextInt(8).toDouble))

  private def bruteDomCount(pts: Seq[(Long, Double, Double, Double)]): Map[Long, Long] =
    pts.map { p =>
      p._1 -> pts.count(q => Dominance.dominates(vec(q), vec(p))).toLong
    }.toMap

  test("kSkyband matches brute force across k (random trials, ties included)") {
    val r = new Random(7)
    for (trial <- 1 to 30) {
      val pts = randPts(60 + r.nextInt(60), r)
      val counts = bruteDomCount(pts)
      val k = 1 + r.nextInt(4)
      val got = Skyband.kSkyband(mkDf(pts), spec, k)
        .select("id", "dom_count").collect()
        .map(row => row.getLong(0) -> row.getLong(1)).toMap
      val want = counts.filter(_._2 < k)
      assert(got == want, s"trial $trial k=$k")
    }
  }

  test("kSkyband with k=1 is exactly the skyline") {
    val r = new Random(11)
    val pts = randPts(120, r)
    val band = Skyband.kSkyband(mkDf(pts), spec, 1).select("id")
      .collect().map(_.getLong(0)).toSet
    val sky = SkylineOp.skyline(mkDf(pts), spec).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(band == sky)
  }

  test("topKDominating matches brute-force scores with deterministic ties") {
    val r = new Random(23)
    for (trial <- 1 to 20) {
      val pts = randPts(60 + r.nextInt(60), r)
      val k = 1 + r.nextInt(8)
      val scores = pts.map { p =>
        (p._1, pts.count(q => Dominance.dominates(vec(p), vec(q))).toLong)
      }
      val want = scores.sortBy { case (id, s) => (-s, id) }.take(k)
      val got = Skyband.topKDominating(mkDf(pts), spec, k, tieBreak = Seq("id"))
        .select("id", "score").collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
      assert(got.sortBy { case (id, s) => (-s, id) } == want, s"trial $trial k=$k")
      // and the operator's own ordering is already (score desc, id)
      assert(got == want, s"trial $trial k=$k ordering")
    }
  }

  test("kDominantSkyline matches brute force for every k; k=d is the skyline") {
    val r = new Random(41)
    def kDominates(a: Array[Double], b: Array[Double], k: Int): Boolean = {
      val le = a.indices.count(i => a(i) <= b(i))
      val lt = a.indices.count(i => a(i) < b(i))
      le >= k && lt >= 1
    }
    for (trial <- 1 to 15) {
      val pts = randPts(50 + r.nextInt(50), r)
      for (k <- 1 to 3) {
        val want = pts.filter(p =>
          !pts.exists(q => kDominates(vec(q), vec(p), k))).map(_._1).toSet
        val got = Skyband.kDominantSkyline(mkDf(pts), spec, k)
          .select("id").collect().map(_.getLong(0)).toSet
        assert(got == want, s"trial $trial k=$k")
      }
      val sky = SkylineOp.skyline(mkDf(pts), spec).select("id")
        .collect().map(_.getLong(0)).toSet
      val got3 = Skyband.kDominantSkyline(mkDf(pts), spec, 3)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got3 == sky, s"trial $trial k=d degeneration")
    }
  }

  test("kDominantSkylines (shared single-pass, r16) row-matches the " +
      "independent per-k calls") {
    val r = new Random(67)
    for (trial <- 1 to 10) {
      val pts = randPts(50 + r.nextInt(50), r)
      val df = mkDf(pts)
      val ks = Seq(3, 2)
      val fused = Skyband.kDominantSkylines(df, spec, ks)
        .select("k", "id").collect()
        .map(row => (row.getInt(0), row.getLong(1))).toSet
      val separate = ks.flatMap { k =>
        Skyband.kDominantSkyline(df, spec, k)
          .select("id").collect().map(row => (k, row.getLong(0)))
      }.toSet
      assert(fused == separate, s"trial $trial")
    }
  }

  test("localSkyband prune is sound and locally complete") {
    val r = new Random(59)
    val pts = randPts(200, r)
    val counts = bruteDomCount(pts)
    val k = 3
    // drive the local prune over the WHOLE set as one partition, in SFS
    // (ascending dim-sum) order — that makes it the exact k-skyband
    val prep = SkylineOp.prepare(mkDf(pts), spec)
    val skyIdx = prep.schema.fieldIndex(SkylineOp.SKY)
    val collected: Seq[Row] = prep.collect().sortBy(rr =>
      rr.getSeq[Double](skyIdx).sum).toSeq
    val kept = Skyband.localSkyband(collected.iterator, skyIdx, k).map(
      _.getLong(0)).toSet
    val want = counts.filter(_._2 < k).keySet
    // single-partition local prune IS the exact k-skyband
    assert(kept == want)
  }
}
