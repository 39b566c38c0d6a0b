package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grid-blocked ε-neighbor spatial self-join — "find every pair of
  * points within distance ε" without the all-pairs cross join, the
  * spatial sibling of the dedup family's LSH-band / prefix-postings
  * blocking (Dedup.scala, MinHashLsh.scala).
  *
  * Plan shape: assign each point to a square grid cell of side ε
  * (`x div ε`, `y div ε`). Any pair within ε lives in cells that
  * differ by at most 1 per axis, so one side is kept at its own cell
  * ("base") and the other is replicated to its 3×3 cell neighborhood
  * ("probe"); a single equi-join on the cell key then yields every
  * candidate pair exactly once — the probe replica that lands in the
  * base point's cell is unique, and `probe.id < base.id` keeps one
  * orientation — before the exact integer distance filter.
  *
  * Scale shape: ONE shuffle (the cell equi-join), 9× replication on
  * one side only, candidate count bounded by per-cell density — never
  * O(n²). At 100 TB the failure mode is a dense cell (urban hot spot);
  * per-cell counts are cheap to audit with the q_skew_audit machinery,
  * and the fix is the standard one: shrink ε's cell (use ε′ = ε/2 cells
  * with a 5×5 neighborhood) or salt the hot cell. Coordinates and ε are
  * integers (scaled units), so the distance test `dx² + dy² ≤ ε²` is
  * exact 64-bit algebra — no float epsilon disagreement between
  * engines at the boundary circle.
  *
  * The reference engine has no spatial surface; this extends its
  * grid-partitioned skyline machinery (SkyMr's QuadTreeRouting,
  * ReverseSkyline.scala's box join) to proximity queries, which a
  * multimodal curation pipeline needs for geo-dedup and near-duplicate
  * sensor sweeps.
  */
object SpatialJoin {

  /** All unordered pairs of `points` rows within L2 distance `eps`.
    *
    * @param points frame with long-typed `idCol`, `xCol`, `yCol`
    *               (integer-scaled coordinates; ids unique)
    * @param eps    neighbor radius in the same integer units; also the
    *               grid cell side. Coordinates must satisfy
    *               |x|,|y| ≤ 2^30 so dx²+dy² stays in 64-bit range.
    * @return (a_id, b_id, dist2) with a_id < b_id, dist2 = exact
    *         squared distance ≤ eps²
    */
  def epsNeighbors(
      points: DataFrame,
      idCol: String,
      xCol: String,
      yCol: String,
      eps: Long): DataFrame = {
    require(eps > 0, s"eps must be positive, got $eps")
    val e = lit(eps)
    def cellOf(c: Column): Column = floor(c / e).cast("long")
    val base = points.select(
      col(idCol).cast("long").as("b_id"),
      col(xCol).cast("long").as("bx"),
      col(yCol).cast("long").as("by"),
      cellOf(col(xCol)).as("cx"),
      cellOf(col(yCol)).as("cy"))
    // Probe side: each point replicated to its 9-cell neighborhood.
    // explode(sequence) keeps the fan-out inside whole-stage codegen
    // (a crossJoin with a 9-row frame would plan as a nested-loop
    // join — the q_bootstrap lesson, ADVICE.md round 10).
    val probe = points.select(
        col(idCol).cast("long").as("a_id"),
        col(xCol).cast("long").as("ax"),
        col(yCol).cast("long").as("ay"),
        cellOf(col(xCol)).as("pcx"),
        cellOf(col(yCol)).as("pcy"))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .select(col("a_id"), col("ax"), col("ay"),
        (col("pcx") + col("dx")).as("cx"),
        (col("pcy") + col("dy")).as("cy"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    probe.join(base, Seq("cx", "cy"))
      .where(col("a_id") < col("b_id") && d2 <= e * e)
      .select(col("a_id"), col("b_id"), d2.as("dist2"))
  }
}
