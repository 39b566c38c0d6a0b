package graft.skyline

import org.apache.spark.sql.DataFrame

import graft.plans.SkycubePlan

/** Skycube: the skyline of every non-empty subspace of the query
  * dimensions, each result row labeled with its subspace — the
  * "GROUP BY CUBE" of skyline queries (Yuan et al., "Efficient
  * Computation of the Skyline Cube", VLDB'05). The natural follow-up
  * to any single skyline: a user who asks "best price×date×discount"
  * immediately asks which dims actually drove each winner, and the
  * skycube answers all 2^d − 1 variants at once.
  *
  * The reference engine computes one fixed subspace per job (its dims
  * vector is a job parameter, Skyline.java:31); the cube is that
  * operator for every subspace — but NOT as 2^d − 1 separate jobs.
  *
  * Plan shape — ONE scan, one survivors-only shuffle, in the
  * [[graft.plans.SkycubePlan]] → `SkycubeExec` operator that
  * `SKYCUBE OF` also plans: phase 1 runs a GSKY buffer PER SUBSPACE per
  * partition, all live at once because every row feeds every subspace
  * (unlike [[SkylineOp.grouped]], whose key-sorted input needs one
  * buffer at a time), emitting each subspace's local survivors tagged
  * with the subspace mask.
  * Phase 2 shuffles survivors on the mask — so each subspace's final
  * merge is an independent parallel task — and re-runs GSKY per mask. A
  * subspace skyline is NOT contained in the full-space skyline once
  * value ties exist (the classic distinct-value caveat), so every
  * subspace keeps its own full dominance pass; what is shared is the
  * scan, the parse, and the normalize — the actual 100 TB cost.
  *
  * Memory: 2^d − 1 buffers per task, each under [[Gsky]]'s
  * anti-correlated cap; `require(d ≤ 6)` bounds the fan-out (64
  * buffers) — past that a user wants targeted subspaces, not the cube.
  */
object Skycube {

  /** All-subspaces skyline. Output: `subspace` (dimension names joined
    * with "+", in spec order) followed by the input columns. Rows
    * appearing in k subspaces appear k times, each labeled.
    */
  def skycube(df: DataFrame, spec: SkylineSpec): DataFrame = {
    require(spec.d <= 6,
      s"skycube fan-out is 2^d − 1 subspaces; d=${spec.d} > 6 — query " +
        "targeted subspaces instead")
    SkylineOp.planned(df, spec)(SkycubePlan(_, _, _))
  }
}
