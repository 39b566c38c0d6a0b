package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Clusters
import graft.operators.SpatialJoin

/** Density-based clustering (DBSCAN) over integer-scaled 2-D points —
  * the density complement of [[KMeans]] (which needs k up front and
  * carves convex cells): arbitrary-shape clusters plus an explicit
  * NOISE verdict, the form a curation pipeline wants for geo/embedding
  * outlier triage ("dense sensor sweeps" vs "isolated junk points").
  *
  * Plan shape — three bounded stages, no all-pairs anywhere:
  *   1. ε-neighbor pairs via [[SpatialJoin.epsNeighbors]] (grid-cell
  *      equi-join, 9× replication one side, exact integer distance);
  *   2. neighbor counts → core points (|N_ε(p)| ≥ minPts, p included);
  *      core–core edges → [[Clusters.connectedComponents]] (large/
  *      small-star keyed rounds; label = min core id in component);
  *   3. border points (non-core with a core neighbor) attach to the
  *      cluster of their LOWEST-ID core neighbor — textbook DBSCAN
  *      leaves border assignment scan-order-dependent; pinning min-id
  *      makes the operator deterministic and oracle-replayable.
  * Everything else is noise. At 100 TB the dominant cost is the ε-join
  * (per-cell density bound, same knobs as SpatialJoin: shrink cells or
  * salt a hot cell); the component rounds touch only CORE-core edges,
  * a density-filtered subgraph.
  *
  * The reference engine has no clustering surface; this extends its
  * grid-partitioned cell routing (SkyMr's QuadTreeRouting) from dominance
  * pruning to density connectivity.
  */
object Dbscan {

  /** Cluster `points` (long-typed `idCol`, integer-scaled `xCol`,
    * `yCol`; ids unique and non-negative). Returns one row per point:
    * (id, role ∈ core|border|noise, cluster) — cluster is the minimum
    * core id of the component (null for noise).
    */
  def cluster(points: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Long, minPts: Int): DataFrame = {
    // minPts >= 2: with minPts = 1 an isolated point (absent from the
    // ε-pair frame entirely) would be core, a case the neighbor-count
    // path below cannot see; refuse rather than silently mislabel.
    require(minPts >= 2, s"minPts must be >= 2, got $minPts")
    val ids = points.select(col(idCol).cast("long").as("id"))
    // Symmetric neighbor list; eagerly materialized with lineage-owned
    // blocks (localCheckpoint, the Triangles.perNode lesson) — three
    // consumers below, no never-unpersisted cache entry left behind.
    val pairs = SpatialJoin.epsNeighbors(points, idCol, xCol, yCol, eps)
    val nb = pairs.select(col("a_id").as("id"), col("b_id").as("nid"))
      .unionAll(pairs.select(col("b_id").as("id"), col("a_id").as("nid")))
      .localCheckpoint(true)
    // Core: ε-neighborhood (self included) has at least minPts points.
    val core = nb.groupBy("id").agg(count(lit(1)).as("c"))
      .where(col("c") + 1 >= minPts).select("id")
      .localCheckpoint(true)
    // Core–core subgraph → components; singleton cores (no core
    // neighbor) are their own cluster.
    val coreEdges = nb
      .join(core, Seq("id"))
      .join(core.select(col("id").as("nid")), Seq("nid"))
    val comps = Clusters.connectedComponents(coreEdges, "id", "nid")
    val coreLab = core
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    // Border: non-core with >=1 core neighbor; attach via min core id.
    val border = nb
      .join(core.select(col("id").as("nid")), Seq("nid"))
      .join(core, Seq("id"), "left_anti")
      .groupBy("id").agg(min(col("nid")).as("anchor"))
      .join(coreLab.select(col("id").as("anchor"), col("cluster")),
        Seq("anchor"))
      .select(col("id"), col("cluster"))
    val labeled = coreLab.withColumn("role", lit("core"))
      .unionByName(border.withColumn("role", lit("border")))
    ids.join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("role"), lit("noise")).as("role"),
        col("cluster"))
  }
}
