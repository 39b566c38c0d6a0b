package graft.skyline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DateType, DoubleType, TimestampNTZType, TimestampType}

import graft.plans.{OrderableDim, OrderableGroup, SkylinePlan}
import graft.sql.SkylineSql

/** Public skyline operator over DataFrames.
  *
  * Strategy choice:
  *  - [[skyline]] (default) and [[grouped]]: front ends over the
  *    [[SkylinePlan]] → `SkylineExec` operator that `SKYLINE OF` also
  *    plans — per-partition local skyline of each group (map-side, zero
  *    shuffle; no group = one global skyline) → one shuffle that
  *    spreads the local skylines over up to `defaultParallelism` merge
  *    tasks as candidates, with every survivor's vector replicated to
  *    each task as a probe of its group → parallel elimination
  *    (G-SKY-MR style). The shuffle moves the survivors once plus m
  *    copies of their dim vectors, never the input.
  *  - [[graft.skyline.SkyMr]]: the reference's quadtree-partitioned
  *    SKY-MR plan, on the same operator: one eager bounds+sample job
  *    builds a quadtree on the driver, and the tree routes the merge.
  *    Pruned cells and the optional sample prunes drop rows before
  *    phase 1, and each survivor probes only the merge tasks holding a
  *    leaf it may dominate, which pays when local skylines are large
  *    (anti-correlated / high-d) and survivors spread over many leaves.
  *
  * Semantics (all paths): strict Pareto dominance, ties kept, rows with
  * any NULL/NaN/sentinel dim excluded — see [[SkylineSpec]]. Dims may be
  * numeric (DECIMAL included), DATE, TIMESTAMP or TIMESTAMP_NTZ; any
  * other type fails at analysis, naming the column ([[OrderableDim]]).
  */
object SkylineOp {

  /** Internal normalized-vector column (dropped before returning). */
  val SKY = "__graft_sky"

  /** Normalized (MIN-convention, sentinel→null) dim expressions.
    * Temporal types are mapped to their epoch numeric (order-preserving)
    * so dominance compares them like any other dim; the original column
    * values pass through untouched in the output. Each column is
    * wrapped in [[OrderableDim]], so analysis rejects other types.
    */
  def normalizedDims(df: DataFrame, spec: SkylineSpec): Seq[Column] =
    spec.dims.map { dim =>
      val c = ColumnBridge.column(OrderableDim(ColumnBridge.resolvedExpression(col(dim.col))))
      val base = df.schema(dim.col).dataType match {
        case TimestampType => unix_micros(c).cast(DoubleType)
        case TimestampNTZType =>
          unix_micros(c.cast(TimestampType)).cast(DoubleType)
        case DateType => unix_date(c).cast(DoubleType)
        case _ => c.cast(DoubleType)
      }
      val nulled = dim.missing match {
        case Some(s) => when(base === lit(s), lit(null).cast(DoubleType)).otherwise(base)
        case None => base
      }
      nulled * lit(dim.dir.sign)
    }

  /** Append the normalized vector column and drop incomplete rows.
    * The completeness filter is a plain Catalyst predicate — it is
    * pushed below the exchange (and into parquet for source columns).
    * NaN dims are excluded along with NULLs: NaN compares as
    * "incomparable to everything" in [[Dominance.compare]], which would
    * let NaN rows survive every skyline — treat them as missing instead.
    */
  def prepare(df: DataFrame, spec: SkylineSpec): DataFrame = {
    val dims = normalizedDims(df, spec)
    df.filter(dims.map(d => d.isNotNull && !isnan(d)).reduce(_ && _))
      .withColumn(SKY, array(dims: _*))
  }

  /** Local-skyline-then-merge skyline, as a [[SkylinePlan]]: phase 1
    * runs SFS-sorted GSKY per input partition with no shuffle; phase 2
    * shuffles only the survivors and eliminates them in parallel, each
    * merge task checking its share of the candidates against every
    * survivor's vector ([[graft.plans.SkylineExec]]). Being a Catalyst
    * node, it gets column pruning ([[graft.plans.SkylineColumnPruning]])
    * and predicate pushdown like any other plan.
    */
  def skyline(df: DataFrame, spec: SkylineSpec): DataFrame =
    planned(df, spec)(SkylinePlan(_, _, _))

  /** Shared front end of [[skyline]], [[grouped]] and
    * [[Skycube.skycube]]: spread an under-partitioned input before the
    * CPU-bound local pass (no-op at real scale; see
    * Partitioning.parallelize), then plan `node` over it with the
    * normalized dims, which are already MIN-convention (sign +1 each).
    */
  private[skyline] def planned(df: DataFrame, spec: SkylineSpec)(
      node: (Seq[Expression], Seq[Int], LogicalPlan) => LogicalPlan): DataFrame = {
    val in = graft.util.Partitioning.parallelize(df)
    SkylineSql.ofPlan(in.sparkSession, node(
      normalizedDims(in, spec).map(ColumnBridge.resolvedExpression),
      Seq.fill(spec.d)(1),
      in.queryExecution.analyzed))
  }

  /** SFS presort for the DataFrame path that buffers external rows
    * (Skyband): each partition in ascending sum of the
    * MIN-normalized dims — the key, and the reasons it pays, of
    * [[graft.plans.SkylineDims.sfsOrder]]. Measured 3.2× on the 9-dim
    * GSOD shape (21.2 s → 6.7 s over 200k points, identical skylines).
    */
  private[skyline] def sfsSorted(prep: DataFrame): DataFrame =
    prep.sortWithinPartitions(aggregate(col(SKY), lit(0.0), (a, x) => a + x))

  /** Per-group skyline: one independent skyline per distinct value of
    * `groupCols` (e.g. "best events per (event_type, day)"), NULL
    * being a value of its own — the same [[SkylinePlan]] as [[skyline]],
    * with the columns as its group keys. Each key must be a type Spark
    * can sort ([[graft.plans.OrderableGroup]]); a MAP column fails at
    * analysis, naming it.
    */
  def grouped(df: DataFrame, spec: SkylineSpec, groupCols: Seq[String]): DataFrame =
    planned(df, spec)(SkylinePlan(_, _, _,
      groupCols.map(c => OrderableGroup(ColumnBridge.resolvedExpression(col(c))))))

  /** Declarative (anti-join) skyline, for small/medium inputs and as a
    * cross-check of the imperative paths: `p ∈ sky(T)` iff no `q ∈ T`
    * dominates `p`. Catalyst plans it as a broadcast nested-loop
    * anti-join; O(n²) — only sensible when `df` is small.
    */
  def antiJoin(df: DataFrame, spec: SkylineSpec): DataFrame = {
    val p = prepare(df, spec).alias("p")
    val q = prepare(df, spec).alias("q")
    // DominatesExpr: one fused codegen loop over the vectors instead of
    // 2d composed comparisons materializing intermediate booleans.
    p.join(q, DominatesExpr(col(s"q.$SKY"), col(s"p.$SKY")), "left_anti").drop(SKY)
  }
}
