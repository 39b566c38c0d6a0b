package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, Attribute, Cast, Expression, RowOrdering, SortOrder, TaggingExpression, UnaryMinus, UnixDate, UnixMicros, UnsafeProjection}
import org.apache.spark.sql.types.{DateType, DoubleType, NumericType, TimestampNTZType, TimestampType}

import graft.skyline.Gsky

/** Marks an expression as a skyline dim, so analysis rejects a type
  * dominance cannot order. Accepted: numeric (DECIMAL included), DATE,
  * TIMESTAMP and TIMESTAMP_NTZ. Evaluates to its child unchanged. The
  * `SKYLINE OF` / `SKYCUBE OF` parser and [[graft.skyline.SkylineOp.normalizedDims]]
  * wrap every dim in it, so a STRING dim fails the query at analysis
  * with an error naming the column — before any job runs.
  */
case class OrderableDim(child: Expression) extends TaggingExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType =>
      TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"skyline dim ${child.sql} has type ${t.sql}; expected a numeric, " +
          "DATE, TIMESTAMP or TIMESTAMP_NTZ column")
  }

  override def prettyName: String = "skyline_dim"

  override protected def withNewChildInternal(newChild: Expression): OrderableDim =
    copy(child = newChild)
}

/** Marks an expression as a skyline group key, so analysis rejects a
  * type Spark cannot sort (MAP, VARIANT): [[SkylineExec]] sorts its
  * input by the keys. [[graft.skyline.SkylineOp.grouped]] wraps every
  * key in it, so such a key fails at analysis, naming the column.
  */
case class OrderableGroup(child: Expression) extends TaggingExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"skyline group key ${child.sql} has type ${child.dataType.sql}, which Spark cannot sort")

  override def prettyName: String = "skyline_group"

  override protected def withNewChildInternal(newChild: Expression): OrderableGroup =
    copy(child = newChild)
}

/** The dim-vector kernel shared by [[SkylineExec]] and [[SkycubeExec]]:
  * each dim becomes a double in MIN convention (value × sign), and one
  * codegen'd `UnsafeProjection` evaluates the whole vector per row.
  * Rows with a NULL or NaN dim have no vector and are dropped
  * ([[graft.skyline.SkylineOp.prepare]] semantics).
  */
object SkylineDims {

  /** A dim as a double: numeric (DECIMAL included) cast, DATE as epoch
    * day, TIMESTAMP as epoch micros, TIMESTAMP_NTZ as its wall-clock
    * micros. All maps are order-preserving.
    */
  private def asDouble(e: Expression): Expression = e.dataType match {
    case _: NumericType => Cast(e, DoubleType)
    case DateType => Cast(UnixDate(e), DoubleType)
    case TimestampType => Cast(UnixMicros(e), DoubleType)
    case TimestampNTZType =>
      Cast(UnixMicros(Cast(e, TimestampType, Some("UTC"))), DoubleType)
    case t => throw new IllegalArgumentException(
      s"skyline dim ${e.sql} has unsupported type ${t.sql}")
  }

  /** The MIN-convention dim expressions (sign +1 for MIN, −1 for MAX). */
  private def signed(dims: Seq[(Expression, Int)]): Seq[Expression] =
    dims.map { case (e, sign) => if (sign < 0) UnaryMinus(asDouble(e)) else asDouble(e) }

  /** SFS presort key (sort-filter-skyline, Chomicki et al. '03):
    * ascending sum of the MIN-convention dims. A dominator is ≤ in every
    * dim and < in one, so its sum is strictly smaller and it arrives
    * before its victims: GSKY's buffer then only grows, and the
    * strongest dominators sit at its front, so dominated points exit
    * early. The order never changes the result — a skyline is a set.
    */
  def sfsOrder(dims: Seq[(Expression, Int)]): Seq[SortOrder] =
    Seq(SortOrder(signed(dims).reduce(Add(_, _)), Ascending))

  /** Per-partition vector evaluator: the row's MIN-convention vector, or
    * null when a dim is NULL or NaN. Build it inside the task — the
    * generated projection is not serializable.
    */
  def vectors(dims: Seq[(Expression, Int)], input: Seq[Attribute]): InternalRow => Array[Double] = {
    val proj = UnsafeProjection.create(signed(dims), input)
    val d = dims.length
    row => {
      val p = proj(row)
      val vec = new Array[Double](d)
      var i = 0
      while (i < d && !p.isNullAt(i) && !p.getDouble(i).isNaN) { vec(i) = p.getDouble(i); i += 1 }
      if (i == d) vec else null
    }
  }

  /** [[SkycubeExec]]'s per-subspace merge: SFS-sort the survivors in memory, then GSKY. */
  def sfsSkyline[P](points: Iterator[(Array[Double], P)]): Gsky.Buf[P] =
    Gsky.skyline(points.toArray.sortBy(_._1.sum).iterator)

  /** GSKY-insert a row whose object the child may reuse: only a row that
    * enters the buffer is copied, and at most once — pass the copy made
    * so far (or null) and keep the returned one.
    */
  def insertCopy(buf: Gsky.Buf[InternalRow], vec: Array[Double], row: InternalRow,
      copied: InternalRow = null): InternalRow =
    if (!Gsky.insert(buf, vec, row)) copied
    else {
      val c = if (copied == null) row.copy() else copied
      buf(buf.length - 1) = (vec, c)
      c
    }
}
