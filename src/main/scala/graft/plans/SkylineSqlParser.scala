package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryParsingErrors
import org.apache.spark.sql.types.{DataType, StructType}

/** Delegating SQL parser adding a `SKYLINE OF` clause (EDBT'23
  * "Integration of Skyline Queries into Spark SQL" surface):
  *
  * {{{
  *   SELECT ... FROM t WHERE ...
  *   SKYLINE OF col1 MIN, col2 MAX [, ...]
  * }}}
  *
  * The clause must be the final clause of the statement. The wrapped
  * base query parses through the delegate (full Spark SQL untouched);
  * the clause becomes a [[SkylinePlan]] with UnresolvedAttribute dims
  * that the analyzer resolves against the base query's output and
  * type-checks ([[OrderableDim]]).
  * Statements without the clause pass through verbatim.
  */
class SkylineSqlParser(delegate: ParserInterface) extends ParserInterface {

  import SkylineSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case SkycubeClause(base, clause) =>
      val dims = parseDims(clause)
      require(dims.length <= 6,
        s"SKYCUBE OF is 2^d − 1 subspaces; d=${dims.length} > 6 — " +
          "query targeted SKYLINE OF subspaces instead")
      SkycubePlan(dims.map(_._1), dims.map(_._2), delegate.parsePlan(base))
    case SkylineClause(base, clause) =>
      val dims = parseDims(clause)
      SkylinePlan(dims.map(_._1), dims.map(_._2), delegate.parsePlan(base))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan = parsePlan(sqlText)
  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier = delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier = delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] = delegate.parseMultipartIdentifier(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType = delegate.parseDataType(s)
  override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
}

object SkylineSqlParser {

  /** Splits "…base… SKYLINE OF <clause>" when the clause terminates the
    * statement (trailing semicolon/whitespace tolerated) AND the
    * trailing text is shaped like a dim list. The shape check keeps the
    * words "skyline of" inside a string literal or comment (e.g.
    * `WHERE body LIKE '%skyline of%'`) from hijacking a valid statement
    * — such text never matches `ident MIN|MAX, ...`, so it passes
    * through to the delegate untouched. A clause that names dims but
    * misspells a direction still matches the column-word shape and gets
    * a helpful error from [[parseDims]].
    */
  /** `SKYCUBE OF <dims>` — same clause grammar as SKYLINE OF, same
    * string-literal/comment hijack protection via the dim-list shape
    * check.
    */
  private[plans] object SkycubeClause {
    private val re = "(?is)^(.*?)\\bSKYCUBE\\s+OF\\s+(.+?)[\\s;]*$".r
    private val dimListShape =
      "(?i)^\\s*[`\\w.]+\\s+\\w+\\s*(,\\s*[`\\w.]+\\s+\\w+\\s*)*$".r
    def unapply(sql: String): Option[(String, String)] = sql match {
      case re(base, clause)
          if base.trim.nonEmpty && dimListShape.matches(clause) =>
        Some((base, clause))
      case _ => None
    }
  }

  private[plans] object SkylineClause {
    private val re = "(?is)^(.*?)\\bSKYLINE\\s+OF\\s+(.+?)[\\s;]*$".r
    // identifier (optionally backquoted/dotted) + a direction-like word
    private val dimListShape =
      "(?i)^\\s*[`\\w.]+\\s+\\w+\\s*(,\\s*[`\\w.]+\\s+\\w+\\s*)*$".r
    def unapply(sql: String): Option[(String, String)] = sql match {
      case re(base, clause)
          if base.trim.nonEmpty && dimListShape.matches(clause) =>
        Some((base, clause))
      case _ => None
    }
  }

  /** "a MIN, b MAX" → Seq((attr a, +1), (attr b, −1)) — MIN-convention
    * signs per the reference's value_type (Range.java:19). Each dim is
    * wrapped in [[OrderableDim]], so analysis type-checks it.
    */
  private[plans] def parseDims(clause: String): Seq[(Expression, Int)] =
    clause.split(",").toSeq.map { part =>
      part.trim.split("\\s+").toSeq match {
        case Seq(name, dir) if dir.equalsIgnoreCase("MIN") =>
          (OrderableDim(UnresolvedAttribute.quotedString(name)), 1)
        case Seq(name, dir) if dir.equalsIgnoreCase("MAX") =>
          (OrderableDim(UnresolvedAttribute.quotedString(name)), -1)
        case _ =>
          throw new IllegalArgumentException(
            s"SKYLINE OF expects '<column> MIN|MAX [, ...]', got: '${part.trim}'")
      }
    }
}
