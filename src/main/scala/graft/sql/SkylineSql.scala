package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.DatasetBridge
import graft.plans.{SkylineColumnPruning, SkylineSqlParser, SkylineStrategy}

/** `SKYLINE OF` SQL for sessions graft does not own (the common library
  * case: the host application already built the SparkSession, so
  * `spark.sql.extensions` is out of reach). Wires [[SkylineStrategy]] /
  * [[SkylineColumnPruning]] through the public `spark.experimental`
  * hooks (idempotently) and parses the statement with
  * [[SkylineSqlParser]] delegating to the session's own parser.
  *
  * Sessions built with [[graft.plans.GraftExtensions]] get the same
  * surface directly through `spark.sql(...)`.
  */
object SkylineSql {

  /** Register strategy + optimizer rule on `spark` (safe to call many
    * times — duplicates are filtered).
    */
  def register(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(SkylineStrategy))
      exp.extraStrategies = exp.extraStrategies :+ SkylineStrategy
    if (!exp.extraOptimizations.contains(SkylineColumnPruning))
      exp.extraOptimizations = exp.extraOptimizations :+ SkylineColumnPruning
  }

  /** Run a SQL statement that may end in a `SKYLINE OF` clause. */
  def sql(spark: SparkSession, sqlText: String): DataFrame =
    ofPlan(spark, new SkylineSqlParser(spark.sessionState.sqlParser).parsePlan(sqlText))

  /** Analyze `plan` into a DataFrame on a session that plans
    * [[graft.plans.SkylinePlan]] / [[graft.plans.SkycubePlan]] — the
    * common tail of this SQL surface and the DataFrame front ends
    * ([[graft.skyline.SkylineOp.skyline]], [[graft.skyline.Skycube.skycube]]).
    */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    register(spark)
    DatasetBridge.ofRows(spark, plan)
  }
}
