package graft.plans

import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.skyline.{Max, Min, SkyDim, Skycube, SkylineOp, SkylineSpec}
import graft.sql.SkylineSql

/** The DataFrame front ends ([[SkylineOp.skyline]], [[SkylineOp.grouped]],
  * [[Skycube.skycube]]) and the SQL clauses (`SKYLINE OF`, `SKYCUBE OF`)
  * run one operator: same answers, one [[SkylineExec]] / [[SkycubeExec]]
  * per plan, the same dim and group key type checks, and column pruning
  * through the node.
  */
class SkylineOperatorSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val NullId = 9001L
  private val NanId = 9002L
  private val DupIds = Set(9003L, 9004L)

  /** MIN and MAX dims over DOUBLE, INT, DATE and TIMESTAMP columns with
    * coarse domains (value ties), a NULL row and a NaN row that would
    * win on every other dim, and two rows sharing a vector that no
    * other row can dominate.
    */
  private def fixture(): DataFrame = {
    val rnd = new Random(23)
    val day0 = Date.valueOf("2024-01-01").getTime
    def date(d: Int) = new Date(day0 + d * 86400000L)
    def ts(h: Int) = new Timestamp(day0 + h * 3600000L)
    val random = (1L to 400L).map { i =>
      (i, Option(rnd.nextInt(12).toDouble), rnd.nextInt(12), date(rnd.nextInt(30)), ts(rnd.nextInt(48)))
    }
    val planted = Seq(
      (NullId, None, 99, date(-1), ts(99)),
      (NanId, Some(Double.NaN), 99, date(-1), ts(99)),
      (9003L, Some(-1.0), 0, date(29), ts(0)),
      (9004L, Some(-1.0), 0, date(29), ts(0)))
    (random ++ planted).toDF("id", "price", "rating", "ship", "seen").repartition(3)
  }

  private val spec = SkylineSpec(Seq(
    SkyDim("price", Min), SkyDim("rating", Max), SkyDim("ship", Min), SkyDim("seen", Max)))
  private val clause = "price MIN, rating MAX, ship MIN, seen MAX"

  private def ids(df: DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet

  private def cube(df: DataFrame): Set[(String, Long)] =
    df.select("subspace", "id").as[(String, Long)].collect().toSet

  test("SkylineOp.skyline and SKYLINE OF return antiJoin's ids on mixed-type dims") {
    val df = fixture()
    df.createOrReplaceTempView("sky_mixed")
    val expected = ids(SkylineOp.antiJoin(df, spec))
    assert(DupIds.subsetOf(expected))
    assert(!expected.contains(NullId) && !expected.contains(NanId))
    assert(ids(SkylineOp.skyline(df, spec)) == expected)
    assert(ids(SkylineSql.sql(spark, s"SELECT * FROM sky_mixed SKYLINE OF $clause")) == expected)
  }

  test("Skycube.skycube and SKYCUBE OF return the same (subspace, id) set, each subspace antiJoin's") {
    val df = fixture()
    df.createOrReplaceTempView("sky_mixed")
    val got = cube(Skycube.skycube(df, spec))
    assert(got == cube(SkylineSql.sql(spark, s"SELECT * FROM sky_mixed SKYCUBE OF $clause")))
    // A row with a NULL/NaN dim is out of every subspace, not only of
    // those that contain the dim.
    val complete = SkylineOp.prepare(df, spec).drop(SkylineOp.SKY)
    val subspaces = (1 until 16).map(m => spec.dims.zipWithIndex.collect { case (d, i) if (m & (1 << i)) != 0 => d })
    assert(got.map(_._1) == subspaces.map(_.map(_.col).mkString("+")).toSet)
    subspaces.foreach { dims =>
      val label = dims.map(_.col).mkString("+")
      assert(got.collect { case (`label`, id) => id } == ids(SkylineOp.antiJoin(complete, SkylineSpec(dims))), label)
    }
  }

  test("each front end executes exactly one skyline operator and no row-object nodes") {
    val df = fixture()
    df.createOrReplaceTempView("sky_mixed")
    Seq(
      SkylineOp.skyline(df, spec),
      SkylineSql.sql(spark, s"SELECT * FROM sky_mixed SKYLINE OF $clause"),
      Skycube.skycube(df, spec),
      SkylineSql.sql(spark, s"SELECT * FROM sky_mixed SKYCUBE OF $clause")).foreach { q =>
      q.collect()
      val plan = q.queryExecution.executedPlan
      val ops = collect(plan) { case p @ (_: SkylineExec | _: SkycubeExec) => p }
      assert(ops.size == 1, plan)
      assert(collect(plan) { case p if Set("DeserializeToObject", "MapPartitions")(p.nodeName) => p }.isEmpty, plan)
    }
  }

  test("a DECIMAL dim returns the same ids as its DOUBLE cast") {
    val rnd = new Random(5)
    val dbl = (1L to 300L).map(i => (i, rnd.nextInt(4000) / 100.0, rnd.nextInt(40).toDouble))
      .toDF("id", "price", "rating")
    val dec = dbl.withColumn("price", col("price").cast("decimal(10,2)"))
    dbl.createOrReplaceTempView("sky_dbl")
    dec.createOrReplaceTempView("sky_dec")
    val twoDims = SkylineSpec(Seq(SkyDim("price", Min), SkyDim("rating", Max)))
    val expected = ids(SkylineOp.skyline(dbl, twoDims))
    assert(expected.nonEmpty)
    assert(ids(SkylineOp.skyline(dec, twoDims)) == expected)
    assert(ids(SkylineSql.sql(spark, "SELECT * FROM sky_dec SKYLINE OF price MIN, rating MAX")) == expected)
    assert(ids(SkylineSql.sql(spark, "SELECT * FROM sky_dbl SKYLINE OF price MIN, rating MAX")) == expected)
  }

  test("a STRING dim fails at analysis, naming the column, before any job runs") {
    val df = Seq((1L, "cheap", 1.0), (2L, "dear", 2.0)).toDF("id", "label", "rating")
    df.createOrReplaceTempView("sky_str")
    val strSpec = SkylineSpec(Seq(SkyDim("label", Min), SkyDim("rating", Max)))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
      val before = jobs.get
      Seq[() => DataFrame](
        () => SkylineOp.skyline(df, strSpec),
        () => Skycube.skycube(df, strSpec),
        () => SkylineSql.sql(spark, "SELECT * FROM sky_str SKYLINE OF label MIN, rating MAX"),
        () => SkylineSql.sql(spark, "SELECT * FROM sky_str SKYCUBE OF label MIN, rating MAX")
      ).foreach { call =>
        val e = intercept[AnalysisException](call())
        assert(e.getMessage.contains("label") && e.getMessage.contains("STRING"), e.getMessage)
      }
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
      assert(jobs.get == before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("SkylineOp.skyline(wideParquet).select(id) reads only id and the dims") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sky_prune").toString
    (1L to 200L).map(i => (i, (i * 7 % 50).toDouble, (i * 13 % 50).toDouble, s"w$i", s"x$i", i * 3))
      .toDF("id", "a", "b", "wide1", "wide2", "wide3")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = SkylineOp.skyline(spark.read.parquet(dir), SkylineSpec.min("a", "b")).select("id")
    val expected = ids(SkylineOp.antiJoin(spark.read.parquet(dir), SkylineSpec.min("a", "b")))
    assert(ids(q) == expected)
    val scans = collect(q.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.requiredSchema.fieldNames.toSet == Set("id", "a", "b"), s))
  }

  test("SkylineOp.grouped(wideParquet, g).select(id) reads only id, the dims and g") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sky_group_prune").toString
    (1L to 200L).map(i => (i, s"g${i % 3}", (i * 7 % 50).toDouble, (i * 13 % 50).toDouble, s"w$i", i * 3))
      .toDF("id", "g", "a", "b", "wide1", "wide2")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val spec = SkylineSpec.min("a", "b")
    val q = SkylineOp.grouped(spark.read.parquet(dir), spec, Seq("g")).select("id")
    val expected = (0 until 3).flatMap { k =>
      ids(SkylineOp.antiJoin(spark.read.parquet(dir).filter(col("g") === s"g$k"), spec))
    }.toSet
    assert(ids(q) == expected)
    val scans = collect(q.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.requiredSchema.fieldNames.toSet == Set("id", "a", "b", "g"), s))
  }

  test("a group key Spark cannot sort fails at analysis, naming the column, before any job runs") {
    val df = Seq((1L, 1.0, 2.0), (2L, 2.0, 1.0)).toDF("id", "a", "b")
      .withColumn("tags", map(lit("k"), col("id")))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
      val before = jobs.get
      val e = intercept[AnalysisException](SkylineOp.grouped(df, SkylineSpec.min("a", "b"), Seq("id", "tags")))
      assert(e.getMessage.contains("tags") && e.getMessage.contains("MAP"), e.getMessage)
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
      assert(jobs.get == before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
