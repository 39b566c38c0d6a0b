package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.skyline.{Gsky, SkylineOp, SkylineSpec}
import graft.sql.SkylineSql

/** [[SkylineExec]]'s parallel phase-2 merge: exact on floating-point
  * ties, infinities, duplicates and groups at any partitioning,
  * observable through its SQL metrics, guarded against blowup, and one
  * job whose last stage runs `m = min(partitions, defaultParallelism)`
  * tasks, global or grouped.
  */
class SkylineMergeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Inf = Double.PositiveInfinity

  /** `points` as (id, d0, d1, …) rows, split in order over exactly
    * `parts` partitions, with no exchange above them.
    */
  private def frame(points: Seq[Array[Double]], d: Int, parts: Int): DataFrame = {
    val schema = StructType(StructField("id", LongType) +:
      (0 until d).map(i => StructField(s"d$i", DoubleType)))
    val rows = points.zipWithIndex.map { case (v, i) => Row.fromSeq(i.toLong +: v.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  private def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet

  /** The ids `SkylineOp.skyline`, `SKYLINE OF` and `antiJoin` return,
    * each checked against `Gsky.bruteForce`, at 1, 2, 3, 7 and 10
    * partitions (so `m` < partitions and `pid % m` collides).
    */
  private def assertExact(name: String, points: Seq[Array[Double]]): Unit = {
    val d = points.headOption.fold(2)(_.length)
    val spec = SkylineSpec.min((0 until d).map(i => s"d$i"): _*)
    val expected = Gsky.bruteForce(points.zipWithIndex.map { case (v, i) => (v, i.toLong) })
      .map(_._2).toSet
    Seq(1, 2, 3, 7, 10).foreach { parts =>
      val df = frame(points, d, parts)
      df.createOrReplaceTempView("sky_merge")
      val clause = (0 until d).map(i => s"d$i MIN").mkString(", ")
      assert(ids(SkylineOp.skyline(df, spec)) == expected, s"$name: skyline at $parts")
      assert(ids(SkylineSql.sql(spark, s"SELECT * FROM sky_merge SKYLINE OF $clause")) == expected,
        s"$name: SKYLINE OF at $parts")
      assert(ids(SkylineOp.antiJoin(df, spec)) == expected, s"$name: antiJoin at $parts")
    }
  }

  private def antiCorrelated(n: Int, d: Int, seed: Int): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(n) {
      val v = Array.fill(d)(rnd.nextDouble())
      val s = v.sum
      v.map(_ / s + rnd.nextGaussian() * 0.01)
    }
  }

  test("sums tied in floating point still let the dominator win") {
    assertExact("x tie", Seq(Array(1e17, 1.0), Array(1e17, 0.0)))
    assertExact("y tie", Seq(Array(1.0, 2e17), Array(0.0, 2e17)))
    assertExact("both ties", Seq(Array(1e17, 1.0), Array(1.0, 2e17), Array(0.0, 2e17), Array(1e17, 0.0)))
  }

  test("infinite dims: +inf and NaN sums neither cut a scan short nor lose a dominator") {
    // (-inf, +inf) sums to NaN and is the only dominator of (5, +inf).
    assertExact("NaN-sum dominator", Seq(Array(5.0, Inf), Array(-Inf, Inf)))
    assertExact("all three", Seq(Array(5.0, Inf), Array(-Inf, Inf), Array(-Inf, 7.0)))
    assertExact("with finite points",
      Seq(Array(5.0, Inf), Array(-Inf, Inf), Array(-Inf, 7.0), Array(1.0, 1.0), Array(Inf, -Inf)))
  }

  test("equal vectors in different partitions are both kept") {
    assertExact("duplicates",
      Seq(Array(0.5, 0.5), Array(0.9, 0.9), Array(0.2, 0.8), Array(0.8, 0.2), Array(0.5, 0.5)))
  }

  test("empty partitions and an empty input") {
    assertExact("three rows", Seq(Array(3.0, 1.0), Array(2.0, 2.0), Array(3.0, 3.0)))
    assertExact("empty", Seq.empty)
    val schema = StructType(Seq(StructField("id", LongType), StructField("d0", DoubleType)))
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    none.createOrReplaceTempView("sky_none")
    assert(SkylineSql.sql(spark, "SELECT * FROM sky_none SKYLINE OF d0 MIN").collect().isEmpty)
  }

  test("a seeded anti-correlated d=5 set") {
    val points = antiCorrelated(3000, 5, 7)
    assertExact("anti d=5", points)
  }

  test("a seeded grouped anti-correlated d=5 set, per group") {
    val points = antiCorrelated(3000, 5, 19)
    // Square residues mod 7: four groups of unequal size.
    val expected = points.indices.groupBy(i => i.toLong * i % 7).values.flatMap { is =>
      Gsky.bruteForce(is.map(i => (points(i), i.toLong))).map(_._2)
    }.toSet
    val spec = SkylineSpec.min((0 until 5).map(i => s"d$i"): _*)
    Seq(1, 2, 3, 7, 10).foreach { parts =>
      val df = frame(points, 5, parts).withColumn("g", col("id") * col("id") % 7)
      assert(ids(SkylineOp.grouped(df, spec, Seq("g"))) == expected, s"grouped at $parts")
    }
  }

  test("SQL metrics: input, survivors, probes, output and merge time") {
    val points = antiCorrelated(2000, 4, 11) :+ Array(Double.NaN, 0.0, 0.0, 0.0)
    val df = frame(points, 4, 8)
    val q = SkylineOp.skyline(df, SkylineSpec.min("d0", "d1", "d2", "d3"))
    val out = q.collect().length
    val ops = collect(q.queryExecution.executedPlan) { case s: SkylineExec => s }
    assert(ops.size == 1)
    val metric = ops.head.metrics.map { case (k, v) => k -> v.value }
    val m = math.min(8, spark.sparkContext.defaultParallelism)
    assert(metric("numInputRows") == 2000)
    assert(metric("numOutputRows") == out)
    assert(metric("numSurvivors") >= out)
    assert(metric("numProbes") == metric("numSurvivors") * m)
    assert(metric("mergeTime") > 0)
  }

  test("a merge task holding more probes than the cap fails like the buffer guard") {
    val vecOf = (v: Array[Double]) => v
    val block = Array(1.0, 2.0, 2.0, 1.0)
    val values = Iterator[Either[Array[Double], Array[Double]]](Left(block), Left(block), Right(Array(1.0, 2.0)))
    val e = intercept[IllegalStateException](SkylineExec.merge(values, 2, vecOf, cap = 3))
    assert(e.getMessage == Gsky.overflow(3).getMessage)
    val kept = SkylineExec.merge(
      Iterator[Either[Array[Double], Array[Double]]](Left(block), Right(Array(1.0, 2.0)), Right(Array(3.0, 3.0))),
      2, vecOf, cap = 2)
    assert(kept.map(_.toSeq) == ArrayBuffer(Seq(1.0, 2.0)))
  }

  test("one skyline collect is one job whose last stage runs m merge tasks") {
    val lastStageTasks = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lastStageTasks.synchronized {
        lastStageTasks += e.stageInfos.maxBy(_.stageId).numTasks
      }
    }
    val points = antiCorrelated(1000, 3, 13)
    Seq(3, 8).foreach { parts =>
      val df = frame(points, 3, parts)
      df.createOrReplaceTempView("sky_stages")
      val m = math.min(parts, spark.sparkContext.defaultParallelism)
      assert(m > 1)
      Seq(
        () => SkylineOp.skyline(df, SkylineSpec.min("d0", "d1", "d2")),
        () => SkylineSql.sql(spark, "SELECT * FROM sky_stages SKYLINE OF d0 MIN, d1 MIN, d2 MIN"),
        () => SkylineOp.grouped(df.withColumn("g", col("id") % 4), SkylineSpec.min("d0", "d1", "d2"), Seq("g"))
      ).foreach { query =>
        val q = query()
        ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
        spark.sparkContext.addSparkListener(listener)
        try {
          q.collect()
          ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
        } finally spark.sparkContext.removeSparkListener(listener)
        val started = lastStageTasks.synchronized { val s = lastStageTasks.toList; lastStageTasks.clear(); s }
        assert(started == List(m), s"$parts partitions: last-stage tasks per job $started")
        val plan = q.queryExecution.executedPlan
        assert(plan.execute().getNumPartitions == m)
        assert(collect(plan) { case s: SkylineExec => s }.size == 1, plan)
        assert(collect(plan) { case p if Set("DeserializeToObject", "MapPartitions")(p.nodeName) => p }.isEmpty, plan)
      }
    }
  }
}
