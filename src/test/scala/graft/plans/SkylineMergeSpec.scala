package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.skyline.{Gsky, SkyMr, SkylineOp, SkylineSpec}
import graft.sql.SkylineSql

/** [[SkylineExec]]'s parallel phase-2 merge: exact on floating-point
  * ties, infinities, duplicates and groups at any partitioning, with
  * its default routing and SKY-MR's quadtree-leaf routing,
  * observable through its SQL metrics, guarded against blowup, and one
  * job whose last stage runs `m = min(partitions, defaultParallelism)`
  * tasks, global, grouped or behind SKY-MR's one eager job.
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

  /** The ids `SkylineOp.skyline`, `SKYLINE OF`, `antiJoin` and
    * `SkyMr.skyline` return, each checked against `Gsky.bruteForce`, at
    * 1, 2, 3, 7 and 10 partitions (so `m` < partitions and `pid % m`
    * collides). SkyMr runs three times: at its defaults, and on a tiny
    * tree (`maxp = 2`, `maxDepth = 4`), so the probe routing crosses
    * many leaves, with both sample prunes on and with none (the prunes
    * drop most dominated rows before routing could matter).
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
      assert(ids(SkyMr.skyline(df, spec)) == expected, s"$name: SkyMr at $parts")
      assert(ids(SkyMr.skyline(df, spec, maxp = 2, maxDepth = 4)) == expected,
        s"$name: SkyMr on a tiny tree at $parts")
      assert(ids(SkyMr.skyline(df, spec, maxp = 2, maxDepth = 4, sampleFilterK = 4, cellPrune = true)) ==
        expected, s"$name: SkyMr on a tiny pruned tree at $parts")
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

  test("points on a dim's global maximum keep their dominator") {
    // The top leaf is closed at the maximum: (0, 10) dominates (1, 10).
    val top = Seq(Array(0.0, 10.0), Array(1.0, 10.0), Array(2.0, 10.0), Array(10.0, 0.0),
      Array(10.0, 1.0), Array(5.0, 5.0), Array(6.0, 4.0), Array(3.0, 7.0), Array(10.0, 10.0))
    assertExact("on the max", top)
    assertExact("on the max, d=3", top.map(v => v :+ 10.0) :+ Array(4.0, 4.0, 9.0))
  }

  test("a constant dim") {
    val grid = for (x <- 0 until 4; y <- 0 until 4) yield Array(x.toDouble, (x * y % 5).toDouble)
    assertExact("constant 3", grid.map(v => Array(3.0, v(0), v(1))))
    // 1e17 + 1 == 1e17: a bound the hi == lo nudge cannot widen.
    assertExact("constant 1e17", grid.map(v => Array(v(0), 1e17, v(1))))
  }

  test("infinite bounds: NaN and infinite quadtree midpoints") {
    // d0 spans (-inf, +inf): its root midpoint is NaN; d1 spans [0, +inf]:
    // its midpoint is +inf.
    assertExact("inf bounds", Seq(Array(-Inf, 3.0), Array(Inf, 0.0), Array(0.0, 2.0),
      Array(1.0, Inf), Array(2.0, 1.0), Array(-Inf, Inf), Array(0.5, 0.5), Array(3.0, 0.5),
      Array(Inf, Inf), Array(-1.0, 4.0)))
    assertExact("-inf floor", Seq(Array(-Inf, -Inf), Array(-Inf, 1.0), Array(1.0, -Inf),
      Array(-Inf, -Inf), Array(0.0, 0.0)))
    val rnd = new Random(37)
    val values = Array(-Inf, -1.0, 0.0, 1.0, 2.0, Inf)
    assertExact("inf grid", Seq.fill(60)(Array.fill(3)(values(rnd.nextInt(values.length)))))
  }

  test("a d=9 set: 512-way quadtree fanout") {
    assertExact("anti d=9", antiCorrelated(300, 9, 29))
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
    assert(metric("numLeaves") == 0 && metric("numPrunedLeaves") == 0 && metric("numDropped") == 0)
  }

  test("SQL metrics of SKY-MR routing: leaves, pruned leaves, drops and probe fan-out") {
    val points = antiCorrelated(2000, 4, 11) :+ Array(Double.NaN, 0.0, 0.0, 0.0)
    val df = frame(points, 4, 8)
    val m = math.min(8, spark.sparkContext.defaultParallelism)
    Seq(false, true).foreach { prune =>
      val q = SkyMr.skyline(df, SkylineSpec.min("d0", "d1", "d2", "d3"), maxp = 32,
        sampleFilterK = if (prune) 8 else 0, cellPrune = prune)
      val out = q.collect().length
      val ops = collect(q.queryExecution.executedPlan) { case s: SkylineExec => s }
      assert(ops.size == 1)
      val metric = ops.head.metrics.map { case (k, v) => k -> v.value }
      assert(metric("numInputRows") == 2000)
      assert(metric("numOutputRows") == out)
      assert(metric("numSurvivors") >= out)
      assert(metric("numLeaves") > 1)
      assert(metric("numProbes") >= metric("numSurvivors"))
      assert(metric("numProbes") <= metric("numSurvivors") * m)
      if (prune) assert(metric("numDropped") > 0 && metric("numPrunedLeaves") > 0, metric)
      assert(metric("numDropped") + metric("numSurvivors") <= 2000)
    }
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
      // SKY-MR: the eager bounds+sample job, then the kernel's one job.
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
      spark.sparkContext.addSparkListener(listener)
      val q = try {
        val q = SkyMr.skyline(df, SkylineSpec.min("d0", "d1", "d2"), maxp = 16)
        q.collect()
        ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 10000)
        q
      } finally spark.sparkContext.removeSparkListener(listener)
      val started = lastStageTasks.synchronized { val s = lastStageTasks.toList; lastStageTasks.clear(); s }
      assert(started.length <= 2 && started.last == m, s"$parts partitions: SkyMr jobs $started")
      val plan = q.queryExecution.executedPlan
      assert(collect(plan) { case s: SkylineExec => s }.size == 1, plan)
      assert(collect(plan) { case p if Set("DeserializeToObject", "MapPartitions", "InMemoryTableScan")(p.nodeName) => p }
        .isEmpty, plan)
      assert(plan.collectWithSubqueries { case p => p.expressions }.flatten
        .forall(_.collectFirst { case u: ScalaUDF => u }.isEmpty), plan)
      assert(q.queryExecution.optimizedPlan.collectFirst { case r: InMemoryRelation => r }.isEmpty)
    }
  }
}
