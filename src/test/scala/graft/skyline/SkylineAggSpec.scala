package graft.skyline

import scala.util.Random
import org.apache.spark.sql.functions.col
import graft.SparkSpec

/** The skyline aggregate's cases, now run through [[SkylineOp.grouped]],
  * the front end that replaced `viaAggregate` (registry row
  * `q_skyline_agg` calls it). Test names keep the old entry point's name
  * so their IDs stay stable.
  */
class SkylineAggSpec extends SparkSpec {
  import spark.implicits._

  private val spec = SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Max)))

  test("viaAggregate == twoPhase on random data (partial+final merge correct)") {
    val rnd = new Random(77)
    val df = (1L to 500L).map(i =>
      (rnd.nextInt(40).toDouble, rnd.nextInt(40).toDouble, i))
      .toDF("x", "y", "id")
      .repartition(7) // force multiple partials
    val got = SkylineOp.grouped(df, spec, Nil).select("id").as[Long].collect().toSet
    val expected = SkylineOp.skyline(df, spec).select("id").as[Long].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("viaAggregate grouped == grouped operator") {
    val rnd = new Random(99)
    val df = (1L to 400L).map(i =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(15).toDouble, rnd.nextInt(15).toDouble, i))
      .toDF("g", "x", "y", "id")
      .repartition(5)
    val got = SkylineOp.grouped(df, spec, Seq("g"))
      .select("g", "id").as[(String, Long)].collect().toSet
    // One global skyline per group, unioned.
    val expected = (0 until 4).map(k => s"g$k").flatMap { g =>
      SkylineOp.skyline(df.filter(col("g") === g), spec)
        .select("g", "id").as[(String, Long)].collect()
    }.toSet
    assert(got == expected)
  }

  test("anti-diagonal skyline survives partial serialization end-to-end") {
    // 40 points, ALL on the Pareto front, spread over partitions: any
    // aliasing between buffered rows collapses distinct rows.
    val df = (0L until 40L).map(i => (i.toDouble, (39 - i).toDouble, i))
      .toDF("x", "y", "id").repartition(5)
    val got = SkylineOp.grouped(df,
      SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Min))), Nil)
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 40L).toSet)
  }

  test("ties kept, null dims dropped — same semantics as other paths") {
    val df = Seq(
      (1.0, 5.0, 1L), (1.0, 5.0, 2L), // equal vectors: both kept
      (0.5, 6.0, 3L), // dominates nothing above (y Max: 6>5, x 0.5<1) → dominates 1,2
      (Double.NaN, 1.0, 4L)
    ).toDF("x", "y", "id")
    val got = SkylineOp.grouped(df, spec, Nil).select("id").as[Long].collect().toSet
    val expected = SkylineOp.skyline(df, spec).select("id").as[Long].collect().toSet
    assert(got == expected)
    assert(!got.contains(4L)) // NaN row excluded by prepare
  }
}
