package graft.skyline

import scala.util.Random
import graft.SparkSpec

class SkylineAggSpec extends SparkSpec {
  import spark.implicits._

  private val spec = SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Max)))

  test("viaAggregate == twoPhase on random data (partial+final merge correct)") {
    val rnd = new Random(77)
    val df = (1L to 500L).map(i =>
      (rnd.nextInt(40).toDouble, rnd.nextInt(40).toDouble, i))
      .toDF("x", "y", "id")
      .repartition(7) // force multiple partials
    val got = SkylineOp.viaAggregate(df, spec).select("id").as[Long].collect().toSet
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
    val got = SkylineOp.viaAggregate(df, spec, Seq("g"))
      .select("g", "id").as[(String, Long)].collect().toSet
    val expected = SkylineOp.grouped(df, spec, Seq("g"))
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(got == expected)
  }

  test("serialize/deserialize round trip preserves every buffer entry (spill path)") {
    // Direct round trip on an ALL-FIXED-WIDTH row schema — the case
    // where UnsafeProjection reuses one backing array and a missing
    // copy() makes every serialized entry alias the LAST row (caught
    // in review; this is the regression test).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val rowType = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType)))
    val agg = SkylineAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, ArrayType(DoubleType), nullable = true),
      org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal("id"),
        org.apache.spark.sql.catalyst.expressions.BoundReference(1, LongType, nullable = false),
        org.apache.spark.sql.catalyst.expressions.Literal("x"),
        org.apache.spark.sql.catalyst.expressions.BoundReference(2, DoubleType, nullable = false))))
    val buf = Gsky.emptyBuf[InternalRow]
    // anti-diagonal: every point is skyline — all must survive the trip
    (0 until 10).foreach { i =>
      buf += ((Array(i.toDouble, (9 - i).toDouble), InternalRow(i.toLong, i.toDouble)))
    }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.length == 10)
    val ids = back.map(_._2.getLong(0)).sorted
    assert(ids.toSeq == (0L until 10L), s"corrupted round trip: $ids")
    back.zipWithIndex.foreach { case ((vec, row), _) =>
      assert(vec(0) == row.getLong(0).toDouble) // vec stays paired with its row
    }
  }

  test("anti-diagonal skyline survives partial serialization end-to-end") {
    // 40 points, ALL on the Pareto front, spread over partitions: any
    // aliasing in partial-buffer serialization collapses distinct rows.
    val df = (0L until 40L).map(i => (i.toDouble, (39 - i).toDouble, i))
      .toDF("x", "y", "id").repartition(5)
    val got = SkylineOp.viaAggregate(df,
      SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Min))))
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 40L).toSet)
  }

  test("ties kept, null dims dropped — same semantics as other paths") {
    val df = Seq(
      (1.0, 5.0, 1L), (1.0, 5.0, 2L), // equal vectors: both kept
      (0.5, 6.0, 3L), // dominates nothing above (y Max: 6>5, x 0.5<1) → dominates 1,2
      (Double.NaN, 1.0, 4L)
    ).toDF("x", "y", "id")
    val got = SkylineOp.viaAggregate(df, spec).select("id").as[Long].collect().toSet
    val expected = SkylineOp.skyline(df, spec).select("id").as[Long].collect().toSet
    assert(got == expected)
    assert(!got.contains(4L)) // NaN row excluded by prepare
  }
}
