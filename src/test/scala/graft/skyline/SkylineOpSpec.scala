package graft.skyline

import scala.util.Random
import graft.SparkSpec

/** DataFrame-level skyline: two-phase plan vs the declarative anti-join
  * cross-check, direction handling, sentinel/null policy, ties.
  */
class SkylineOpSpec extends SparkSpec {
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("twoPhase == antiJoin on random data (mixed directions)") {
    val rnd = new Random(11)
    val rows = Seq.fill(3000)((rnd.nextInt(40).toDouble, rnd.nextInt(40).toDouble, rnd.nextInt(8)))
    val df = rows.toDF("x", "y", "k").repartition(7)
    val spec = SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Max)))
    assert(canon(SkylineOp.skyline(df, spec)) == canon(SkylineOp.antiJoin(df, spec)))
  }

  test("ties: equal-vector rows are all kept") {
    val df = Seq((1.0, 1.0, "a"), (1.0, 1.0, "b"), (2.0, 2.0, "c")).toDF("x", "y", "tag")
    val out = SkylineOp.skyline(df, SkylineSpec.min("x", "y"))
    assert(canon(out.select("tag")).flatten == Seq("a", "b"))
  }

  test("nulls and sentinels are excluded (strict missing policy)") {
    val df = Seq(
      (Some(1.0), Some(1.0), "keep"),
      (None, Some(0.0), "null_x"),
      (Some(9999.9), Some(0.0), "sentinel_x"))
      .toDF("x", "y", "tag")
    val spec = SkylineSpec(Seq(SkyDim("x", Min, missing = Some(9999.9)), SkyDim("y", Min)))
    assert(canon(SkylineOp.skyline(df, spec).select("tag")).flatten == Seq("keep"))
  }

  test("max direction actually maximizes") {
    val df = Seq((1.0, "lo"), (5.0, "hi")).toDF("v", "tag")
    val out = SkylineOp.skyline(df, SkylineSpec(Seq(SkyDim("v", Max))))
    assert(canon(out.select("tag")).flatten == Seq("hi"))
  }

  test("1-dim min skyline == all rows tied at the min") {
    val df = Seq(3.0, 1.0, 1.0, 2.0).toDF("v")
    val out = SkylineOp.skyline(df, SkylineSpec.min("v"))
    assert(canon(out) == Seq(Seq(1.0), Seq(1.0)))
  }
}
