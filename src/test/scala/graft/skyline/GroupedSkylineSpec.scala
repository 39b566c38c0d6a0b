package graft.skyline

import scala.util.Random
import graft.SparkSpec

class GroupedSkylineSpec extends SparkSpec {
  import spark.implicits._

  private val spec = SkylineSpec(Seq(SkyDim("x", Min), SkyDim("y", Max)))

  test("grouped == per-group brute force on random data") {
    val rnd = new Random(1234)
    val rows = (1L to 300L).map { i =>
      (s"g${rnd.nextInt(5)}", rnd.nextInt(20).toDouble, rnd.nextInt(20).toDouble, i)
    }
    val df = rows.toDF("g", "x", "y", "id")
    val got = SkylineOp.grouped(df, spec, Seq("g"))
      .select("g", "id").as[(String, Long)].collect().toSet
    // .toSeq before flatMap: flatMapping a Map with pair-valued results
    // would collapse to one entry per group key.
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, pts) =>
      pts.filter { p =>
        !pts.exists(q => (q._2 <= p._2 && q._3 >= p._3) && (q._2 < p._2 || q._3 > p._3))
      }.map(p => (g, p._4))
    }.toSet
    assert(got == expected)
  }

  test("groups are independent: a dominating point in one group does not prune another") {
    val df = Seq(
      ("a", 0.0, 10.0, 1L), // dominates everything in-coordinates
      ("b", 5.0, 5.0, 2L)
    ).toDF("g", "x", "y", "id")
    val got = SkylineOp.grouped(df, spec, Seq("g")).select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("multi-column grouping keys") {
    val df = Seq(
      ("a", 1, 5.0, 5.0, 1L), ("a", 1, 4.0, 6.0, 2L), // (a,1): 2 dominates 1
      ("a", 2, 9.0, 1.0, 3L), // different subgroup — kept
      ("b", 1, 9.0, 1.0, 4L)
    ).toDF("g1", "g2", "x", "y", "id")
    val got = SkylineOp.grouped(df, spec, Seq("g1", "g2")).select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L))
  }

  /** `rows` as (g, x, y, id) — `g` NULL where None — over `parts` partitions. */
  private def frame(rows: Seq[(Option[String], Double, Double, Long)], parts: Int) =
    rows.toDF("g", "x", "y", "id").repartition(parts)

  /** Per-group `Gsky.bruteForce` under `spec` (x MIN, y MAX); NULL is a
    * group of its own and a NaN row is in no skyline.
    */
  private def bruteForce(rows: Seq[(Option[String], Double, Double, Long)]): Set[(Option[String], Long)] =
    rows.filterNot(r => r._2.isNaN || r._3.isNaN).groupBy(_._1).toSeq.flatMap { case (g, pts) =>
      Gsky.bruteForce(pts.map(p => (Array(p._2, -p._3), p._4))).map(p => (g, p._2))
    }.toSet

  private def groupedIds(df: org.apache.spark.sql.DataFrame): Set[(Option[String], Long)] =
    SkylineOp.grouped(df, spec, Seq("g")).select("g", "id").as[(Option[String], Long)].collect().toSet

  test("random, anti-diagonal, tied and NaN inputs == brute force") {
    val rnd = new Random(77)
    val random1 = (1L to 500L).map(i => (Option("all"), rnd.nextInt(40).toDouble, rnd.nextInt(40).toDouble, i))
    val rnd2 = new Random(99)
    val random4 = (1L to 400L).map(i =>
      (Option(s"g${rnd2.nextInt(4)}"), rnd2.nextInt(15).toDouble, rnd2.nextInt(15).toDouble, i))
    // Every point is on the Pareto front: x MIN and y MAX both rise with i.
    val antiDiagonal = (0L until 40L).map(i => (Option(s"g${i % 3}"), i.toDouble, i.toDouble, i))
    val tiesAndNaN = Seq(
      (Option("a"), 1.0, 5.0, 1L), (Option("a"), 1.0, 5.0, 2L), // equal vectors
      (Option("a"), 0.5, 6.0, 3L), // dominates 1 and 2
      (Option("a"), Double.NaN, 9.0, 4L), // would dominate 3; a NaN dim drops the row
      (Option("b"), 1.0, 5.0, 5L), (Option("b"), 1.0, 5.0, 6L), // the same tie in another group
      (Option("b"), 2.0, Double.NaN, 7L))
    Seq(
      ("random, one group", random1, 7, None),
      ("random, four groups", random4, 5, None),
      ("anti-diagonal, three groups", antiDiagonal, 5, Some(antiDiagonal.map(_._4).toSet)),
      ("anti-diagonal, one group", antiDiagonal.map(_.copy(_1 = Option("all"))), 5, Some(antiDiagonal.map(_._4).toSet)),
      ("ties and NaN", tiesAndNaN, 3, Some(Set(3L, 5L, 6L)))
    ).foreach { case (name, rows, parts, ids) =>
      val got = groupedIds(frame(rows, parts))
      assert(got == bruteForce(rows), name)
      ids.foreach(expected => assert(got.map(_._2) == expected, name))
    }
  }

  test("a NULL group key forms its own group; -0.0 and 0.0 are one key") {
    val rows = Seq(
      (None, 5.0, 5.0, 1L), (None, 6.0, 4.0, 2L), // NULL group: 1 dominates 2
      (Option("a"), 0.0, 9.0, 3L), // dominates every NULL-group row, in another group
      (Option("a"), 9.0, 0.0, 4L))
    val got = groupedIds(frame(rows, 2))
    assert(got == Set((None, 1L), (Some("a"), 3L)))
    assert(got == bruteForce(rows))
    // As in GROUP BY: the -0.0 row is in 0.0's group, where row 5 dominates it.
    val zeros = Seq((0.0, 1.0, 9.0, 5L), (-0.0, 2.0, 8.0, 6L), (Double.NaN, 3.0, 3.0, 7L), (Double.NaN, 4.0, 2.0, 8L))
      .toDF("k", "x", "y", "id").repartition(2)
    assert(SkylineOp.grouped(zeros, spec, Seq("k")).select("id").as[Long].collect().toSet == Set(5L, 7L))
  }
}
