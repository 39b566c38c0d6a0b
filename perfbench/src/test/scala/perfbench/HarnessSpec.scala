package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.skyline.{SkylineOp, SkylineSpec}

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val dir = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = Main.session(2, dir)

  override def afterAll(): Unit = spark.stop()

  test("a corrupted answer counts as a failure, a correct one does not") {
    val pts = Gen.antiCorrelated(2000, 4, 5, 0.05)
    val expected = Reference.digest(Reference.skyline(pts))
    val df = spark.createDataFrame(pts.ids.indices.map(i =>
      (pts.ids(i), pts.dims(i)(0), pts.dims(i)(1), pts.dims(i)(2), pts.dims(i)(3))))
      .toDF("id", "d0", "d1", "d2", "d3")
    def op(corrupt: Array[Long] => Array[Long]) = Op("skyline.twophase", commits = false, _ => {
      val ids = SkylineOp.skyline(df, SkylineSpec.min("d0", "d1", "d2", "d3"))
        .select("id").collect().map(_.getLong(0))
      val answer = corrupt(ids)
      () => Workloads.check("skyline", Reference.digest(answer), expected)
    })
    val tally = new Tally
    assert(tally(op(identity), Spans.Off).isDefined)
    assert(tally.failed == 0)
    assert(tally(op(_.drop(1)), Spans.Off).isEmpty)
    assert(tally(op(ids => ids.updated(0, ids(0) + 1)), Spans.Off).isEmpty)
    assert(tally(Op("boom", commits = false, _ => throw new IllegalStateException("x")), Spans.Off).isEmpty)
    assert(tally.attempted == 4 && tally.failed == 3)
  }

  test("listing jobs: plain spark.read.parquet over more than 32 paths launches one, 32 do not") {
    val paths = (0 until 40).map { i =>
      val p = new java.io.File(dir, s"part$i").getPath
      spark.range(i * 10, i * 10 + 10, 1, 1).write.mode("overwrite").parquet(p)
      p
    }
    val t = new Tracer(spark)
    try {
      val (n, _, over) = t.op("read40")(spark.read.parquet(paths: _*).count())
      assert(n == 400)
      assert(over.listingJobs >= 1, s"${over.jobs} jobs, none classified as listing")
      val (_, _, under) = t.op("read32")(spark.read.parquet(paths.take(32): _*).count())
      assert(under.listingJobs == 0 && under.jobs >= 1)
    } finally t.close()
  }

  test("single-task stages: plain repartition(1) makes one, a map-only job none") {
    val t = new Tracer(spark)
    try {
      val (_, root, one) = t.op("repartition1")(spark.range(0, 10000, 1, 4).repartition(1)
        .foreachPartition((it: Iterator[java.lang.Long]) => it.foreach(_ => ())))
      assert(one.jobs >= 1 && one.jobSpans.size == one.jobs,
        "every job the operation started has ended when op returns")
      assert(one.singleTaskStages == 1 && one.stages == 2 && one.tasks == 5)
      assert(root.ms >= 0)
      val (_, _, none) = t.op("mapOnly")(spark.range(0, 10000, 1, 4)
        .foreachPartition((it: Iterator[java.lang.Long]) => it.foreach(_ => ())))
      assert(none.singleTaskStages == 0 && none.stages == 1 && none.tasks == 4)
    } finally t.close()
  }

  test("spans: layer calls nest under their operation and jobs under the call that ran them") {
    val t = new Tracer(spark)
    try {
      val (_, root, _) = t.op("nested")(t("layer.call")(spark.range(0, 100, 1, 2).count()))
      val spans = t.spansWithSelfTime().map(_._1)
      val call = spans.find(s => s.name == "layer.call" && s.op == root.id).get
      assert(call.parent == root.id)
      val jobs = spans.filter(s => s.name == "spark.job" && s.op == root.id)
      assert(jobs.nonEmpty && jobs.forall(_.parent == call.id))
    } finally t.close()
  }

  test("covered time is the union of intervals clipped to the window") {
    assert(Tracer.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0)), 2.0, 25.0) == 18.0)
    assert(Tracer.covered(Nil, 0.0, 5.0) == 0.0)
  }

  test("BENCHMARK.json lists exactly the metrics the JSON line prints") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists(), "runs from the perfbench directory of a checkout")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def names(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => (n.get("name").asText(), n.get("unit").asText())).toSeq
    }
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
    val workloads = json.get("workloads").elements()
    Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next().get("name").asText())
      .foreach(w => assert(Workloads.Names.contains(w), w))
  }
}
