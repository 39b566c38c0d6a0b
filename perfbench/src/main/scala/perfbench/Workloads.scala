package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{Dedup, MinHashLsh}
import graft.pipeline.TrainingPipeline
import graft.skyline.{SkyMr, SkylineOp, SkylineSpec}
import graft.sources.CommitLog
import graft.sql.{GraftSql, GraftTables, SkylineSql}
import graft.text.{QualityFilters, TextFunctions}

/** One operation of a workload's rotation. `run` makes the engine calls
  * (each through the span wrapper) and materializes the answer; it
  * returns the answer check, which runs after the clock stops, advances
  * the workload's model of the expected state, and yields a message when
  * the answer is wrong.
  */
final case class Op(kind: String, commits: Boolean, run: Spans => () => Option[String])

/** Per-layer facts a workload observes besides timings (row counts,
  * ratios); each reported value is the mean of what was recorded.
  */
final class Facts {
  private val sums = mutable.LinkedHashMap.empty[String, (Double, Int)]
  def add(name: String, v: Double): Unit = {
    val (s, n) = sums.getOrElse(name, (0.0, 0))
    sums(name) = (s + v, n + 1)
  }
  def clear(): Unit = sums.clear()
  def means: Map[String, Double] = sums.map { case (k, (s, n)) => k -> s / n }.toMap
}

trait Workload {
  def name: String
  val facts = new Facts
  /** Builds the starting state in a fresh session under `dir`. */
  def setup(spark: SparkSession, dir: File): Unit
  /** The operations of pass `pass` (pass 1 is the warmup). */
  def round(pass: Int): Seq[Op]
  /** Records end-of-run facts (table sizes, log bytes). */
  def finish(spark: SparkSession): Unit = ()
}

object Workloads {
  val Names: Seq[String] = Seq("sky_anti", "sky_corr", "warehouse", "pipeline")

  /** Generates the inputs of `name` from `seed`. */
  def inputs(name: String, seed: Long): Any = name match {
    case "sky_anti" => Gen.antiCorrelated(25000, 5, seed, 0.045)
    case "sky_corr" => Gen.correlated(1000000, 4, seed, 0.8)
    case "warehouse" => Gen.Warehouse(seed)
    case "pipeline" => Gen.corpus(8000, seed)
  }

  /** The workload over generated inputs; computes its expected answers. */
  def build(name: String, in: Any): Workload = (name, in) match {
    case ("sky_anti" | "sky_corr", p: Gen.Points) => new SkyWorkload(name, p)
    case ("warehouse", w: Gen.Warehouse) => new WarehouseWorkload(w)
    case ("pipeline", c: Gen.Corpus) => new PipelineWorkload(c)
  }

  def check(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  private[perfbench] def parallelism(spark: SparkSession): Int = spark.sparkContext.defaultParallelism
}

/** Skyline queries over seeded points through the three public entry
  * points: `SkylineOp.skyline`, `SKYLINE OF` via `SkylineSql.sql`, and
  * `SkyMr.skyline`.
  */
final class SkyWorkload(val name: String, pts: Gen.Points) extends Workload {
  private val cols = (0 until pts.d).map(j => s"d$j")
  private val spec = SkylineSpec.min(cols: _*)
  val expected: Reference.IdDigest = Reference.digest(Reference.skyline(pts))
  private var spark: SparkSession = _
  private var input: DataFrame = _

  def setup(s: SparkSession, dir: File): Unit = {
    spark = s
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      cols.map(StructField(_, DoubleType, nullable = false)))
    val (ids, d) = (pts.ids, pts.d)
    val flat = spark.sparkContext.broadcast(pts.dims.flatten)
    val path = new File(dir, "points").getPath
    spark.range(0, pts.n, 1, Workloads.parallelism(spark)).mapPartitions { (it: Iterator[java.lang.Long]) =>
      val v = flat.value
      it.map { i => val o = i.toInt * d; Row.fromSeq(ids(i.toInt) +: (o until o + d).map(v(_))) }
    }(Encoders.row(schema)).write.mode("overwrite").parquet(path)
    flat.destroy()
    input = spark.read.parquet(path)
    input.createOrReplaceTempView("pts")
  }

  private def query(kind: String, call: => DataFrame): Op = Op(kind, commits = false, sp => {
    val out = sp("skyline.call")(call)
    val ids = sp("skyline.exec")(out.select("id").collect().map(_.getLong(0)))
    facts.add("skyline.input_rows", pts.n)
    facts.add("skyline.output_rows", ids.length)
    facts.add("skyline.survivor_ratio", ids.length.toDouble / pts.n)
    () => Workloads.check(kind, Reference.digest(ids), expected)
  })

  def round(pass: Int): Seq[Op] = Seq(
    query("skyline.twophase", SkylineOp.skyline(input, spec)),
    query("skyline.sql", SkylineSql.sql(spark,
      s"SELECT * FROM pts SKYLINE OF ${cols.map(_ + " MIN").mkString(", ")}")),
    query("skyline.skymr", SkyMr.skyline(input, spec)))
}

/** The commit-log lifecycle on two tables: an append-only (k, v) table
  * that starts at 64 files, and a keyed (k, grp, v) table behind a SQL
  * view that takes UPDATE, DELETE, MERGE and OPTIMIZE. A pass ends with
  * a full read of both tables. An in-benchmark model of both tables
  * checks every read, time travel included.
  */
final class WarehouseWorkload(gen: Gen.Warehouse) extends Workload {
  val name = "warehouse"
  private val View = "kt"
  private var spark: SparkSession = _
  private var appendTable, keyedTable: String = _

  // the model: rows per append-table version, keyed rows at head
  private val appended = mutable.ArrayBuffer.empty[(Long, Long)]
  private var baseRows = 0
  private var baseVersion, appendVersion, keyedVersion = 0L
  private var appends = 0
  private val keyed = mutable.HashMap.empty[Long, (Long, Long)]
  private var userBytes = 0L

  private def appendSchema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))
  private def keyedSchema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("grp", LongType, nullable = false), StructField("v", LongType, nullable = false)))

  private def frame(rows: Seq[Row], schema: StructType, slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  def setup(s: SparkSession, dir: File): Unit = {
    spark = s
    val root = new Path(dir.getAbsolutePath)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    appendTable = new File(dir, "events").getAbsolutePath
    keyedTable = new File(dir, "accounts").getAbsolutePath
    val base = gen.baseRows
    baseVersion = CommitLog.appendWithStats(spark,
      frame(base.map { case (k, v) => Row(k, v) }, appendSchema, gen.baseFiles), appendTable, Seq("k"))
    appended.clear(); appended ++= base
    baseRows = base.length
    appendVersion = baseVersion
    appends = 0
    val rows = gen.keyed
    keyedVersion = CommitLog.appendWithStats(spark,
      frame(rows.map { case (k, g, v) => Row(k, g, v) }, keyedSchema, 4), keyedTable, Seq("k", "grp"))
    GraftTables.register(spark, keyedTable, View)
    keyed.clear(); rows.foreach { case (k, g, v) => keyed(k) = (g, v) }
    userBytes = base.length * 16L + rows.length * 24L
  }

  /** (count, Σv, Σk·v): the digest every read is checked by. */
  private def digestOf(rows: Iterable[(Long, Long)]): (Long, Long, Long) =
    (rows.size.toLong, rows.map(_._2).sum, rows.map { case (k, v) => k * v }.sum)

  private def aggregate(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("v"), lit(0L)), coalesce(sum(col("k") * col("v")), lit(0L)))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A SQL verb on the keyed view; its result row is (verb, version). */
  private def dml(kind: String, sqlText: => String, apply: () => Unit): Op = Op(kind, commits = true, sp => {
    val text = sqlText
    val r = sp(kind)(GraftSql.sql(spark, text).collect().head)
    () => {
      apply()
      val want = keyedVersion + 1
      keyedVersion = want
      Workloads.check(kind + " version", r.getLong(1), want).orElse {
        // OPTIMIZE folds the manifest in a further commit after the rewrite
        if (kind == "sql.optimize") keyedVersion = CommitLog.currentVersion(spark, keyedTable).get
        None
      }
    }
  })

  def round(pass: Int): Seq[Op] = {
    val append = Op("sources.append", commits = true, sp => {
      appends += 1
      val rows = gen.appendRows(appends)
      val v = sp("sources.append")(CommitLog.appendWithStats(spark,
        frame(rows.map { case (k, v) => Row(k, v) }, appendSchema, 1), appendTable, Seq("k")))
      () => {
        appended ++= rows
        userBytes += rows.length * 16L
        appendVersion += 1
        Workloads.check("append version", v, appendVersion)
      }
    })
    val pruned = Op("sources.pruned_read", commits = false, sp => {
      val r = new java.util.Random(gen.seed * 7919 + pass)
      val maxK = appended.length
      val lo = r.nextInt(maxK - 2 * gen.rowsPerFile).toLong
      val hi = lo + 2 * gen.rowsPerFile - 1
      val (live, sel) = sp("sources.pruned_files")(CommitLog.prunedFiles(spark, appendTable, lo, hi))
      facts.add("sources.files_pruned_ratio", (live - sel.size).toDouble / live)
      val got = sp("sources.pruned_read")(aggregate(
        CommitLog.readPruned(spark, appendTable, lo, hi).filter(col("k").between(lo, hi))))
      () => Workloads.check(s"pruned read [$lo, $hi]", got,
        digestOf(appended.filter { case (k, _) => k >= lo && k <= hi }))
    })
    val travel = Op("sources.time_travel", commits = false, sp => {
      val got = sp("sources.time_travel")(aggregate(CommitLog.readVersion(spark, appendTable, baseVersion)))
      () => Workloads.check("time travel to base", got, digestOf(appended.take(baseRows)))
    })
    val g = (pass % gen.groups).toLong
    val update = dml("sql.update", s"UPDATE $View SET v = v + 1 WHERE grp = $g", () => {
      keyed.foreach { case (k, (gr, v)) => if (gr == g) { keyed(k) = (gr, v + 1); userBytes += 24 } }
    })
    val del = dml("sql.delete", s"DELETE FROM $View WHERE k % 97 = ${pass % 97}", () => {
      keyed.keys.filter(k => k % 97 == pass % 97).toSeq.foreach(keyed.remove)
    })
    val src = gen.mergeSource(pass)
    val merge = dml("sql.merge", {
      frame(src.map { case (k, gr, v) => Row(k, gr, v) }, keyedSchema, 1).createOrReplaceTempView("kt_src")
      s"""MERGE INTO $View AS t USING kt_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, grp, v) VALUES (s.k, s.grp, s.v)""".stripMargin
    }, () => {
      src.foreach { case (k, gr, v) =>
        keyed(k) = keyed.get(k).map { case (og, _) => (og, v) }.getOrElse((gr, v))
        userBytes += 24
      }
    })
    val optimize = dml("sql.optimize", s"OPTIMIZE $View", () => ())
    val read = Op("warehouse.read", commits = false, sp => {
      val m = sp("sources.manifest") {
        CommitLog.readManifest(spark, appendTable, CommitLog.currentVersion(spark, appendTable).get)
      }
      facts.add("sources.live_files", m.files.size)
      val events = sp("sources.read")(aggregate(CommitLog.read(spark, appendTable)))
      val r = sp("sql.read")(GraftSql.sql(spark,
        s"SELECT count(*), coalesce(sum(v), 0), coalesce(sum(k), 0), coalesce(sum(k * v), 0) FROM $View")
        .collect().head)
      () => {
        val accounts = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val want = (keyed.size.toLong, keyed.valuesIterator.map(_._2).sum, keyed.keysIterator.sum,
          keyed.iterator.map { case (k, (_, v)) => k * v }.sum)
        Workloads.check("full read of the append table", events, digestOf(appended))
          .orElse(Workloads.check("full read of the keyed table", accounts, want))
      }
    })
    // three query kinds a pass, so the median query lands inside one kind
    Seq(append, pruned, travel, update, del, merge) ++
      (if (pass % 2 == 1) Seq(optimize) else Nil) :+ read
  }

  override def finish(s: SparkSession): Unit = {
    val fs = new Path(appendTable).getFileSystem(s.sparkContext.hadoopConfiguration)
    def bytes(p: String) = fs.getContentSummary(new Path(p)).getLength
    val tables = Seq(appendTable, keyedTable)
    val versions = tables.map(t => CommitLog.versions(s, t).size).sum
    facts.add("sources.versions", versions)
    facts.add("sources.log_bytes_per_commit", tables.map(t => bytes(s"$t/_log")).sum.toDouble / versions)
    facts.add("sources.write_amplification", tables.map(bytes).sum.toDouble / userBytes)
  }
}

/** The training-data pipeline over a seeded corpus: the quality gate,
  * exact dedup, MinHash near-dup pairs and the full `prepare`.
  */
final class PipelineWorkload(c: Gen.Corpus) extends Workload {
  val name = "pipeline"
  private val DecontamN = 8
  private val exact = Reference.exactSurvivors(c.texts)
  private val expectedExact = Reference.digest(exact)
  private val expectedPrepared = Reference.digest(exact -- Reference.contaminated(c.texts, c.evalTexts, DecontamN))
  private val expectedPairs = Reference.nearDupPairs(c.texts, 3, 0.5)
  private val cfg = TrainingPipeline.Config(
    minQuality = 0.0, decontamN = DecontamN,
    weights = Gen.Sources.map(_ -> 1.0).toMap,
    splits = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
  private var docs, bench: DataFrame = _

  def setup(spark: SparkSession, dir: File): Unit = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false), StructField("source", StringType, nullable = false)))
    def write(name: String, rows: Seq[Row]): DataFrame = {
      val path = new File(dir, name).getPath
      spark.createDataFrame(spark.sparkContext.parallelize(rows, Workloads.parallelism(spark)), schema)
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    docs = write("docs", c.texts.indices.map(i => Row(i.toLong, c.texts(i), c.sources(i))))
    bench = write("eval", c.evalTexts.indices.map(i => Row(i.toLong, c.evalTexts(i), "eval")))
  }

  private def ids(df: DataFrame): Array[Long] = df.select("id").collect().map(_.getLong(0))

  // three query kinds a pass, as on the other workloads: the quality gate
  // rides in the exact-dedup operation as a call of its own
  def round(pass: Int): Seq[Op] = Seq(
    Op("text_dedup.exact", commits = false, sp => {
      val n = sp("text.quality")(QualityFilters.withSignals(
        docs.filter(TextFunctions.qualityScore(col("text")) >= cfg.minQuality), "text")
        .filter(col("rep_ok")).count())
      val got = sp("dedup.exact")(ids(Dedup.exactSurvivors(docs, "text", "id")))
      () => Workloads.check("quality gate survivors", n, c.n.toLong)
        .orElse(Workloads.check("exact survivors", Reference.digest(got), expectedExact))
    }),
    Op("dedup.minhash", commits = false, sp => {
      val got = sp("dedup.minhash")(MinHashLsh.nearDupPairs(docs, "text", "id")
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))))
      () => {
        val pairs = got.toSet
        facts.add("dedup.pairs", got.length)
        facts.add("dedup.planted_recall", c.nearPairs.count(pairs).toDouble / c.nearPairs.size)
        if (got.length == pairs.size && pairs == expectedPairs) None
        else Some(s"near-dup pairs: got ${got.length} (${pairs.size} distinct), want ${expectedPairs.size}, " +
          s"${(expectedPairs -- pairs).size} missing")
      }
    }),
    Op("pipeline.prepare", commits = false, sp => {
      val got = sp("pipeline.prepare")(ids(TrainingPipeline.prepare(docs, bench, "text", "id", "source", cfg)))
      facts.add("pipeline.docs_in", c.n)
      facts.add("pipeline.docs_out", got.length)
      () => Workloads.check("prepared ids", Reference.digest(got), expectedPrepared)
    }))
}
