package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One timed operation of the measured loop. */
final case class OpRecord(kind: String, commits: Boolean, ms: Double,
    root: Option[Span] = None, counters: Option[OpCounters] = None)

/** Runs operations and counts them: an operation fails when it throws
  * or when its answer check reports a wrong answer. Only operations
  * that succeed yield a record.
  */
final class Tally {
  var attempted = 0L
  var failed = 0L

  private def count(kind: String)(f: => (() => Option[String], OpRecord)): Option[OpRecord] = {
    attempted += 1
    val verdict = try {
      val (check, rec) = f
      check().toLeft(rec)
    } catch {
      case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
    }
    verdict.left.foreach { msg => failed += 1; System.err.println(s"FAILED $kind: $msg") }
    verdict.toOption
  }

  /** Untraced: the record's time is the wall time of the engine calls. */
  def apply(op: Op, sp: Spans): Option[OpRecord] = count(op.kind) {
    val t0 = System.nanoTime()
    val check = op.run(sp)
    (check, OpRecord(op.kind, op.commits, (System.nanoTime() - t0) / 1e6))
  }

  /** Traced: the operation runs under `t`'s root span and listeners. */
  def traced(op: Op, t: Tracer): Option[OpRecord] = count(op.kind) {
    val (check, root, c) = t.op(op.kind)(op.run(t))
    (check, OpRecord(op.kind, op.commits, root.ms, Some(root), Some(c)))
  }
}

/** The benchmark's entry point: one JVM, one Spark session at
  * `local[<cores>]`, one client running a closed loop (each operation
  * starts when the previous one ends).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a human-readable summary, then one JSON line: end-to-end
  * metrics when untraced, per-layer metrics when traced.
  */
object Main {

  /** Untimed warmup after the set-up, so the JIT has compiled the hot
    * paths before the measured loop starts.
    */
  val WarmupS = 4.0

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "query_ms_p50" -> "ms", "heap_retained_mb" -> "MB")

  /** The per-layer metrics of the JSON line. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.listing_jobs" -> "count", "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.scan_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "driver.only_ms" -> "ms",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.codegen_compile_ms" -> "ms", "plans.executions" -> "count",
    "skyline.call_ms" -> "ms", "skyline.exec_ms" -> "ms", "skyline.merge_stage_ms" -> "ms",
    "skyline.merge_share" -> "ratio", "skyline.input_rows" -> "rows", "skyline.output_rows" -> "rows",
    "skyline.survivor_ratio" -> "ratio", "skyline.twophase_ms" -> "ms", "skyline.sql_ms" -> "ms",
    "skyline.skymr_ms" -> "ms",
    "sql.update_ms" -> "ms", "sql.delete_ms" -> "ms", "sql.merge_ms" -> "ms", "sql.optimize_ms" -> "ms",
    "sql.read_ms" -> "ms",
    "sources.append_ms" -> "ms", "sources.read_ms" -> "ms", "sources.pruned_read_ms" -> "ms",
    "sources.time_travel_ms" -> "ms", "sources.time_travel_listing_jobs" -> "count",
    "sources.manifest_ms" -> "ms", "sources.live_files" -> "files", "sources.versions" -> "count",
    "sources.files_pruned_ratio" -> "ratio", "sources.log_bytes_per_commit" -> "bytes",
    "sources.write_amplification" -> "ratio",
    "text.quality_ms" -> "ms", "dedup.exact_ms" -> "ms", "dedup.minhash_ms" -> "ms",
    "pipeline.prepare_ms" -> "ms", "dedup.pairs" -> "pairs", "dedup.planted_recall" -> "ratio",
    "pipeline.docs_in" -> "docs", "pipeline.docs_out" -> "docs",
    "trace.ops_per_s" -> "1/s", "trace.query_ms_p50" -> "ms")

  final case class Options(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload '$w' (one of ${Workloads.Names.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Options(w, need("seed").toLong, need("seconds").toInt, trace == "1", new File(need("work")))
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after two full GCs, in MB. */
  private def heapUsedMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def stopSession(): Unit = SparkSession.getActiveSession.foreach { s =>
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(o: Options): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(o.work, o.workload)
    val (in, genS) = secondsOf(Workloads.inputs(o.workload, o.seed))
    val (wl, refS) = secondsOf(Workloads.build(o.workload, in))
    // the harness's own inputs and expected answers, left out of heap_retained_mb
    val baselineMb = heapUsedMb()
    val tally = new Tally

    val (spark, setupS) = secondsOf {
      val spark = session(cores, work)
      wl.setup(spark, new File(work, "state"))
      wl.round(1).foreach(op => tally(op, Spans.Off))
      spark
    }
    // Whole passes until `seconds` have elapsed; returns how many ran.
    def loop(seconds: Double, firstPass: Int)(runPass: Int => Unit): Int = {
      val t0 = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds) { runPass(firstPass + n); n += 1 }
      n
    }
    val warmPasses = loop(WarmupS, 2)(pass => wl.round(pass).foreach(op => tally(op, Spans.Off)))

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    wl.facts.clear()
    val passes = mutable.ArrayBuffer.empty[Seq[OpRecord]]
    val (_, measuredS) = secondsOf(loop(o.seconds, 2 + warmPasses) { pass =>
      passes += wl.round(pass).flatMap(op => tracer.fold(tally(op, Spans.Off))(tally.traced(op, _)))
    })
    val records = passes.flatten
    val spans = tracer.map { t => wl.finish(spark); t.close(); t.spansWithSelfTime() }
    // after the session stops, what stays on the heap beyond the harness's
    // inputs is what outlives it: graft's global memos and registries
    stopSession()
    val heapMb = heapUsedMb() - baselineMb

    // operations per second of engine time: the answer checks between
    // operations are the harness's, not the engine's
    val opsPerS = records.size * 1000.0 / records.map(_.ms).sum
    val queries = records.filterNot(_.commits).map(_.ms)
    val commits = records.filter(_.commits).map(_.ms)
    val qP50 = if (queries.nonEmpty) quantile(queries.toSeq, 0.5) else Double.NaN

    val out = new java.io.PrintStream(System.out, true, "UTF-8")
    def say(line: String): Unit = out.println(line)
    say(f"workload ${o.workload} seed ${o.seed} trace ${if (o.trace) 1 else 0}: local[$cores], " +
      f"${records.size} ops in $measuredS%.3f s over ${passes.size} passes, after $warmPasses untimed warmup passes")
    say(f"  input generation ${genS}%.3f s, reference answers ${refS}%.3f s (neither is in setup_s)")
    say(f"  heap baseline ${baselineMb}%.1f MB (inputs and expected answers; not in heap_retained_mb)")
    say(f"  error_rate ${tally.failed.toDouble / tally.attempted}%.4f (${tally.failed} failed of ${tally.attempted} attempted, warmup included)")
    if (commits.nonEmpty) say(f"  commit_ms_p50 ${quantile(commits.toSeq, 0.5)}%.3f ms over ${commits.size} commits")
    if (records.size >= 100) say(f"  op_ms_p90 ${quantile(records.map(_.ms).toSeq, 0.9)}%.3f ms over ${records.size} ops")
    records.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      say(f"  $k%-24s n=${rs.size}%3d p50 ${quantile(rs.map(_.ms).toSeq, 0.5)}%10.3f ms")
    }

    val metrics: Seq[(String, String, Double)] = spans match {
      case None =>
        val v = Map("setup_s" -> setupS, "ops_per_s" -> opsPerS,
          "query_ms_p50" -> qP50, "heap_retained_mb" -> heapMb)
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      case Some(sp) =>
        val layer = Layers.metrics(records.toSeq, sp, wl.facts.means) ++
          Map("trace.ops_per_s" -> opsPerS, "trace.query_ms_p50" -> qP50)
        val traceFile = new File(work, s"trace-seed${o.seed}.json")
        Layers.writeSpans(traceFile, sp)
        say(s"  spans written to ${traceFile.getPath}")
        PerLayer.map { case (n, u) => (n, u, layer.getOrElse(n, 0.0)) }
    }
    metrics.foreach { case (n, u, v) => say(f"  $n%-34s $v%16.6f $u") }

    val mapper = new ObjectMapper()
    val m = new java.util.LinkedHashMap[String, Any]()
    metrics.foreach { case (n, u, v) =>
      val e = new java.util.LinkedHashMap[String, Any]()
      e.put("value", v); e.put("unit", u)
      m.put(n, e)
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", tally.failed == 0)
    result.put("attempted", tally.attempted)
    result.put("failed", tally.failed)
    result.put("metrics", m)
    say(mapper.writeValueAsString(result))
    0
  }
}

/** Per-layer metrics of a traced run, from its operation records,
  * spans and workload facts.
  */
object Layers {

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(recs: Seq[OpRecord], spans: Seq[(Span, Double)], facts: Map[String, Double]): Map[String, Double] = {
    val cs = recs.flatMap(r => r.counters.map(c => (r, c)))
    def perOp(f: OpCounters => Double) = mean(cs.map { case (_, c) => f(c) })
    // `<name>_ms`: mean duration of the layer calls named `name`, or of
    // the operations of kind `name` where no call carries that name
    val byName = spans.map(_._1).filterNot(_.name.startsWith("spark.")).groupBy(_.name).map { case (n, ss) =>
      val calls = ss.filter(_.parent != 0)
      s"${n}_ms" -> mean((if (calls.nonEmpty) calls else ss).map(_.ms))
    }
    val sky = cs.filter(_._1.kind.startsWith("skyline."))
    val oneTaskMerge = sky.filter(p => p._1.kind == "skyline.twophase" || p._1.kind == "skyline.sql")
    val travel = cs.filter(_._1.kind == "sources.time_travel")
    Map(
      "spark.jobs" -> perOp(_.jobs), "spark.stages" -> perOp(_.stages), "spark.tasks" -> perOp(_.tasks),
      "spark.listing_jobs" -> perOp(_.listingJobs), "spark.executor_run_ms" -> perOp(_.runMs),
      "spark.executor_cpu_ms" -> perOp(_.cpuMs), "spark.gc_ms" -> perOp(_.gcMs),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes), "spark.shuffle_read_bytes" -> perOp(_.shuffleReadBytes),
      "spark.scan_bytes" -> perOp(_.scanBytes), "spark.spill_bytes" -> perOp(_.spillBytes),
      "driver.only_ms" -> mean(cs.map { case (r, c) =>
        val root = r.root.get
        root.ms - Tracer.covered(c.jobSpans, root.startMs, root.endMs)
      }),
      "plans.analysis_ms" -> perOp(_.analysisMs), "plans.optimization_ms" -> perOp(_.optimizationMs),
      "plans.planning_ms" -> perOp(_.planningMs), "plans.codegen_compile_ms" -> perOp(_.codegenMs),
      "plans.executions" -> perOp(_.executions),
      "skyline.merge_stage_ms" -> mean(sky.map(_._2.singleTaskStageMs)),
      "skyline.merge_share" -> (if (oneTaskMerge.isEmpty) 0.0
        else oneTaskMerge.map(_._2.singleTaskStageMs).sum / oneTaskMerge.map(_._1.ms).sum),
      "sources.time_travel_listing_jobs" -> mean(travel.map(_._2.listingJobs.toDouble))
    ) ++ byName ++ facts
  }

  /** Writes every span, with its self time, as one JSON document. */
  def writeSpans(f: File, spans: Seq[(Span, Double)]): Unit = {
    val list = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.sortBy(_._1.startMs).foreach { case (s, self) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("op", s.op); m.put("name", s.name)
      m.put("start_ms", s.startMs); m.put("end_ms", s.endMs); m.put("self_ms", self)
      list.add(m)
    }
    f.getParentFile.mkdirs()
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(f, list)
  }
}
