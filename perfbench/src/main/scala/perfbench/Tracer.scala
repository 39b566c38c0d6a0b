package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.{ListenerFence, OpMark}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wraps the calls a workload makes into the engine. The untraced run
  * uses [[Spans.Off]], which only runs the call.
  */
trait Spans {
  def apply[T](name: String)(f: => T): T
}

object Spans {
  object Off extends Spans {
    def apply[T](name: String)(f: => T): T = f
  }
}

/** A traced interval in epoch milliseconds: an operation (parent 0), a
  * call into an engine layer, or a Spark job parented to the span that
  * was open on the thread that launched it.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** What the listeners saw during one operation. */
final class OpCounters {
  var jobs, listingJobs, stages, singleTaskStages, tasks, executions = 0L
  var runMs, cpuMs, gcMs, singleTaskStageMs = 0.0
  var shuffleWriteBytes, shuffleReadBytes, scanBytes, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs, codegenMs = 0.0
  val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val ListingPrefix = "Listing leaf files and directories"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Sums the compile times the code generator logs ("Code generated in
    * N ms"). Spark's CodegenMetrics keeps compile times only in a
    * sampling histogram, which has no exact sum to take deltas of.
    */
  object CodegenLog {
    private val micros = new AtomicLong()
    private val Pattern = "Code generated in ([0-9.]+) ms".r.unanchored
    @volatile private var installed = false

    def totalMs: Double = micros.get() / 1000.0

    def install(): Unit = synchronized {
      if (!installed) {
        val appender = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
          override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
            case Pattern(ms) => micros.addAndGet((ms.toDouble * 1000).toLong)
            case _ =>
          }
        }
        appender.start()
        val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
        val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
        val lc = new LoggerConfig(name, Level.INFO, false)
        lc.addAppender(appender, Level.INFO, null)
        ctx.getConfiguration.addLogger(name, lc)
        ctx.updateLoggers()
        installed = true
      }
    }
  }
}

/** The traced run's instrument: a `SparkListener` and a
  * `QueryExecutionListener` on the session, plus spans around the
  * benchmark's calls into the engine. Spans stay in memory.
  *
  * Attribution: jobs carry the operation and innermost span ids as
  * local properties of the launching thread (which Spark copies onto
  * broadcast and subquery threads); stages and tasks follow their job.
  * SQL executions and planning phases carry no properties, so they go
  * to the operation between whose begin and end marks the bus
  * delivered them.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener with Spans {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  // client-thread state
  private var curOp = 0L
  private var curSpan = 0L

  // listener-thread state, guarded by `this`
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Long, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val jobs = mutable.HashMap.empty[Int, (Double, Long, Long, Boolean)]
  private val openJobs = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  private val ended = mutable.HashSet.empty[Long]
  private var busOp = 0L

  CodegenLog.install()
  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  private def of(op: Long): OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  def apply[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = curSpan
    curSpan = id
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowMs
    try f
    finally {
      val t1 = nowMs
      synchronized(spans += Span(id, parent, curOp, name, t0, t1))
      curSpan = parent
      sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
    }
  }

  /** Runs one operation under a root span and returns its counters once
    * the listeners have seen every event it caused: the end mark is
    * delivered after all of them, and every job it started has ended.
    */
  def op[T](kind: String)(f: => T): (T, Span, OpCounters) = {
    val op = ids.incrementAndGet()
    curOp = op
    curSpan = op
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(SpanKey, op.toString)
    sc.setJobDescription(s"perfbench $kind #$op")
    ListenerFence.post(sc, OpMark(op, begin = true))
    val cg0 = CodegenLog.totalMs
    val t0 = nowMs
    var root: Span = null
    val out = try f finally {
      root = Span(op, 0, op, kind, t0, nowMs)
      ListenerFence.post(sc, OpMark(op, begin = false))
      awaitEnd(op)
      synchronized(spans += root)
      curOp = 0
      curSpan = 0
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(SpanKey, null)
      sc.setJobDescription(null)
    }
    val c = synchronized(counters.remove(op).getOrElse(new OpCounters))
    c.codegenMs = CodegenLog.totalMs - cg0
    (out, root, c)
  }

  private def awaitEnd(op: Long): Unit = synchronized {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!(ended(op) && openJobs(op) == 0)) {
      val left = (deadline - System.nanoTime()) / 1000000
      if (left <= 0) throw new IllegalStateException(s"listener never closed operation $op")
      wait(left)
    }
    ended -= op
    openJobs -= op
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val op = prop(OpKey).map(_.toLong).getOrElse(0L)
    val span = prop(SpanKey).map(_.toLong).getOrElse(op)
    val listing = prop("spark.job.description").exists(_.startsWith(ListingPrefix))
    jobs(e.jobId) = (e.time.toDouble, span, op, listing)
    e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
    openJobs(op) += 1
    val c = of(op)
    c.jobs += 1
    if (listing) c.listingJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (start, span, op, listing) =>
      spans += Span(ids.incrementAndGet(), span, op, if (listing) "spark.listing_job" else "spark.job",
        start, e.time.toDouble)
      of(op).jobSpans += ((start, e.time.toDouble))
      openJobs(op) -= 1
    }
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val c = of(op)
      c.stages += 1
      if (info.numTasks == 1) {
        c.singleTaskStages += 1
        for (a <- info.submissionTime; b <- info.completionTime) c.singleTaskStageMs += b - a
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = of(op)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.scanBytes += m.inputMetrics.bytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case OpMark(op, true) => busOp = op
      case OpMark(op, false) => busOp = 0; ended += op; notifyAll()
      case _: SparkListenerSQLExecutionStart if busOp != 0 => of(busOp).executions += 1
      case _ =>
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    if (busOp != 0) {
      val c = of(busOp)
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      c.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      c.planningMs += ms(QueryPlanningTracker.PLANNING)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Every span with its self time: duration minus the part of it that
    * its child spans cover.
    */
  def spansWithSelfTime(): Seq[(Span, Double)] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.id != s.id).map(k => (k.startMs, k.endMs))
      (s, s.ms - covered(kids, s.startMs, s.endMs))
    }
  }
}
