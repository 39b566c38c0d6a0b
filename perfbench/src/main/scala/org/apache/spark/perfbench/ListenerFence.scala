package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Marks a point in the listener-bus event order: the benchmark posts
  * one at the start and one at the end of every traced operation. The
  * bus delivers events to a queue in the order they were posted, so
  * once a listener has seen the end mark it has seen every job, stage,
  * task and SQL-execution event that operation caused.
  */
final case class OpMark(op: Long, begin: Boolean) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

/** The listener bus is package-private to Spark; this is the one call
  * the benchmark needs from it.
  */
object ListenerFence {
  def post(sc: SparkContext, mark: OpMark): Unit = sc.listenerBus.post(mark)
}
