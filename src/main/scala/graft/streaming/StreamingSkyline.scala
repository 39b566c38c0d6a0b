package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.skyline.{Dominance, Gsky, SkylineOp, SkylineSpec}

/** Streaming skyline maintenance over a Structured Streaming source —
  * the reference has no streaming surface at all; this is the engine's
  * incremental answer to re-running the three-job SKY-MR chain on every
  * new file.
  *
  * State model: per group key, the state IS the running skyline —
  * naturally bounded (a point enters only if non-dominated; dominated
  * candidates are evicted on entry), so state size is the skyline size,
  * not the stream size. Each micro-batch emits the group's full current
  * skyline in Update mode; downstream sinks key on the group to pick up
  * the newest version.
  *
  * Exactness: the skyline is an associative, order-insensitive
  * aggregate (`sky(A∪B) = sky(sky(A)∪sky(B))`, see [[Gsky]]), so
  * arrival order across micro-batches cannot change the final state —
  * the batch-replay equivalence test in StreamingSkylineSpec pins this.
  *
  * Late data: with no watermark, late rows still fold into the state
  * correctly (the skyline of a set does not care when members arrive).
  * A retention watermark only matters for *windowed* streaming skylines,
  * where closed windows can be finalized and dropped; that variant is
  * the batch [[SkylineOp.grouped]] (one `SkylineExec` keyed by group
  * and window) over `window(ts, …)` run in a foreachBatch sink.
  */
object StreamingSkyline {

  /** Attach a running per-group skyline to a streaming DataFrame.
    *
    * @param df         streaming DataFrame (isStreaming must hold)
    * @param spec       skyline dims over df's columns
    * @param groupCol   grouping column (e.g. event_type)
    * @param versionCol when set, append a per-group VERSION column
    *                   (long, incremented every time the group's state
    *                   is re-emitted). Update-mode sinks accumulate one
    *                   emission per triggered batch; the version lets a
    *                   collector keep only each group's LATEST skyline
    *                   without assuming everything landed in one
    *                   micro-batch (the `Trigger.AvailableNow`
    *                   multi-batch contract).
    * @return streaming DataFrame of the current skyline rows per group,
    *         in Update mode semantics (every triggered group re-emits
    *         its whole current skyline)
    */
  def attach(df: DataFrame, spec: SkylineSpec, groupCol: String,
      versionCol: Option[String] = None): DataFrame = {
    val prep = SkylineOp.prepare(df, spec)
    val schema = prep.schema
    val skyIdx = schema.fieldIndex(SkylineOp.SKY)
    val keyIdx = schema.fieldIndex(groupCol)
    val outSchema = versionCol
      .map(v => schema.add(v, org.apache.spark.sql.types.LongType, nullable = false))
      .getOrElse(schema)
    implicit val rowEnc = Encoders.row(outSchema)
    implicit val stateEnc = Encoders.kryo[(Long, Array[(Array[Double], Row)])]
    implicit val keyEnc = Encoders.STRING

    val versioned = versionCol.isDefined
    prep
      .groupByKey((r: Row) => String.valueOf(r.get(keyIdx)))
      .flatMapGroupsWithState[(Long, Array[(Array[Double], Row)]), Row](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
         state: GroupState[(Long, Array[(Array[Double], Row)])]) =>
          val buf = Gsky.emptyBuf[Row]
          val prior = state.getOption
          prior.foreach(_._2.foreach { case (v, p) => buf += ((v, p)) })
          rows.foreach(r => Gsky.insert(buf, Gsky.vecOf(r, skyIdx), r))
          val version = prior.map(_._1).getOrElse(0L) + 1L
          state.update((version, buf.toArray))
          if (versioned) buf.iterator.map { case (_, r) => Row.fromSeq(r.toSeq :+ version) }
          else buf.iterator.map(_._2)
      }
      .drop(SkylineOp.SKY)
  }

  /** Windowed streaming skyline, finalized by watermark: state is keyed
    * by (group, tumbling event-time window) and holds that window's
    * running skyline; when the watermark passes the window's end the
    * state times out, the window's FINAL skyline is emitted exactly
    * once (Append semantics — downstream sees only closed, immutable
    * windows), and the state is dropped. Contrast with [[attach]]'s
    * Update-mode running skyline, which never retires state.
    *
    * State size = sum of open windows' skyline sizes — bounded by the
    * watermark horizon, not the stream length. Rows later than the
    * watermark are dropped by the engine before reaching the state
    * (the standard event-time contract); a window is never re-opened.
    *
    * @param tsCol          event-time timestamp column
    * @param windowDuration tumbling window size, e.g. "1 day"
    * @param watermarkDelay max expected lateness, e.g. "10 minutes"
    * @return streaming DataFrame of finalized skyline rows with a
    *         `window_start` epoch-seconds column appended
    */
  def attachWindowed(
      df: DataFrame,
      spec: SkylineSpec,
      groupCol: String,
      tsCol: String,
      windowDuration: String,
      watermarkDelay: String): DataFrame = {
    val prep = SkylineOp.prepare(df.withWatermark(tsCol, watermarkDelay), spec)
      .withColumn("__win", window(col(tsCol), windowDuration))
      .withColumn("__wstart", col("__win").getField("start").cast("long"))
      .withColumn("__wend", col("__win").getField("end").cast("long"))
      .drop("__win")
    val schema = prep.schema
    val skyIdx = schema.fieldIndex(SkylineOp.SKY)
    val keyIdx = schema.fieldIndex(groupCol)
    val wsIdx = schema.fieldIndex("__wstart")
    val weIdx = schema.fieldIndex("__wend")
    implicit val rowEnc = Encoders.row(schema)
    implicit val stateEnc = Encoders.kryo[(Long, Array[(Array[Double], Row)])]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)

    prep
      .groupByKey((r: Row) => (String.valueOf(r.get(keyIdx)), r.getLong(wsIdx)))
      .flatMapGroupsWithState[(Long, Array[(Array[Double], Row)]), Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (String, Long), rows: Iterator[Row],
         state: GroupState[(Long, Array[(Array[Double], Row)])]) =>
          if (state.hasTimedOut) {
            // watermark passed window end: emit the final skyline once,
            // retire the state.
            val out = state.get._2.map(_._2)
            state.remove()
            out.iterator
          } else {
            val buf = Gsky.emptyBuf[Row]
            var wend = state.getOption.map(_._1).getOrElse(0L)
            state.getOption.foreach(_._2.foreach { case (v, p) => buf += ((v, p)) })
            rows.foreach { r =>
              wend = r.getLong(weIdx)
              Gsky.insert(buf, Gsky.vecOf(r, skyIdx), r)
            }
            state.update((wend, buf.toArray))
            // Fire when the watermark crosses the window end. The guard
            // (+1 past the current watermark) covers a straggler batch
            // whose window end the watermark already passed — it
            // finalizes on the next trigger instead of throwing.
            state.setTimeoutTimestamp(
              math.max(wend * 1000, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
      .drop(SkylineOp.SKY)
      .drop("__wend")
      .withColumnRenamed("__wstart", "window_start")
  }
}
