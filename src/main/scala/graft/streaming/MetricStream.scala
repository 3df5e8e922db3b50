package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** True Structured Streaming form of q113's rolling per-entity anomaly
  * flag (`operators/ScaleOps`): a `transformWithState` processor holding a
  * BOUNDED ring buffer of the last ≤ 20 observations per key in
  * `ListState`. StreamingSpec proves convergence to the batch q113 on the
  * same fixture fed through MemoryStream in multiple microbatches.
  *
  * This is the state-discipline pattern the other stateful ops don't
  * exercise: latest-state keeps ONE row per key and the windowed aggs are
  * watermark-evicted, but a rolling metric needs a per-key WINDOW of raw
  * observations — the naive formulation (all history per key) is
  * unbounded, and the fix is explicit in-processor eviction: append, trim
  * to the frame width, write back. State size is keys × 20 longs at any
  * stream length — RocksDB-resident, never scanned, never shuffled after
  * the initial key partitioning.
  *
  * The verdict math is IDENTICAL to the batch form (integer moment sums
  * on floor-milli values, (n·x−s1)² > 4(n·s2−s1²), scored at n ≥ 10), so
  * convergence is exact equality, not approximate.
  */
object MetricStream {

  case class MetricEvent(eventId: Long, ts: Timestamp, userId: Long,
      eventType: String, value: Double)
  case class AnomalyVerdict(eventId: Long, userId: Long, eventType: String,
      scored: Boolean, anomalous: Boolean)

  private implicit val eventEnc: Encoder[MetricEvent] = Encoders.product[MetricEvent]
  private implicit val verdictEnc: Encoder[AnomalyVerdict] = Encoders.product[AnomalyVerdict]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Frame width shared with the batch twin (ScaleOps q113's 20 PRECEDING). */
  val FrameWidth = 20

  class RollingAnomalyProcessor
      extends StatefulProcessor[Long, MetricEvent, AnomalyVerdict] {
    @transient private var window: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      window = getHandle.getListState[Long]("window", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[MetricEvent],
        timers: TimerValues): Iterator[AnomalyVerdict] = {
      var buf = if (window.exists()) window.get().toVector else Vector.empty[Long]
      val out = Vector.newBuilder[AnomalyVerdict]
      // fold the batch's rows for this key in event order — per-shard /
      // per-partition arrival order is the stream contract, and in-batch
      // re-sort makes cross-batch boundaries irrelevant (the A16 rule)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
        val vm = math.floor(e.value * 1000).toLong
        val n = buf.size.toLong
        val s1 = buf.sum
        val s2 = buf.map(v => v * v).sum
        val scored = n >= 10
        val lhs = n * vm - s1
        val anom = scored && lhs * lhs > 4L * (n * s2 - s1 * s1)
        out += AnomalyVerdict(e.eventId, key, e.eventType, scored, anom)
        buf = (buf :+ vm).takeRight(FrameWidth)
      }
      window.put(buf.toArray)
      out.result().iterator
    }
  }

  /** Keyed on the entity (user); state lives where the shuffle puts the
    * key. TimeMode.None: the frame is row-count-bounded, not time-bounded,
    * so no clock and no timers — eviction is structural. */
  def rollingAnomalies(ds: Dataset[MetricEvent]): Dataset[AnomalyVerdict] =
    ds.groupByKey(_.userId)
      .transformWithState(new RollingAnomalyProcessor, TimeMode.None(), OutputMode.Append())

  /** True streaming form of q114's trailing-7-day distinct actives — the
    * batch decomposition carried verbatim into Structured Streaming:
    * explode each purchase to the ≤ 7 window-end days it contributes to
    * (STATELESS ×7 generator), `dropDuplicatesWithinWatermark` on
    * (user, window_end) so a user active on five days of one window still
    * counts once (bounded dedup state — evicted once the watermark passes
    * the window end), then a watermarked count per window end. Two
    * chained stateful operators — dedup feeding a time-window aggregate —
    * which Spark 4 supports in Append mode with a shared event-time
    * watermark. Counts finalize when the watermark passes; StreamingSpec
    * proves closed windows equal the batch q114 on the same fixture.
    *
    * Expects `(user_id, ts timestamp, event_type)`; emits
    * `(day timestamp, n_active)` where `day` is the window-end day. */
  def rollingActives(events: org.apache.spark.sql.DataFrame,
      watermark: String = "8 days"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .filter(col("event_type") === "purchase")
      // epoch arithmetic, NOT date_trunc: date_trunc('DAY', …) floors in
      // the SESSION time zone, while batch q114 floors on
      // unix_timestamp/86400 (UTC-fixed) — in a non-UTC session the two
      // would disagree by the zone offset and the documented exact
      // batch≡stream convergence would silently break (r7 ADVICE). The
      // timestamp_seconds(floor(epoch/86400)*86400) form is zone-free,
      // so the method no longer requires a UTC-pinned session. (The
      // `window()` grouping below is zone-safe already: its buckets align
      // to epoch day boundaries for inputs that are themselves floored.)
      .select(col("user_id"), explode(expr(
        "sequence(timestamp_seconds(floor(unix_timestamp(ts) / 86400) * 86400)," +
          " timestamp_seconds(floor(unix_timestamp(ts) / 86400) * 86400 + 6 * 86400)," +
          " INTERVAL 1 DAY)")).as("day"))
      // the watermark rides the DERIVED window-end day (the event-time
      // tag does not survive explode): day leads ts by ≤ 6 days, so the
      // delay budgets both real lateness and that lead. Plain
      // dropDuplicates — NOT dropDuplicatesWithinWatermark, which erases
      // the event-time tag the downstream aggregate needs — still gets
      // watermark-based state eviction because the event-time column is
      // part of the dedup key.
      .withWatermark("day", watermark)
      .dropDuplicates("user_id", "day")
      // group by the window STRUCT and project .start after the agg —
      // grouping by getField("start") directly hides the watermark from
      // the analyzer when a dedup sits upstream (probed on Spark 4.1)
      .groupBy(window(col("day"), "1 day"))
      .agg(count(lit(1)).as("n_active"))
      .select(col("window.start").as("day"), col("n_active"))
  }
  // ---- conversion tracking (q124's streaming twin) --------------------

  case class ConvEvent(userId: Long, eventType: String, ts: Timestamp)
  /** `nSeen` is a per-user update sequence so a latest-row-per-user read
    * of an update-mode sink is well-ordered without domain assumptions. */
  case class ConvUpdate(userId: Long, converted: Boolean, gapS: Long, nSeen: Long)
  case class ConvState(minView: Long, minBuy: Long, nSeen: Long)

  private implicit val convEventEnc: Encoder[ConvEvent] = Encoders.product[ConvEvent]
  private implicit val convUpdateEnc: Encoder[ConvUpdate] = Encoders.product[ConvUpdate]
  private implicit val convStateEnc: Encoder[ConvState] = Encoders.product[ConvState]

  /** Streaming twin of q124 (`operators/StreamSemantics.q124Gaps`): live
    * first-view→first-purchase conversion tracking. State per user is one
    * ValueState of TWO epoch-micro minima (+ an update counter) —
    * constant-size, RocksDB-resident, no event history kept — and every
    * update re-derives the verdict from the minima, so out-of-order
    * arrivals self-correct: an earlier purchase landing late can lower
    * the gap, or even REVOKE a conversion (first purchase before first
    * view), which is why updates carry `converted` instead of only
    * emitting gaps. The latest update per user therefore equals the
    * batch q124Gaps row (or its absence) over everything ingested —
    * exact convergence, proven in StreamingSpec across multiple
    * microbatches.
    */
  class ConversionProcessor extends StatefulProcessor[Long, ConvEvent, ConvUpdate] {
    @transient private var state: ValueState[ConvState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[ConvState]("conv", convStateEnc, TTLConfig.NONE)

    override def handleInputRows(uid: Long, it: Iterator[ConvEvent],
        timers: TimerValues): Iterator[ConvUpdate] = {
      val st0 = if (state.exists()) state.get() else ConvState(Long.MaxValue, Long.MaxValue, 0L)
      var mv = st0.minView
      var mb = st0.minBuy
      var n = st0.nSeen
      it.foreach { e =>
        val us = e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L
        n += 1
        if (e.eventType == "view") mv = math.min(mv, us)
        else if (e.eventType == "purchase") mb = math.min(mb, us)
      }
      if (mv == st0.minView && mb == st0.minBuy && n == st0.nSeen)
        Iterator.empty
      else {
        state.update(ConvState(mv, mb, n))
        val conv = mv != Long.MaxValue && mb != Long.MaxValue && mb >= mv
        Iterator.single(
          ConvUpdate(uid, conv, if (conv) (mb - mv) / 1000000L else -1L, n))
      }
    }
  }

  def conversions(events: Dataset[ConvEvent]): Dataset[ConvUpdate] =
    events.groupByKey(_.userId)
      .transformWithState(new ConversionProcessor, TimeMode.None(), OutputMode.Update())
}
