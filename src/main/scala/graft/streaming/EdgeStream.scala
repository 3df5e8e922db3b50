package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming twin of the q130 graph-centrality family (SURVEY B89): the
  * user-journey edge list kept current from the live event stream, so
  * the rank computation (StreamSemantics.rankFromEdges — SHARED with
  * batch q130) can re-run at any time on maintained counts instead of
  * rescanning the event log.
  *
  * Two stages, both already-proven shapes:
  *  - [[transitions]] extracts (src → dst) hops with transformWithState
  *    (Spark 4 StatefulProcessor + RocksDB store, like
  *    ContentStream.latestState) keyed on user, holding only each user's
  *    LAST event: state is one ValueState row per user, constant per
  *    key, no timeline buffer, with an optional TTL so dormant users
  *    fall out of the store at corpus scale.
  *  - [[maintain]] folds per-batch hop counts into the maintained
  *    (src, dst, ew) table ([[DeltaLogSink.maintain]]). Counts are
  *    associative sums, so micro-batch application order cannot change
  *    the result.
  *
  * Precondition (same in-order contract as the A12/A16 sequencing ops):
  * each user's events arrive in event-time order across micro-batches;
  * WITHIN a batch any order is fine ([[transitions]] sorts each user's
  * slice by the total (ts, event_id) order before chaining with state).
  *
  * 100 TB shape: per-user state is one (ts, event_id, type) triple; the
  * maintained table is |event_type|²-bounded metadata; each micro-batch
  * shuffles only its own hops. StreamingSpec proves the chain end to
  * end: maintained edges == batch lead() edges EXACTLY, and
  * rankFromEdges over them == batch q130.
  */
object EdgeStream {

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)
  case class LastEv(tsMillis: Long, tsNanos: Int, event_id: Long, event_type: String)
  case class Hop(src: String, dst: String)

  private val lastEvEnc: Encoder[LastEv] = Encoders.product[LastEv]

  /** Per-user transition extraction; state = the user's last event. A
    * hop's source is the prior event EVEN ACROSS a TTL expiry boundary
    * only if the key's state survived — after expiry the next event
    * starts a fresh chain (no hop), the documented trade for bounding
    * state at (active users × one row). */
  class TransitionsProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Ev, Hop] {
    @transient private var state: ValueState[LastEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[LastEv]("lastEv", lastEvEnc, ttl)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[Hop] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      var last = if (state.exists()) Option(state.get()) else None
      val out = Seq.newBuilder[Hop]
      sorted.foreach { e =>
        last.foreach(l => out += Hop(l.event_type, e.event_type))
        last = Some(LastEv(e.ts.getTime, e.ts.getNanos, e.event_id, e.event_type))
      }
      last.foreach(state.update)
      out.result().iterator
    }
  }

  def transitions(events: Dataset[Ev],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[Hop] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TransitionsProcessor(ttl), DeltaLogSink.timeMode(ttl),
        OutputMode.Append())
  }

  /** Maintain the (src, dst, ew) edge-count table from a hop stream:
    * each hop adds 1 to its edge. */
  def maintain(hops: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(hops, table, Seq("src", "dst"), Seq(sum("ew").as("ew"))) {
      _.select(col("src"), col("dst"), lit(1L).as("ew"))
    }
}
