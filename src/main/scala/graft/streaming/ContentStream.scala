package graft.streaming

import java.sql.Timestamp

import graft.contentops.ContentOps
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** True Structured Streaming forms of the reference's stateful semantics
  * (SURVEY.md §2A A10–A12, A17; §2B B25–B30). The batch twins in
  * `graft.contentops.ContentOps` are the DuckDB-oracle-checked versions;
  * StreamingSpec proves each streaming form converges to its batch twin on
  * the same fixture fed through MemoryStream in multiple microbatches.
  *
  * 100 TB notes: state is keyed on the composite document key, so state
  * distribution = shuffle partitioning on that key; both stateful ops
  * are `transformWithState` processors on the RocksDB state store
  * ([[graft.Session]] sets it), since latest-state over all documents is
  * unbounded; per-shard arrival order maps to per-partition order, and
  * both compare records by [[changeOrder]], the (event-time, seq) order
  * the batch twins use, so cross-shard interleaving cannot corrupt state
  * (the user-guide.md:125-139 gotcha).
  */
object ContentStream {

  /** `seq` is the wire contract's per-shard ordering key: a FIXED-WIDTH
    * decimal STRING (Kinesis sequence numbers overflow BIGINT; fixed width
    * makes lexicographic order numeric order — see graft.streaming
    * .WireSource). Every (date, seq) comparison below is therefore
    * (Timestamp, String), through [[changeOrder]]. */
  case class EnvelopeRow(seq: String, operation: String, date: Timestamp, id: String,
      branch: String, published: Boolean, created: Boolean, headline: String, wordCount: Int)

  case class DocKey(id: String, branch: String, published: Boolean)
  case class DocState(lastSeq: String, lastDate: Timestamp, operation: String,
      headline: String, wordCount: Int)
  case class StateChange(id: String, branch: String, published: Boolean, lastSeq: String,
      lastDate: Timestamp, headline: String, wordCount: Int, deleted: Boolean)

  case class PubKey(id: String, branch: String)
  case class PubState(exists: Boolean, lastSeq: String, lastDate: Timestamp)
  case class PubEvent(id: String, branch: String, event: String, seq: String, date: Timestamp)

  private implicit val docKeyEnc: Encoder[DocKey] = Encoders.product[DocKey]
  private implicit val docStateEnc: Encoder[DocState] = Encoders.product[DocState]
  private implicit val changeEnc: Encoder[StateChange] = Encoders.product[StateChange]
  private implicit val pubKeyEnc: Encoder[PubKey] = Encoders.product[PubKey]
  private implicit val pubStateEnc: Encoder[PubState] = Encoders.product[PubState]
  private implicit val pubEventEnc: Encoder[PubEvent] = Encoders.product[PubEvent]

  /** A16: a change is newer when it is later by (date, seq), the order
    * batch `max_by(…, struct(date, seq))` and the batch windows use.
    * `Timestamp.compareTo(Timestamp)` compares the nanos field too, so
    * two changes inside one millisecond keep their order. */
  private val changeOrder: Ordering[(Timestamp, String)] = Ordering.Tuple2(
    new Ordering[Timestamp] { def compare(a: Timestamp, b: Timestamp): Int = a.compareTo(b) },
    Ordering.String)

  /** A10/A11 streaming: latest-state materialization with delete
    * tombstones on Spark 4's transformWithState API (StatefulProcessor
    * lifecycle: explicit ValueState handle + TTL hook), keyed on the
    * composite document key. Emits the key's current state once per
    * microbatch that touches it (update semantics — the "synchronize a
    * foreign CMS" feed, user-guide.md:3). The new state is the newest of
    * the prior state and the batch's rows by [[changeOrder]]; a
    * full-state record only wins if strictly newer (replacement
    * semantics, user-guide.md:17,72), so on a tie the prior state, then
    * the earliest row, stays.
    *
    * `ttl` is the retention policy for per-key state (the reference is
    * silent on it, so it is an explicit deployment decision): NONE keeps
    * every key forever — correct only while the key universe is bounded;
    * at corpus scale pass a processing-time TTL (e.g. 90 days) so keys
    * that stopped updating fall out of the store, bounding state size at
    * (active keys × state row) instead of (all keys ever). A record for an
    * expired key re-creates state from scratch, which for latest-state
    * semantics means a very-late stale record can resurrect as current —
    * the documented trade (StreamingSpec pins the behavior). */
  class LatestStateProcessor(ttl: TTLConfig)
      extends StatefulProcessor[DocKey, EnvelopeRow, StateChange] {
    @transient private var state: ValueState[DocState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DocState]("docState", docStateEnc, ttl)

    override def handleInputRows(key: DocKey, rows: Iterator[EnvelopeRow],
        timers: TimerValues): Iterator[StateChange] = {
      val prior = if (state.exists()) Option(state.get()) else None
      val changes = rows.map(e => DocState(e.seq, e.date, e.operation, e.headline, e.wordCount))
      // maxBy keeps the first of equal maxima
      (prior.iterator ++ changes).maxByOption(c => (c.lastDate, c.lastSeq))(changeOrder) match {
        case Some(c) =>
          state.update(c)
          Iterator.single(StateChange(key.id, key.branch, key.published,
            c.lastSeq, c.lastDate, c.headline, c.wordCount,
            deleted = c.operation.startsWith("delete")))
        case None => Iterator.empty
      }
    }
  }

  def latestState(ds: Dataset[EnvelopeRow],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[StateChange] =
    ds.groupByKey(e => DocKey(e.id, e.branch, e.published))
      .transformWithState(new LatestStateProcessor(ttl), DeltaLogSink.timeMode(ttl),
        OutputMode.Update())

  /** A12 streaming: publish/unpublish transition detection — keyed on
    * (id, branch), tracking existence of the published=true copy
    * (user-guide.md:141-143; note the key differs from latestState's,
    * the documented conflation trap). One ValueState per key: whether the
    * copy exists, and the (date, seq) of the newest record folded in, so
    * an older record arriving late changes nothing. */
  class PublishProcessor extends StatefulProcessor[PubKey, EnvelopeRow, PubEvent] {
    @transient private var state: ValueState[PubState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PubState]("pubState", pubStateEnc, TTLConfig.NONE)

    override def handleInputRows(key: PubKey, rows: Iterator[EnvelopeRow],
        timers: TimerValues): Iterator[PubEvent] = {
      var st = if (state.exists()) Option(state.get()) else None
      val out = Vector.newBuilder[PubEvent]
      rows.toSeq.sortBy(e => (e.date, e.seq))(changeOrder).foreach { e =>
        if (st.forall(p => changeOrder.gt((e.date, e.seq), (p.lastDate, p.lastSeq)))) {
          val isInsert = e.operation.startsWith("insert")
          val existed = st.exists(_.exists)
          if (isInsert && !existed)
            out += PubEvent(key.id, key.branch, "publish", e.seq, e.date)
          else if (!isInsert && existed)
            out += PubEvent(key.id, key.branch, "unpublish", e.seq, e.date)
          st = Some(PubState(exists = isInsert, e.seq, e.date))
        }
      }
      st.foreach(state.update)
      out.result().iterator
    }
  }

  def publishTransitions(ds: Dataset[EnvelopeRow]): Dataset[PubEvent] =
    ds.filter(_.published)
      .groupByKey(e => PubKey(e.id, e.branch))
      .transformWithState(new PublishProcessor, TimeMode.None(), OutputMode.Append())

  /** A17 streaming: windowed publish analytics — watermarked hourly
    * tumbling counts of publish-proxy events by content type
    * (user-guide.md:3,145), on batch q57's predicate and A8 parse. */
  def publishAnalytics(envelope: DataFrame): DataFrame =
    envelope
      .filter(ContentOps.isPublish)
      .withWatermark("date", "1 hour")
      .groupBy(window(col("date"), "1 hour").getField("start").as("hour"),
        ContentOps.ctypeCol.as("ctype"))
      .agg(count(lit(1)).as("n_published"))

  /** B28: streaming dedup on the composite key + seq within the watermark. */
  def dedupStream(envelope: DataFrame): DataFrame =
    envelope
      .withWatermark("date", "1 hour")
      .dropDuplicatesWithinWatermark("id", "branch", "published", "seq")
}
