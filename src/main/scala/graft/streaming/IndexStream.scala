package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming twin of the incremental-ingest dedup index (q144 / SURVEY
  * B104): the distinct-fingerprint index the batch operator probes is
  * maintained incrementally from the live document stream — the exact
  * production posture q144's scaladoc prescribes ("this index is
  * maintained incrementally per ingest"). Per-batch cost is genuinely
  * ∝ batch + touched index keys, never ∝ corpus:
  *
  *  - The index LIVES in keyed state: `transformWithState` keyed on fp
  *    with a ValueState[first_doc] per key (the ContentStream
  *    latest-state topology, RocksDB-backed, so state distribution =
  *    shuffle partitioning on fp). Each micro-batch touches only the
  *    keys it carries; min(batch partial, state) is one state read +
  *    at most one write per touched key.
  *  - The processor emits a (fp, first_doc) row ONLY when the key's min
  *    changed (first sight, or a smaller doc_id arrived) — the delta
  *    feed a MERGE target consumes. An at-least-once replay finds state
  *    already at the min, emits NOTHING, and the sink is bit-identical
  *    (StreamingSpec replays a chunk and asserts equality).
  *  - The materialized table is an APPEND-ONLY delta log: each batch
  *    appends its changed keys (∝ touched keys, never a corpus
  *    rewrite). Because min is associative/commutative/idempotent, the
  *    read view is a plain min-reduce over the log ([[readIndex]]), any
  *    accidental duplicate append (foreachBatch retry after a crash)
  *    reduces away, and log compaction is the ordinary small-file
  *    problem q150's compaction planner prices — production swaps the
  *    log+reduce for a transactional MERGE table, same contract.
  *  - The fingerprint definition is NOT reimplemented: the per-row
  *    projection rides `Dedup.fpProjected` — q40/q144's exact
  *    fingerprint — so the maintained index is the one batch q144
  *    derives, by construction.
  *
  * Unlike the metadata-grain twins (grids, words, loads), this state is
  * fingerprint-grain — it grows with the corpus's DISTINCT contents.
  * That is inherent to exact dedup (the index IS the state); q79's
  * bloom front prunes probes, and state TTL is the retention lever —
  * exposed as [[maintain]]'s `ttl` parameter (r11 verdict task 4): a
  * fingerprint not re-seen within the TTL is evicted, after which a
  * re-arrival is admitted as first-sight again (bounded-state dedup
  * over a retention horizon, the production posture for an unbounded
  * keyspace). StreamingSpec's expiry case pins the semantics.
  */
object IndexStream {

  case class FpUpdate(fp: String, first_doc: Long)

  private implicit val updEnc: Encoder[FpUpdate] = Encoders.product[FpUpdate]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val strEnc: Encoder[String] = Encoders.STRING
  private implicit val inEnc: Encoder[(String, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaLong)

  /** Keyed min-maintenance: state holds the smallest doc_id seen for the
    * fp; emit only on change. handleInputRows sees the whole batch's rows
    * for the key, so the in-batch partial min is folded locally before
    * the single state read/write (map-side-combine analogue). */
  class MinIndexProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, (String, Long), FpUpdate] {
    @transient private var state: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Long]("firstDoc", longEnc, ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[FpUpdate] = {
      val batchMin = rows.map(_._2).min
      val improved = !state.exists() || batchMin < state.get()
      if (improved) {
        state.update(batchMin)
        Iterator.single(FpUpdate(key, batchMin))
      } else Iterator.empty
    }
  }

  /** Maintain the `(fp, first_doc)` index at `table` (append-only delta
    * log) from a document stream carrying `doc_id` and `text`. A fully
    * replayed batch emits zero updates and appends nothing
    * ([[DeltaLogSink.appendIfNonEmpty]]). */
  def maintain(docs: DataFrame, table: String,
      ttl: TTLConfig = TTLConfig.NONE): StreamingQuery = {
    val grouped = graft.operators.Dedup.fpProjected(docs)
      .select(col("fp"), col("doc_id").cast("long").as("first_doc"))
      .as[(String, Long)]
      .groupByKey(_._1)
    DeltaLogSink.maintainKeyed(grouped, new MinIndexProcessor(ttl), table, ttl)(
      DeltaLogSink.appendIfNonEmpty[FpUpdate])
  }

  /** Current index view over the delta log: min-reduce (idempotent, so
    * replayed/retried appends are no-ops). Production replaces log+view
    * with a MERGE-capable table; the contract is identical. */
  def readIndex(spark: SparkSession, table: String): DataFrame =
    DeltaLogSink.minMergeView(spark, table, "fp", "first_doc")
}
