package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming twin of the content-defined chunk store (q220 / SURVEY B180):
  * the per-source chunk-dedup ledger is maintained incrementally from the
  * live document stream — the ingest posture of a real chunk store
  * (restic/borg-style): as documents arrive, new chunk fingerprints are
  * admitted once and duplicate chunks only bump reference counts.
  * Per-batch cost ∝ batch chunks + touched fingerprints, never ∝ corpus:
  *
  *  - Chunk derivation is NOT reimplemented: rows ride
  *    [[graft.operators.Dedup.cdcChunks]] — the exact rolling-hash
  *    boundary + md5 fingerprint pipeline batch q220 uses — so the
  *    maintained ledger is the one q220 derives, by construction.
  *  - First-sight detection lives in keyed state: `transformWithState`
  *    keyed on (source, fp) with one ValueState bit per admitted chunk
  *    (the IndexStream topology, RocksDB-backed). Each batch touches only
  *    the keys it carries.
  *  - The delta log is APPEND-ONLY at (batch, source, fp) grain, written
  *    `overwrite` into a `batch=<id>` partition: a foreachBatch RETRY of
  *    the same epoch (same batchId, state store rolled back to the same
  *    version) rewrites the identical partition — idempotent. Counting
  *    totals ARE sensitive to upstream at-least-once DELIVERY (unlike
  *    IndexStream's min-merge, reference counts are not idempotent);
  *    exactness rides the source's checkpointed batch composition
  *    (file source / Kinesis sequence ranges), which is the standard
  *    Structured Streaming exactly-once contract.
  *  - The read view ([[readReport]]) is q220's own closing pass
  *    (`Dedup.chunkSavings`) over two partial-agg rollups of the log —
  *    StreamingSpec asserts stream ≡ batch equality.
  *
  * Like IndexStream, state is fingerprint-grain (grows with distinct
  * content) — inherent to exact chunk dedup. Admission state is kept
  * for good: an evicted fingerprint would be re-admitted as first-sight
  * and count its bytes as unique twice, which batch q220 never does.
  */
object ChunkStream {

  case class ChunkDelta(source: String, fp: String, clen: Long,
      n_inst: Long, first: Boolean)

  private implicit val deltaEnc: Encoder[ChunkDelta] = Encoders.product[ChunkDelta]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val strEnc: Encoder[String] = Encoders.STRING
  private implicit val inEnc: Encoder[(String, String, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong)

  /** Keyed first-sight admission: emit every batch's per-key instance
    * count, flagging the key's FIRST batch. handleInputRows sees the whole
    * batch's rows for the key, so the instance count folds locally before
    * the single state read/write. */
  class ChunkStoreProcessor
      extends StatefulProcessor[String, (String, String, Long), ChunkDelta] {
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", longEnc, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, String, Long)],
        timers: TimerValues): Iterator[ChunkDelta] = {
      val head = rows.next()
      var n = 1L
      while (rows.hasNext) { rows.next(); n += 1 }
      val first = !seen.exists()
      if (first) seen.update(1L)
      Iterator.single(ChunkDelta(head._1, head._2, head._3, n, first))
    }
  }

  /** Maintain the chunk ledger at `table` from a document stream carrying
    * `source` and `text`; a retried epoch rewrites its own partition
    * ([[DeltaLogSink.epochOverwrite]]). */
  def maintain(docs: DataFrame, table: String): StreamingQuery = {
    val grouped = graft.operators.Dedup.cdcChunks(docs)
      .as[(String, String, Long)]
      .groupByKey(r => r._1 + "\n" + r._2)
    DeltaLogSink.maintainKeyed(grouped, new ChunkStoreProcessor, table)(
      DeltaLogSink.epochOverwrite[ChunkDelta])
  }

  /** Current savings report over the delta log — q220's own closing pass:
    * totals from every delta row, uniques from the first-sight rows. */
  def readReport(spark: SparkSession, table: String): DataFrame = {
    val log = spark.read.parquet(table)
    val tot = log.groupBy("source")
      .agg(sum("n_inst").as("n_chunks"), sum(expr("n_inst * clen")).as("bytes"))
    val uniq = log.filter(col("first"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_uniq"), sum("clen").as("uniq_bytes"))
    graft.operators.Dedup.chunkSavings(tot, uniq)
  }
}
