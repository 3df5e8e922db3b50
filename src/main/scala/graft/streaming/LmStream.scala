package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming twin of the bigram LM count maintenance behind q283 (SURVEY
  * B252): the backoff LM's count tables — the expensive training half —
  * maintained INCREMENTALLY from a live document stream, so the filter's
  * model follows the corpus instead of being retrained from scratch (the
  * q144/IndexStream incremental-ingest posture, applied to the ngram
  * statistic).
  *
  *  - Bigram expansion is row-local inside the batch (the q176
  *    transform), then each batch folds its per-bigram delta LOCALLY and
  *    applies it to one ValueState[Long] per touched key
  *    (`transformWithState` keyed by bigram — ViewStream's topology;
  *    per-batch cost ∝ distinct bigrams in the batch, never ∝ corpus).
  *  - Counts only grow — no retraction arm; the emitted row is the key's
  *    new running total.
  *  - Sink: per-epoch `batch=<id>` overwrite (DeltaLogSink pattern 1),
  *    so an epoch retry rewrites an identical partition; the read view
  *    ([[readCounts]]) takes each bigram's LATEST epoch row — exactly
  *    the count table q283's scoring joins against.
  *
  * StreamingSpec streams the fixture corpus in three batches and asserts
  * the converged view equals the batch-computed corpus bigram counts.
  */
object LmStream {

  case class CountRow(bg: String, n: Long)

  private implicit val outEnc: Encoder[CountRow] = Encoders.product[CountRow]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val strEnc: Encoder[String] = Encoders.STRING
  private implicit val inEnc: Encoder[(String, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaLong)

  /** Keyed additive merge: fold the batch's bigram deltas, bump state
    * once per touched key, emit the new running count. */
  class CountProcessor extends StatefulProcessor[String, (String, Long), CountRow] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("n", longEnc, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[CountRow] = {
      var d = 0L
      rows.foreach(d += _._2)
      val n = (if (st.exists()) st.get() else 0L) + d
      st.update(n)
      Iterator.single(CountRow(key, n))
    }
  }

  /** Maintain the bigram count table at `table` from a document stream
    * carrying a `text` column. */
  def maintain(docs: DataFrame, table: String): StreamingQuery = {
    val grouped = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', toks[i-1], toks[i]))"))
        .as("bg"), lit(1L).as("d"))
      // NOTE: no streaming groupBy here — that would be its own stateful
      // aggregation; the batch-local fold happens inside the processor
      // (handleInputRows sees all of the key's rows for the batch), so
      // the state store is still touched once per DISTINCT bigram
      .as[(String, Long)]
      .groupByKey(_._1)
    DeltaLogSink.maintainKeyed(grouped, new CountProcessor, table)(
      DeltaLogSink.epochOverwrite[CountRow])
  }

  /** Current (bg, n) count table: each bigram's latest epoch row. */
  def readCounts(spark: SparkSession, table: String): DataFrame =
    DeltaLogSink.latestEpochView(spark, table, "bg", Seq("n"))
}
