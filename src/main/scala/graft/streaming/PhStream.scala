package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the Page–Hinkley drift detector (q339 / SURVEY
  * B300): PH is the drift detector the streaming literature runs ON
  * STREAMS (Page 1954; MOA/river's default), so its natural deployment
  * is exactly this — the (day, n_events, n_errors) global daily grid
  * maintained incrementally, the self-calibrating gap re-derived after
  * every micro-batch, alarms readable as soon as a sustained break
  * accumulates.
  *
  * A sum-merge twin ([[DeltaLogSink.maintain]]), like ControlStream:
  * micro-batch partials merge by associative sums, and [[phView]] runs
  * `SeriesOps.phFromDaily(grid)` — the very closing pass batch q339
  * executes — so stream ≡ batch holds by construction (StreamingSpec
  * asserts full-corpus equality).
  *
  * 100 TB shape: the grid is day-grain metadata; each micro-batch
  * shuffles only its own partial counts.
  */
object PhStream {

  /** Maintain `(day, n, e)` at `table` from a raw event stream carrying
    * `ts` and `event_type`. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("day"), Seq(sum("n").as("n"), sum("e").as("e")))(
      graft.operators.SeriesOps.dailyErrorFrom)

  /** The q339 report from the maintained grid (pure function of it). */
  def phView(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    graft.operators.SeriesOps.phFromDaily(spark.read.parquet(table))
}
