package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the Holt linear-trend backtest (q348 / SURVEY B309)
  * — the r14 verdict's task 4: incremental maintenance IS the production
  * shape for a forecaster (Holt 1957 is a sequential update rule), so
  * the monitoring deployment should not rescan history per refresh.
  *
  * Deliberately NOT a transformWithState carrying (level, trend): the
  * Holt input x is the daily type-SHARE (c·10⁶ div per-day total), so a
  * late event for an old day changes that day's x for EVERY type — state
  * carried past the day would be unrepairable. The sum-merge twin family
  * (ControlStream/EwmaStream/PhStream) handles exactly this: what is
  * maintained incrementally is the (event_type, day, c) COUNT grid —
  * associative + commutative, late-data-correct by construction — and
  * the order-dependent Holt fold reruns per refresh on the bounded grid
  * (types × days: metadata-sized at any corpus scale).
  *
  *  - [[maintain]] keeps the very grid [[EwmaStream.maintain]] keeps;
  *  - [[holtView]] runs `SeriesOps.holtFromDaily(grid)` — the very
  *    closing pass batch q348 executes (all-integer truncating steps),
  *    so StreamingSpec asserts full-corpus row equality.
  *
  * 100 TB shape: each micro-batch shuffles only its own partial
  * (type, day) counts; the fold runs on the bounded grid.
  */
object HoltStream {

  /** Maintain `(event_type, day, c)` at `table` from a raw event stream
    * carrying `ts` and `event_type`. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    EwmaStream.maintain(events, table)

  /** The q348 backtest from the maintained grid (pure function of it). */
  def holtView(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    graft.operators.SeriesOps.holtFromDaily(spark.read.parquet(table))
}
