package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the p-chart process-control audit (q318 / SURVEY
  * B279): the (day, n_events, n_errors) daily grid the batch statistic
  * closes over is maintained incrementally from the live event stream,
  * so the Shewhart out-of-band verdict — the page an on-call rotation
  * acts on — can be re-derived after every micro-batch without
  * rescanning history. This is the alerting posture a control chart
  * exists for: the band tightens as the day's volume accumulates, and
  * the pooled center moves with the full maintained history.
  *
  * A sum-merge twin ([[DeltaLogSink.maintain]]):
  *  - the (day, counts) cells merge by associative + commutative
  *    integer sums, so batch order cannot change the converged grid;
  *  - the statistic is NOT reimplemented: [[pchartView]] runs
  *    `SeriesOps.pchartFromDaily(grid)` — the very closing pass batch
  *    q318 executes — so stream ≡ batch holds by construction and
  *    StreamingSpec asserts full-corpus equality.
  *
  * 100 TB shape: the grid is day-grain metadata; each micro-batch
  * shuffles only its own partial counts, and the closing pass runs on
  * the bounded grid.
  */
object ControlStream {

  /** Maintain `(day, n_events, n_errors)` at `table` from a raw event
    * stream carrying `ts` and `event_type`. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("day"),
      Seq(sum("n_events").as("n_events"), sum("n_errors").as("n_errors")))(
      graft.operators.SeriesOps.dailyControlFrom)

  /** The q318 report from the maintained grid (pure function of it). */
  def pchartView(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    graft.operators.SeriesOps.pchartFromDaily(spark.read.parquet(table))
}
