package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the CUSUM change-point audit (q206 / SURVEY B166):
  * the (event_type, day) daily milli-sum grid the batch statistic scans
  * is maintained incrementally from the live event stream, so the
  * change-point report can be re-derived after every micro-batch without
  * rescanning history — the alerting posture a monitoring pipeline
  * actually needs ("the level shifted on day X" within one trigger of
  * the evidence arriving).
  *
  * A sum-merge twin ([[DeltaLogSink.maintain]]):
  *  - the per-(type, day) partial milli sums are sums of integer
  *    contributions, associative and commutative, so batch order cannot
  *    change the converged grid.
  *  - The statistic is NOT reimplemented: run
  *    `ScaleOps.cusumFromDaily(maintained grid)` — the very closing pass
  *    batch q206 executes — so stream ≡ batch holds by construction and
  *    StreamingSpec asserts full-corpus equality.
  *
  * 100 TB shape: the grid is (types × days)-grain metadata; each
  * micro-batch shuffles only its own partial sums, and the closing pass
  * runs on the bounded grid.
  */
object CusumStream {

  /** Maintain `(event_type, day, sv)` at `table` from a raw event stream
    * carrying `ts`, `event_type`, `value`. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("event_type", "day"), Seq(sum("sv").as("sv")))(
      graft.operators.ScaleOps.dailyGridFrom)
}
