package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the EWMA control chart (q343 / SURVEY B304): the
  * (event_type, day, c) count grid the batch fold closes over is
  * maintained incrementally from the live event stream, so the chart —
  * EWMA line, time-varying band, out-of-band verdicts — can be
  * re-derived after every micro-batch without rescanning history. The
  * EWMA is exactly the statistic whose ALERTING value is incremental
  * (Roberts 1959 built it for sequential monitoring), so the twin is
  * the deployment posture, not a demo.
  *
  * A sum-merge twin ([[DeltaLogSink.maintain]]), like ControlStream:
  *  - the partial (type, day) counts merge by associative +
  *    commutative sums, so batch order cannot change the converged
  *    grid; HoltStream maintains the same grid through [[maintain]];
  *  - the statistic is NOT reimplemented: [[ewmaView]] runs
  *    `SeriesOps.ewmaFromDaily(grid)` — the very closing pass batch
  *    q343 executes — so stream ≡ batch holds by construction and
  *    StreamingSpec asserts full-corpus equality.
  *
  * 100 TB shape: the grid is (types × days) metadata; each micro-batch
  * shuffles only its own partial counts; the fold runs on the bounded
  * grid.
  */
object EwmaStream {

  /** Maintain `(event_type, day, c)` at `table` from a raw event stream
    * carrying `ts` and `event_type`. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("event_type", "day"), Seq(sum("c").as("c")))(
      graft.operators.SeriesOps.typeDailyFrom)

  /** The q343 chart from the maintained grid (pure function of it). */
  def ewmaView(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    graft.operators.SeriesOps.ewmaFromDaily(spark.read.parquet(table))
}
