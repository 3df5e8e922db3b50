package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the (event_type, day, n) feed-day grid —
  * ONE maintained table feeding TWO batch consumers: q151's freshness
  * audit (`ScaleOps.freshnessFromGrid`) and q157's leaderboard churn
  * (`StreamSemantics.churnFromGrid`). Both derivations are pure
  * functions of the grid, so maintaining the grid once keeps BOTH
  * reports current without either rescanning history — the maintained-
  * aggregate family's first shared-substrate member (additive-count
  * state class, as SaltStream).
  *
  * 100 TB shape: the grid is |feeds|·|days| — calendar-bounded metadata
  * however many events arrive; each micro-batch shuffles only its own
  * (feed, day) partial counts; re-deriving both reports after a merge
  * costs window passes over the grid alone.
  */
object GridStream {

  /** Maintain the grid at `table` from a raw (event_type, day) stream
    * through [[DeltaLogSink.maintain]]: each event adds 1 to its cell. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("event_type", "day"), Seq(sum("n").as("n"))) {
      _.select(col("event_type"), col("day"), lit(1L).as("n"))
    }
}
