package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the adaptive salt planner (q138 / SURVEY B97): the
  * per-key count table the plan derives from is maintained incrementally
  * from the event stream, so the skew plan stays current WITHOUT ever
  * rescanning history — the property that matters when the aggregation
  * being protected runs hourly over an unbounded feed.
  *
  * Split of responsibilities, mirroring StatsStream:
  *  - [[maintain]] folds each micro-batch's per-key counts into the
  *    maintained `(user_id, freq)` table ([[DeltaLogSink.maintain]]).
  *    Counts are sums of non-negative contributions, so the merge is
  *    associative and per-batch application order cannot matter.
  *  - The plan itself is NOT reimplemented: run
  *    `ScaleOps.saltPlanFromCounts(maintained table)` — the very function
  *    batch q138 executes — so stream ≡ batch holds by construction, and
  *    StreamingSpec asserts the full-corpus convergence exactly.
  *
  * 100 TB shape: the maintained table is |keys|-grain (narrow: id +
  * long); each micro-batch shuffles only its own partial counts. The
  * derived plan stays hot-key-grain — metadata — and can be re-emitted
  * after every merge for the next scheduled aggregation to broadcast.
  */
object SaltStream {

  /** Maintain `(user_id, freq)` at `table` from a raw event stream. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("user_id"), Seq(sum("freq").as("freq"))) {
      _.select(col("user_id"), lit(1L).as("freq"))
    }
}
