package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the churn hazard table (q147 / SURVEY B107): the
  * `(user_id, f, l)` first/last-day table the hazard derives from is
  * maintained incrementally from the event feed — min/max are
  * associative and idempotent-per-value, so per-batch merge order cannot
  * matter and the maintained table equals the batch aggregation exactly
  * once the same events have flowed through.
  *
  * Mirrors SaltStream/StatsStream: [[maintain]] is the min/max merge
  * ([[DeltaLogSink.maintain]]), and the hazard itself is NOT
  * reimplemented — run
  * `StreamSemantics.hazardFromLifetimes(maintained table)`, the very
  * function batch q147 executes, so stream ≡ batch by construction
  * (asserted exactly in StreamingSpec).
  *
  * 100 TB shape: the maintained table is user-grain (three longs); each
  * micro-batch shuffles only its own per-user partials. The hazard
  * re-derivation after each merge runs at user + duration-grid grain —
  * both ≪ the event stream the batch form would have to rescan.
  */
object LifetimeStream {

  /** Maintain `(user_id, f, l)` at `table` from a raw `(user_id, day)`
    * stream: each event is a one-day lifetime. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("user_id"),
      Seq(min("f").as("f"), max("l").as("l"))) {
      _.select(col("user_id"), col("day").as("f"), col("day").as("l"))
    }
}
