package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the shard rebalance planner (q175 / SURVEY B135):
  * the per-shard load table the planner ranks is maintained incrementally
  * from the live wire, so a consumer fleet can re-derive its shard→worker
  * map after every micro-batch WITHOUT rescanning history — the operation
  * a Kinesis consumer group actually performs when it rebalances.
  *
  * Split of responsibilities, mirroring SaltStream:
  *  - [[maintain]] folds each micro-batch's per-shard counts and byte
  *    loads into the maintained `(shard, n_events, load)` table
  *    ([[DeltaLogSink.maintain]]). Both columns are sums of non-negative
  *    contributions: the merge is associative and commutative, so batch
  *    application order cannot change the converged table.
  *  - The plan itself is NOT reimplemented: run
  *    `ScaleOps.rebalanceFromLoads(maintained table)` — the very function
  *    batch q175 executes — so stream ≡ batch holds by construction and
  *    StreamingSpec asserts full-corpus convergence exactly.
  *
  * 100 TB shape: the maintained table is |shards|-grain — metadata, not
  * data — and each micro-batch shuffles only its own partial sums. The
  * derived assignment is |workers|-grain and can be re-emitted after
  * every merge for the next trigger's routing decision.
  */
object ShardStream {

  /** Maintain `(shard, n_events, load)` at `table` from a raw event
    * stream carrying `user_id` and `props`. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("shard"),
      Seq(sum("n_events").as("n_events"), sum("load").as("load"))) {
      _.select((col("user_id") % 32).as("shard"), lit(1L).as("n_events"),
        length(col("props")).cast("long").as("load"))
    }
}
