package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the replay-amplification audit (q192 / SURVEY B152):
  * the per-(shard, day) seq-envelope grid the audit prices is maintained
  * incrementally from the live wire, so the backfill planner always has a
  * current answer to "what would replaying day D cost on shard S" without
  * rescanning the archive — the grid is exactly the metadata a Kinesis
  * consumer's checkpoint table already tracks per shard, extended with the
  * day axis.
  *
  * Split of responsibilities, mirroring ShardStream:
  *  - [[maintain]] folds each micro-batch's (count, min seq, max seq)
  *    per (shard, day) into the maintained grid
  *    ([[DeltaLogSink.maintain]]). Count is a sum of non-negatives, the
  *    seq bounds are min/max — all three merges are associative and
  *    commutative, so batch order cannot change the converged grid.
  *  - The audit itself is NOT reimplemented: run
  *    `ContentOps.amplificationFrom(maintained grid, archive base)` — the
  *    very closing pass batch q192 executes — so stream ≡ batch holds by
  *    construction and StreamingSpec asserts full-changelog convergence
  *    exactly.
  *
  * 100 TB shape: the grid is (shards × days)-grain metadata; each
  * micro-batch shuffles only its own partial aggregates. The one
  * corpus-scale pass (the scanned-ops count) belongs to the archive-side
  * batch job that consumes the grid, not to the stream.
  */
object ReplayStream {

  /** Maintain the (shard, day, window_ops, seq_lo, seq_hi) grid at
    * `table` from a wire stream carrying `shard, seq, date`. */
  def maintain(ops: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(ops, table, Seq("shard", "day"),
      Seq(sum("window_ops").as("window_ops"), min("seq_lo").as("seq_lo"),
        max("seq_hi").as("seq_hi"))) {
      graft.contentops.ContentOps.replayBase(_).select(col("shard"), col("day"),
        lit(1L).as("window_ops"), col("seqn").as("seq_lo"), col("seqn").as("seq_hi"))
    }
}
