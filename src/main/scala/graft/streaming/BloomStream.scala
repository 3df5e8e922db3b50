package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the bloom block-skip index (q198 / SURVEY B163): the
  * per-block bloom words the batch audit replays probes against are
  * maintained incrementally from the live order stream, so point-lookup
  * pruning stays current without rescanning the table — the maintenance
  * path a lakehouse bloom index (parquet bloom filters, Delta/Iceberg
  * file skipping) runs on ingest.
  *
  * [[maintain]] folds each micro-batch's per-block partial words into
  * the maintained `(block_id, word)` table with `bit_or` through
  * [[DeltaLogSink.maintain]]. The mask scheme is NOT reimplemented: each
  * batch rides `ScaleOps.bloomMaskExpr` / the `bloomWordsFrom` reduction
  * — the exact expressions batch q198 uses — so stream ≡ batch holds by
  * construction and StreamingSpec asserts word-for-word equality.
  *
  * The OR merge is associative, commutative, AND IDEMPOTENT — strictly
  * stronger than the sum-merges of the other maintained tables: data
  * re-delivered under a new batch id re-ORs bits that are already set
  * and the table is UNCHANGED, so at-least-once delivery needs no dedup
  * at all — the property StreamingSpec proves by replaying a chunk
  * mid-stream.
  * Deletes are the known bloom limitation (bits cannot be un-set;
  * production compacts by rebuilding words for rewritten blocks).
  *
  * 100 TB shape: the maintained table is |blocks|-grain (metadata, one
  * 63-bit word per block); each micro-batch shuffles only its own
  * per-block partials.
  */
object BloomStream {

  /** Maintain `(block_id, word)` at `table` from an order stream carrying
    * `o_orderkey` and `o_custkey`, with a FIXED block width (the
    * maintained index's layout constant; batch q198 derives its width
    * from max(o_orderkey) at audit time instead). */
  def maintain(orders: DataFrame, table: String, width: Long): StreamingQuery =
    DeltaLogSink.maintain(orders, table, Seq("block_id"), Seq(expr("bit_or(word)").as("word"))) {
      graft.operators.ScaleOps.bloomWordsFrom(_, width)
    }
}
