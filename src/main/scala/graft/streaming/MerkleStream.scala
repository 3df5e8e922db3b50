package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the Merkle partition diff (q265 / SURVEY B225): the
  * 64 leaf digests the batch tree is built from are maintained
  * incrementally from the live document stream, so a replica can answer
  * an anti-entropy exchange ("send me your node digests") within one
  * trigger of ingest instead of rescanning the corpus — the posture a
  * replicated store actually runs: writers fold row hashes into leaf
  * digests as they commit; the repair protocol reads digests, never data.
  *
  * What makes THIS twin different from the sum-merge family
  * (CusumStream et al.): the merge op is XOR, which is associative and
  * commutative like a sum — batch order cannot change the converged
  * digests — but ALSO self-inverse, so deletion needs no tombstone
  * column and no retraction protocol: folding the same row in a second
  * time REMOVES it from the digest (StreamingSpec pins this by streaming
  * the corpus twice and asserting every leaf digest returns to the empty
  * state 0). The price of self-inverse merging is that it is NOT
  * idempotent — a replayed (non-deterministically re-emitted) batch
  * would cancel its own rows — so the sink must be effectively-once at
  * the batch grain: [[DeltaLogSink.maintain]] skips a batch id the
  * table is already stamped with, and the upstream source must replay
  * the SAME rows for the same epoch (Kinesis sequence-number ranges
  * give exactly that).
  *
  * 100 TB shape: per micro-batch the row hashing is scan-local, the
  * partial XOR collapses map-side to ≤ 64 rows before any exchange, and
  * the maintained state is 64 digests per replica — the tree levels
  * (q265) are grid arithmetic over them on demand.
  */
object MerkleStream {

  /** Maintain the 64 leaf digests at `table` from a document stream
    * carrying `doc_id`, `text`, XOR-folding each batch's leaf deltas in.
    * Leaves whose digest returns to 0 are kept (0 IS the empty-state
    * digest — dropping the row would be indistinguishable from a
    * never-written leaf, which is exactly what an anti-entropy diff
    * must be able to distinguish from "diverged to empty"). */
  def maintain(docs: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(docs, table, Seq("leaf"), Seq(expr("bit_xor(hl)").as("hl")))(
      graft.operators.AuditOps.merkleLeaves)
}
