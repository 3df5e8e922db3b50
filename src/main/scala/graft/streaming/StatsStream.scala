package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the incremental-aggregate-maintenance family
  * (q120 / SURVEY B79): per-source corpus statistics kept current by
  * folding SIGNED delta contribution rows into a maintained stats
  * table, never rescanning the old corpus.
  *
  * The maintenance operator is [[DeltaLogSink.merge]] with [[keys]] and
  * [[sums]], shared by both forms: batch q120 IS that merge of the old
  * snapshot's aggregates with the snapshot diff — so the q120 oracle
  * hash-match (the oracle recomputes directly from the new snapshot)
  * proves THIS operator equals a full recompute — and [[maintain]]
  * applies the same merge per micro-batch ([[DeltaLogSink.maintain]]).
  * A delta row is a stats row: [[asStats]] renames each signed
  * contribution to the column it sums into, so table and delta share
  * one schema. StreamingSpec proves the chain: seed the table with the
  * old snapshot's aggregates, stream the delta rows in micro-batches,
  * and the final table equals batch q120 exactly (integer-exact stats,
  * so equality is exact, not approximate).
  *
  * Precondition (same as any IVM scheme): the delta feed is consistent
  * with the seeded snapshot — a remove/change row only arrives for a
  * doc whose contribution is already in the table. Under that
  * contract a source whose docs are all removed nets EXACTLY to an
  * all-zero row (removals are negations of prior contributions); the
  * table keeps that row and q120's report drops it (`n_docs > 0`).
  *
  * 100 TB shape: the maintained table is (sources × 3 longs) —
  * metadata-sized — while each micro-batch's work is one partial
  * aggregation of the (tiny) delta plus a union with the current
  * table.
  */
object StatsStream {

  /** One signed delta contribution: `dn` = ±1 doc (0 for changed),
    * `did` = signed doc-id mass, `dchk` = signed content-checksum mass. */
  case class DeltaRow(source: String, dn: Long, did: Long, dchk: Long)

  /** The maintained per-source stats `(source, n_docs, id_sum,
    * content_checksum)`: sums of signed contributions, associative in
    * the delta, which makes per-micro-batch application order-insensitive. */
  private[graft] val keys = Seq("source")
  private[graft] val sums =
    Seq(sum("n_docs").as("n_docs"), sum("id_sum").as("id_sum"),
      sum("content_checksum").as("content_checksum"))

  private[graft] def asStats(deltas: DataFrame): DataFrame =
    deltas.select(col("source"), col("dn").as("n_docs"), col("did").as("id_sum"),
      col("dchk").as("content_checksum"))

  /** Maintain the stats table at `table` from a stream of [[DeltaRow]]s. */
  def maintain(deltas: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(deltas, table, keys, sums)(asStats)
}
