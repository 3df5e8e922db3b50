package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the PSI drift audit (q248 / SURVEY B208): the
  * bounded (source, length-octave) cell grid the batch statistic closes
  * over is maintained incrementally from the live document stream, so
  * the banded PSI report — the 144/361 milli-bit stable/moderate/shifted
  * verdict a drift monitor alerts on — can be re-derived after every
  * micro-batch without rescanning the corpus. This is the monitoring
  * posture PSI exists for: the batch query answers "has this source
  * drifted over the corpus"; the twin answers it continuously as the
  * corpus grows.
  *
  * A sum-merge twin ([[DeltaLogSink.maintain]]), like [[CusumStream]]:
  *  - the partial (source, oct) counts merge by associative +
  *    commutative integer sums, so batch order cannot change the
  *    converged grid.
  *  - The statistic is NOT reimplemented: the read view runs
  *    `AuditOps.psiFromCells(grid)` — the very closing pass batch q248
  *    executes — so stream ≡ batch holds by construction and the spec
  *    asserts full-corpus equality.
  *
  * 100 TB shape: the grid is (sources × ~14 octaves) metadata; each
  * micro-batch shuffles only its own partial counts, and the closing
  * pass runs on the bounded grid.
  */
object DriftStream {

  /** Maintain the (source, oct, c) grid at `table` from a document
    * stream carrying `source` and `n_chars`. */
  def maintain(docs: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(docs, table, Seq("source", "oct"), Seq(sum("c").as("c")))(
      graft.operators.AuditOps.octaveCellsFrom)

  /** The q248 report from the maintained grid (pure function of it). */
  def psiView(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    graft.operators.AuditOps.psiFromCells(spark.read.parquet(table))
}
