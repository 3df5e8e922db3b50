package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  StreamingQuery, TimeMode, TimerValues, TTLConfig}

/** Streaming twin of the first-admission LSH candidates (q272 / SURVEY
  * B232) — incremental NEAR-dup, the grain IndexStream (exact-fp dedup)
  * stops short of: as documents arrive, each of their 4 MinHash band
  * buckets PROBES the bucket's admitted members (emitting candidate
  * pairs for the q43-style verifier) and is ADMITTED iff the bucket
  * still has room — per-arrival cost and per-bucket state both bounded
  * by the cap (`Dedup.MaxBucket`, the cap batch q272 admits by),
  * whatever the bucket's eventual (Zipf-guaranteed) heat.
  *
  * Why this is the online form of blocking: the batch guard
  * (`Guards.capBuckets`) drops a hot bucket wholesale, a decision that
  * needs the bucket's FINAL count — information no ingest stream has.
  * First-come admission is the decision a stream CAN make, and it is
  * deterministic given arrival order: a doc's admission rank is its rank
  * among earlier arrivals, which later arrivals cannot change, so the
  * admitted set any probe sees is already final. That frozen-prefix
  * property is what makes stream ≡ batch EXACT here (StreamingSpec
  * feeds ingest order = doc_id order and asserts row equality against
  * q272), not merely convergent.
  *
  * Topology: band rows are computed ROW-LOCAL per micro-batch by the
  * same codegen signature expressions as batch q43
  * (`Dedup.bandRowsOf`), then `transformWithState` keyed on bucket
  * holds a ListState of admitted doc_ids (RocksDB-backed; state
  * distribution = shuffle partitioning on bucket). Emitted pairs go to
  * an append log; the read view is DISTINCT-then-count — distinct is
  * idempotent, so a replayed batch's duplicate appends are absorbed
  * (the DeltaLogSink discipline), and the per-(a,b) row count is the
  * band-agreement count q272 reports.
  *
  * 100 TB shape: per batch, signature work is scan-local, the only
  * shuffle carries (bucket, doc_id) pairs, and state per bucket is ≤
  * cap doc_ids. The candidate log grows with true candidate volume —
  * which the admission cap bounds per bucket by construction.
  */
object LshStream {

  case class CandPair(a: Long, b: Long, bucket: String)

  private val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Probe-then-admit per bucket, admitting at most `Dedup.MaxBucket`
    * members — any other cap would break stream ≡ batch. In-batch
    * arrivals are folded in doc_id order (the ingest order the equality
    * contract assumes); re-arrivals of an already-admitted doc re-emit
    * their pairs (an at-least-once replay) but are not re-admitted — the
    * distinct read view absorbs the duplicates. */
  class AdmitProcessor
      extends StatefulProcessor[String, (String, Long), CandPair] {
    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members", longEnc, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[CandPair] = {
      var admitted = members.get().toVector
      val out = Vector.newBuilder[CandPair]
      rows.map(_._2).toSeq.sorted.foreach { d =>
        // probe only the PAST (m < d): under in-order ingest this is the
        // whole admitted set, so it changes nothing on first arrival —
        // but on an at-least-once REPLAY it stops d from pairing with
        // members admitted after it, which the batch contract (x admitted,
        // x.doc_id < y.doc_id) never counts
        admitted.foreach { m =>
          if (m < d) out += CandPair(m, d, key)
        }
        if (admitted.size < graft.operators.Dedup.MaxBucket && !admitted.contains(d)) {
          admitted = admitted :+ d
          members.appendValue(d)
        }
      }
      out.result().iterator
    }
  }

  /** Maintain the candidate-pair log at `table` from a document stream
    * carrying `doc_id`, `text`. */
  def maintain(docs: DataFrame, table: String): StreamingQuery = {
    import docs.sparkSession.implicits._
    val grouped = graft.operators.Dedup.bandRowsOf(docs)
      .select(col("bucket"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
    DeltaLogSink.maintainKeyed(grouped, new AdmitProcessor, table)(
      DeltaLogSink.appendIfNonEmpty[CandPair])
  }

  /** Candidate view over the log: distinct (idempotent under replayed
    * appends), then per-pair band-agreement count — row-compatible with
    * batch q272. */
  def readCandidates(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table).distinct()
      .groupBy("a", "b").agg(count(lit(1)).as("n_bands"))
}
