package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, KeyValueGroupedDataset,
  Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, Trigger, TTLConfig}

/** The shared sink discipline of the streaming twins — the idempotency
  * patterns every maintained operator uses, each written
  * (and tested, DeltaLogSinkSpec, GridSwapSpec, SumMergeRecoverySpec)
  * in exactly one place instead of once per twin:
  *
  *  1. [[epochOverwrite]] — write each micro-batch into its own
  *     `batch=<id>` partition with `overwrite`. A foreachBatch RETRY of
  *     an epoch (same batchId, state store rolled back to the same
  *     version, deterministic replan) rewrites the identical partition
  *     instead of double-appending. One action per batch: no pre-write
  *     emptiness probe, because overwriting an epoch partition with an
  *     empty (or identical) delta is harmless — the probe the twins used
  *     to run re-executed the whole transformWithState plan (state-store
  *     load + commit) a second time per batch (ADVICE r11).
  *  2. [[appendIfNonEmpty]] — plain `append` for logs whose READ VIEW is
  *     an idempotent reduce (min-merge): a replayed epoch emits zero
  *     delta rows and must append zero files (StreamingSpec pins that).
  *     The emptiness probe is taken on a PERSISTED delta so the stateful
  *     plan still executes once; `isEmpty` on the cached plan is a
  *     limit-1 probe, not a second state pass.
  *  3. Read views — [[latestEpochView]] (each key's newest epoch row
  *     wins, tombstones dropped: the epoch-overwrite log's companion)
  *     and [[minMergeView]] (associative/commutative/idempotent
  *     min-reduce: the append log's companion, where duplicate appends
  *     reduce away).
  *  4. [[maintain]] — a table kept equal to one aggregate over
  *     everything streamed so far: each batch merges its delta into the
  *     table and swaps the result in, stamped with its batchId. The 16
  *     sum-merge twins (GridStream, StatsStream, ...) are each one call.
  *  5. [[maintainKeyed]] — a keyed `transformWithState` processor whose
  *     per-batch output lands through pattern 1 or 2. The five keyed
  *     twins (IndexStream, ChunkStream, LmStream, ViewStream, LshStream)
  *     are each one call; [[timeMode]] is the one TTL rule every keyed
  *     processor in the package runs by.
  *
  * Production swaps the log+view for a transactional MERGE table; the
  * contract — retries rewrite, replays add nothing, the view is a pure
  * function of the log — is identical, which is what the twins' stream ≡
  * batch convergence specs actually rely on. */
object DeltaLogSink {

  /** Pattern 1: per-epoch partition overwrite (idempotent under retry). */
  def epochOverwrite[T](table: String)(delta: Dataset[T], batchId: Long): Unit = {
    delta.write.mode("overwrite").parquet(s"$table/batch=$batchId")
    ()
  }

  /** Pattern 2: append, suppressing empty batches, with the delta
    * persisted so the probe and the write share ONE execution of the
    * upstream (stateful) plan. */
  def appendIfNonEmpty[T](table: String)(delta: Dataset[T], batchId: Long): Unit = {
    delta.persist()
    try {
      if (!delta.isEmpty) delta.write.mode("append").parquet(table)
    } finally {
      delta.unpersist()
    }
    ()
  }

  /** Read view for [[epochOverwrite]] logs: per `key`, the row from the
    * highest `batch=` partition wins; rows whose `retractCol` is true
    * (tombstones) are dropped. `payload` lists the carried columns. */
  def latestEpochView(spark: SparkSession, table: String, key: String,
      payload: Seq[String], retractCol: Option[String] = None): DataFrame = {
    val fields = (payload ++ retractCol).mkString(", ")
    val v = spark.read.parquet(table)
      .groupBy(key)
      .agg(expr(s"max_by(struct($fields), batch)").as("v"))
    val live = retractCol.fold(v)(rc => v.filter(!col(s"v.$rc")))
    live.select(col(key) +: payload.map(c => col(s"v.$c").as(c)): _*)
  }

  /** Read view for [[appendIfNonEmpty]] logs: min-reduce of `valueCol`
    * per `key` — idempotent, so a duplicated append (crash between write
    * and commit) is absorbed. */
  def minMergeView(spark: SparkSession, table: String, key: String,
      valueCol: String): DataFrame =
    spark.read.parquet(table)
      .groupBy(key).agg(min(valueCol).as(valueCol))

  /** Pattern 4: keep `table` equal to `aggs` grouped by `keys` over every
    * row the stream has delivered. `delta` maps one micro-batch to rows
    * of the table's own schema; each batch publishes
    * [[merge]]`(table, delta(batch))` through [[GridSwap]]. The contract,
    * which every sum-merge twin inherits:
    *
    *  - '''stream ≡ batch''': each aggregate is associative and
    *    commutative (sum, min, max, bit_or, bit_xor), so the table after
    *    any split of the input into micro-batches equals one aggregation
    *    over all of it;
    *  - '''idempotent under replay''': the published table is stamped
    *    with its batchId and a batch whose id is ≤ the stamp is skipped,
    *    so a batch re-executed after a death between the swap and
    *    Spark's commit-log write is counted once. The checkpoint lives at
    *    `<table>.ckpt`: table and checkpoint are one unit, and dropping
    *    only the checkpoint makes every later batch id look replayed;
    *  - '''crash-safe publish''': the live table is replaced, never
    *    deleted first, and an interrupted publish is finished or undone
    *    before the next batch reads the table ([[GridSwap.recover]]).
    *
    * The query is named `table`: one table has one checkpoint, so at most
    * one query per table runs at a time, and Spark refuses a second
    * active query of the same name in a session.
    *
    * Output mode is `append`: every input is stateless, or (EdgeStream)
    * an Append-mode stateful upstream, so each row reaches one batch. */
  def maintain(input: DataFrame, table: String, keys: Seq[String], aggs: Seq[Column])
      (delta: DataFrame => DataFrame): StreamingQuery =
    input.writeStream
      .queryName(table)
      .option("checkpointLocation", table + ".ckpt")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val applied = GridSwap.recover(table)
        if (applied.forall(_ < batchId)) {
          val d = delta(batch)
          val current = if (applied.isEmpty) d.limit(0) else batch.sparkSession.read.parquet(table)
          GridSwap.publish(merge(current, d, keys, aggs), table, batchId)
        }
      }
      .outputMode("append").start()

  /** The time mode of a keyed processor with per-key state `ttl`: state
    * TTL is a processing-time feature, so a non-NONE ttl needs the
    * ProcessingTime mode, and NONE runs without a clock at all. */
  private[streaming] def timeMode(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()

  /** Pattern 5: run `processor` over `grouped` in Update mode and land
    * each micro-batch of its output in `table` through `sink`
    * ([[epochOverwrite]] or [[appendIfNonEmpty]]). The checkpoint lives at
    * `<table>.ckpt` and the query is named `table`, as in [[maintain]],
    * so a restart resumes the keyed state together with the log it feeds.
    * Under a TTL the query runs in [[timeMode]]'s ProcessingTime mode,
    * which schedules a micro-batch every trigger (timers could fire): the
    * trigger is paced at 100 ms so an idle stream does not busy-loop
    * empty batches. */
  def maintainKeyed[K, V, U: Encoder](grouped: KeyValueGroupedDataset[K, V],
      processor: StatefulProcessor[K, V, U], table: String, ttl: TTLConfig = TTLConfig.NONE)
      (sink: String => (Dataset[U], Long) => Unit): StreamingQuery =
    grouped.transformWithState(processor, timeMode(ttl), OutputMode.Update())
      .writeStream
      .queryName(table)
      .option("checkpointLocation", table + ".ckpt")
      .foreachBatch(sink(table))
      .outputMode("update")
      // 0 ms is the default trigger: a batch as soon as the last one ends
      .trigger(Trigger.ProcessingTime(if (ttl == TTLConfig.NONE) 0L else 100L))
      .start()

  /** The merge [[maintain]] applies per batch, shared with batch queries
    * that fold a delta into a stored aggregate (q120). */
  private[graft] def merge(current: DataFrame, delta: DataFrame, keys: Seq[String],
      aggs: Seq[Column]): DataFrame =
    current.unionByName(delta).groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
}
