package graft.streaming

import graft.contentops.Fixture
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A1: the stream-source abstraction. The engine's pipelines consume a
  * DataFrame of raw wire records `(shard INT, seq STRING, payload BINARY)`.
  *
  * THE WIRE CONTRACT FOR `seq` (what every downstream operator assumes):
  * a FIXED-WIDTH decimal STRING, unique per shard, whose lexicographic
  * order is the per-shard arrival order. Kinesis sequence numbers satisfy
  * this natively (56-digit fixed-width decimals — they overflow BIGINT,
  * so a numeric seq could not even represent real data; see
  * [[KinesisWireSource.toWireRecords]]); the local fixture renders its
  * compact op ids zero-padded to width 6 (Fixture.seqStr) to honor the
  * same contract. Downstream, seq is ONLY compared (ordering tiebreak
  * within equal event time) and carried — never parsed as a number —
  * so the string type is the end-to-end representation
  * (ContentStream.EnvelopeRow.seq, ContentOps.envelope's seq column).
  * Where that frame comes from is a deployment concern behind this trait
  * (/root/reference/docs/user-guide.md:13 — per-shard sequential records).
  *
  * Local (zero-egress, no Kinesis connector jar ships in /opt/spark/jars):
  * [[FixtureWireSource]] serves the deterministic fixture as a batch frame,
  * and StreamingSpec drives the stateful operators through MemoryStream.
  *
  * Production: the open-source `spark-sql-kinesis-connector` provides the
  * DSv2 streaming source; per-shard record order surfaces as per-partition
  * order, KCL-style lease/checkpointing is replaced by the query's
  * checkpoint location:
  *
  * {{{
  * val frame = spark.readStream
  *   .format("aws-kinesis")
  *   .option("kinesis.streamName", stream)
  *   .option("kinesis.region", region)
  *   .option("kinesis.consumerType", "GetRecords")
  *   .option("kinesis.startingposition", "TRIM_HORIZON")
  *   .load()                     // → (data binary, partitionKey, sequenceNumber, ...)
  * KinesisWireSource.toWireRecords(frame)   // → (shard, seq, payload)
  * }}}
  *
  * Downstream of this trait everything is identical: gzip_decode →
  * indirection resolve (`HttpResolver`'s window of fetches: HTTP GETs on
  * a pooled client, or the fixture's object store for the fixture's own
  * URLs) → from_json → keyed operators. At 100 TB the resolve stage is
  * the only network-bound operator; it runs mapPartitions over one pooled
  * client per executor, so connection setup amortizes across the
  * executor's lifetime, mirroring the reference's per-shard consumer
  * loop.
  */
trait WireSource {
  def wireRecords(spark: SparkSession): DataFrame
}

/** The deterministic local stand-in (same rows the oracle VALUES encode). */
object FixtureWireSource extends WireSource {
  override def wireRecords(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(Fixture.wireRecords).toDF()
  }
}

/** Production Kinesis wiring for the open-source Spark Kinesis DSv2
  * connector (`spark-sql-kinesis-connector`, format "aws-kinesis") — the
  * reference's per-shard consumer (user-guide.md:13) as a Structured
  * Streaming source. Compiled, unit-tested code (WireSourceSpec); only
  * `reader(...).load()` needs the connector jar + network, so nothing here
  * executes in the zero-egress test environment. */
final case class KinesisSourceConfig(
    streamName: String,
    region: String,
    consumerType: String = "GetRecords", // polling; "SubscribeToShard" = EFO push
    startingPosition: String = "TRIM_HORIZON", // LATEST | TRIM_HORIZON | AT_TIMESTAMP
    endpointUrl: Option[String] = None,
    consumerName: Option[String] = None, // required for EFO
    maxFetchRecordsPerShard: Option[Long] = None,
    maxFetchTimePerShardSec: Option[Int] = None) {
  require(streamName.nonEmpty, "streamName must be non-empty")
  require(region.nonEmpty, "region must be non-empty")
  require(Set("GetRecords", "SubscribeToShard")(consumerType),
    s"unknown consumerType $consumerType")
  require(consumerType != "SubscribeToShard" || consumerName.exists(_.nonEmpty),
    "EFO (SubscribeToShard) requires a consumerName")
}

object KinesisWireSource {
  val Format = "aws-kinesis"

  /** The connector option map — the scaladoc example as tested code. */
  def options(c: KinesisSourceConfig): Map[String, String] =
    Map(
      "kinesis.streamName" -> c.streamName,
      "kinesis.region" -> c.region,
      "kinesis.consumerType" -> c.consumerType,
      "kinesis.startingposition" -> c.startingPosition) ++
      c.endpointUrl.map("kinesis.endpointUrl" -> _) ++
      c.consumerName.map("kinesis.consumerName" -> _) ++
      c.maxFetchRecordsPerShard.map("kinesis.maxFetchRecordsPerShard" -> _.toString) ++
      c.maxFetchTimePerShardSec.map(s => "kinesis.maxFetchTimeInMsPerShard" -> (s * 1000L).toString)

  /** readStream wiring; `.load()` is the caller's (deployment-time) step. */
  def reader(spark: SparkSession, c: KinesisSourceConfig) =
    spark.readStream.format(Format).options(options(c))

  /** Connector output schema (data binary, partitionKey string,
    * sequenceNumber string, optionally shardId string) → the engine's wire
    * schema (shard int, seq, payload binary). Pure column mapping — works
    * on the streaming frame and on any batch stand-in with the same
    * columns.
    *
    * Real-data constraints (not visible on small fixtures):
    *  - `sequenceNumber` is a ~56-digit decimal string: it ALWAYS
    *    overflows BIGINT, so under Spark 4's default ANSI mode a cast
    *    would kill the stream at the first record (and silently null the
    *    key with ANSI off). It is kept as the untouched string; Kinesis
    *    sequence numbers are fixed-width decimals, so lexicographic order
    *    IS numeric order and `(approximateArrivalTimestamp, seq)` struct
    *    orderings work unchanged. The fixture honors the SAME string
    *    contract end-to-end: `Fixture.seqStr` renders its compact op ids
    *    as fixed-width (zero-padded) decimal STRINGS, and the downstream
    *    types (`Fixture.WireRecord.seq`, `ContentStream.EnvelopeRow.seq`)
    *    are String — so this adapter's output is directly consumable by
    *    the engine's envelope/state operators with no cast.
    *  - `partitionKey` is an arbitrary user string, NOT a shard id. The
    *    shard identity comes from the connector's `shardId` metadata
    *    ("shardId-000000000003" → 3) when present; otherwise the key is
    *    hashed into a bounded shard space — stable per key, which is all
    *    the downstream keyed operators require of it. */
  /** Resharding (shard split/merge) handoff — user-guide.md:13's per-shard
    * ordering guarantee EXTENDED across a reshard. Kinesis seals the parent
    * shard(s) before children receive data, so the per-key total order is:
    * every parent record precedes every child record, and within a shard
    * the fixed-width seq string is arrival order. KCL enforces this
    * operationally by draining parents to SHARD_END before leasing
    * children (the "parent-before-child" rule, README.md:2); a DSv2
    * connector surfaces the same topology as each shard's parent ids.
    * Declaratively, the rule is an ORDERING KEY, not a scheduler:
    * `generation` = depth in the ancestry DAG (roots 0, a child is
    * 1 + max over its parents — a merge has two), and sorting a key's
    * records by `(generation, seq)` reproduces the exact pre-reshard
    * order. The engine's stateful folds already order by
    * (event-time, seq); `(generation, seq)` is the wire-order fallback
    * for replays where event time is absent or untrusted.
    *
    * Topology is control-plane metadata (ListShards: hundreds of entries,
    * not data-plane scale), so it travels as a literal map expression —
    * no join, no shuffle, broadcast-free. */
  def shardGenerations(lineage: Seq[(Int, Seq[Int])]): Map[Int, Int] = {
    val parents = lineage.toMap
    val memo = scala.collection.mutable.Map.empty[Int, Int]
    def gen(s: Int, path: Set[Int]): Int = memo.getOrElseUpdate(s, {
      require(!path(s), s"cycle in shard lineage at $s")
      parents.getOrElse(s, Nil) match {
        case Nil => 0
        case ps  => 1 + ps.map(p => gen(p, path + s)).max
      }
    })
    parents.keys.foreach(s => gen(s, Set.empty))
    memo.toMap
  }

  /** Stamp each wire record with its shard's reshard generation (unknown
    * shards — never resharded — are generation 0). Sorting per key by
    * `(generation, seq)` honors the parent-before-child contract. */
  def withLineageOrder(wire: DataFrame, lineage: Seq[(Int, Seq[Int])]): DataFrame = {
    import org.apache.spark.sql.functions._
    val gens = shardGenerations(lineage)
    val genCol =
      if (gens.isEmpty) lit(0)
      else coalesce(
        element_at(
          map(gens.toSeq.flatMap { case (s, g) => Seq(lit(s), lit(g)) }: _*),
          col("shard")),
        lit(0))
    wire.withColumn("generation", genCol)
  }

  /** Handoff audit: given records carrying the OBSERVED processing order
    * (`arrival`, any monotone long — batch id, offset, ingest counter),
    * count child records processed before their parent shard drained —
    * each is a potential per-key reorder a correct consumer never emits.
    * Parent max-arrival is a tiny aggregate over the (bounded) shard
    * dimension, broadcast onto the child rows; corpus-scale work is one
    * scan. */
  def handoffViolations(wireWithArrival: DataFrame,
      lineage: Seq[(Int, Seq[Int])]): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = wireWithArrival.sparkSession
    import spark.implicits._
    val edges = lineage.flatMap { case (c, ps) => ps.map(c -> _) }
      .toDF("child_shard", "parent_shard")
    val parentLast = wireWithArrival.groupBy(col("shard").as("parent_shard"))
      .agg(max("arrival").as("parent_last"))
    wireWithArrival
      .join(broadcast(edges), col("shard") === col("child_shard"), "inner")
      .join(broadcast(parentLast), Seq("parent_shard"), "inner")
      .filter(col("arrival") < col("parent_last"))
      .groupBy("child_shard", "parent_shard")
      .agg(count(lit(1)).as("early_records"),
        min("arrival").as("first_early_arrival"))
      .orderBy("child_shard", "parent_shard")
  }

  /** KCL LEASE TAKEOVER (README.md:2's absent `java` branch runs the KCL
    * client; this models its failover semantics — r11 verdict task 6).
    * Production mapping: each shard is a LEASE row in the KCL lease table
    * (DynamoDB) — `leaseOwner` = the worker currently consuming the
    * shard, `checkpoint` = the last sequence number the owner committed,
    * `leaseCounter` bumped on every ownership change. When a worker
    * stops heartbeating, a peer STEALS the lease (leaseCounter++, owner
    * flips) and resumes from `checkpoint` — NOT from where the dead
    * worker actually got to. Everything the dead worker processed after
    * its last checkpoint is therefore read AGAIN by the successor:
    * lease takeover is an AT-LEAST-ONCE overlap, by design.
    *
    * The engine absorbs that overlap structurally: the A10 latest-state
    * fold is an idempotent upsert — `max_by(state, (date, seq))` over a
    * duplicated slice picks the same row it picked the first time, and a
    * tombstone stays a tombstone — so a re-read range changes NOTHING
    * downstream (WireSourceSpec proves fold(dup) ≡ fold(exact-once)).
    * Structured Streaming's own checkpoint plays the lease-table role
    * for the DSv2 connector (offsets per shard, committed per epoch);
    * this audit exists for the KCL-bridge deployment where Spark ingests
    * a KCL consumer's output and overlap is invisible unless counted.
    *
    * Input: wire records stamped with the reading `worker` (the lease
    * owner that delivered the record — a KCL bridge knows it; replays
    * from one worker carry the same id). Output per shard: distinct
    * records, total reads, `overlap_records` (read more than once — the
    * re-read slice), `max_readers` / `takeovers` (distinct owners − 1 =
    * lease steals), and the re-read range `[overlap_from, overlap_to]`.
    * Shape: two partial-agg'd rollups — (shard, seq) grain then shard
    * grain — plus one broadcast join on the bounded shard dimension;
    * payloads never shuffle. */
  def leaseTakeoverAudit(wireWithWorker: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val perSeq = wireWithWorker.groupBy("shard", "seq")
      .agg(count(lit(1)).as("n_reads"))
    val owners = wireWithWorker.groupBy("shard")
      .agg(countDistinct("worker").as("max_readers"))
    perSeq.groupBy("shard")
      .agg(count(lit(1)).as("n_records"),
        sum("n_reads").as("n_reads"),
        sum(when(col("n_reads") > 1, 1L).otherwise(0L)).as("overlap_records"),
        min(when(col("n_reads") > 1, col("seq"))).as("overlap_from"),
        max(when(col("n_reads") > 1, col("seq"))).as("overlap_to"))
      .join(broadcast(owners), Seq("shard"))
      .withColumn("takeovers", col("max_readers") - 1)
      .select("shard", "n_records", "n_reads", "overlap_records",
        "overlap_from", "overlap_to", "max_readers", "takeovers")
      .orderBy("shard")
  }

  def toWireRecords(df: DataFrame, numShards: Int = 1024): DataFrame = {
    import org.apache.spark.sql.functions._
    val hashShard = pmod(xxhash64(col("partitionKey")), lit(numShards.toLong)).cast("int")
    // TRY_CAST + fallback: a malformed shardId must degrade to the hash
    // shard, not throw under ANSI mode (regexp_extract returns '' on a
    // non-match, and CAST('' AS INT) would kill the stream — the same
    // failure class as casting the 56-digit sequence number)
    val shard =
      if (df.columns.contains("shardId"))
        coalesce(expr("TRY_CAST(regexp_extract(shardId, '([0-9]+)$', 1) AS INT)"), hashShard)
      else hashShard
    df.select(
      shard.as("shard"),
      col("sequenceNumber").as("seq"),
      col("data").as("payload"))
  }
}
