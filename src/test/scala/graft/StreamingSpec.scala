package graft

import java.sql.Timestamp

import graft.contentops.{ContentOps, Fixture}
import graft.streaming.ContentStream
import graft.streaming.ContentStream._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Proves every true Structured Streaming form converges to its
  * oracle-checked batch twin when the same fixture arrives in multiple
  * microbatches (SURVEY.md §5 "streaming semantics"). */
class StreamingSpec extends SparkSpec {

  private def envRows: Seq[EnvelopeRow] = Fixture.expected.map { o =>
    EnvelopeRow(Fixture.seqStr(o.seq), o.operation, Timestamp.from(o.date), o.id, o.branch,
      o.published, o.created, o.headline, o.wordCount)
  }

  /** Explicit checkpoint dir for stateful queries: a TEMPORARY checkpoint
    * (no option set) is deleted by `query.stop()`, and a microbatch commit
    * still in flight at stop then fails its state-store rename with a
    * logged ERROR (`CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT`, r8's
    * transient) — an explicit location is never deleted on stop, so the
    * race cannot fire. */
  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft_ckpt").toString

  test("latest-state (transformWithState, RocksDB store) converges to the batch q52 result") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EnvelopeRow]
    val query = ContentStream.latestState(ms.toDS())
      .writeStream.format("memory").queryName("tws_sink").outputMode("update")
      .option("checkpointLocation", ckpt()).start()
    try {
      envRows.grouped(100).foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      val w = Window.partitionBy("id", "branch", "published")
        .orderBy(desc("lastDate"), desc("lastSeq"))
      val got = spark.table("tws_sink")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && !col("deleted"))
        .select(col("id"), col("branch"), col("published"), col("lastSeq").as("last_seq"))
      val want = ContentOps.queries("q52_latest_state")(spark, sf)
        .select("id", "branch", "published", "last_seq")
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    } finally query.stop()
  }

  test("ANS-schema gate as a streaming wire stage converges to batch q365") {
    // The q365 gate's production shape is a stage in the wire path: a
    // row-local reason classification on every micro-batch record, BEFORE
    // the A6 filter drops the violators silently (r15 verdict task 6).
    // Stream the full audit tape (every op + alien ping + broken-URL
    // indirections + malformed specimens) through ContentOps.ansGate in
    // chunks; the per-record reasons, re-aggregated, must equal the
    // oracle-checked batch q365 exactly — reason set, counts, first_seq.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Int, String, Array[Byte])]
    val wire = ms.toDF().toDF("shard", "seq", "payload")
    val query = ContentOps.ansGate(spark, wire)
      .select("shard", "seq", "reason")
      .writeStream.format("memory").queryName("ansgate_sink").outputMode("append")
      .option("checkpointLocation", ckpt()).start()
    try {
      Fixture.auditWireRecords.map(w => (w.shard, w.seq, w.payload)).grouped(7)
        .foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      val got = spark.table("ansgate_sink")
        .groupBy("reason")
        .agg(count(lit(1)).as("n"), min("seq").as("first_seq"))
      val want = ContentOps.queries("q365_ans_schema_gate")(spark, sf)
      assert(got.exceptAll(want).count() === 0, "stream gate rows not in batch q365")
      assert(want.exceptAll(got).count() === 0, "batch q365 rows not in stream gate")
      // every record is classified exactly once (the stage drops nothing)
      assert(spark.table("ansgate_sink").count() ===
        Fixture.auditWireRecords.size.toLong)
    } finally query.stop()
  }

  test("END-TO-END wire chain: gzip bytes → envelope → latest-state as ONE streaming query") {
    // The reference consumer is not three separate jobs — it is one
    // process: read wire records, decode/resolve/parse, fold into CMS
    // state. This pins that composition as a single Structured Streaming
    // query: MemoryStream of raw (shard, seq, gzip-bytes) → the SAME
    // envelopeFromWire stage the batch q50 oracle checks (codegen gzip,
    // S3-indirection resolve, discriminator filter, projection) → the
    // transformWithState latest-state processor — and the converged state
    // must equal batch q52 exactly. Any stage breaking streaming
    // compatibility (an action, a non-incremental op) fails here, not in
    // production.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Int, String, Array[Byte])]
    val wire = ms.toDF().toDF("shard", "seq", "payload")
    val ds = ContentOps.envelopeFromWire(spark, wire)
      .select(col("seq"), col("operation"),
        col("date").cast("timestamp").as("date"), col("id"), col("branch"),
        col("published"), col("created"),
        coalesce(col("headline"), lit("")).as("headline"),
        coalesce(col("word_count"), lit(0)).as("wordCount"))
      .as[EnvelopeRow]
    val query = ContentStream.latestState(ds)
      .writeStream.format("memory").queryName("chain_sink").outputMode("update")
      .option("checkpointLocation", ckpt()).start()
    try {
      Fixture.wireRecords.map(w => (w.shard, w.seq, w.payload)).grouped(7)
        .foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      val w = Window.partitionBy("id", "branch", "published")
        .orderBy(desc("lastDate"), desc("lastSeq"))
      val got = spark.table("chain_sink")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && !col("deleted"))
        .select(col("id"), col("branch"), col("published"), col("lastSeq").as("last_seq"))
      val want = ContentOps.queries("q52_latest_state")(spark, sf)
        .select("id", "branch", "published", "last_seq")
      assert(got.exceptAll(want).count() === 0, "chain state not in batch q52")
      assert(want.exceptAll(got).count() === 0, "batch q52 state not in chain")
    } finally query.stop()
  }

  test("transformWithState TTL expires latest-state: a stale record resurrects after expiry") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // TTL forces TimeMode.ProcessingTime, where the engine schedules a
    // microbatch EVERY trigger (timers could fire), so processAllAvailable
    // and AvailableNow never "drain". Run on a slow trigger and poll the
    // sink with a hard deadline instead.
    val ms = MemoryStream[EnvelopeRow]
    val query = ContentStream.latestState(ms.toDS(),
        org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(500)))
      .writeStream.format("memory").queryName("ttl_sink").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", ckpt())
      .start()
    try {
      def awaitSeq(seq: String, what: String): Unit = {
        val deadline = System.currentTimeMillis + 30000
        while (!spark.table("ttl_sink").select("lastSeq").as[String].collect().contains(seq)) {
          if (System.currentTimeMillis > deadline) fail(s"$what (seq $seq never surfaced)")
          Thread.sleep(200)
        }
      }
      val newer = EnvelopeRow(Fixture.seqStr(10), "insert-story", new Timestamp(2000000L),
        "TTLDOC", "default", published = true, created = true, "h10", 100)
      val older = EnvelopeRow(Fixture.seqStr(5), "insert-story", new Timestamp(1000000L),
        "TTLDOC", "default", published = true, created = true, "h5", 100)
      ms.addData(Seq(newer)); awaitSeq(Fixture.seqStr(10), "first record not materialized")
      Thread.sleep(1500) // well past the 500 ms TTL
      // with live state the older record would be suppressed (not newer);
      // its emission proves the key's state expired and was rebuilt
      ms.addData(Seq(older))
      awaitSeq(Fixture.seqStr(5), "state survived past its TTL: the stale record was suppressed")
    } finally query.stop()
  }

  test("streaming session_window aggregation converges to the batch sessionized() form") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val static = Tables.events(spark, sf).select("user_id", "ts", "value")
    val rows = static.as[(Long, Timestamp, Double)].collect().toSeq.sortBy(_._2.getTime)
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val stream = graft.operators.StreamSemantics.sessionized(
      ms.toDF().toDF("user_id", "ts", "value"))
    // complete mode: every (still-open and closed) session surfaces, so the
    // final table must equal the batch result exactly
    val query = stream.writeStream.format("memory").queryName("sw_sink")
      .outputMode("complete").start()
    try {
      rows.grouped(250).foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      val got = spark.table("sw_sink")
      val want = graft.operators.StreamSemantics.sessionized(static)
      assert(got.count() > 0)
      // session identity (key, boundaries, count) compares exactly; the
      // double sum compares with tolerance — streaming merges sessions
      // incrementally, so its fold order differs from the batch plan's and
      // a .xx5-boundary sum could round differently at 2 dp
      val keyCols = Seq("user_id", "t_start", "t_end", "n_events")
      assert(got.select(keyCols.map(col): _*)
        .exceptAll(want.select(keyCols.map(col): _*)).count() === 0)
      assert(want.select(keyCols.map(col): _*)
        .exceptAll(got.select(keyCols.map(col): _*)).count() === 0)
      val maxDiff = got.alias("g")
        .join(want.alias("w"), keyCols)
        .select(max(abs(col("g.sum_value") - col("w.sum_value"))))
        .head.getDouble(0)
      assert(maxDiff < 1e-6, s"sum_value diverged by $maxDiff")
    } finally query.stop()
  }

  test("transformWithState publish transitions equal the batch q54 events") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EnvelopeRow]
    val query = ContentStream.publishTransitions(ms.toDS())
      .writeStream.format("memory").queryName("pt_sink").outputMode("append").start()
    try {
      envRows.grouped(75).foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      val got = spark.table("pt_sink").select("seq", "event").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val want = ContentOps.queries("q54_publish_transitions")(spark, sf)
        .select("seq", "event").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === want)
    } finally query.stop()
  }

  test("sub-millisecond event times: both stateful streams order by the full timestamp, as batch does") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // One key, one micro-batch, two records inside the same millisecond:
    // the insert at 0.5 ms carries the HIGHER seq, the delete at 0.9 ms the
    // lower one. By (date, seq) the delete is newer, so the document is
    // gone and the published copy was published, then unpublished; a
    // millisecond-truncated order would fall back to seq and flip both.
    val rows = Seq(
      EnvelopeRow("000010", "insert-story", Timestamp.valueOf("2024-03-01 00:00:00.0005"),
        "SUBMS", "default", published = true, created = true, "h", 100),
      EnvelopeRow("000005", "delete-story", Timestamp.valueOf("2024-03-01 00:00:00.0009"),
        "SUBMS", "default", published = true, created = false, "h", 100))
    val batch = spark.createDataset(rows).toDF()

    val ls = MemoryStream[EnvelopeRow]
    val latest = ContentStream.latestState(ls.toDS())
      .writeStream.format("memory").queryName("subms_ls_sink").outputMode("update")
      .option("checkpointLocation", ckpt()).start()
    val pt = MemoryStream[EnvelopeRow]
    val trans = ContentStream.publishTransitions(pt.toDS())
      .writeStream.format("memory").queryName("subms_pt_sink").outputMode("append")
      .option("checkpointLocation", ckpt()).start()
    try {
      ls.addData(rows); latest.processAllAvailable()
      pt.addData(rows); trans.processAllAvailable()
      val gotLatest = spark.table("subms_ls_sink").select("lastSeq", "deleted").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq
      val wantLatest = batch.groupBy("id", "branch", "published")
        .agg(max_by(struct(col("seq"), col("operation")), struct(col("date"), col("seq"))).as("last"))
        .select(col("last.seq"), col("last.operation").startsWith("delete"))
        .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
      assert(wantLatest === Seq(("000005", true)))
      assert(gotLatest === wantLatest)
      val w = Window.partitionBy("id", "branch").orderBy(col("date"), col("seq"))
      val wantTrans = batch.filter(col("published"))
        .withColumn("verb", split(col("operation"), "-").getItem(0))
        .withColumn("prev_verb", lag(col("verb"), 1).over(w))
        .filter((col("verb") === "insert" && (col("prev_verb").isNull || col("prev_verb") === "delete")) ||
          (col("verb") === "delete" && col("prev_verb") === "insert"))
        .select(col("seq"), when(col("verb") === "insert", "publish").otherwise("unpublish"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(wantTrans === Set(("000010", "publish"), ("000005", "unpublish")))
      val gotTrans = spark.table("subms_pt_sink").select("seq", "event").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(gotTrans === wantTrans)
    } finally { latest.stop(); trans.stop() }
  }

  test("watermarked windowed publish analytics matches a batch window count") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EnvelopeRow]
    val query = ContentStream.publishAnalytics(ms.toDS().toDF())
      .writeStream.format("memory").queryName("pa_sink").outputMode("update").start()
    try {
      envRows.grouped(120).foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      // counts are monotone per key; the final value per key is the max.
      val got = spark.table("pa_sink")
        .groupBy("hour", "ctype").agg(max("n_published").as("n_published"))
      val want = ms.toDS().toDF().sparkSession.createDataset(envRows).toDF()
        .filter(col("published") && col("created") && col("operation").startsWith("insert"))
        .groupBy(date_trunc("hour", col("date")).as("hour"),
          split(col("operation"), "-").getItem(1).as("ctype"))
        .agg(count(lit(1)).as("n_published"))
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses redelivered records") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EnvelopeRow]
    val query = ContentStream.dedupStream(ms.toDS().toDF())
      .writeStream.format("memory").queryName("dd_sink").outputMode("append").start()
    try {
      val rows = envRows.take(80)
      ms.addData(rows); query.processAllAvailable()
      ms.addData(rows.take(40)) // Kinesis at-least-once redelivery
      query.processAllAvailable()
      assert(spark.table("dd_sink").count() === 80)
    } finally query.stop()
  }

  test("stream-stream interval join: publishes matched to referent updates within 1h") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // two independent streams derived from the fixture: publish proxies and
    // referent-update arrivals, joined on id within an event-time interval —
    // watermarks bound both join states.
    val allRows = Fixture.expected.map { o =>
      (Fixture.seqStr(o.seq), o.id, java.sql.Timestamp.from(o.date),
        o.published && o.created, o.referent)
    }
    val pubs = MemoryStream[(String, String, java.sql.Timestamp, Boolean, Boolean)]
    val refs = MemoryStream[(String, String, java.sql.Timestamp, Boolean, Boolean)]
    val pubDf = pubs.toDS().toDF("p_seq", "id", "p_ts", "is_pub", "is_ref")
      .filter(col("is_pub")).withWatermark("p_ts", "1 hour")
    val refDf = refs.toDS().toDF("r_seq", "r_id", "r_ts", "is_pub", "is_ref")
      .filter(col("is_ref")).withWatermark("r_ts", "1 hour")
    val joined = pubDf.join(refDf,
      col("id") === col("r_id") &&
        col("r_ts") >= col("p_ts") && col("r_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"))
    val query = joined.select("p_seq", "r_seq").writeStream
      .format("memory").queryName("ss_sink").outputMode("append").start()
    try {
      allRows.grouped(100).foreach { c => pubs.addData(c); refs.addData(c); query.processAllAvailable() }
      val got = spark.table("ss_sink").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      // batch oracle: same join in batch
      val b = spark.createDataset(allRows).toDF("seq", "id", "ts", "is_pub", "is_ref")
      val want = b.filter(col("is_pub")).select(col("seq").as("p_seq"), col("id"), col("ts").as("p_ts"))
        .join(b.filter(col("is_ref")).select(col("seq").as("r_seq"), col("id").as("r_id"), col("ts").as("r_ts")),
          col("id") === col("r_id") &&
            col("r_ts") >= col("p_ts") && col("r_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"))
        .select("p_seq", "r_seq").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === want)
    } finally query.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched rows emit with nulls after watermark eviction") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // outer semantics need state EXPIRY: an unmatched left row can only be
    // emitted (with nulls) once the watermark proves no matching right row
    // can still arrive. Far-future sentinel rows advance both watermarks
    // past every fixture row; the extra empty-ish microbatch lets the new
    // watermark evict and emit (watermarks apply one batch behind).
    val fixture = Fixture.expected.map { o =>
      (Fixture.seqStr(o.seq), o.id, java.sql.Timestamp.from(o.date),
        o.published && o.created, o.referent)
    }
    val far = new java.sql.Timestamp(
      fixture.map(_._3.getTime).max + 7L * 24 * 3600 * 1000)
    val sentinelL = ("zzzzz1", "__SENTINEL__", far, true, false)
    val sentinelR = ("zzzzz2", "__SENTINEL__", far, false, true)
    val pubs = MemoryStream[(String, String, java.sql.Timestamp, Boolean, Boolean)]
    val refs = MemoryStream[(String, String, java.sql.Timestamp, Boolean, Boolean)]
    val pubDf = pubs.toDS().toDF("p_seq", "id", "p_ts", "is_pub", "is_ref")
      .filter(col("is_pub")).withWatermark("p_ts", "1 hour")
    val refDf = refs.toDS().toDF("r_seq", "r_id", "r_ts", "is_pub", "is_ref")
      .filter(col("is_ref")).withWatermark("r_ts", "1 hour")
    val joined = pubDf.join(refDf,
      col("id") === col("r_id") &&
        col("r_ts") >= col("p_ts") && col("r_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    val query = joined.select("p_seq", "r_seq").writeStream
      .format("memory").queryName("sso_sink").outputMode("append").start()
    try {
      fixture.grouped(100).foreach { c => pubs.addData(c); refs.addData(c); query.processAllAvailable() }
      pubs.addData(Seq(sentinelL)); refs.addData(Seq(sentinelR)); query.processAllAvailable()
      pubs.addData(Seq(sentinelL)); refs.addData(Seq(sentinelR)); query.processAllAvailable()
      val got = spark.table("sso_sink").filter(col("p_seq") < "zzzzz")
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      val b = spark.createDataset(fixture).toDF("seq", "id", "ts", "is_pub", "is_ref")
      val want = b.filter(col("is_pub")).select(col("seq").as("p_seq"), col("id"), col("ts").as("p_ts"))
        .join(b.filter(col("is_ref")).select(col("seq").as("r_seq"), col("id").as("r_id"), col("ts").as("r_ts")),
          col("id") === col("r_id") &&
            col("r_ts") >= col("p_ts") && col("r_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select("p_seq", "r_seq").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(got === want)
      assert(got.exists(_._2.isEmpty), "no unmatched (null-joined) rows surfaced")
    } finally query.stop()
  }

  test("checkpoint recovery: a restarted stateful query resumes without reprocessing") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckout").toString
    val ms = MemoryStream[EnvelopeRow]
    // file sinks support checkpoint recovery (the memory sink does not);
    // publishTransitions is append-mode so it can land in parquet.
    def start() = ContentStream.publishTransitions(ms.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    ms.addData(envRows.take(150)); q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same checkpoint → resumes from committed offsets + state
    try {
      ms.addData(envRows.drop(150)); q2.processAllAvailable()
    } finally q2.stop()

    val sink = spark.read.parquet(out)
    // every event exactly once across the restart, equal to the batch oracle
    assert(sink.count() === sink.distinct().count())
    val got = sink.select("seq", "event").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = ContentOps.queries("q54_publish_transitions")(spark, sf)
      .select("seq", "event").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === want)
  }

  test("transformWithState restart-from-checkpoint: RocksDB state survives, zero re-emissions") {
    // r13 verdict task 4: state-store RECOVERY for latest-state, not
    // just for publishTransitions above — at 100 TB the latest-state
    // store is RocksDB-backed and executor loss is routine, so "restart
    // on the same checkpoint resumes the fold mid-stream" is the
    // production claim. latestState emits in Update mode (no file sink),
    // so emissions are journaled through foreachBatch into parquet with
    // their batch id; the batch id sequence continues across the restart
    // because the checkpoint owns it.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckptDir = ckpt()
    val out = java.nio.file.Files.createTempDirectory("graft_twsout").toString
    val ms = MemoryStream[EnvelopeRow]
    def start() = ContentStream.latestState(ms.toDS()).toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        batch.withColumn("batch_id", lit(bid))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckptDir).outputMode("update").start()

    val q1 = start()
    envRows.take(150).grouped(50).foreach { c => ms.addData(c); q1.processAllAvailable() }
    q1.stop()
    val afterHalf = spark.read.parquet(out).count()
    assert(afterHalf > 0L)

    val q2 = start() // same checkpoint → committed offsets + RocksDB state
    try {
      // drain with NO new data first: a restart must not replay
      // committed batches — emission count stays exactly where it was
      q2.processAllAvailable()
      assert(spark.read.parquet(out).count() === afterHalf,
        "restart re-emitted already-committed microbatches")
      envRows.drop(150).grouped(50).foreach { c => ms.addData(c); q2.processAllAvailable() }
    } finally q2.stop()

    // the fold carried state ACROSS the restart: most-recent emission
    // per key (batch id is the recency axis) equals the batch twin
    val w = Window.partitionBy("id", "branch", "published").orderBy(desc("batch_id"))
    val got = spark.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .select(col("id"), col("branch"), col("published"), col("lastSeq").as("last_seq"))
    val want = ContentOps.queries("q52_latest_state")(spark, sf)
      .select("id", "branch", "published", "last_seq")
    assert(got.exceptAll(want).count() === 0, "restarted fold not in batch q52")
    assert(want.exceptAll(got).count() === 0, "batch q52 state missing from restarted fold")
  }

  test("transformWithState disorder audit (O(1) state) converges to batch q166") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DisorderStream
    import graft.streaming.DisorderStream.WireEvent
    // arrival order for q166 is the ingest sequence: feed event_id-sorted
    val events = Tables.events(spark, sf)
      .select(col("event_id").as("eventId"), col("ts"),
        col("event_type").as("eventType"))
      .as[WireEvent]
      .collect().sortBy(_.eventId).toSeq
    val ms = MemoryStream[WireEvent]
    val query = DisorderStream.disorder(ms.toDS())
      .writeStream.format("memory").queryName("dis_sink")
      .option("checkpointLocation", ckpt())
      .outputMode("append").start()
    try {
      events.grouped(400).foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      // last emitted row per feed = converged totals
      val w = Window.partitionBy("eventType").orderBy(desc("nEvents"))
      val got = spark.table("dis_sink")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("eventType").as("event_type"), col("nEvents").as("n_events"),
          col("nLate").as("n_late"), expr("maxLagUs div 1000").as("max_lag_ms"))
      val want = graft.operators.StreamSemantics
        .queries("q166_disorder_audit")(spark, sf)
        .select("event_type", "n_events", "n_late", "max_lag_ms")
      assert(got.exceptAll(want).count() === 0, "streaming disorder not in batch")
      assert(want.exceptAll(got).count() === 0, "batch disorder not in stream")
    } finally query.stop()
  }

  test("transformWithState rolling anomaly (bounded ListState) converges to batch q113") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.MetricStream
    import graft.streaming.MetricStream.MetricEvent
    // the stream contract is per-key arrival order; feeding the fixture
    // globally (ts, event_id)-sorted in chunks preserves it per key
    val events = Tables.events(spark, sf)
      .select(col("event_id").as("eventId"), col("ts"),
        col("user_id").as("userId"), col("event_type").as("eventType"),
        col("value"))
      .as[MetricEvent]
      .collect().sortBy(e => (e.ts.getTime, e.eventId)).toSeq
    val ms = MemoryStream[MetricEvent]
    val query = MetricStream.rollingAnomalies(ms.toDS())
      .writeStream.format("memory").queryName("anom_sink")
      .outputMode("append").start()
    try {
      events.grouped(700).foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      val got = spark.table("anom_sink")
        .groupBy(col("eventType").as("event_type"))
        .agg(sum(when(col("scored"), 1L).otherwise(0L)).as("n_scored"),
          sum(when(col("anomalous"), 1L).otherwise(0L)).as("n_anomalies"),
          sum(when(col("anomalous"), col("eventId")).otherwise(0L)).as("id_checksum"))
      val want = graft.operators.ScaleOps.queries("q113_rolling_anomaly")(spark, sf)
      assert(got.exceptAll(want).count() === 0, "streaming verdicts not in batch")
      assert(want.exceptAll(got).count() === 0, "batch verdicts not in stream")
      // every event got exactly one verdict
      assert(spark.table("anom_sink").count() === events.size.toLong)
    } finally query.stop()
  }

  test("streaming rolling actives: closed windows converge to batch q114") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.MetricStream
    import graft.streaming.MetricStream.MetricEvent
    val events = Tables.events(spark, sf)
      .select(col("event_id").as("eventId"), col("ts"),
        col("user_id").as("userId"), col("event_type").as("eventType"), col("value"))
      .as[MetricEvent]
      .collect().sortBy(e => (e.ts.getTime, e.eventId)).toSeq
    // a far-future PURCHASE (filtered streams only see purchases) whose
    // exploded days push the watermark past every real window end; its
    // own spurious windows sit 30+ days out and are excluded from compare
    val flush = MetricEvent(999999L,
      new java.sql.Timestamp(events.map(_.ts.getTime).max + 30L * 86400 * 1000),
      999999L, "purchase", 0.0)
    val ms = MemoryStream[MetricEvent]
    val query = MetricStream.rollingActives(
        ms.toDS().toDF()
          .withColumnRenamed("userId", "user_id")
          .withColumnRenamed("eventType", "event_type"))
      .writeStream.format("memory").queryName("ra_sink").outputMode("append").start()
    try {
      events.grouped(1500).foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      // advance the watermark far past the last real window so every
      // window with data finalizes and is emitted
      ms.addData(Seq(flush)); query.processAllAvailable()
      val got = spark.table("ra_sink")
        .select((unix_timestamp(col("day")) / 86400).cast("long").as("day"),
          col("n_active"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.operators.StreamSemantics.queries("q114_rolling_actives")(spark, sf)
        .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("n_active")).toMap
      // batch reports only window ends on days PRESENT in the data;
      // streaming emits every window end a purchase contributes to —
      // batch must be a sub-map of streaming, equal where both exist
      want.foreach { case (d, n) =>
        assert(got.get(d) === Some(n), s"window end day $d: batch $n vs stream ${got.get(d)}")
      }
      assert(got.size >= want.size)
    } finally query.stop()
  }

  test("stream-static join enriches the stream without shuffling the static side") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EnvelopeRow]
    val dim = Seq(("ABC", "newsroom"), ("XYZ", "newsroom"))
      .toDF("id", "desk")
      .unionByName(envRows.map(_.id).distinct.filterNot(Set("ABC", "XYZ"))
        .map(i => (i, "wire")).toDF("id", "desk"))
    val joined = ms.toDS().toDF().join(broadcast(dim), "id")
    val query = joined.writeStream.format("memory").queryName("sj_sink")
      .outputMode("append").start()
    try {
      ms.addData(envRows.take(100)); query.processAllAvailable()
      assert(spark.table("sj_sink").count() === 100)
      assert(spark.table("sj_sink").filter(col("desk").isNull).count() === 0)
    } finally query.stop()
  }
  test("q120 streaming twin: foreachBatch delta maintenance converges to batch") {
    // B79's streaming form: seed the maintained table with the OLD
    // snapshot's aggregates, stream the signed delta rows in several
    // micro-batches through StatsStream.maintain (the foreachBatch MERGE
    // sink), and the final table must equal batch q120 EXACTLY — the
    // stats are integer sums, so convergence is equality, not tolerance.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatsStream
    val table = java.nio.file.Files.createTempDirectory("graft_stats").toString + "/stats"
    graft.operators.CurationOps.q120OldStats(spark, sf).write.parquet(table)
    val deltas = graft.operators.CurationOps.q120Delta(spark, sf)
      .as[StatsStream.DeltaRow].collect().toSeq
    assert(deltas.size > 100, "fixture delta must be non-trivial")
    val ms = MemoryStream[StatsStream.DeltaRow]
    val query = StatsStream.maintain(ms.toDS().toDF(), table)
    try {
      deltas.grouped(deltas.size / 3 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = spark.read.parquet(table)
      val want = graft.operators.CurationOps.queries("q120_incremental_stats")(spark, sf)
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    } finally query.stop()
  }
  test("q138 streaming twin: maintained per-key counts reproduce the batch salt plan exactly") {
    // B97's streaming form: maintain (user_id, freq) incrementally from
    // the event feed, then run the SAME saltPlanFromCounts batch q138
    // runs — all-integer derivation, so convergence is equality.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.SaltStream
    val table = java.nio.file.Files.createTempDirectory("graft_salt").toString + "/counts"
    val ids = Tables.events(spark, sf).select("user_id").collect()
      .map(_.getAs[Long]("user_id")).toSeq
    val ms = MemoryStream[Long]
    val query = SaltStream.maintain(ms.toDS().toDF("user_id"), table)
    try {
      ids.grouped(ids.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = graft.operators.ScaleOps.saltPlanFromCounts(spark.read.parquet(table))
        .collect().toSeq
      val want = graft.operators.ScaleOps.queries("q138_salt_plan")(spark, sf)
        .collect().toSeq
      assert(got === want)
    } finally query.stop()
  }

  test("q175 streaming twin: maintained shard loads reproduce the batch rebalance exactly") {
    // B135's streaming form: maintain (shard, n_events, load) by
    // associative sum merge, then run the SAME rebalanceFromLoads batch
    // q175 runs — all-integer derivation, so convergence is equality.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.ShardStream
    val table = java.nio.file.Files.createTempDirectory("graft_shard").toString + "/loads"
    val rows = Tables.events(spark, sf).select("user_id", "props").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("props"))).toSeq
    val ms = MemoryStream[(Long, String)]
    val query = ShardStream.maintain(ms.toDS().toDF("user_id", "props"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = graft.operators.ScaleOps
        .rebalanceFromLoads(spark.read.parquet(table)).collect().toSeq
      val want = graft.operators.ScaleOps.queries("q175_shard_rebalance")(spark, sf)
        .collect().toSeq
      assert(got === want)
    } finally query.stop()
  }

  test("q198 streaming twin: maintained bloom words converge and replays are free (OR idempotence)") {
    // B163's streaming form: maintain (block_id, word) by bit_or merge —
    // associative, commutative AND idempotent, so a replayed batch must
    // leave the table bit-identical (the stronger-than-sum-merge claim
    // BloomStream's scaladoc makes). Convergence = word-for-word equality
    // with the batch reduction over the same rows at the same width.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.BloomStream
    val table = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/words"
    val rows = Tables.orders(spark, sf).select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"))).toSeq
    val width = rows.map(_._1).max / 16 + 1
    val ms = MemoryStream[(Long, Long)]
    val query = BloomStream.maintain(ms.toDS().toDF("o_orderkey", "o_custkey"), table, width)
    try {
      val chunks = rows.grouped(rows.size / 4 + 1).toSeq
      chunks.foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      val afterAll = spark.read.parquet(table).collect()
        .map(r => (r.getAs[Long]("block_id"), r.getAs[Long]("word"))).toMap
      val want = graft.operators.ScaleOps
        .bloomWordsFrom(Tables.orders(spark, sf), width).collect()
        .map(r => (r.getAs[Long]("block_id"), r.getAs[Long]("word"))).toMap
      assert(afterAll === want)
      // at-least-once replay: re-deliver the first chunk, table unchanged
      ms.addData(chunks.head); query.processAllAvailable()
      val afterReplay = spark.read.parquet(table).collect()
        .map(r => (r.getAs[Long]("block_id"), r.getAs[Long]("word"))).toMap
      assert(afterReplay === want)
    } finally query.stop()
  }

  test("q144 streaming twin: keyed-state fingerprint index converges and replays append NOTHING") {
    // B104's streaming form: the index lives in per-fp ValueState
    // (transformWithState, RocksDB), each batch touching only its own
    // keys; the sink is an append-only delta log of CHANGED keys. A
    // replayed chunk finds state already at the min, emits nothing, and
    // the log's file set is bit-identical — a strictly stronger check
    // than "the reduce still converges". The min-reduced view equals
    // the batch fpIndexFrom reduction over the same rows.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexStream
    val table = java.nio.file.Files.createTempDirectory("graft_fpix").toString + "/index"
    val rows = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq
    val ms = MemoryStream[(Long, String)]
    val query = IndexStream.maintain(ms.toDS().toDF("doc_id", "text"), table)
    try {
      assert(query.name === table, "a maintained keyed query is named after its table")
      val chunks = rows.grouped(rows.size / 4 + 1).toSeq
      chunks.foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      def read() = IndexStream.readIndex(spark, table).collect()
        .map(r => (r.getAs[String]("fp"), r.getAs[Long]("first_doc"))).toMap
      def logFiles() = new java.io.File(table).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      val afterAll = read()
      val want = graft.operators.Dedup
        .fpIndexFrom(Tables.documents(spark, sf)).collect()
        .map(r => (r.getAs[String]("fp"), r.getAs[Long]("first_doc"))).toMap
      assert(afterAll === want)
      // at-least-once replay: state already holds every min, so the
      // processor emits zero updates and the delta log gains no files
      val before = logFiles()
      ms.addData(chunks.head); query.processAllAvailable()
      assert(read() === want)
      assert(logFiles() === before, "replay appended to the delta log")
    } finally query.stop()
  }

  test("q144 twin TTL: an expired fingerprint is re-admitted as first-sight; a live one stays suppressed") {
    // r11 verdict task 4: the fp-grain twins' scaladocs name state TTL as
    // the retention lever — this pins the knob's semantics in two
    // INDEPENDENTLY-timed phases (one stream each), so neither assertion
    // races the parquet-poll latency that a single shared TTL window
    // would: (a) under a 10-minute TTL a re-arrival is suppressed — the
    // state is alive no matter how slowly the polls run; (b) under a 2 s
    // TTL, after the first append is CONFIRMED and 8 s have passed, the
    // key is expired for certain — its next arrival EMITS (the log gains
    // an append), the bounded-retention behavior an unbounded keyspace
    // needs. TTL forces TimeMode.ProcessingTime, where the engine
    // schedules a micro-batch every trigger — processAllAvailable never
    // "drains" (the ContentStream TTL lesson) — so both phases poll the
    // delta log with hard deadlines.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexStream
    def countDocs(table: String, doc: Long) = {
      val d = new java.io.File(table)
      if (!d.exists() || d.listFiles().forall(!_.getName.endsWith(".parquet"))) 0L
      else spark.read.parquet(table).filter(col("first_doc") === doc).count()
    }
    def awaitDoc(table: String, doc: Long, what: String): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (countDocs(table, doc) < 1L) {
        if (System.currentTimeMillis > deadline) fail(s"$what (doc $doc never surfaced)")
        Thread.sleep(200)
      }
    }
    // phase (a): long TTL — live state suppresses, timing-immune
    val liveTable = java.nio.file.Files.createTempDirectory("graft_fpttl_live").toString + "/index"
    val msLive = MemoryStream[(Long, String)]
    val live = IndexStream.maintain(msLive.toDS().toDF("doc_id", "text"), liveTable,
      ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMinutes(10)))
    try {
      msLive.addData(Seq((100L, "ttl probe document")))
      awaitDoc(liveTable, 100L, "first sight did not append")
      msLive.addData(Seq((300L, "ttl probe document")))
      Thread.sleep(3000) // several 100 ms triggers: the batch definitely ran
      assert(countDocs(liveTable, 300L) === 0L, "live-state re-arrival appended")
    } finally live.stop()
    // phase (b): short TTL — expiry re-admits, lower-bounded by a sleep
    // that starts only after the first append is confirmed on disk
    val expTable = java.nio.file.Files.createTempDirectory("graft_fpttl_exp").toString + "/index"
    val msExp = MemoryStream[(Long, String)]
    val exp = IndexStream.maintain(msExp.toDS().toDF("doc_id", "text"), expTable,
      ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofSeconds(2)))
    try {
      msExp.addData(Seq((100L, "ttl probe document")))
      awaitDoc(expTable, 100L, "first sight did not append")
      Thread.sleep(8000) // ≫ 2 s TTL, measured from the CONFIRMED append
      // doc 200 > 100: an un-evicted min would suppress it — its
      // admission as first-sight proves the fingerprint expired
      msExp.addData(Seq((200L, "ttl probe document")))
      awaitDoc(expTable, 200L,
        "post-expiry re-arrival was suppressed: TTL did not evict the fingerprint")
      assert(countDocs(expTable, 200L) === 1L)
    } finally exp.stop()
  }

  test("q248 streaming twin: maintained octave grid reproduces the batch PSI report exactly") {
    // B208's streaming form: maintain the bounded (source, length-octave)
    // count grid by associative sum merge, then run the SAME psiFromCells
    // closing pass batch q248 runs — all-integer fixed-point, so
    // convergence is equality, banded verdicts included.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.DriftStream
    val table = java.nio.file.Files.createTempDirectory("graft_drift").toString + "/grid"
    val rows = Tables.documents(spark, sf).select("source", "n_chars").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_chars"))).toSeq
    val ms = MemoryStream[(String, Long)]
    val query = DriftStream.maintain(ms.toDS().toDF("source", "n_chars"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = DriftStream.psiView(spark, table).collect().toSeq
      val want = graft.operators.AuditOps.queries("q248_psi_drift")(spark, sf)
        .collect().toSeq
      assert(got === want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("q318 streaming twin: maintained control grid reproduces the batch p-chart exactly") {
    // B279's streaming form: maintain the (day, n_events, n_errors)
    // grid by associative sum merge, then run the SAME pchartFromDaily
    // closing pass batch q318 runs - all-integer, so convergence is
    // equality, with the band visibly retightening as history accrues.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.ControlStream
    val table = java.nio.file.Files.createTempDirectory("graft_pchart").toString + "/grid"
    val rows = Tables.events(spark, sf).select("ts", "event_type").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("event_type"))).toSeq
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val query = ControlStream.maintain(ms.toDS().toDF("ts", "event_type"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = ControlStream.pchartView(spark, table).collect().toSeq
      val want = graft.operators.SeriesOps.queries("q318_pchart_control")(spark, sf)
        .collect().toSeq
      assert(got === want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("q343 streaming twin: maintained count grid reproduces the batch EWMA chart exactly") {
    // B304's streaming form: maintain the (type, day) count grid by
    // associative sum merge, then run the SAME ewmaFromDaily closing
    // fold batch q343 runs — all-integer truncating steps, so
    // convergence is row-for-row equality of the whole chart.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EwmaStream
    val table = java.nio.file.Files.createTempDirectory("graft_ewma").toString + "/grid"
    val rows = Tables.events(spark, sf).select("ts", "event_type").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("event_type"))).toSeq
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val query = EwmaStream.maintain(ms.toDS().toDF("ts", "event_type"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = EwmaStream.ewmaView(spark, table).collect().toSeq
      val want = graft.operators.SeriesOps.queries("q343_ewma_chart")(spark, sf)
        .collect().toSeq
      assert(got === want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("q348 streaming twin: maintained count grid reproduces the batch Holt backtest exactly") {
    // B309's streaming form (r14 verdict task 4): the Holt input is the
    // daily type-SHARE, so late data for an old day re-prices every
    // type's x that day — the mergeable object is the COUNT grid, not
    // the (level, trend) state; the order-dependent fold reruns on the
    // bounded grid via the SAME holtFromDaily pass batch q348 runs.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.HoltStream
    val table = java.nio.file.Files.createTempDirectory("graft_holt").toString + "/grid"
    val rows = Tables.events(spark, sf).select("ts", "event_type").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("event_type"))).toSeq
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val query = HoltStream.maintain(ms.toDS().toDF("ts", "event_type"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = HoltStream.holtView(spark, table).collect().toSeq
      val want = graft.operators.SeriesOps.queries("q348_holt_backtest")(spark, sf)
        .collect().toSeq
      assert(got === want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("q339 streaming twin: maintained daily grid reproduces the batch PH detector exactly") {
    // B300's streaming form — PH is the detector the streaming
    // literature runs ON streams; maintain the (day, n, e) grid by
    // associative sum merge, close with the SAME phFromDaily pass.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.PhStream
    val table = java.nio.file.Files.createTempDirectory("graft_ph").toString + "/grid"
    val rows = Tables.events(spark, sf).select("ts", "event_type").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("event_type"))).toSeq
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val query = PhStream.maintain(ms.toDS().toDF("ts", "event_type"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = PhStream.phView(spark, table).collect().toSeq
      val want = graft.operators.SeriesOps.queries("q339_page_hinkley")(spark, sf)
        .collect().toSeq
      assert(got === want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("q206 streaming twin: maintained daily grid reproduces the batch change-point exactly") {
    // B166's streaming form: maintain the (type, day) milli-sum grid by
    // associative sum merge, then run the SAME cusumFromDaily closing
    // pass batch q206 runs — all-integer, so convergence is equality.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CusumStream
    val table = java.nio.file.Files.createTempDirectory("graft_cusum").toString + "/grid"
    val rows = Tables.events(spark, sf).select("ts", "event_type", "value").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"))).toSeq
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val query = CusumStream.maintain(ms.toDS().toDF("ts", "event_type", "value"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = graft.operators.ScaleOps
        .cusumFromDaily(spark.read.parquet(table)).collect().toSeq
      val want = graft.operators.ScaleOps.queries("q206_cusum_changepoint")(spark, sf)
        .collect().toSeq
      assert(got === want)
    } finally query.stop()
  }

  test("q192 streaming twin: maintained seq-envelope grid reproduces the batch amplification exactly") {
    // B152's streaming form: maintain (shard, day, count, min seq, max
    // seq) by associative merge, then run the SAME amplificationFrom
    // closing pass batch q192 runs — all-integer derivation, so
    // convergence is equality.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.ReplayStream
    val table = java.nio.file.Files.createTempDirectory("graft_replay").toString + "/grid"
    val env = graft.contentops.ContentOps.envelope(spark)
    val rows = env.select("shard", "seq", "date").collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[String]("seq"),
        r.getAs[java.sql.Timestamp]("date"))).toSeq
    val ms = MemoryStream[(Int, String, java.sql.Timestamp)]
    val query = ReplayStream.maintain(ms.toDS().toDF("shard", "seq", "date"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = graft.contentops.ContentOps.amplificationFrom(
        spark.read.parquet(table),
        graft.contentops.ContentOps.replayBase(env)).collect().toSeq
      val want = graft.contentops.ContentOps
        .queries("q192_replay_amplification")(spark, sf).collect().toSeq
      assert(got === want)
    } finally query.stop()
  }

  test("q147 streaming twin: maintained lifetimes reproduce the batch hazard table exactly") {
    // B107's streaming form: maintain (user_id, f, l) by associative
    // min/max merge, then run the SAME hazardFromLifetimes batch q147
    // runs — all-integer derivation, so convergence is equality.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.LifetimeStream
    val table = java.nio.file.Files.createTempDirectory("graft_life").toString + "/lifetimes"
    val rows = Tables.events(spark, sf).select("user_id", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"),
        math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime, 86400000L)))
      .toSeq
    val ms = MemoryStream[(Long, Long)]
    val query = LifetimeStream.maintain(ms.toDS().toDF("user_id", "day"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = graft.operators.StreamSemantics
        .hazardFromLifetimes(spark.read.parquet(table)).collect().toSeq
      val want = graft.operators.StreamSemantics.queries("q147_churn_hazard")(spark, sf)
        .collect().toSeq
      assert(got === want)
    } finally query.stop()
  }

  test("q151/q157 shared twin: one maintained grid reproduces BOTH batch reports exactly") {
    // GridStream maintains the (event_type, day, n) grid once; the
    // freshness audit AND the leaderboard churn re-derive from it with
    // the SAME functions their batch forms use — two exact convergences
    // from one maintained table.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.GridStream
    val table = java.nio.file.Files.createTempDirectory("graft_grid").toString + "/grid"
    val rows = Tables.events(spark, sf).select("event_type", "ts").collect()
      .map(r => (r.getAs[String]("event_type"),
        math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime, 86400000L)))
      .toSeq
    val ms = MemoryStream[(String, Long)]
    val query = GridStream.maintain(ms.toDS().toDF("event_type", "day"), table)
    try {
      assert(query.name === table, "a maintained query is named after its table")
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val grid = spark.read.parquet(table)
      assert(graft.operators.ScaleOps.freshnessFromGrid(grid).collect().toSeq ===
        graft.operators.ScaleOps.queries("q151_feed_freshness")(spark, sf).collect().toSeq)
      assert(graft.operators.StreamSemantics.churnFromGrid(grid).collect().toSeq ===
        graft.operators.StreamSemantics.queries("q157_rank_churn")(spark, sf).collect().toSeq)
    } finally query.stop()
  }

  test("q130 streaming twin: maintained edge counts reproduce batch ranks exactly") {
    // B89's streaming form: extract user-journey hops statefully (one
    // last-event row per user), merge per-batch hop counts into the
    // maintained (src, dst, ew) table, then run the SAME rankFromEdges
    // the batch query uses — integer ranks, so convergence is equality.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EdgeStream
    val table = java.nio.file.Files.createTempDirectory("graft_edges").toString + "/edges"
    val evRows = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => EdgeStream.Ev(r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)) // in-order feed (the A16 contract)
      .toSeq
    val ms = MemoryStream[EdgeStream.Ev]
    val query = EdgeStream.maintain(
      EdgeStream.transitions(ms.toDS()).toDF(), table)
    try {
      evRows.grouped(evRows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = spark.read.parquet(table)
      // 1) maintained edge counts equal the batch lead() extraction
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val wantEdges = Tables.events(spark, sf)
        .withColumn("dst", lead("event_type", 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("ew"))
      assert(got.exceptAll(wantEdges).count() === 0)
      assert(wantEdges.exceptAll(got).count() === 0)
      // 2) the shared rank operator over maintained edges == batch q130
      //    (at this fixture every type appears in the edge list, so the
      //    node set derives from the maintained table alone — asserted)
      val nodes = got.select(col("src").as("node"))
        .union(got.select(col("dst").as("node"))).distinct()
      val batchNodes = Tables.events(spark, sf)
        .select(col("event_type").as("node")).distinct()
      assert(nodes.exceptAll(batchNodes).count() === 0 &&
        batchNodes.exceptAll(nodes).count() === 0)
      val gotRanks = graft.operators.StreamSemantics
        .rankFromEdges(got, nodes).orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val wantRanks = graft.operators.StreamSemantics
        .queries("q130_journey_pagerank")(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(gotRanks === wantRanks)
    } finally query.stop()
  }
  test("q124 streaming twin: live conversion tracking converges to batch gaps") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.MetricStream
    val evRows = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => MetricStream.ConvEvent(r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("ts")))
      .toSeq
    val ms = MemoryStream[MetricStream.ConvEvent]
    val query = MetricStream.conversions(ms.toDS())
      .writeStream.format("memory").queryName("conv_sink").outputMode("update").start()
    try {
      // REVERSED event order: late-arriving earlier events must correct
      // (and where first-purchase-before-first-view, revoke) conversions
      evRows.reverse.grouped(evRows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val w = Window.partitionBy("userId").orderBy(desc("nSeen"))
      val got = spark.table("conv_sink")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("converted"))
        .select(col("userId").as("user_id"), col("gapS").as("gap_s"))
      val want = graft.operators.StreamSemantics.q124Gaps(spark, sf)
        .select("user_id", "gap_s")
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
      assert(want.count() > 0, "fixture must contain converting users")
    } finally query.stop()
  }

  test("q220 streaming twin: maintained chunk ledger reproduces the batch savings report exactly") {
    // B180's streaming form: chunk derivation rides Dedup.cdcChunks (the
    // exact batch pipeline), first-sight admission lives in (source, fp)
    // ValueState, and the read view is q220's own closing pass — so
    // convergence is row-for-row equality with the batch report.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.ChunkStream
    val table = java.nio.file.Files.createTempDirectory("graft_chunks").toString + "/ledger"
    val rows = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text"))).toSeq
    val ms = MemoryStream[(String, String)]
    val query = ChunkStream.maintain(ms.toDS().toDF("source", "text"), table)
    try {
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      def tup(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[String]("source"), r.getAs[Long]("n_chunks"), r.getAs[Long]("bytes"),
          r.getAs[Long]("n_uniq"), r.getAs[Long]("uniq_bytes"),
          r.getAs[Long]("savings_milli"))).toSeq
      val got = tup(ChunkStream.readReport(spark, table))
      val want = tup(graft.operators.Dedup.queries("q220_cdc_chunks")(spark, sf))
      assert(got === want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("q226 streaming twin: keyed signed-merge view converges and retracts zeroed keys") {
    // B186's streaming form: the (custkey, seg) view is maintained from
    // signed delta⋈dim rows in per-key ValueState; convergence target is
    // γ(A_new ⋈ B_old) computed batch-side. A synthetic key is added and
    // then fully removed mid-stream to force an n=0 RETRACTION — the
    // q226 state-deletion case the organic fixture may not produce.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.ViewStream
    val table = java.nio.file.Files.createTempDirectory("graft_view").toString + "/view"
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
    val seg = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    def rows(df: org.apache.spark.sql.DataFrame, sgn: Long) =
      df.join(seg, col("o_custkey") === col("c_custkey"))
        .select(col("o_custkey"), col("seg"), col("cents")).collect()
        .map(r => (r.getAs[Long]("o_custkey"), r.getAs[String]("seg"),
          r.getAs[Long]("cents"), sgn)).toSeq
    val standing = rows(o.filter("o_orderkey % 7 <> 0"), 1L)
    val adds = rows(o.filter("o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0"), 1L)
    val removes = rows(o.filter("o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0"), -1L)
    val synth = (9999999L, "SYN", 100L, 1L)
    val ms = MemoryStream[(Long, String, Long, Long)]
    val query = ViewStream.maintain(
      ms.toDS().toDF("o_custkey", "seg", "cents", "sgn"), table)
    try {
      standing.grouped(standing.size / 2 + 1).foreach { c =>
        ms.addData(c); query.processAllAvailable()
      }
      ms.addData(adds :+ synth); query.processAllAvailable()
      assert(ViewStream.readView(spark, table).filter(col("k") === 9999999L).count() === 1L,
        "synthetic key must be live before its removal")
      ms.addData(removes :+ synth.copy(_4 = -1L)); query.processAllAvailable()
      def tup(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("seg"),
          r.getAs[Long]("n"), r.getAs[Long]("cents"))).toSeq.sortBy(t => (t._1, t._2))
      val got = tup(ViewStream.readView(spark, table))
      val want = tup(o.filter("o_orderkey % 11 <> 0")
        .join(seg, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_custkey").as("k"), col("seg"))
        .agg(count(lit(1)).as("n"), sum("cents").as("cents")))
      assert(got === want)
      assert(!got.exists(_._1 == 9999999L), "retracted key leaked into the view")
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("q267 streaming twin: maintained trial grid reproduces the batch SPRT verdicts exactly") {
    // B227's streaming form: the (type, day, n_d, x_d) grid is merged
    // incrementally and the SAME sprtFromDaily closing pass batch q267
    // runs produces the verdict — all-integer derivation, so convergence
    // is equality.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.SprtStream
    val table = java.nio.file.Files.createTempDirectory("graft_sprt").toString + "/grid"
    val rows = Tables.events(spark, sf).select("ts", "event_type", "value").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"))).toSeq
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val query = SprtStream.maintain(ms.toDS().toDF("ts", "event_type", "value"), table)
    try {
      rows.grouped(rows.size / 4 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = graft.operators.AuditOps
        .sprtFromDaily(spark.read.parquet(table)).collect().toSeq
      val want = graft.operators.AuditOps.queries("q267_sprt_monitor")(spark, sf)
        .collect().toSeq
      assert(want.nonEmpty)
      assert(got === want)
    } finally query.stop()
  }

  test("q272 streaming twin: probe-then-admit LSH candidates equal the batch admission form; replay appends absorb to the same view") {
    // B232. Ingest order = doc_id order (the equality contract's
    // assumption); after 4 micro-batches the distinct-counted candidate
    // view must equal batch q272 ROW FOR ROW — exact, not convergent,
    // because a doc's admission rank is frozen before any later doc
    // probes it. Then a replayed chunk re-emits its pairs (at-least-once)
    // and the distinct read view must be unchanged.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.LshStream
    val table = java.nio.file.Files.createTempDirectory("graft_lsh").toString + "/cands"
    val rows = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq
      .sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    val query = LshStream.maintain(ms.toDS().toDF("doc_id", "text"), table)
    try {
      val chunks = rows.grouped(rows.size / 4 + 1).toSeq
      chunks.foreach { chunk => ms.addData(chunk); query.processAllAvailable() }
      def read() = LshStream.readCandidates(spark, table).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("n_bands")).toMap
      val got = read()
      val want = graft.operators.Dedup.queries("q272_admission_lsh")(spark, sf)
        .collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("n_bands")).toMap
      assert(want.nonEmpty, "fixture produced no candidate pairs")
      assert(got === want)
      ms.addData(chunks.head); query.processAllAvailable()
      assert(read() === want, "replayed chunk changed the distinct candidate view")
    } finally query.stop()
  }

  test("q265 streaming twin: maintained leaf digests converge to batch; re-streaming the corpus cancels every digest to 0") {
    // B225's streaming form. Two-phase assertion: (1) stream ≡ batch —
    // after the corpus arrives in 3 micro-batches the 64 maintained leaf
    // digests equal the batch merkleLeaves fold; (2) self-inverse merge —
    // XOR-folding the SAME corpus a second time removes every row, so
    // every leaf digest must return to the empty state 0 (deletion with
    // no tombstone protocol: the property that distinguishes the XOR
    // twin from the sum-merge family).
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.MerkleStream
    val table = java.nio.file.Files.createTempDirectory("graft_merkle").toString + "/leaves"
    val rows = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq
    val ms = MemoryStream[(Long, String)]
    val query = MerkleStream.maintain(ms.toDS().toDF("doc_id", "text"), table)
    try {
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        ms.addData(chunk); query.processAllAvailable()
      }
      val got = spark.read.parquet(table)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.operators.AuditOps.merkleLeaves(
          Tables.documents(spark, sf).select("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
      assert(want.values.exists(_ != 0L), "fixture digests degenerate")
      ms.addData(rows); query.processAllAvailable()
      val cancelled = spark.read.parquet(table)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cancelled.keySet === want.keySet)
      assert(cancelled.values.forall(_ == 0L),
        "second fold of the same rows must cancel every leaf digest")
    } finally query.stop()
  }

  test("q283 streaming twin: maintained bigram counts converge to the batch corpus counts") {
    // B252: the backoff LM's count table maintained incrementally — the
    // converged read view must equal the batch-computed bigram counts of
    // the same corpus, and a mid-stream read must reflect exactly the
    // docs streamed so far (per-batch cost ∝ batch, never a recount).
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.LmStream
    val table = java.nio.file.Files.createTempDirectory("graft_lm").toString + "/counts"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def bruteCounts(ds: Seq[(Long, String)]): Map[String, Long] =
      ds.flatMap { case (_, t) =>
        val w = t.split(" ", -1); w.init.zip(w.tail).map { case (a, b) => s"$a $b" }
      }.groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val ms = MemoryStream[(Long, String)]
    val query = LmStream.maintain(
      ms.toDS().toDF("doc_id", "text"), table)
    try {
      val chunks = docs.grouped(docs.size / 3 + 1).toSeq
      ms.addData(chunks.head); query.processAllAvailable()
      val mid = LmStream.readCounts(spark, table)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(mid === bruteCounts(chunks.head),
        "mid-stream view must count exactly the docs streamed so far")
      chunks.tail.foreach { c => ms.addData(c); query.processAllAvailable() }
      val got = LmStream.readCounts(spark, table)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === bruteCounts(docs))
      assert(got.nonEmpty && got.values.sum > got.size,
        "fixture must exercise counts > 1")
    } finally query.stop()
  }

  test("q283 twin restart: the keyed count state resumes from the table's checkpoint") {
    // The five keyed maintainers checkpoint at <table>.ckpt, so a second
    // maintain on the same table resumes the first one's state and batch
    // ids. Stream half the corpus, stop, start again on the same table
    // with the rest: the restarted run's epochs must hold exactly the
    // second half's bigrams (a lost checkpoint would replay the stream
    // from batch 0), and the view must equal the batch corpus counts.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.LmStream
    val table = java.nio.file.Files.createTempDirectory("graft_lm_restart").toString + "/counts"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def bruteCounts(ds: Seq[(Long, String)]): Map[String, Long] =
      ds.flatMap { case (_, t) =>
        val w = t.split(" ", -1); w.init.zip(w.tail).map { case (a, b) => s"$a $b" }
      }.groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val (first, rest) = docs.splitAt(docs.size / 2)
    val ms = MemoryStream[(Long, String)]
    def start() = LmStream.maintain(ms.toDS().toDF("doc_id", "text"), table)
    val q1 = start()
    try { ms.addData(first); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { ms.addData(rest); q2.processAllAvailable() } finally q2.stop()
    val resumed = spark.read.parquet(table).filter(col("batch") > q1.lastProgress.batchId)
    assert(resumed.count() === bruteCounts(rest).size.toLong,
      "the restarted maintain did not resume from the table's checkpoint")
    val got = LmStream.readCounts(spark, table)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === bruteCounts(docs))
  }
}
