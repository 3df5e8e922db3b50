package graft

import java.nio.file.Files

import graft.contentops.{ContentOps, Fixture}
import graft.streaming.ContentStream
import graft.streaming.ContentStream.EnvelopeRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Source/sink surface (SURVEY.md §2B B2/B3): json and csv scans round-trip
  * the same relation parquet holds; streaming lands via foreachBatch. */
class SourceSinkSpec extends SparkSpec {

  test("json and csv sources round-trip the events relation") {
    val dir = Files.createTempDirectory("graft_src").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").json(s"$dir/ev_json")
    ev.write.mode("overwrite").option("header", "true").csv(s"$dir/ev_csv")

    val fromJson = spark.read.json(s"$dir/ev_json")
    assert(fromJson.count() === ev.count())
    assert(math.abs(fromJson.agg(sum("value")).head.getDouble(0) -
      ev.agg(sum("value")).head.getDouble(0)) < 1e-6)

    val fromCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/ev_csv")
    assert(fromCsv.count() === ev.count())
    assert(fromCsv.select("event_id").distinct().count() ===
      ev.select("event_id").distinct().count())
  }

  test("orc source round-trips the full events relation exactly") {
    // ORC is the second columnar format the engine reads/writes natively
    // (same pushdown/pruning machinery as parquet via the v2 readers)
    val dir = Files.createTempDirectory("graft_orc").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("overwrite").orc(s"$dir/ev_orc")
    val fromOrc = spark.read.orc(s"$dir/ev_orc")
    assert(fromOrc.schema === ev.schema)
    assert(fromOrc.exceptAll(ev).count() === 0)
    assert(ev.exceptAll(fromOrc).count() === 0)
    // predicate pushdown reaches the ORC scan like it does for parquet
    val plan = fromOrc.filter(col("user_id") === 7).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)"),
      s"ORC scan did not receive pushed filters:\n${plan.take(800)}")
  }

  test("partitioned write + partition pruning: a partition predicate skips directories") {
    // the 100 TB layout decision: facts land partitioned on their pruning
    // key so that a selective predicate never lists, opens, or reads the
    // other partitions — pruning happens at PLANNING time via the
    // partition index, unlike row-group pushdown which still opens files
    val dir = Files.createTempDirectory("graft_part").toString
    Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val back = spark.read.parquet(dir)
    val years = back.select("o_year").distinct().count()
    assert(years > 1, "fixture must span multiple years for pruning to mean anything")
    val pruned = back.filter(col("o_year") === 1995)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    assert(scan.partitionFilters.nonEmpty, "partition predicate did not reach the scan")
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected exactly the 1995 partition, scanned ${scan.selectedPartitions.partitionCount} of $years")
    // and the pruned read is still correct
    assert(pruned.count() ===
      Tables.orders(spark, sf).filter(year(col("o_orderdate")) === 1995).count())
  }

  test("corrupt records: PERMISSIVE json scan quarantines bad rows instead of failing") {
    // the ingest-adjacent robustness rule (same philosophy as A19's
    // log-and-skip): a malformed record must neither kill the scan nor
    // silently vanish — PERMISSIVE mode lands it in _corrupt_record for
    // quarantine, and DROPMALFORMED gives the clean-feed view
    val dir = Files.createTempDirectory("graft_corrupt").toString
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "data.json"),
      """{"event_id": 1, "value": 1.5}
        |{"event_id": 2, "value": }
        |{"event_id": 3, "value": 3.5}
        |not json at all
        |{"event_id": 4, "value": 4.5}""".stripMargin)
    val schema = "event_id BIGINT, value DOUBLE, _corrupt_record STRING"
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").json(dir).cache()
    assert(permissive.count() === 5)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() === 2)
    assert(permissive.filter(col("_corrupt_record").isNull)
      .select(sum("value")).head.getDouble(0) === 9.5)
    val dropped = spark.read.schema("event_id BIGINT, value DOUBLE")
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() === 3)
  }

  test("schema evolution: mergeSchema reads old and new writer generations together") {
    // a long-lived 100 TB table is written by many pipeline versions; a
    // column added later must not strand the old files
    val dir = Files.createTempDirectory("graft_evo").toString
    val v1 = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice").limit(100)
    v1.write.mode("overwrite").parquet(s"$dir/p=1")
    val v2 = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderpriority").limit(50)
    v2.write.mode("overwrite").parquet(s"$dir/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("o_orderkey", "o_totalprice", "o_orderpriority", "p"))
    assert(merged.count() === 150)
    // old-generation rows surface the new column as null, not as an error
    assert(merged.filter(col("p") === 1 && col("o_orderpriority").isNull).count() === 100)
    assert(merged.filter(col("p") === 2 && col("o_orderpriority").isNotNull).count() === 50)
  }

  test("file streaming source: the events parquet dir replays as a bounded stream") {
    // readStream over the driver's parquet — the local file-source stand-in
    // for the Kinesis path (same downstream operators either way).
    val batchEv = Tables.events(spark, sf)
    // file sources stream DIRECTORIES; stage the table into one
    val dir = Files.createTempDirectory("graft_fsrc").toString
    spark.read.parquet(s"$sf/events.parquet").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(
        spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val counted = stream
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val query = counted.writeStream.format("memory")
      .queryName("fs_sink").outputMode("complete").start()
    try {
      query.processAllAvailable()
      val got = spark.table("fs_sink").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = batchEv.groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want)
    } finally query.stop()
  }

  test("foreachBatch MERGE upsert maintains a materialized latest-state table") {
    // incremental view maintenance — the production sink for A10's
    // latest-state feed: each microbatch of StateChange rows MERGES into
    // a keyed parquet table (read current + union + keep newest per key,
    // deletes drop the key), so the table always equals the batch q52
    // result over everything ingested so far. Idempotent per batch: the
    // merge keys on the composite key and max_by(date, seq) picks the
    // same winner on redelivery.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = Files.createTempDirectory("graft_mview").toString + "/state"
    // explicit checkpoint so stop() can't race an in-flight commit
    val ms = MemoryStream[EnvelopeRow]
    val query = ContentStream.latestState(ms.toDS())
      .writeStream
      .option("checkpointLocation", table + ".ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ContentStream.StateChange], _: Long) =>
        val incoming = batch.toDF().select("id", "branch", "published",
          "lastSeq", "lastDate", "headline", "wordCount", "deleted")
        val current =
          if (new java.io.File(table).exists) spark.read.parquet(table)
          else incoming.limit(0)
        val merged = current.unionByName(incoming)
          .groupBy("id", "branch", "published")
          .agg(max_by(
            struct(col("lastSeq"), col("lastDate"), col("headline"),
              col("wordCount"), col("deleted")),
            struct(col("lastDate"), col("lastSeq"))).as("w"))
          .select(col("id"), col("branch"), col("published"), col("w.*"))
          .filter(!col("deleted"))
        // write-then-swap: materialize to a temp dir, then replace
        val tmp = table + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        val dir = new java.io.File(table)
        if (dir.exists) org.apache.commons.io.FileUtils.deleteDirectory(dir)
        new java.io.File(tmp).renameTo(dir)
        ()
      }
      .outputMode("update").start()
    try {
      val rows = Fixture.expected.map { o =>
        EnvelopeRow(Fixture.seqStr(o.seq), o.operation, java.sql.Timestamp.from(o.date),
          o.id, o.branch, o.published, o.created, o.headline, o.wordCount)
      }
      rows.grouped(100).foreach { c => ms.addData(c); query.processAllAvailable() }
      val got = spark.read.parquet(table)
        .select(col("id"), col("branch"), col("published"), col("lastSeq").as("last_seq"))
      val want = ContentOps.queries("q52_latest_state")(spark, sf)
        .select("id", "branch", "published", "last_seq")
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    } finally query.stop()
  }

  test("foreachBatch sink: microbatches land transactionally with batch ids") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rows = Fixture.expected.take(90).map { o =>
      EnvelopeRow(graft.contentops.Fixture.seqStr(o.seq), o.operation, java.sql.Timestamp.from(o.date), o.id,
        o.branch, o.published, o.created, o.headline, o.wordCount)
    }
    val seen = scala.collection.concurrent.TrieMap[Long, Long]()
    val ms = MemoryStream[EnvelopeRow]
    val query = ms.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.put(id, batch.count()); ()
      }
      .outputMode("append").start()
    try {
      rows.grouped(30).foreach { c => ms.addData(c); query.processAllAvailable() }
      assert(seen.values.sum === 90)
      assert(seen.keySet.size >= 3)
    } finally query.stop()
  }
}
