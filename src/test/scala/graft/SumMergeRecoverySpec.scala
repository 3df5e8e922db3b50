package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{GridStream, ReplayStream}

/** Process death inside the sum-merge twins' sink
  * (`DeltaLogSink.maintain`), exercised through a real restart: stop the
  * query, put the table and its `<table>.ckpt` checkpoint where a death
  * at some step would have left them, restart on the same source and
  * checkpoint, and require the table to equal the batch aggregate over
  * every row delivered — no batch lost, none counted twice.
  *
  * Crash states are built from snapshots of the table after batch 0
  * (`before`) and after batch 1 (`after`) with `commits/1` deleted, so
  * the restart re-executes batch 1 exactly as Spark does after a death
  * between the sink and the commit-log write.
  */
class SumMergeRecoverySpec extends SparkSpec {

  private def tempTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/table"

  private def set(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def cp(from: String, to: String): Unit =
    FileUtils.copyDirectory(new File(from), new File(to))

  /** A half-written copy of `from`: one data file, no `_`/`.` files. */
  private def partial(from: String, to: String): Unit = {
    val part = new File(from).listFiles().filter(_.getName.startsWith("part-")).head
    FileUtils.copyFileToDirectory(part, new File(to))
  }

  /** Delete a batch's commit-log entry (and its checksum file), so a
    * restart re-executes the batch. */
  private def dropCommit(table: String, batchId: Long): Unit =
    Seq(s"$batchId", s".$batchId.crc").foreach { f =>
      Files.deleteIfExists(Paths.get(s"$table.ckpt", "commits", f))
    }

  /** Whether `q` ran `batchId` (a skipped replay reads no input rows). */
  private def reexecuted(q: StreamingQuery, batchId: Long): Boolean =
    q.recentProgress.exists(_.batchId == batchId)

  private lazy val gridRows: Seq[(String, Long)] =
    Tables.events(spark, sf).select("event_type", "ts").collect()
      .map(r => (r.getAs[String]("event_type"),
        math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime, 86400000L)))
      .toSeq

  private def gridWant: Set[Seq[Any]] = {
    import spark.implicits._
    set(gridRows.toDF("event_type", "day").groupBy("event_type", "day")
      .agg(count(lit(1)).as("n")))
  }

  /** (name, build): `build(table, before, after)` lays out the table
    * directories a death at that step of the publish of batch 1 leaves. */
  private val crashStates: Seq[(String, (String, String, String) => Unit)] = Seq(
    "tmp half-written" -> { (t, b, a) => cp(b, t); partial(a, s"$t.tmp") },
    "tmp complete, live untouched" -> { (t, b, a) => cp(b, t); cp(a, s"$t.tmp") },
    "live moved aside, tmp complete" -> { (t, b, a) => cp(b, s"$t.old"); cp(a, s"$t.tmp") },
    "tmp moved in, old not dropped" -> { (t, b, a) => cp(b, s"$t.old"); cp(a, t) },
    "old half-dropped" -> { (t, b, a) => partial(b, s"$t.old"); cp(a, t) },
    "swapped, commit not written" -> { (t, _, a) => cp(a, t) },
    "live deleted, tmp complete (delete-then-move swap)" -> { (t, _, a) => cp(a, s"$t.tmp") })

  crashStates.foreach { case (name, build) =>
    test(s"crash state '$name': the restarted grid equals the batch grid") {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val table = tempTable("graft_crash")
      val snaps = Files.createTempDirectory("graft_crash_snap").toString
      val Seq(c0, c1, c2) = gridRows.grouped(gridRows.size / 3 + 1).toSeq
      val ms = MemoryStream[(String, Long)]
      val first = GridStream.maintain(ms.toDS().toDF("event_type", "day"), table)
      try {
        ms.addData(c0); first.processAllAvailable(); cp(table, s"$snaps/before")
        ms.addData(c1); first.processAllAvailable(); cp(table, s"$snaps/after")
      } finally first.stop()
      dropCommit(table, 1)
      FileUtils.deleteDirectory(new File(table))
      build(table, s"$snaps/before", s"$snaps/after")
      ms.addData(c2)
      val restarted = GridStream.maintain(ms.toDS().toDF("event_type", "day"), table)
      try {
        restarted.processAllAvailable()
        assert(set(spark.read.parquet(table)) === gridWant)
        assert(reexecuted(restarted, 1), "the restart must re-execute batch 1")
      } finally restarted.stop()
      assert(!new File(s"$table.tmp").exists && !new File(s"$table.old").exists)
    }
  }

  /** Stream `rows` as 3 batches, stop, drop the last commit and restart:
    * the re-executed batch 2 must leave the table equal to `want`. */
  private def replayLast[T](table: String, ms: MemoryStream[T], rows: Seq[T],
      start: () => StreamingQuery, want: => Set[Seq[Any]]): Unit = {
    val q = start()
    try rows.grouped(rows.size / 3 + 1).foreach { c =>
      ms.addData(c); q.processAllAvailable()
    } finally q.stop()
    dropCommit(table, 2)
    val again = start()
    try {
      again.processAllAvailable()
      assert(set(spark.read.parquet(table)) === want)
      assert(reexecuted(again, 2), "the restart must re-execute batch 2")
    } finally again.stop()
  }

  test("replay: GridStream counts a batch re-executed after its publish once") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = tempTable("graft_replay_grid")
    val ms = MemoryStream[(String, Long)]
    replayLast(table, ms, gridRows,
      () => GridStream.maintain(ms.toDS().toDF("event_type", "day"), table), gridWant)
  }

  test("replay: ReplayStream (count + min/max seq) applies a re-executed batch once") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = tempTable("graft_replay_seq")
    val env = graft.contentops.ContentOps.envelope(spark)
    val rows = env.select("shard", "seq", "date").collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[String]("seq"),
        r.getAs[java.sql.Timestamp]("date"))).toSeq
    val ms = MemoryStream[(Int, String, java.sql.Timestamp)]
    replayLast(table, ms, rows,
      () => ReplayStream.maintain(ms.toDS().toDF("shard", "seq", "date"), table),
      set(graft.contentops.ContentOps.replayBase(env).groupBy("shard", "day")
        .agg(count(lit(1)).as("window_ops"), min("seqn").as("seq_lo"),
          max("seqn").as("seq_hi"))))
  }
}
