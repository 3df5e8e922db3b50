package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{ContentStream, GridStream, IndexStream, MetricStream}

/** Long-run streaming soak with kill-recovery (VERDICT r16 task 5).
  *
  * The per-twin StreamingSpec tests prove stream==batch convergence on
  * one process lifetime; the reference's operational reality is a
  * consumer that RESTARTS (docs/user-guide.md:13 — KCL lease recovery).
  * This harness drives the three flagship stateful pipelines
  * (ContentStream.latestState, MetricStream.rollingAnomalies,
  * IndexStream.maintain) plus one sum-merge twin (GridStream.maintain,
  * the (operation, day) grid of the envelope feed) from a REPLAYABLE
  * file feed for hours, lets the operator kill -9 the JVM mid-run,
  * restarts from checkpoints, and then proves the recovered outputs
  * equal fresh batch recomputations over the full feed — exactly-once
  * state across process death, not within one process.
  *
  * Modes:
  *   gen   <feedDir> <nFiles> <rowsPerFile>   deterministic feed files
  *   run   <feedDir> <workDir> [triggerSec]   start/RESUME the 4 queries
  *   check <feedDir> <workDir>                batch-twin equality report
  *
  * Replay semantics by sink: content/metric updates append via
  * foreachBatch, so a batch replayed after a kill appends DUPLICATE
  * rows — harmless by construction, because latest-state is read through
  * the same (lastDate, lastSeq) dedupe window the per-twin spec uses and
  * verdict rows are unique per eventId (check drops exact duplicates
  * before comparing, and counts them as evidence the kill actually
  * landed mid-batch). The index sink is the DeltaLogSink min-merge view,
  * idempotent under replay by algebra. The grid sink is
  * DeltaLogSink.maintain: its table is stamped with the applied batch id,
  * so a batch replayed after a kill is skipped, not counted twice.
  */
object Soak {

  private def session(): SparkSession = {
    val s = Session(8)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deterministic per-index hash (no Random: gen must produce the
    * identical feed if ever re-run). */
  private def h(i: Long, salt: Long): Long = {
    var x = i * 0x9e3779b97f4a7c15L + salt * 0xc2b2ae3d27d4eb4fL
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
    math.abs(x)
  }

  def gen(feed: String, nFiles: Int, rowsPerFile: Int): Unit = {
    val spark = session()
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (f <- 0 until nFiles) {
      val base = f.toLong * rowsPerFile
      val env = (0 until rowsPerFile).map { j =>
        val i = base + j
        val op = h(i, 1) % 20 match {
          case 0 => "delete-doc"
          case 1 => "create-doc"
          case _ => "update-doc"
        }
        // event time mostly advances with i, with a late-data jitter of
        // up to 5 ticks — latest-state is a (date, seq) max-fold, so
        // cross-batch disorder is exactly what it must absorb
        val date = new Timestamp(1700000000000L + i * 1000 - (h(i, 2) % 6) * 1000)
        ContentStream.EnvelopeRow(f"$i%012d", op, date,
          s"d${h(i, 3) % 500}", s"b${h(i, 4) % 3}", h(i, 5) % 2 == 0,
          op == "create-doc", s"headline ${h(i, 6) % 50}", (h(i, 7) % 2000).toInt)
      }
      env.toDS().coalesce(1).write.mode("overwrite")
        .parquet(f"$feed/envelopes/f$f%05d.parquet")
      val met = (0 until rowsPerFile).map { j =>
        val i = base + j
        val spike = if (h(i, 8) % 97 == 0) 50.0 else 1.0
        MetricStream.MetricEvent(i, new Timestamp(1700000000000L + i * 1000),
          h(i, 9) % 200, s"t${h(i, 10) % 4}",
          ((h(i, 11) % 2000).toDouble - 1000.0) / 100.0 * spike)
      }
      met.toDS().coalesce(1).write.mode("overwrite")
        .parquet(f"$feed/metrics/f$f%05d.parquet")
      val docs = (0 until rowsPerFile).map { j =>
        val i = base + j
        // 8-token prefix drawn from a tiny vocab so fingerprints collide
        // heavily (the min-maintenance state actually exercises updates)
        val text = (0 until 12).map(k => vocab((h(i * 12 + k, 12) % 4).toInt +
          (if (k < 8) 0 else 4))).mkString(" ")
        (i, text)
      }
      docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(f"$feed/docs/f$f%05d.parquet")
      if (f % 50 == 0) println(s"[soak-gen] wrote file group $f/$nFiles")
    }
    println(s"[soak-gen] done: $nFiles file groups x $rowsPerFile rows")
    spark.stop()
  }

  def run(feed: String, work: String, triggerSec: Int): Unit = {
    val spark = session()
    import spark.implicits._
    Files.createDirectories(Paths.get(work))
    val envSchema = implicitly[org.apache.spark.sql.Encoder[ContentStream.EnvelopeRow]].schema
    val metSchema = implicitly[org.apache.spark.sql.Encoder[MetricStream.MetricEvent]].schema
    // one feed file group per micro-batch, in name order; gen writes each
    // group as a parquet DIRECTORY, so the listing must recurse into it
    def files(dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .option("recursiveFileLookup", "true").parquet(s"$feed/$dir")

    val contentQ = ContentStream.latestState(
      files("envelopes", envSchema).as[ContentStream.EnvelopeRow])
      .writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(s"$triggerSec seconds"))
      .option("checkpointLocation", s"$work/ckpt_content")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[ContentStream.StateChange], id: Long) =>
        b.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$work/content_out"); ()
      }
      .queryName("content").start()

    val metricQ = MetricStream.rollingAnomalies(
      files("metrics", metSchema).as[MetricStream.MetricEvent])
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$triggerSec seconds"))
      .option("checkpointLocation", s"$work/ckpt_metric")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[MetricStream.AnomalyVerdict], id: Long) =>
        b.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$work/metric_out"); ()
      }
      .queryName("metric").start()

    val indexQ = IndexStream.maintain(
      files("docs", new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")),
      s"$work/index_table", checkpoint = Some(s"$work/ckpt_index"))

    val gridQ = GridStream.maintain(
      files("envelopes", envSchema)
        .select(col("operation").as("event_type"), to_date(col("date")).as("day")),
      s"$work/grid_table")

    // Idle detection: the feed is exhausted when every query reports zero
    // input for 10 consecutive polls (2.5 min — far longer than any
    // trigger gap). A query that drained its share of the feed before a
    // kill reports zero input from its first poll after the restart.
    val queries = Seq(contentQ, metricQ, indexQ, gridQ)
    val idle = Array.fill(queries.size)(0)
    var done = false
    while (!done) {
      Thread.sleep(15000)
      queries.zipWithIndex.foreach { case (q, i) =>
        val p = q.lastProgress
        val rows = if (p == null) -1L else p.numInputRows
        if (rows > 0) idle(i) = 0
        else if (rows == 0) idle(i) += 1
        println(f"[soak-run] ${java.time.Instant.now} ${q.name}%-8s " +
          f"batch=${if (p == null) -1L else p.batchId} rows=$rows idle=${idle(i)}")
      }
      if (queries.exists(!_.isActive)) {
        queries.filterNot(_.isActive).foreach { q =>
          println(s"[soak-run] FAILED query ${q.name}: ${Option(q.exception.orNull)}")
        }
        queries.foreach(q => if (q.isActive) q.stop())
        spark.stop()
        sys.exit(2)
      }
      done = idle.forall(_ >= 10)
    }
    println("[soak-run] feed exhausted on all queries; stopping cleanly")
    queries.foreach(_.stop())
    spark.stop()
  }

  def check(feed: String, work: String): Unit = {
    val spark = session()
    var fails = 0

    // content: batch twin = global (date, seq) argmax per composite key
    val env = spark.read.option("recursiveFileLookup", "true").parquet(s"$feed/envelopes")
    val w = Window.partitionBy("id", "branch", "published")
      .orderBy(desc("date"), desc("seq"))
    val wantContent = env.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("branch"), col("published"), col("seq").as("lastSeq"),
        col("date").as("lastDate"), col("headline"), col("wordCount"),
        col("operation").startsWith("delete").as("deleted"))
    val outRaw = spark.read.parquet(s"$work/content_out")
    val ws = Window.partitionBy("id", "branch", "published")
      .orderBy(desc("lastDate"), desc("lastSeq"), desc("batch_id"))
    val gotContent = outRaw.withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
      .select("id", "branch", "published", "lastSeq", "lastDate", "headline",
        "wordCount", "deleted")
    fails += report(spark, "content latest-state", wantContent, gotContent)

    // metric: batch twin = q113's 20-preceding frame, re-derived in SQL
    val met = spark.read.option("recursiveFileLookup", "true").parquet(s"$feed/metrics")
      .withColumn("vm", expr("CAST(floor(value * 1000) AS BIGINT)"))
    val wf = Window.partitionBy("userId").orderBy("ts", "eventId")
      .rowsBetween(-MetricStream.FrameWidth, -1)
    val wantMetric = met
      .withColumn("n", count(lit(1)).over(wf))
      .withColumn("s1", coalesce(sum("vm").over(wf), lit(0L)))
      .withColumn("s2", coalesce(sum(expr("vm * vm")).over(wf), lit(0L)))
      .withColumn("scored", col("n") >= 10)
      .withColumn("anomalous", expr(
        "scored AND (n * vm - s1) * (n * vm - s1) > 4 * (n * s2 - s1 * s1)"))
      .select("eventId", "userId", "eventType", "scored", "anomalous")
    val gotMetricRaw = spark.read.parquet(s"$work/metric_out")
    val replayDupes = gotMetricRaw.count() -
      gotMetricRaw.dropDuplicates("eventId").count()
    println(s"[soak-check] metric replay duplicates absorbed: $replayDupes")
    // a replayed batch re-emits identical verdicts, so distinct() absorbs
    // it (dropDuplicates("eventId") feeding exceptAll fails to bind in
    // Spark 4.1: INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    val gotMetric = gotMetricRaw
      .select("eventId", "userId", "eventType", "scored", "anomalous").distinct()
    fails += report(spark, "metric rolling-anomaly", wantMetric, gotMetric)

    // index: min-merge view vs batch min
    val docs = spark.read.option("recursiveFileLookup", "true").parquet(s"$feed/docs")
    val wantIndex = graft.operators.Dedup.fpIndexFrom(docs)
    val gotIndex = IndexStream.readIndex(spark, s"$work/index_table")
    fails += report(spark, "index min-maintenance", wantIndex, gotIndex)

    // grid: sum-merge twin vs batch count per (operation, day)
    val wantGrid = env.select(col("operation").as("event_type"), to_date(col("date")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val gotGrid = spark.read.parquet(s"$work/grid_table")
    fails += report(spark, "grid sum-merge", wantGrid, gotGrid)

    if (fails == 0) println("[soak-check] ALL FOUR PIPELINES EQUAL BATCH TWINS")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }

  private def report(spark: SparkSession, name: String,
      want: DataFrame, got: DataFrame): Int = {
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    val n = want.count()
    if (missing == 0 && extra == 0) {
      println(s"[soak-check] PASS $name: $n rows equal"); 0
    } else {
      println(s"[soak-check] FAIL $name: $n want rows, $missing missing, $extra extra")
      want.exceptAll(got).show(5, truncate = false)
      got.exceptAll(want).show(5, truncate = false)
      1
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: feed :: n :: rows :: Nil => gen(feed, n.toInt, rows.toInt)
    case "run" :: feed :: work :: rest =>
      run(feed, work, rest.headOption.map(_.toInt).getOrElse(10))
    case "check" :: feed :: work :: Nil => check(feed, work)
    case other => sys.error(s"usage: gen|run|check ... (got $other)")
  }
}
