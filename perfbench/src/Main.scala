package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.contentops.{ContentOps, HttpResolver}
import graft.functions.GzipDecode
import graft.streaming.ContentStream
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftColumn, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The benchmark's JVM side: builds one `local[nproc]` session, generates
  * the workload's inputs from the seed, warms up with a pass whose outputs
  * are kept for the correctness check, then runs closed-loop timed passes
  * (one client thread, each pass waits for the previous) for the given
  * seconds. It writes `result.json` into the work directory; `run.py`
  * adds the outside checks and prints the result line.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [param=value ...]
  *   Main --digest --workload <name> --seed <n> --work <dir> [param=value ...]
  */
object Main {
  val cores = Runtime.getRuntime.availableProcessors

  /** Input generation is repeated this many times per run and its median
    * reported. */
  val setupReps = 2

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    var attempted = 0L
    var failed = 0L
    def check(name: String, ok: Boolean): Unit = checks(name) = ok

    def json: String = {
      def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
      val m = metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      val c = checks.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"attempted": $attempted, "failed": $failed, "metrics": {$m}, "checks": {$c}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    StoreServer.configure()
    val (opts, params) = parse(argv)
    val work = opts("work")
    val seed = opts("seed").toLong
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis - jvmStart) / 1e3
    try {
      if (opts.contains("digest")) {
        val p = feedParams(seed, params)
        val d = opts("workload") match {
          case "resolve_http" => ResolveFeed.digest(p)
          case "stream_state" =>
            val (prefill, delta) = streamFeeds(p, params)
            Feed.digest(spark, prefill) + Feed.digest(spark, delta)
          case _ => Feed.digest(spark, p)
        }
        Files.write(Paths.get(work, "digest.txt"), d.getBytes(UTF_8))
      } else {
        val r = new Result
        val run = new Run(spark, work, seed, params, opts("seconds").toDouble,
          opts("trace") == "1", sessionS, r)
        try opts("workload") match {
          case "ingest_batch" => run.ingest()
          case "resolve_http" => run.resolve()
          case "stream_state" => run.stream()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        } catch {
          case e: Exception =>
            e.printStackTrace()
            r.attempted += 1; r.failed += 1; r.check("completed", ok = false)
        }
        Files.write(Paths.get(work, "result.json"), r.json.getBytes(UTF_8))
        System.err.println(s"perfbench: result at ${(System.currentTimeMillis - jvmStart) / 1e3} s")
      }
    } finally spark.stop()
    System.err.println(s"perfbench: stopped at ${(System.currentTimeMillis - jvmStart) / 1e3} s")
  }

  private def parse(argv: Array[String]): (Map[String, String], Map[String, String]) = {
    val opts = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val a = argv(i)
      if (a == "--digest") { opts("digest") = "1"; i += 1 }
      else if (a.startsWith("--")) { opts(a.drop(2)) = argv(i + 1); i += 2 }
      else { val Array(k, v) = a.split("=", 2); params(k) = v; i += 1 }
    }
    (opts.toMap, params.toMap)
  }

  def feedParams(seed: Long, p: Map[String, String]): FeedParams = FeedParams(
    seed = seed, records = p("records").toInt, bodyBytes = p("body_bytes").toInt,
    indirectFrac = p("indirect_frac").toDouble, brokenFrac = p("broken_frac").toDouble,
    alienFrac = p("alien_frac").toDouble, keys = p("keys").toInt, hotKeys = p("hot_keys").toInt,
    hotFrac = p("hot_frac").toDouble, shards = p("shards").toInt, files = p("files").toInt)

  /** The `stream_state` feeds: the prefill (one record per document, all
    * inline, older than the delta) and the delta after it. */
  def streamFeeds(feed: FeedParams, p: Map[String, String]): (FeedParams, FeedParams) = {
    val prefill = feed.copy(records = p("prefill_records").toInt, keysInOrder = true,
      indirectFrac = 0, brokenFrac = 0, alienFrac = 0, hotFrac = 0,
      files = p("prefill_files").toInt)
    (prefill, feed.copy(first = prefill.records))
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // transformWithState (ContentStream.latestState) requires RocksDB
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def gunzipCol(c: Column): Column = GraftColumn(GzipDecode(GraftColumn.expr(c)))
}

/** One run of one workload. */
final class Run(s: SparkSession, work: String, seed: Long, params: Map[String, String],
    seconds: Double, traced: Boolean, sessionS: Double, r: Main.Result) {
  import Main._

  private val feed = feedParams(seed, params)
  private val feedDir = s"$work/feed"
  private val checkDir = s"$work/check"

  /** Generates the inputs `setupReps` times, warms up once, and records
    * `setup_s` = session start + median generation + warm-up, a pass that
    * keeps its outputs for the correctness check. */
  private def setup(gen: => Unit)(warmup: => Unit): Unit = {
    val gens = (1 to setupReps).map(_ => time(gen)._2)
    val (_, w) = time(warmup)
    r.attempted += 1
    System.err.println(
      s"perfbench: session $sessionS s, generation ${gens.mkString(" ")} s, warm-up $w s")
    if (traced) {
      r.metrics("setup.session_s") = sessionS
      r.metrics("setup.gen_s") = median(gens)
      r.metrics("setup.warmup_s") = w
    } else r.metrics("setup_s") = sessionS + median(gens) + w
  }

  /** Runs `pass` back to back until `budget` seconds have passed (at
    * least `min` times) and returns each pass's result. A pass that
    * throws is counted as failed and ends the loop. */
  private def loop[T](budget: Double, min: Int)(pass: => T): Seq[T] = {
    val out = Vector.newBuilder[T]
    val t0 = System.nanoTime()
    var n = 0
    var stop = false
    while (!stop && (n < min || (System.nanoTime() - t0) / 1e9 < budget)) {
      r.attempted += 1
      try { out += pass; n += 1 }
      catch { case e: Exception => e.printStackTrace(); r.failed += 1; stop = true }
    }
    out.result()
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Timed passes of an untraced run: at least `min_passes` (default
    * three, so the median drops one outlier). */
  private def timed[T](pass: => T): Seq[T] = {
    val out = loop(seconds, params.get("min_passes").fold(3)(_.toInt))(pass)
    System.err.println(s"perfbench: timed passes ${out.map(describe).mkString(" ")}")
    out
  }

  private def describe(p: Any): String = p match {
    case (wall: Double, ps: Array[StreamingQueryProgress] @unchecked) =>
      s"$wall [batches ${ps.map(_.batchDuration).mkString(",")}; commit ${
        ps.map(_.stateOperators.head.commitTimeMs).mkString(",")}]"
    case x => x.toString
  }

  private def engineTotals(c: EngineTrace.Counts, passWall: Double): Map[String, Double] = Map(
    "engine.actions" -> c.actions.toDouble, "engine.jobs" -> c.jobs.toDouble,
    "engine.stages" -> c.stages.toDouble, "engine.tasks" -> c.tasks.toDouble,
    "engine.task_time_s" -> c.runMs / 1e3,
    "engine.driver_gap_s" -> (passWall - c.runMs / 1e3 / cores),
    "engine.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    "engine.spill_bytes" -> c.spill.toDouble, "engine.gc_s" -> c.gcMs / 1e3)

  /** The traced run, in at least three rounds of one untraced and one
    * traced pass. The untraced pass runs with no listener attached; the
    * traced pass attaches the listeners for its own duration only. The two
    * swap order from one round to the next, so pass-to-pass drift (JIT,
    * page cache) falls on both alike, and the `split` calls run after both.
    * Each pass returns its metrics, `pass` being its wall. Records the
    * median of each metric over the rounds, `trace.untraced_s` and
    * `trace.traced_s` (median walls), `trace.overhead_s` (median over the
    * rounds of traced − untraced wall) and the heap-pool peak. */
  private def tracedPasses(untraced: => Map[String, Double])(
      traced: EngineTrace => Map[String, Double])(split: => Map[String, Double]): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    var round = 0
    val rounds = loop(seconds, 3) {
      round += 1
      val (u, t) =
        if (round % 2 == 1) { val u = untraced; (u, EngineTrace.during(s)(traced)) }
        else { val t = EngineTrace.during(s)(traced); (untraced, t) }
      (u, t ++ split)
    }
    def medians(rows: Seq[Map[String, Double]]): Map[String, Double] =
      rows.head.keys.map(k => k -> median(rows.map(_(k)))).toMap
    val u = medians(rounds.map(_._1))
    val t = medians(rounds.map(_._2))
    (u ++ t - "pass").foreach { case (k, v) => r.metrics(k) = v }
    r.metrics("trace.untraced_s") = u("pass")
    r.metrics("trace.traced_s") = t("pass")
    r.metrics("trace.overhead_s") = median(rounds.map { case (u, t) => t("pass") - u("pass") })
    r.metrics("engine.peak_heap_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  private def wire(): DataFrame = s.read.parquet(s"$feedDir/wire")

  // ---------------------------------------------------------------- ingest

  private val analytics: Seq[(String, DataFrame => DataFrame)] = Seq(
    "storage_mode" -> ContentOps.storageMode,
    "stale_arrivals" -> ContentOps.staleArrivals,
    "noop_audit" -> ContentOps.noopAudit,
    "resurrection_audit" -> ContentOps.resurrectionAudit,
    "publish_analytics" -> ContentStream.publishAnalytics)

  /** One ingest pass: wire feed → persisted, fully materialized envelope →
    * the five keyed analytics, each fully materialized. Returns the
    * envelope wall and each analytic's wall. `mark` runs before the pass,
    * between envelope and analytics, and after the analytics. */
  private def ingestPass(keep: Boolean,
      mark: () => Unit = () => ()): (Double, Seq[(String, Double)]) = {
    mark()
    val (env, envS) = time {
      val e = ContentOps.envelopeFromWire(s, wire()).persist(StorageLevel.MEMORY_AND_DISK)
      noop(e)
      e
    }
    mark()
    try {
      if (keep)
        env.withColumn("body_md5", md5(col("body_raw"))).drop("body_raw")
          .write.parquet(s"$checkDir/envelope")
      val keyed = analytics.map { case (name, f) =>
        val out = f(env)
        name -> time(if (keep) out.write.parquet(s"$checkDir/$name") else noop(out))._2
      }
      mark()
      (envS, keyed)
    } finally env.unpersist(blocking = true)
  }

  /** The warm-up is the check pass and `warmup_passes` plain ones: passes
    * keep getting faster over the first few while the JIT compiles. */
  def ingest(): Unit = {
    setup(Feed.write(s, feed, feedDir)) {
      ingestPass(keep = true)
      (1 to params("warmup_passes").toInt).foreach(_ => ingestPass(keep = false))
    }
    val wall = (p: (Double, Seq[(String, Double)])) => p._1 + p._2.map(_._2).sum
    if (!traced) {
      val passes = timed(ingestPass(keep = false))
      r.metrics("records_per_s") = feed.records / median(passes.map(_._1))
      r.metrics("latency_ms") = median(passes.map(wall)) * 1e3
    } else {
      tracedPasses {
        val p = ingestPass(keep = false)
        Map("pass" -> wall(p), "envelope.untraced_s" -> p._1)
      } { trace =>
        val marks = mutable.ArrayBuffer.empty[EngineTrace.Counts]
        val p = ingestPass(keep = false, () => marks += trace.counts(s))
        val keyed = marks(2) - marks(1)
        Map("envelope.s" -> p._1, "pass" -> wall(p),
          "keyed.jobs" -> keyed.jobs.toDouble, "keyed.shuffle_bytes" -> keyed.shuffleWrite.toDouble,
          "keyed.spill_bytes" -> keyed.spill.toDouble) ++
          p._2.map { case (n, t) => s"keyed.$n.s" -> t } ++
          engineTotals(marks(2) - marks(0), wall(p))
      } {
        // split calls, untraced: scan only, then scan + decode only
        val scan = time(noop(wire()))._2
        val decode = time(noop(wire().select(gunzipCol(col("payload")))))._2
        Map("scan.s" -> scan, "decode.s" -> (decode - scan), "split.decode_s" -> decode)
      }
      // envelope.self_s: the traced envelope wall less the scan + decode share
      r.metrics("envelope.self_s") = r.metrics("envelope.s") - r.metrics.remove("split.decode_s").get
      val d = wire().select(length(col("payload")).as("i"), gunzipCol(col("payload")).as("o"))
        .agg(sum("i"), sum(length(col("o"))), count(when(col("o").isNull, 1)))
        .head()
      r.metrics("decode.bytes_in") = d.getLong(0)
      r.metrics("decode.bytes_out") = d.getLong(1)
      r.metrics("decode.null_rows") = d.getLong(2)
      // records the engine dropped: sidecar rows missing from the kept
      // envelope, by what the generator planted in them
      val kept = s.read.parquet(s"$checkDir/envelope").select("seq")
      val dropped = s.read.parquet(s"$feedDir/sidecar").join(kept, Seq("seq"), "left_anti")
        .groupBy("kind").count().collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      val out = kept.count()
      r.metrics("envelope.rows_out") = out
      r.metrics("envelope.dropped_fetch") = dropped.getOrElse("broken", 0L).toDouble
      r.metrics("envelope.dropped_type") = dropped.getOrElse("alien", 0L).toDouble
      r.metrics("envelope.yield") = out.toDouble / feed.records
    }
  }

  // --------------------------------------------------------------- resolve

  def resolve(): Unit = {
    val latencyMs = params("latency_ms").toDouble
    val plan = ResolveFeed.plan(feed)
    val server = new StoreServer(plan.objects, latencyMs, cores)
    try {
      val decoded = () => {
        import s.implicits._
        wire().repartition(cores)
          .select(col("shard"), col("seq"), gunzipCol(col("payload")))
          .as[(Int, String, String)]
      }
      val resolved = () =>
        HttpResolver.resolveWithReasons(decoded(), isUrl = _.startsWith("http"))
      var got: Array[(String, String, String)] = Array.empty
      setup(ResolveFeed.write(s, plan, server.base, s"$feedDir/wire", feed.files)) {
        server.reset()
        got = resolved().select("seq", "raw", "skip_reason").collect()
          .map(row => (row.getString(0), row.getString(1), row.getString(2)))
        checkResolve(plan, got, server.snapshot()._1)
      }
      if (!traced) {
        val passes = timed(time(noop(resolved()))._2)
        r.metrics("records_per_s") = plan.records.length / median(passes)
        r.metrics("latency_ms") = median(passes) * 1e3
      } else {
        tracedPasses(Map("pass" -> time(noop(resolved()))._2)) { trace =>
          server.reset()
          val c0 = trace.counts(s)
          val wall = time(noop(resolved()))._2
          val c1 = trace.counts(s)
          val (gets, maxIn, svcNs, samples) = server.snapshot()
          val inFlight = svcNs / 1e9 / wall
          Map("pass" -> wall, "resolve.gets" -> gets.toDouble,
            "resolve.retries" -> (gets - plan.urlCount).toDouble,
            "resolve.in_flight_max" -> maxIn.toDouble, "resolve.in_flight_mean" -> inFlight,
            "resolve.server_ms_p50" -> median(samples.map(_ / 1e6).toSeq),
            "resolve.model_records_per_s" -> inFlight / (latencyMs / 1e3)) ++
            engineTotals(c1 - c0, wall)
        }(Map.empty)
        Seq("missing", "expired", "transient", "corrupt").foreach { k =>
          r.metrics(s"resolve.skip.$k") = got.count(_._3 == k)
        }
      }
    } finally server.stop()
  }

  /** Every good URL returns its served JSON; every planted failure skips
    * with its class; the GET count includes exactly one retry per
    * transient (flaky or failing) URL. */
  private def checkResolve(plan: ResolveFeed.Plan, got: Array[(String, String, String)],
      gets: Long): Unit = {
    val bySeq = got.map(g => g._1 -> g).toMap
    val rowsOk = got.length == plan.records.length && plan.records.forall { rec =>
      bySeq.get(rec.seq).exists { case (_, raw, reason) =>
        ResolveFeed.skipReason(rec.kind) match {
          case Some(k) => raw == null && reason == k
          case None => reason == null && raw == rec.json
        }
      }
    }
    r.check("resolve_rows", rowsOk)
    r.check("resolve_gets", gets == plan.expectedGets)
  }

  // ---------------------------------------------------------------- stream

  private val wireSchema = StructType(Seq(StructField("shard", IntegerType),
    StructField("seq", StringType), StructField("payload", BinaryType)))

  private lazy val (prefill, delta) = streamFeeds(feed, params)
  private val baseCkpt = s"$work/ckpt-base"
  /** The stream source: the prefill's and the delta's wire files. A file
    * source must keep its path across restarts from one checkpoint. */
  private val streamSrc = s"$feedDir/*/wire"
  private var drains = 0

  /** One AvailableNow drain of the wire files under `src` through
    * envelope → latestState, `filesPerTrigger` files per micro-batch, on
    * checkpoint `ckpt`, into `sink`. Returns the drain's wall time and its
    * per-batch progress. */
  private def drain(src: String, ckpt: String, sink: Option[String],
      filesPerTrigger: Int): (Double, Array[StreamingQueryProgress]) = {
    import s.implicits._
    val in = s.readStream.schema(wireSchema).option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(src)
    val env = ContentOps.envelopeFromWire(s, in)
      .select(col("seq"), col("operation"), col("date"), col("id"), col("branch"),
        col("published"), col("created"), col("headline"), col("word_count").as("wordCount"))
      .as[ContentStream.EnvelopeRow]
    val w = ContentStream.latestState(env).writeStream.outputMode("update")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt)
    val started = sink match {
      case Some(dir) =>
        w.foreachBatch { (ds: Dataset[ContentStream.StateChange], id: Long) =>
          ds.withColumn("batch", lit(id)).write.mode("append").parquet(dir)
        }
      case None => w.format("noop")
    }
    val (q, wall) = time {
      val q = started.start()
      q.awaitTermination()
      q
    }
    (wall, q.recentProgress.filter(_.numInputRows > 0))
  }

  /** Drains the delta files on a copy of the prefilled checkpoint, so each
    * drain starts from a state of `prefill_records` keys; the copy is
    * deleted afterwards. */
  private def deltaDrain(sink: Option[String]): (Double, Array[StreamingQueryProgress]) = {
    drains += 1
    val ckpt = new java.io.File(s"$work/ckpt-$drains")
    FileUtils.copyDirectory(new java.io.File(baseCkpt), ckpt)
    try drain(streamSrc, ckpt.getPath, sink, params("files_per_trigger").toInt)
    finally FileUtils.deleteDirectory(ckpt)
  }

  /** Generation writes the delta feed. The warm-up writes the prefill feed
    * and drains it alone, in one micro-batch, into the base checkpoint (the
    * delta's files moved out of the source's sight), then drains the delta
    * on a copy of it, both into the kept state changes, then the delta
    * `warmup_passes` more times: drains keep getting faster over the first
    * few. */
  def stream(): Unit = {
    setup(Feed.write(s, delta, s"$feedDir/delta")) {
      Feed.write(s, prefill, s"$feedDir/prefill")
      val (wire, held) = (Paths.get(feedDir, "delta", "wire"), Paths.get(feedDir, "delta", "held"))
      Files.move(wire, held)
      try drain(streamSrc, baseCkpt, Some(s"$checkDir/state"), prefill.files)
      finally Files.move(held, wire)
      deltaDrain(Some(s"$checkDir/state"))
      (1 to params("warmup_passes").toInt).foreach(_ => deltaDrain(None))
    }
    if (!traced) {
      val passes = timed(deltaDrain(None))
      r.metrics("records_per_s") = delta.records / median(passes.map(_._1))
      r.metrics("latency_ms") = median(passes.flatMap(_._2.map(_.batchDuration.toDouble)))
    } else {
      tracedPasses(Map("pass" -> deltaDrain(None)._1)) { trace =>
        val c0 = trace.counts(s)
        val (wall, ps) = deltaDrain(None)
        val c1 = trace.counts(s)
        def ms(k: String) = median(ps.map(_.durationMs.getOrDefault(k, 0L).toDouble).toSeq)
        val st = ps.map(_.stateOperators.head)
        Map("pass" -> wall, "stream.batches" -> ps.length.toDouble,
          "stream.add_batch_ms" -> ms("addBatch"), "stream.planning_ms" -> ms("queryPlanning"),
          "stream.wal_commit_ms" -> ms("walCommit"),
          "state.rows_total" -> st.last.numRowsTotal.toDouble,
          "state.rows_updated" -> st.map(_.numRowsUpdated).sum.toDouble,
          "state.memory_bytes" -> st.last.memoryUsedBytes.toDouble,
          "state.update_ms" -> st.map(_.allUpdatesTimeMs).sum.toDouble,
          "state.commit_ms" -> st.map(_.commitTimeMs).sum.toDouble) ++ engineTotals(c1 - c0, wall)
      }(Map.empty)
    }
  }
}
