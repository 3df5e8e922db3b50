package graft
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS] and prints ONE JSON line.
  *
  * Each query is timed SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  * minimum is reported: with 100+ queries sharing one JVM, codegen/JIT
  * first-touch costs (~0.5-1.5 s) land on whichever query happens to run
  * first, which round 2 mis-attributed as regressions on trivial scans
  * (q01/q22/q23). Min-of-n reports steady-state per-query cost.
  *
  * Rounds 5 and 7 both saw untouched-query clusters move >2x between
  * rounds (r7: q83 1.40->3.31 s with zero code changes), which min-of-2
  * cannot distinguish from a real plan regression. So each query now also
  * reports its MEDIAN alongside the min ("med" maps below): a query whose
  * median sits far above its min is measurement noise (JIT/GC/heap aging
  * in a long single-JVM run), not a plan problem, and per-query deltas
  * across rounds should be judged on min with the med-min spread as the
  * error bar. The bounded stdout line carries min+med for the TopN slowest
  * only plus a suite-wide `max_spread_pct`; `bench_out.json` always has
  * the complete per-query min and med maps.
  *
  * The JSON line is also written to `bench_out.json` so a truncated stdout
  * tail can never lose timings (BENCH_r02 lost 7 queries that way).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // ERROR, not WARN: the driver's bounded output tail is shared between
    // log noise and the JSON line. In r5 the WindowExec/CacheManager WARN
    // lines consumed ~1.1 KB of the ~2 KB tail and the JSON line was cut
    // mid-map — BENCH_r05.json recorded `parsed: null` even though the
    // bench itself was green. Warnings are still visible in local runs of
    // Verify/tests, which keep WARN; the bench JVM prints timings only.
    spark.sparkContext.setLogLevel("ERROR")
    // LOAD SENTINEL (r8 verdict task 6): the same fixed reference query —
    // identical bytecode, plan, and data every round — timed at the ⅓,
    // ⅔, and end marks of the suite. The max/min ratio across those legs
    // isolates BOX LOAD CHANGING MID-RUN (noisy neighbors, the r8 166%-
    // spread driver box) from plan changes, which per-query deltas alone
    // cannot do. Legs deliberately start at the ⅓ mark: on a cold JVM
    // tiered JIT keeps accelerating the whole engine through the early
    // suite (measured 1.7 s → 0.19 s for this query across one sf0.001
    // run on an idle box), so a before-suite leg would read as phantom
    // load. Each leg = one warm-up + min-of-3. SCALE.md documents the
    // accept/reject rule.
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.sum("l_quantity")).count()
      (System.nanoTime() - t0) / 1e9
    }
    def sentinelLeg(): Double = {
      spark.catalog.clearCache()
      // two warm-ups + min-of-5: the r12 idle-box dry run measured legs
      // 0.187/0.181/0.151 with ZERO external load — a monotonic decrease
      // from tiered JIT still warming this query's own codegen at the ⅓
      // mark, which min-of-3-after-one-warm-up cannot flush and which
      // then reads as phantom load_ratio ≈ 1.24. Deeper sampling per leg
      // costs < 2 s total and lets the ratio measure what it claims to:
      // externally raised floors, not warm-up slope.
      sentinelOnce(); sentinelOnce()
      (1 to 5).map(_ => sentinelOnce()).min
    }
    val sentinelLegs = scala.collection.mutable.ArrayBuffer[Double]()
    // local-dev substring filter (driver never sets it → all queries);
    // comma-separated, match-any — same contract as Verify's third arg
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').filter(_.nonEmpty).toSeq)
    // sortBy(name): Map hash order reshuffles the whole execution order
    // whenever a single query is added, so cold-JVM warmup and any
    // time-correlated box noise land on DIFFERENT queries each round,
    // confounding per-query deltas across rounds. Name order is stable
    // round to round: warmup lands on q01 every time, and a query's
    // suite position (its neighbors, its distance into the run) stays
    // fixed, so cross-round per-query comparison compares like with like.
    val qseq = SparkEntry.queries
      .filter { case (name, _) => filter.forall(_.exists(name.contains)) }
      .toSeq.sortBy(_._1)
    val legMarks = Set(qseq.size / 3, 2 * qseq.size / 3, qseq.size)
    val results = qseq.zipWithIndex.map { case ((name, fn), idx) =>
      // only SUCCESSFUL runs contribute durations: a run that throws fast
      // must never be reported as the query's (minimum) time, whether the
      // other runs succeeded or not; all-failed queries go to `errors`
      val okTimes = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case t: Throwable => System.err.println(s"[bench] $name failed: $t"); None }
      }
      // Per-query cache isolation: the engine's persisted relations
      // (Dedup.shingled/ex0/withSimhash, Similarity.vecBase, q78's docs)
      // are deliberately never unpersisted inside a query — but across 89
      // queries in ONE JVM they accumulate as resident MEMORY_AND_DISK
      // blocks that compete with execution memory, which is how r5's
      // untouched q32/q48/q69/q70/q71 regressed 2.2–9.6× vs r4 (the
      // CacheManager "already cached" warnings were the tell). Clearing
      // BETWEEN queries keeps each measurement isolated: run 1 builds the
      // query's own caches, run 2 reuses them, min-of-n reports the warm
      // time — and no query pays for a predecessor's resident blocks.
      Caches.release() // the library-consumer hook; see graft.Caches
      spark.catalog.clearCache()
      // Shuffle-file isolation (r11 sf1 smoke): shuffle files are deleted
      // by the async ContextCleaner only after the shuffle dependency
      // object is GARBAGE-COLLECTED — across 200+ queries in one JVM
      // nothing forces that GC, so at 10× bench scale tens of GB of dead
      // shuffle spill accumulated under /tmp and late queries measured up
      // to 11× their standalone time (q129 54.8 s in-suite vs 5.0 s
      // alone, on an idle box with flat sentinels — the tiny sentinel
      // query is blind to this failure mode by design of its size). An
      // explicit GC between queries lets the cleaner reclaim the
      // predecessor's shuffles before the next measurement starts.
      System.gc()
      // (min, median) of the successful runs; median of an even count is
      // the lower-middle element (conservative: closer to min)
      val stats = if (okTimes.nonEmpty) {
        val s = okTimes.sorted
        Some((s.head, s((s.size - 1) / 2)))
      } else None
      if (legMarks.contains(idx + 1)) sentinelLegs += sentinelLeg()
      name -> stats
    }
    // The driver captures a bounded stdout TAIL (~2 KB): r4's
    // full-precision 75-query line overflowed it, and r5's 30-query line
    // STILL overflowed once log noise shared the same tail (see the
    // setLogLevel note above) — both rounds recorded no parsed bench
    // number. The stdout line is therefore structurally bounded — 3-decimal
    // times, only the TopN slowest queries inline, ~600 B total — while
    // bench_out.json always carries the complete map. Failed queries
    // appear ONLY in `errors` — never as a -1 "duration" a consumer could
    // aggregate.
    val TopN = 12
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def qmap(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // Both emitted lines carry the md5 of the COMPLETE per-query min map,
    // so the truncated stdout tail the driver archives (BENCH_r09 showed
    // queries_omitted:155) and the full-map bench_out.json are provably
    // the same run, not two runs that happen to share a total.
    def digest(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val ok = results.collect { case (k, Some(v)) => (k, v) }.toSeq
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
    // total/value and the `queries` map stay min-based (the driver-parsed
    // contract is unchanged since r6); `med` is the added noise channel
    val total = ok.map(_._2._1).sum
    val maxSpreadPct = ok.collect {
      case (_, (mn, md)) if mn > 0.010 => (md - mn) / mn * 100.0
    }.foldLeft(0.0)(math.max)
    val loadRatio =
      if (sentinelLegs.nonEmpty && sentinelLegs.min > 0)
        sentinelLegs.max / sentinelLegs.min
      else 1.0
    // CONTENTION GUARD (r14 verdict task 3): a record taken on a loaded
    // box is not canonical-worthy — r14's driver record (load 1.754)
    // showed q185 at 9.3 s vs 2.3 s quiet, a pure artifact. Rather than
    // refuse (the driver must always get a line), the record SELF-LABELS
    // with the SAME rule BASELINE.md defines for canonical records
    // (r15 ADVICE: a second, looser threshold here let a 1.2 record
    // carry canonical:true while failing the documented rule). Above
    // the bar the flag flips to false and the competing process list
    // goes to stderr so the cause is in the archived log.
    //
    // The rule is two-sided because the ratio alone misfires on FAST
    // floors (r16 measurement): on an idle box with min leg 0.122 s,
    // max/min read 1.36 — 45 ms of JIT/GC wobble, not load — while the
    // r15 degraded-floor record (legs ~0.20, +25% per-query across the
    // board) sailed through at 1.039. A max leg at or below the 0.17 s
    // quiet-floor level (BASELINE.md sentinel-absolute rule) is direct
    // evidence no competing load existed at any probe point, so it
    // certifies quietness regardless of the ratio of tiny legs; the
    // ratio remains the guard on DEGRADED floors where absolute levels
    // cannot discriminate. Every historical contaminated record fails
    // both branches (BENCH_r15: max 0.207 AND ratio 1.473).
    // Consumers must not use a canonical:false record as a cross-round
    // floor; cross-round comparisons normalize by sentinel level.
    //
    // r16 ADVICE cap: the legs branch probes only 3 points, so a bursty
    // load that starts and ends between probes could inflate mid-suite
    // queries while every probe still reads quiet. The absolute branch
    // therefore only overrides MODERATE ratio readings (<= 1.5 — the
    // fast-floor wobble regime; r16 measured 1.36 on 45 ms of JIT noise
    // over a 0.122 s leg). A grossly spread record (every historical
    // contaminated one reads >= 1.47) can never self-label canonical,
    // and the emitted record names WHICH branch certified it so a
    // legs-certified 1.2-ratio record is distinguishable downstream.
    val viaRatio = loadRatio <= 1.1
    val viaLegs = sentinelLegs.nonEmpty && sentinelLegs.max <= 0.17 &&
      loadRatio <= 1.5
    val canonical = viaRatio || viaLegs
    val canonicalVia =
      if (viaRatio && viaLegs) "both"
      else if (viaRatio) "ratio"
      else if (viaLegs) "legs"
      else "none"
    if (!canonical) {
      System.err.println(
        f"[bench] load_ratio $loadRatio%.3f > 1.1 - NOT canonical; top-CPU processes:")
      try System.err.println(scala.sys.process.Process(Seq("sh", "-c",
        "ps -eo pid,pcpu,pmem,etime,comm --sort=-pcpu | head -12")).!!)
      catch { case _: Throwable => () }
    }
    val fullMapDigest = digest(qmap(ok.map { case (k, v) => (k, v._1) }))
    def line(rs: Seq[(String, (Double, Double))], omitted: Int) =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,""" +
        s""""n_queries":${ok.size},"queries_omitted":$omitted,""" +
        s""""run_digest":"$fullMapDigest",""" +
        s""""max_spread_pct":${fmt(maxSpreadPct)},""" +
        s""""sentinel_legs":${sentinelLegs.map(fmt).mkString("[", ",", "]")},""" +
        s""""load_ratio":${fmt(loadRatio)},"canonical":$canonical,""" +
        s""""canonical_via":"$canonicalVia",""" +
        s""""errors":${failed.mkString("[", ",", "]")},""" +
        s""""queries":${qmap(rs.map { case (k, v) => (k, v._1) })},""" +
        s""""med":${qmap(rs.map { case (k, v) => (k, v._2) })},"sf":"$sfDir"}"""
    val slowest = ok.sortBy(-_._2._1).take(TopN)
    println(line(slowest, omitted = ok.size - slowest.size))
    Files.writeString(Paths.get("bench_out.json"), line(ok, omitted = 0))
    spark.stop()
  }
}
