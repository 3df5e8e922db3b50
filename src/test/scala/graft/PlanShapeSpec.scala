package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.plans.PlanShape

/** Plan-shape regression harness (r13 verdict task 3): the ~20 most
  * expensive canonical-bench queries have their physical-plan skeletons
  * (see [[graft.plans.PlanShape]]) pinned as golden files under
  * `src/test/resources/golden-plans/`. Planning runs against the BENCH
  * scale dir (sf0.1) — broadcast-vs-shuffle decisions read file
  * statistics, so the pinned shape is the shape the bench actually
  * executes. Most checks are plan-only round trips (~100 ms); the
  * iterative queries (k-core, collapse audit, k-hop) do run their
  * driver loops during frame construction, so the suite costs ~45 s.
  *
  * On mismatch the test fails with the unified diff. For a DELIBERATE
  * plan change, regenerate in the same commit:
  *
  * {{{ GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanShapeSpec" }}}
  *
  * Golden files are stable across JVMs because the skeleton strips
  * expression/plan ids and partition counts; they are NOT stable across
  * testdata regenerations that move a table over the 10 MB broadcast
  * threshold — that diff is real information (the bench shape changed),
  * regenerate and say so in the commit.
  */
class PlanShapeSpec extends SparkSpec {

  private val benchSf = "/root/testdata/sf0.1"
  private val goldenDir = Paths.get("src", "test", "resources", "golden-plans")
  private val regen = sys.env.contains("GRAFT_REGEN_PLANS")

  /** Top of the canonical bench by cost + the two scan-shape sentinels
    * (q14 windows, q67 correlated agg) — the queries where a silent
    * extra Exchange or a broadcast flip costs the most.
    */
  private val pinned = Seq(
    "q239_trigram_search", "q264_poisson_bootstrap", "q241_collapse_audit",
    "q199_kcore_peel", "q94_fuzzy_pairs_dual", "q145_dedup_savings",
    "q185_frequent_pairs", "q237_dedup_waterfall", "q289_khop_reach",
    "q205_canonical_election", "q96_cluster_split", "q83_fuzzy_pairs",
    "q73_dedup_clusters", "q133_dsir_resample", "q146_join_stats",
    "q257_coverage_selection", "q235_inbatch_collisions", "q128_dsir_weights",
    "q14_window_rank", "q197_gram_decontamination", "q221_prefix_filter_join",
    "q67_correlated_agg",
    // r14 additions now in the top cost tier (r14 verdict task 5): the
    // HITS half-step persist chain, the RFM single-pass, the one-scan
    // 32-replica bootstrap, and the Moore-Lewis dual-LM scorer all have
    // hand-won persist/broadcast shapes worth pinning.
    "q330_hits_scores", "q315_rfm_segments", "q326_moore_lewis",
    // the content-operation changelog queries: each one reads the document
    // key and the (date, seq) order from the same ContentOps definitions,
    // so a change to either shows up here as a plan diff.
    "q52_latest_state", "q54_publish_transitions", "q58_state_extraction",
    "q80_scd2_versions", "q161_body_field_diff", "q169_stale_arrival_audit",
    "q171_storage_mode", "q173_draft_published_drift", "q211_noop_republish",
    "q213_resurrection_audit")

  private def diff(want: String, got: String): String = {
    val w = want.linesIterator.toVector
    val g = got.linesIterator.toVector
    val out = new StringBuilder
    for (i <- 0 until math.max(w.size, g.size)) {
      val a = w.lift(i).getOrElse("<absent>")
      val b = g.lift(i).getOrElse("<absent>")
      if (a != b) out.append(s"  line ${i + 1}:\n    golden: $a\n    got:    $b\n")
    }
    out.toString
  }

  pinned.foreach { name =>
    test(s"plan shape pinned: $name") {
      val got = PlanShape.skeleton(SparkEntry.queries(name)(spark, benchSf))
      // a query whose skeleton is EMPTY would pin nothing — that is a
      // harness bug (the filter list drifted from Spark's node names).
      // NOTE: the iterative queries (k-core peel, collapse audit, k-hop,
      // coverage selection) legitimately show NO parquet scan here: their
      // final frame unions pinned (Caches.pin) intermediates, so the scans
      // live in the (already executed) per-round plans.
      assert(got.nonEmpty, s"empty skeleton for $name")
      val file = goldenDir.resolve(s"$name.txt")
      if (regen) {
        Files.createDirectories(goldenDir)
        Files.write(file, (got + "\n").getBytes(StandardCharsets.UTF_8))
      } else {
        assert(Files.exists(file),
          s"no golden for $name - run GRAFT_REGEN_PLANS=1 sbt 'testOnly graft.PlanShapeSpec'")
        val want = new String(Files.readAllBytes(file), StandardCharsets.UTF_8).stripLineEnd
        assert(want == got,
          s"plan shape drifted for $name (regenerate ONLY if deliberate):\n${diff(want, got)}")
      }
      // per-query isolation, same reason as Bench/Verify: planning some
      // of these registers persisted relations via Caches.persist
      Caches.release()
      spark.catalog.clearCache()
    }
  }
}
