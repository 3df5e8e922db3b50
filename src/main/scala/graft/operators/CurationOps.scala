package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators: the sampling / gating / truncation steps a
  * training-data pipeline runs between raw ingest and tokenization, beyond
  * the analysis ops in [[TextAnalysis]] (which score and split) — these
  * SELECT and SHAPE the corpus. Reference context: the feed the reference
  * processes (/root/reference/docs/user-guide.md:3) is the upstream of
  * exactly this curation stage.
  *
  * Every operator here is deterministic under repartitioning (hash-derived
  * sampling, never `rand()`), and row-local except where a per-group
  * bounded window is the semantics (q91). That determinism is not a test
  * convenience: reproducible corpus membership is what makes a 100 TB
  * training set auditable — re-running the pipeline yields the same
  * sample, so membership questions ("was this doc trained on?") have
  * stable answers.
  */
object CurationOps extends QueryPack {
  import Tables._

  // the reproducible-membership primitive is Tables.docIdPctBucket —
  // shared with the q74/q75 splits so sample and split can never drift

  // q90: deterministic STRATIFIED SAMPLING with per-stratum rates — the
  // corpus-mixing knob: upweight scarce/high-quality strata, downsample
  // abundant ones. Rates here key off the source index parity (even
  // sources keep 20%, odd keep 5%) — a stand-in for a real per-source
  // rate table, which at scale arrives as a broadcast map. Membership is
  // the md5 bucket vs the stratum's rate: a row-local filter FUSED INTO
  // THE SCAN STAGE (it shows in the FileScan's DataFilters; parquet
  // PushedFilters can only carry the IsNotNull — a hash of the id cannot
  // prune row groups, by design: a prunable sample would be a biased
  // sample). One codegen pass at 100 TB, only the 20-row summary
  // shuffles, and membership is stable under any repartitioning
  // (rand()-based sampling changes membership per run and per
  // partitioning — useless for auditable corpus construction). The
  // id-sum checksum pins EXACT membership, not just cardinality, into
  // the oracle hash.
  private def q90(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h", Tables.docIdPctBucket)
      // try_cast in BOTH engines: the fixture's sources are src0..src19,
      // but off-fixture a non-numeric suffix must not diverge (ANSI cast
      // throws in Spark, ::INT errors in DuckDB) — try_cast yields NULL
      // and the CASE's ELSE assigns such sources the conservative 5% rate.
      .withColumn("rate",
        when(expr("try_cast(substring(source, 4) AS INT)") % 2 === 0, 20)
          .otherwise(5))
      .filter(col("h") < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        sum("doc_id").as("id_checksum"),
        sum("n_chars").as("sum_chars"))
      .orderBy("source")

  private val q90Sql =
    """SELECT source, count(*) AS n_sampled,
      | CAST(sum(doc_id) AS BIGINT) AS id_checksum,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (SELECT *,
      |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS h,
      |        CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 2 = 0 THEN 20 ELSE 5 END AS rate
      |      FROM documents)
      |WHERE h < rate
      |GROUP BY source ORDER BY source""".stripMargin

  // q91: FIXED-SIZE per-group sample — exactly k docs per source (data
  // cards, eval panels, human-review batches need "5 examples per
  // stratum", not "5% of each stratum"). Deterministic uniform-without-
  // replacement: rank by the md5 hash of the id within each source and
  // keep the k smallest — equivalent to a seeded shuffle, reproducible
  // under any partitioning. The window partitions by source, so no
  // global sort exists — and Spark's rank-limit pushdown plans it as
  // WindowGroupLimit (Partial) BEFORE the exchange: every map task
  // forwards at most k rows per group it sees, so the shuffle carries
  // O(k · sources · tasks) rows, not the corpus — the q16 bounded-buffer
  // top-k shape, derived automatically (CurationOpsSpec pins it).
  private def q91(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= k)
      .select(col("source"), col("pick"), col("doc_id"), col("n_chars"))
      .orderBy("source", "pick")
  }

  private val q91Sql =
    """SELECT source, pick, doc_id, n_chars
      |FROM (SELECT source, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY source
      |          ORDER BY md5(doc_id::VARCHAR), doc_id) AS pick
      |      FROM documents)
      |WHERE pick <= 5
      |ORDER BY source, pick""".stripMargin

  // q92: REASON-CODED quality gate — filtering with an audit trail. A
  // production gate never just drops rows: it records WHY (the reason
  // histogram is the pipeline's drift alarm — a spike in `too_short`
  // means an upstream extractor broke). First-failing-rule precedence,
  // integer-exact ratio test (10·distinct < 4·tokens ⟺ diversity < 0.4,
  // no float division near the boundary), all row-local projections; the
  // only shuffle is the (source × reason) summary. At 100 TB the kept
  // set continues down the pipeline as `filter(reason = 'kept')` on the
  // same expression — pushed to the scan, no materialized flag column.
  private def q92(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("n_distinct", size(array_distinct(split(col("text"), " "))))
      .withColumn("reason",
        when(col("n_tok") < 40, "too_short")
          .when(col("n_distinct") * 10 < col("n_tok") * 4, "low_diversity")
          .otherwise("kept"))
      .groupBy("source", "reason")
      .agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("id_checksum"))
      .orderBy("source", "reason")

  private val q92Sql =
    """SELECT source, reason, count(*) AS n_docs,
      | CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM (SELECT source, doc_id,
      |        CASE WHEN len(string_split(text, ' ')) < 40 THEN 'too_short'
      |             WHEN len(list_distinct(string_split(text, ' '))) * 10
      |                  < len(string_split(text, ' ')) * 4 THEN 'low_diversity'
      |             ELSE 'kept' END AS reason
      |      FROM documents)
      |GROUP BY 1, 2 ORDER BY source, reason""".stripMargin

  // q93: TOKEN-BUDGET TRUNCATION accounting — context windows are fixed;
  // the curation question is what a `max_tokens` cut costs per stratum
  // (truncate-vs-drop decisions come from exactly this report). The
  // truncated token count is least(n, budget) — a row-local projection;
  // the report is one small aggregation. Integer sums keep the retained-
  // fraction math engine-exact (the ratio itself is derived from two
  // hashed exact sums rather than hashing a float division). At scale
  // the companion transform (slice(tokens, 1, budget)) is the same
  // codegen pass; the report IS its cost model.
  private def q93(s: SparkSession, d: String): DataFrame = {
    val budget = 64
    documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("kept_tok", least(col("n_tok"), lit(budget.toLong)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > budget, 1L).otherwise(0L)).as("n_truncated"),
        sum("n_tok").as("tok_before"),
        sum("kept_tok").as("tok_after"))
      .orderBy("source")
  }

  private val q93Sql =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
      | CAST(sum(n_tok) AS BIGINT) AS tok_before,
      | CAST(sum(least(n_tok, 64)) AS BIGINT) AS tok_after
      |FROM (SELECT source, len(string_split(text, ' '))::BIGINT AS n_tok
      |      FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  // q100: CONTEXT-WINDOW CHUNKING — the step between curation and
  // tokenization: every doc becomes fixed-width 64-token windows at
  // stride 48 (16-token overlap so no boundary-spanning text is ever
  // unseen by training). Entirely ROW-LOCAL: the window starts are a
  // `sequence(1, n_tok, stride)` and each chunk a `slice` — one codegen
  // pass with a generator, zero shuffle until the (optional) writer
  // repartition, which is how 100 TB of documents becomes 100 TB of
  // training rows without a single wide exchange. chunk_id derives from
  // t_start arithmetic ((t_start-1) div stride) rather than explode
  // ordinality so the oracle needs no WITH ORDINALITY mirror; the md5 of
  // each chunk pins the exact text content into the hash compare.
  private def q100(s: SparkSession, d: String): DataFrame = {
    val (w, st) = (64, 48)
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks), $st), p -> named_struct(" +
          s"'t_start', p, 'chunk', array_join(slice(toks, p, $w), ' ')))")).as("c"))
      .select(col("doc_id"),
        expr(s"CAST((c.t_start - 1) DIV $st AS BIGINT)").as("chunk_id"),
        col("c.t_start").cast("long").as("t_start"),
        size(split(col("c.chunk"), " ")).cast("long").as("n_tok"),
        md5(col("c.chunk")).as("h"))
      .orderBy("doc_id", "chunk_id")
  }

  private val q100Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id,
      |  unnest(list_transform(range(1, len(toks) + 1, 48), p -> struct_pack(
      |    t_start := p, chunk := array_to_string(toks[p:p+63], ' ')))) AS ch
      | FROM t)
      |SELECT doc_id, CAST((ch.t_start - 1) // 48 AS BIGINT) AS chunk_id,
      | CAST(ch.t_start AS BIGINT) AS t_start,
      | CAST(len(string_split(ch.chunk, ' ')) AS BIGINT) AS n_tok,
      | md5(ch.chunk) AS h
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // q101: DOMAIN-MIX REWEIGHTING — the corpus-mixing planner: given a
  // target mixture (uniform across sources here; a broadcast rate table
  // in production, the q90 pattern), compute each source's current token
  // share and the downsampling weight that would equalize the mix
  // (min(1, total/(S·tok)) — never upweight, only downsample the
  // overrepresented). One partial-aggregated groupBy over the corpus +
  // a broadcast of the one-row totals back across the 20-row summary:
  // nothing but the per-source aggregate ever shuffles, which is the
  // whole design — mixture planning at 100 TB is a metadata-sized
  // computation once the per-stratum sums exist. Shares/weights round
  // through the SAME round(…, 6) in both engines (the q13/q95 float-
  // parity precedent); counts and token sums stay integer-exact.
  private def q101(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok"))
    val tot = per.agg(sum("tok").as("tot_tok"), count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .withColumn("share", round(col("tok") / col("tot_tok"), 6))
      .withColumn("weight",
        round(least(lit(1.0), col("tot_tok") / (col("n_sources") * col("tok"))), 6))
      .select("source", "n_docs", "tok", "share", "weight")
      .orderBy("source")
  }

  private val q101Sql =
    """WITH per AS (SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
      | FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(tok) AS BIGINT) AS tot_tok, count(*) AS n_sources FROM per)
      |SELECT source, n_docs, tok,
      | round(tok / tot_tok, 6) AS share,
      | round(least(CAST(1.0 AS DOUBLE), tot_tok / (n_sources * tok)), 6) AS weight
      |FROM per, tot ORDER BY source""".stripMargin

  // q104: CORPUS SNAPSHOT DELTA — the incremental-curation primitive: at
  // 100 TB you never recurate the corpus, you diff the new crawl against
  // the previous snapshot and reprocess only added/changed docs. The op
  // is a full outer join of two snapshots on doc_id with a content-
  // fingerprint compare: added (new only), removed (old only), changed
  // (both, fingerprints differ), unchanged. One sort-merge join on the
  // id, md5 fingerprints computed row-local at scan time — the report's
  // `changed + added` row count IS the next pipeline run's input size.
  // The two "snapshots" derive deterministically from the one fixture
  // table (old drops doc_id%7==0 and sees pre-edit text for doc_id%5==0
  // via reverse(); new drops doc_id%11==0), so every status occurs and
  // both engines construct identical inputs.
  private def q104(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("o_id"),
        when(col("doc_id") % 5 === 0, md5(reverse(col("text"))))
          .otherwise(md5(col("text"))).as("o_fp"))
    val neu = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id").as("n_id"), md5(col("text")).as("n_fp"))
    old.join(neu, col("o_id") === col("n_id"), "full_outer")
      .withColumn("status",
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "removed")
          .when(col("o_fp") =!= col("n_fp"), "changed")
          .otherwise("unchanged"))
      .withColumn("doc_id", coalesce(col("n_id"), col("o_id")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_checksum"))
      .orderBy("status")
  }

  private val q104Sql =
    """WITH old AS (SELECT doc_id AS o_id,
      |  CASE WHEN doc_id % 5 = 0 THEN md5(reverse(text)) ELSE md5(text) END AS o_fp
      | FROM documents WHERE doc_id % 7 <> 0),
      |new AS (SELECT doc_id AS n_id, md5(text) AS n_fp
      | FROM documents WHERE doc_id % 11 <> 0)
      |SELECT CASE WHEN o_id IS NULL THEN 'added'
      |            WHEN n_id IS NULL THEN 'removed'
      |            WHEN o_fp <> n_fp THEN 'changed'
      |            ELSE 'unchanged' END AS status,
      | count(*) AS n_docs,
      | CAST(sum(coalesce(n_id, o_id)) AS BIGINT) AS id_checksum
      |FROM old FULL OUTER JOIN new ON o_id = n_id
      |GROUP BY 1 ORDER BY status""".stripMargin

  // q115: the END-TO-END CURATION PIPELINE as ONE declarative flow —
  // quality gate (q92's rules) → exact dedup with a deterministic
  // representative (q18/q40's fingerprint, min-doc_id winner via
  // `min_by` so retries and repartitionings elect the same survivor) →
  // reproducible split (the shared q74 pctBucket primitive: 80/10/10) →
  // token-budget accounting (q93) → per-(split, source) report. The
  // point is compositional: every stage is row-local except the ONE
  // fingerprint shuffle (partial-agg'd min_by, so each map task forwards
  // one candidate row per fingerprint), and Catalyst fuses the gate +
  // fingerprint + bucket projections into the single corpus scan. This
  // is the query a user of the engine actually ships: at 100 TB it is
  // one pass + one hash shuffle + a metadata-sized summary, and its
  // id_checksum pins EXACT surviving membership into the oracle hash.
  private def q115(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .filter(col("n_tok") >= 40 && col("n_distinct") * 10 >= col("n_tok") * 4)
      .withColumn("fp", md5(col("text")))
      .groupBy("fp")
      .agg(min_by(struct(col("doc_id"), col("source"), col("n_tok")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
        col("r.n_tok").as("n_tok"))
      .withColumn("bucket", Tables.docIdPctBucket)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("n_tok"), lit(64))).as("tok_budgeted"),
        sum("doc_id").as("id_checksum"))
      .orderBy("split", "source")

  private val q115Sql =
    """WITH g AS (SELECT doc_id, source, text,
      |  len(string_split(text, ' ')) AS n_tok,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct
      | FROM documents),
      |k AS (SELECT doc_id, source, n_tok, md5(text) AS fp FROM g
      |      WHERE n_tok >= 40 AND n_distinct * 10 >= n_tok * 4),
      |r AS (SELECT fp, min(doc_id) AS doc_id FROM k GROUP BY fp),
      |j AS (SELECT k.doc_id, k.source, k.n_tok FROM k JOIN r ON k.doc_id = r.doc_id),
      |s AS (SELECT *,
      |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket FROM j)
      |SELECT CASE WHEN bucket < 80 THEN 'train'
      |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      | source, count(*) AS n_docs,
      | CAST(sum(least(n_tok, 64)) AS BIGINT) AS tok_budgeted,
      | CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM s GROUP BY 1, 2 ORDER BY split, source""".stripMargin

  // q120: INCREMENTAL AGGREGATE MAINTENANCE — the consumer of q104's
  // delta: per-source corpus statistics are kept current by applying
  // SIGNED delta contributions to the previous snapshot's aggregates
  // (+row for added, −row for removed, a checksum adjustment for
  // changed) instead of recomputing over the new snapshot. The ORACLE
  // computes the same statistics DIRECTLY from the new snapshot, so the
  // driver's hash match is itself the proof that delta maintenance ≡
  // full recompute — the property that lets a 100 TB pipeline keep
  // corpus dashboards current for the cost of the (tiny) delta: the old
  // corpus is touched only through its (sources × stats) aggregate row,
  // never rescanned. All statistics are integer-exact and content-
  // sensitive (the md5-prefix32 checksum detects edits that preserve
  // length, which sum(n_chars) would miss — q104's reverse() edit is
  // exactly such a change). Past ~2e9 docs per source the 32-bit-hash
  // sums outgrow a Long — the same plan runs with the sums cast
  // DECIMAL(38) (the q103/q117/q121 precedent). Snapshots derive as in
  // q104.
  // The merge itself is streaming.DeltaLogSink.merge with StatsStream's
  // keys and sums, SHARED with the streaming maintenance sink — so the
  // oracle hash-match proves the exact operator the streaming pipeline
  // applies per micro-batch (StreamingSpec seeds a table with
  // q120OldStats, streams q120Delta, and converges to this query's
  // result). A source whose docs were all removed nets to an all-zero
  // row; the report drops it, as a direct recompute has no such source.
  private def q120(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.{DeltaLogSink, StatsStream}
    DeltaLogSink.merge(q120OldStats(s, d), StatsStream.asStats(q120Delta(s, d)),
      StatsStream.keys, StatsStream.sums)
      .filter(col("n_docs") > 0)
      .orderBy("source")
  }

  private def chk120(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private def snapshots120(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val old = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("otext",
        when(col("doc_id") % 5 === 0, reverse(col("text"))).otherwise(col("text")))
      .select(col("doc_id").as("o_id"), col("source").as("o_src"), col("otext"))
    val neu = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id").as("n_id"), col("source").as("n_src"), col("text"))
    (old, neu)
  }

  /** The maintained state: per-source aggregates of the OLD snapshot. */
  private[graft] def q120OldStats(s: SparkSession, d: String): DataFrame = {
    val (old, _) = snapshots120(s, d)
    old.groupBy(col("o_src").as("source"))
      .agg(count(lit(1)).as("n_docs"), sum("o_id").as("id_sum"),
        sum(chk120(col("otext"))).as("content_checksum"))
  }

  /** Signed delta contributions from the snapshot diff (q104's join). */
  private[graft] def q120Delta(s: SparkSession, d: String): DataFrame = {
    val (old, neu) = snapshots120(s, d)
    old.join(neu, col("o_id") === col("n_id"), "full_outer")
      .withColumn("source", coalesce(col("n_src"), col("o_src")))
      .select(col("source"),
        when(col("o_id").isNull, 1L).when(col("n_id").isNull, -1L)
          .otherwise(0L).as("dn"),
        when(col("o_id").isNull, col("n_id"))
          .when(col("n_id").isNull, -col("o_id")).otherwise(0L).as("did"),
        when(col("o_id").isNull, chk120(col("text")))
          .when(col("n_id").isNull, -chk120(col("otext")))
          .otherwise(chk120(col("text")) - chk120(col("otext"))).as("dchk"))
  }

  private val q120Sql =
    """WITH new AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 0)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(doc_id) AS BIGINT) AS id_sum,
      | CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
      |   AS content_checksum
      |FROM new GROUP BY source ORDER BY source""".stripMargin

  // q128: DSIR-style IMPORTANCE WEIGHTS (Xie et al's data-selection-with-
  // importance-resampling shape): score every document by how much its
  // hashed-unigram profile looks like a TARGET domain (here lang='en')
  // relative to the raw corpus. Two one-pass aggregations:
  //  1. bucket weights — tokens hash into 1024 buckets via the engine-
  //     agnostic md5-prefix hash (the q74/q47 idiom, identical in DuckDB),
  //     and BOTH the target count and the corpus count per bucket come
  //     out of ONE conditional aggregation over one token scan;
  //  2. doc scores — each token occurrence looks its bucket weight up in
  //     the 1024-row broadcast and sums per doc.
  // The weight is the Laplace-smoothed likelihood ratio kept in integer
  // space: λ_b = ((target_b+1)·1e6) div (corpus_b+1) — a scaled-integer
  // log-free surrogate that is monotone in the ratio, exact on both
  // engines (truncating div), and overflow-safe to ~1e12 target tokens
  // per bucket (beyond that, the DECIMAL(38) cast precedent of q117/q121
  // applies). The token explosion is deliberately NOT persisted: it is
  // strictly larger than its source, so at 100 TB re-deriving it for the
  // second pass (one more columnar scan + row-local split) is cheaper
  // than spilling a materialized token stream; the only state that
  // crosses stages is the 1024-row weight table, which broadcasts.
  private def q128Toks(s: SparkSession, d: String): DataFrame =
    // r17 fanout: the per-token md5 below runs on every explode output
    // row and is deliberately unpersisted — on a single-task scan the
    // whole hash stage serialized on one core
    Tables.fanout(documents(s, d), col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("bkt",
        expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 1024"))

  /** Per-doc DSIR scores over the WHOLE corpus — q128 reports the top-20,
    * q133 consumes the full relation as resampling weights. */
  private def q128Scores(s: SparkSession, d: String): DataFrame = {
    val toks = q128Toks(s, d)
    val w = toks.groupBy("bkt").agg(
      count(lit(1)).as("ccnt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tcnt"))
      .withColumn("lw", expr("((tcnt + 1) * 1000000) div (ccnt + 1)"))
    toks.join(broadcast(w.select("bkt", "lw")), Seq("bkt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lw").as("dsir_score"))
  }

  private def q128(s: SparkSession, d: String): DataFrame =
    q128Scores(s, d)
      .orderBy(desc("dsir_score"), col("doc_id"))
      .limit(20)

  private val q128Sql =
    """WITH b AS (SELECT doc_id, lang,
      |  ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 8))::BIGINT % 1024 AS bkt
      | FROM documents),
      |w AS (SELECT bkt,
      |  ((sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1) * 1000000) // (count(*) + 1) AS lw
      | FROM b GROUP BY bkt)
      |SELECT doc_id, count(*) AS n_tokens, CAST(sum(lw) AS BIGINT) AS dsir_score
      |FROM b JOIN w USING (bkt)
      |GROUP BY doc_id ORDER BY dsir_score DESC, doc_id LIMIT 20""".stripMargin

  // q133: IMPORTANCE RESAMPLING — SELECTION STEP (completes B87's DSIR
  // end to end: q128 scores, q133 selects). Deterministic SYSTEMATIC
  // resampling: lay the docs on the cumulative-weight axis in doc_id
  // order and take one copy per crossing of W/n — n_copies(i) =
  // ⌊C_i·n/W⌋ − ⌊C_{i−1}·n/W⌋, the classic low-variance resampler, made
  // reproducible by using the id order instead of a random rotation.
  // Every step is integer arithmetic, so membership AND multiplicity
  // are engine-exact (a rand()-based multinomial could never be).
  // The cumulative sum is the q78 TWO-PHASE prefix sum (per-bucket
  // partials + ≤TargetBuckets-row offset frame + within-bucket window)
  // — no global window over data rows at any corpus size. W and max id
  // arrive via one broadcast-class aggregate row (the q78 maxId
  // precedent). C_i·n ≤ W·n needs n·Σweights < 2^63 — past that, the
  // q117/q121 DECIMAL(38) cast applies (spec-pinned for q128's λ sums;
  // the same cast slots in here).
  private def q133(s: SparkSession, d: String): DataFrame = {
    val n = 100L
    // r18: the former driver-side `wts.agg(...).head()` (fetching W, max
    // id and the degenerate-corpus guard) executed the ENTIRE q128
    // pipeline — token explode, bucket weights, doc aggregation — a
    // SECOND time on every run, before the real action even started
    // (opt guide §1.2/§5: no driver actions in query paths). W and
    // max id now ride a 1-row broadcast (the q78 maxId precedent), the
    // degenerate guard becomes a `total > 0` filter against that row
    // (total is a sum of non-negative λ weights, so NULL/≤0 ⇔ the old
    // early-return), and packWidth's max(0,maxId)/TargetBuckets+1 is
    // stated as the equivalent column expression. The doc-grain score
    // relation is what gets persisted — ONE pipeline execution per
    // lineage instead of two.
    val wts = graft.Caches.persist(
      q128Scores(s, d).select(col("doc_id"), col("dsir_score").as("w")))
    val tot = wts.agg(sum("w").as("total"), max("doc_id").as("maxid"))
    val docs = wts.crossJoin(broadcast(tot))
      .filter(col("total") > 0)
      .withColumn("bkt", expr(
        s"doc_id div (greatest(maxid, 0L) div ${ScaleOps.TargetBuckets} + 1)"))
    val bucketOffsets = docs.groupBy("bkt")
      .agg(sum("w").as("bsum"))
      .withColumn("boff", coalesce(
        sum("bsum").over(Window.partitionBy(pmod(col("bkt"), lit(1L))).orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "boff")
    val wIn = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(bucketOffsets), "bkt")
      .withColumn("ce", col("boff") + coalesce(sum("w").over(wIn), lit(0L)))
      .withColumn("n_copies",
        expr(s"((ce + w) * $n) div total - (ce * $n) div total"))
      .filter(col("n_copies") >= 1)
      .select("doc_id", "w", "n_copies")
      .orderBy("doc_id")
  }

  private val q133Sql =
    """WITH b AS (SELECT doc_id, lang,
      |  ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 8))::BIGINT % 1024 AS bkt
      | FROM documents),
      |lw AS (SELECT bkt,
      |  ((sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1) * 1000000) // (count(*) + 1) AS lw
      | FROM b GROUP BY bkt),
      |sc AS (SELECT doc_id, CAST(sum(lw) AS BIGINT) AS w
      | FROM b JOIN lw USING (bkt) GROUP BY doc_id),
      |c AS (SELECT doc_id, w,
      |  CAST(coalesce(sum(w) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ce
      | FROM sc),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM sc)
      |SELECT doc_id, w,
      | ((ce + w) * 100) // total - (ce * 100) // total AS n_copies
      |FROM c CROSS JOIN t
      |WHERE ((ce + w) * 100) // total - (ce * 100) // total >= 1
      |ORDER BY doc_id""".stripMargin

  // q137: TRAINING-MIX INTERLEAVE SCHEDULE — the ordering step between
  // curation and the trainer: given the kept corpus, emit a DETERMINISTIC
  // global training order in which every source is spread evenly (stride
  // scheduling: the doc at within-source rank r of a source with n_s docs
  // gets key (r·1e6) div n_s, so each source's docs sit at evenly-spaced
  // positions on a shared [0,1e6] axis and any schedule prefix matches the
  // corpus's source proportions — the "don't front-load one domain" rule
  // a streaming-ingest trainer needs). Integer keys keep the order
  // engine-exact; ties break (key, source, doc_id). At 100 TB the
  // schedule is a RANGE-PARTITIONED global sort by the computed key —
  // exactly what Spark's sort does, no single-task stage; the audit head
  // emitted here plans as TakeOrderedAndProject (limit 50 fuses into the
  // sort), the per-source count table broadcasts back onto the corpus,
  // and the within-source rank window partitions on source. The 50-row
  // position column uses the q77 single-partition-BY-CHOICE pmod window
  // over the already-limited frame.
  private def q137(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "source")
    val nsrc = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val wsrc = Window.partitionBy("source").orderBy("doc_id")
    val head = docs.withColumn("r", row_number().over(wsrc).cast("long"))
      .join(broadcast(nsrc), Seq("source"))
      .withColumn("k", expr("(r * 1000000) div n_s"))
      .orderBy(col("k"), col("source"), col("doc_id"))
      .limit(50)
    val w50 = Window.partitionBy(pmod(col("doc_id"), lit(1L)))
      .orderBy(col("k"), col("source"), col("doc_id"))
    head.withColumn("pos", row_number().over(w50).cast("long"))
      .select("pos", "doc_id", "source", "r", "k")
      .orderBy("pos")
  }

  private val q137Sql =
    """WITH r AS (SELECT doc_id, source,
      |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
      | FROM documents),
      |n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
      |k AS (SELECT doc_id, r.source, r.r, (r.r * 1000000) // n.n_s AS k
      | FROM r JOIN n ON r.source = n.source),
      |h AS (SELECT * FROM k ORDER BY k, source, doc_id LIMIT 50)
      |SELECT CAST(row_number() OVER (ORDER BY k, source, doc_id) AS BIGINT) AS pos,
      | doc_id, source, CAST(r AS BIGINT) AS r, k
      |FROM h ORDER BY pos""".stripMargin

  // q143: CROSS-SOURCE QUANTILE NORMALIZATION — batch-effect correction
  // for per-source measurement drift: each document's length is replaced
  // by the CORPUS value at the same relative rank within its source, so
  // a source whose scraper systematically inflates n_chars stops
  // dominating any length-thresholded downstream filter. Mechanically it
  // is q102's boundary-count idiom applied per stratum: the 9 exact
  // within-source decile boundaries come from ONE grouped aggregate (a
  // sources×9 metadata table, broadcast back), the 10 corpus decile
  // midpoints from one global aggregate (1-row broadcast crossJoin), and
  // the mapping itself is a row-local boundary-count + array lookup — no
  // rank window ever touches data rows (a percent_rank formulation would
  // sort every source's rows; this is the decile-grain form that doesn't).
  // Boundaries and midpoints are round(percentile,4) doubles computed by
  // identical expression trees in both engines (q95/q102 parity family).
  private def q143(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    val bAggs = (1 to 9).map(p => round(expr(s"percentile(n_chars, 0.$p)"), 4).as(s"b$p"))
    val sb = docs.groupBy("source").agg(bAggs.head, bAggs.tail: _*)
    val mAggs = (0 to 9).map(p => round(expr(s"percentile(n_chars, 0.${p}5)"), 4).as(s"m$p"))
    val cm = docs.agg(mAggs.head, mAggs.tail: _*)
    val bucket = (1 to 9).foldLeft(lit(0L))((acc, p) =>
      acc + when(col("n_chars") > col(s"b$p"), 1L).otherwise(0L))
    docs.join(broadcast(sb), "source")
      .crossJoin(broadcast(cm))
      .withColumn("src_decile", bucket)
      .withColumn("norm_chars",
        element_at(array((0 to 9).map(p => col(s"m$p")): _*), col("src_decile").cast("int") + 1))
      .select("doc_id", "source", "n_chars", "src_decile", "norm_chars")
      .orderBy("doc_id")
  }

  private val q143Sql = {
    val bounds = (1 to 9).map(p => s"round(quantile_cont(n_chars, 0.$p),4) AS b$p").mkString(", ")
    val mids = (0 to 9).map(p => s"round(quantile_cont(n_chars, 0.${p}5),4) AS m$p").mkString(", ")
    val bucket = (1 to 9).map(p => s"(CASE WHEN n_chars > b$p THEN 1 ELSE 0 END)").mkString(" + ")
    val pick = (0 to 9).map(p => s"WHEN $p THEN m$p").mkString(" ")
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |sb AS (SELECT source, $bounds FROM d GROUP BY source),
      |cm AS (SELECT $mids FROM d),
      |j AS (SELECT doc_id, d.source AS source, n_chars,
      |   CAST($bucket AS BIGINT) AS src_decile,
      |   ${(0 to 9).map(p => s"m$p").mkString(", ")}
      |  FROM d JOIN sb USING (source) CROSS JOIN cm)
      |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, src_decile,
      | CASE src_decile $pick END AS norm_chars
      |FROM j ORDER BY doc_id""".stripMargin
  }

  // q155: MASS-WEIGHTED LENGTH PERCENTILES — "half the CHARACTERS live
  // in documents shorter than X": the curation statistic row-weighted
  // percentiles (q13) cannot answer, and the one that actually governs
  // token budgets (a handful of giant docs can carry most of the mass).
  // Exact and integer throughout: collapse to (source, n_chars) VALUE
  // grain first (bounded by |sources|·length domain — metadata, however
  // many docs share a length), running mass via a window over that
  // value-grain frame, then wpX = min length whose cumulative mass
  // crosses X% of the source total via cross-multiplied conditions
  // (cum·4 ≥ total, cum·2 ≥ total, cum·4 ≥ 3·total — no division at
  // all). Totals ride a broadcast join at source grain.
  private def q155(s: SparkSession, d: String): DataFrame = {
    val g = documents(s, d).groupBy("source", "n_chars")
      .agg(sum("n_chars").as("mass"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum", sum("mass").over(w))
      .join(broadcast(g.groupBy("source").agg(sum("mass").as("total"))), "source")
      .groupBy("source")
      .agg(min(when(col("cum") * 4 >= col("total"), col("n_chars"))).as("wp25_chars"),
        min(when(col("cum") * 2 >= col("total"), col("n_chars"))).as("wp50_chars"),
        min(when(col("cum") * 4 >= col("total") * 3, col("n_chars"))).as("wp75_chars"))
      .orderBy("source")
  }

  private val q155Sql =
    """WITH g AS (SELECT source, n_chars, CAST(sum(n_chars) AS BIGINT) AS mass
      |  FROM documents GROUP BY 1, 2),
      |c AS (SELECT *, CAST(sum(mass) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum
      |  FROM g),
      |t AS (SELECT source, CAST(sum(mass) AS BIGINT) AS total FROM g GROUP BY 1)
      |SELECT c.source AS source,
      | min(CASE WHEN cum * 4 >= total THEN n_chars END) AS wp25_chars,
      | min(CASE WHEN cum * 2 >= total THEN n_chars END) AS wp50_chars,
      | min(CASE WHEN cum * 4 >= total * 3 THEN n_chars END) AS wp75_chars
      |FROM c JOIN t USING (source) GROUP BY 1 ORDER BY source""".stripMargin

  // q183: EFFECTIVE-SOURCE-COUNT (inverse Simpson) — the mixing family's
  // summary number (q101 plans the mix, q137 schedules it, q152 scores
  // imbalance via Gini; this answers "how many sources is this corpus
  // REALLY drawing from"): 1/Σ share² — the diversity index the data-
  // mixing literature quotes — computed as the exact rational
  // n²·1000 div Σc² (inverse Simpson needs no logarithm, unlike Shannon
  // entropy, so it is the diversity number that can live in a hashed
  // column; the SCALE.md transcendental rule picks the index here). Per
  // language stratum plus the '*' overall row, with the dominant
  // source's share alongside. Two grouped collapses, class grain then
  // stratum grain. Bound, documented not hidden: n²·1000 on BIGINT needs
  // n < 3e9 per stratum; above that swap the products to DECIMAL(38,0)
  // exactly as q172 does.
  private def q183(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("lang"), col("source"))
    def eff(grouped: DataFrame): DataFrame =
      grouped.groupBy("lang")
        .agg(sum("c").as("n_docs"), count(lit(1)).as("n_sources"),
          sum(col("c") * col("c")).as("ss"), max("c").as("maxc"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          expr("n_docs * n_docs * 1000 div ss").as("eff_sources_milli"),
          expr("maxc * 1000 div n_docs").as("dominance_permille"))
    val byLang = docs.groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val overall = docs.withColumn("lang", lit("*"))
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
    eff(byLang).unionByName(eff(overall)).orderBy("lang")
  }

  private val q183Sql =
    """WITH c AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
      |ca AS (SELECT '*' AS lang, source, count(*) AS c FROM documents GROUP BY 2),
      |u AS (SELECT * FROM c UNION ALL SELECT * FROM ca)
      |SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_sources,
      | CAST(sum(c) * sum(c) * 1000 // sum(c*c) AS BIGINT) AS eff_sources_milli,
      | CAST(max(c) * 1000 // sum(c) AS BIGINT) AS dominance_permille
      |FROM u GROUP BY lang ORDER BY lang""".stripMargin

  // q189: PARETO-FRONTIER SELECTION — the two-objective member of the
  // selection family (q92 gates on reasons, q133 resamples to a target,
  // q159 diversifies top-k; this answers "which docs does NO other doc
  // beat on both axes"): value = distinct-token ratio permille (richer
  // vocabulary), cost = token length (accelerator budget). Doc i is
  // dominated iff some j is no longer, no less diverse, and strictly
  // better on one axis. The O(n²) dominance test collapses to a
  // SORT-SCAN identity: i is on the frontier iff q_i = max q at its own
  // length AND q_i > max q over all strictly shorter docs — so the plan
  // is one partial-agg'd collapse to the (len, max q) grid (bounded by
  // distinct lengths — metadata scale, like q165's run grid), a running
  // max over that grid (single-partition BY CHOICE via the non-foldable
  // pmod key, q78's stated-bound idiom), and one broadcast join back.
  // The corpus is scanned once, shuffled never at doc grain; ties on
  // both axes are mutually non-dominating and all kept (the planted
  // spec pins this).
  private def q189(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
        expr("size(array_distinct(toks))").cast("long").as("nd"))
      .withColumn("q", expr("nd * 1000 div len"))
    // two readers: the grid collapse and the join-back
    graft.Caches.persist(docs)
    val grid = docs.groupBy("len").agg(max("q").as("maxq"))
      .withColumn("prevmax", coalesce(
        max("maxq").over(Window.partitionBy(pmod(col("len"), lit(1L)))
          .orderBy("len").rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)))
    docs.join(broadcast(grid), "len")
      .filter(col("q") === col("maxq") && col("q") > col("prevmax"))
      .select(col("doc_id"), col("len"), col("q"))
      .orderBy("len", "doc_id")
  }

  private val q189Sql =
    """WITH t AS (SELECT doc_id, len(toks) AS len, len(list_distinct(toks)) AS nd
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |d AS (SELECT doc_id, CAST(len AS BIGINT) AS len,
      |   CAST(nd * 1000 // len AS BIGINT) AS q FROM t),
      |g AS (SELECT len, max(q) AS maxq FROM d GROUP BY len),
      |g2 AS (SELECT len, maxq, coalesce(max(maxq) OVER (ORDER BY len
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS prevmax
      |  FROM g)
      |SELECT doc_id, d.len AS len, q FROM d JOIN g2 USING (len)
      |WHERE q = maxq AND q > prevmax ORDER BY len, doc_id""".stripMargin

  // q188: EPOCH-SHUFFLE AUDIT — training reads the corpus in a
  // DETERMINISTIC pseudo-random order (rank of md5(epoch ':' doc_id) —
  // reproducible, seekable, no stored permutation), and this query
  // certifies the two properties that order must have, as exact
  // integers: (a) it decorrelates from CORPUS order (a near-sorted
  // "shuffle" trains on source-clustered batches), (b) consecutive
  // epochs decorrelate from EACH OTHER. The metric is Spearman's
  // footrule D = Σ|rankA − rankB|, whose expectation under an
  // independent uniform permutation is (n²−1)/3 — so norm_milli =
  // D·3000 div (n²−1) reads ≈1000 for a healthy shuffle and →0 as the
  // orders align; no transcendental, hash-exact (the SCALE.md rule that
  // picked inverse-Simpson for q183 picks footrule over rank-corr here
  // — same decision, different family). Ranks come from ScaleOps.
  // denseOrdinal (the q78 two-phase prefix idiom) bucketed on the
  // hash's first byte — uniform by construction, every window
  // partitioned, no global-sort funnel; the three rank frames join on
  // doc_id and collapse to ONE row of sufficient statistics, unpivoted
  // q186-style.
  private def q188(s: SparkSession, d: String): DataFrame = {
    val ids = documents(s, d).select(col("doc_id"))
    // four readers: maxId head, r0, and both epoch rank frames
    graft.Caches.persist(ids)
    def rankBy(tag: String): DataFrame = {
      val h = md5(concat(lit(s"$tag:"), col("doc_id").cast("string")))
      ScaleOps.denseOrdinal(ids.withColumn("__h", h),
          substring(col("__h"), 1, 2), Seq(col("__h"), col("doc_id")))
        .select(col("doc_id"), col("ordinal").cast("long").as(s"r$tag"))
    }
    // corpus order: bucket = id range (same two-phase shape, locality bucket)
    val maxIdRow = ids.agg(max(col("doc_id")).cast("long")).head()
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    val w = ScaleOps.packWidth(maxId)
    val r0 = ScaleOps.denseOrdinal(ids, expr(s"lpad(doc_id div $w, 19, '0')"),
        Seq(col("doc_id")))
      .select(col("doc_id"), col("ordinal").cast("long").as("r0"))
    val stats = r0.join(rankBy("1"), "doc_id").join(rankBy("2"), "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(abs(col("r0") - col("r1"))).as("d01"),
        sum(abs(col("r1") - col("r2"))).as("d12"))
    stats.select(
        expr("stack(2, 'corpus_vs_e1', d01, 'e1_vs_e2', d12) AS (pair, footrule)"),
        col("n"))
      .select(col("pair"), col("n"), col("footrule"),
        expr("footrule * 3000 div nullif(n * n - 1, 0)").as("norm_milli"))
      .orderBy("pair")
  }

  private val q188Sql =
    """WITH ids AS (SELECT doc_id FROM documents),
      |r0 AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r0 FROM ids),
      |r1 AS (SELECT doc_id, row_number() OVER (
      |   ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) AS r1 FROM ids),
      |r2 AS (SELECT doc_id, row_number() OVER (
      |   ORDER BY md5('2:' || CAST(doc_id AS VARCHAR)), doc_id) AS r2 FROM ids),
      |j AS (SELECT r0.doc_id, r0, r1, r2 FROM r0
      |  JOIN r1 USING (doc_id) JOIN r2 USING (doc_id)),
      |a AS (SELECT count(*) AS n, sum(abs(r0 - r1)) AS d01,
      |   sum(abs(r1 - r2)) AS d12 FROM j),
      |u AS (SELECT 'corpus_vs_e1' AS pair, n, d01 AS footrule FROM a
      | UNION ALL SELECT 'e1_vs_e2', n, d12 FROM a)
      |SELECT pair, CAST(n AS BIGINT) AS n, CAST(footrule AS BIGINT) AS footrule,
      | CAST(footrule * 3000 // nullif(n * n - 1, 0) AS BIGINT) AS norm_milli
      |FROM u ORDER BY pair""".stripMargin

  // q186: PADDING-EFFICIENCY CURVE — the batch-geometry knob between
  // q93's token-budget truncation and the trainer: batching pads every
  // sequence in a batch to a common length, and the padding scheme
  // decides how many of the accelerator's tokens are waste. The q168/
  // q170/q177 curve discipline applied to that knob: three candidate
  // schemes priced from ONE aggregation pass over the token lengths —
  //  - global:  every doc padded to the corpus max (static-shape
  //    compilers; worst waste),
  //  - pow2:    padded to the next power of two (bucketed serving
  //    shapes) — the cap via 1 << length(bin(len−1)), the q165
  //    no-float-log2 idiom, so the curve is integer-exact,
  //  - mult128: padded up to the next multiple of 128 (tile-aligned
  //    kernels).
  // All five sufficient statistics (n, Σlen, max, Σpow2cap, Σm128cap)
  // partial-aggregate map-side into one row; the three-scheme unpivot is
  // a stack() on that single row, so the curve costs ONE corpus scan and
  // shuffles five numbers. waste_permille = (Σpad − Σlen)·1000 div Σpad.
  private def q186(s: SparkSession, d: String): DataFrame = {
    val stats = documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("len"))
      .select(col("len"),
        // shiftleft as expr: the Scala functions.shiftleft takes a
        // literal Int bit count, but the count here is a column
        expr("CASE WHEN len <= 1 THEN CAST(1 AS BIGINT) " +
          "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(len - 1))) END").as("p2"),
        expr("((len + 127) div 128) * 128").as("m128"))
      .agg(count(lit(1)).as("n_docs"), sum("len").as("sum_len"),
        max("len").as("mx"), sum("p2").as("s2"), sum("m128").as("s128"))
    stats.select(
        expr("stack(3, 'global', n_docs * mx, 'pow2', s2, 'mult128', s128) AS (scheme, sum_padded)"),
        col("n_docs"), col("sum_len"))
      .select(col("scheme"), col("n_docs"), col("sum_len"), col("sum_padded"),
        expr("(sum_padded - sum_len) * 1000 div sum_padded").as("waste_permille"))
      .orderBy("scheme")
  }

  private val q186Sql =
    """WITH l AS (SELECT len(string_split(text, ' ')) AS len FROM documents),
      |a AS (SELECT count(*) AS n_docs, sum(len) AS sum_len, max(len) AS mx,
      |  sum(CASE WHEN len <= 1 THEN 1
      |      ELSE 1 << length(bin(len - 1)) END) AS s2,
      |  sum(((len + 127) // 128) * 128) AS s128
      | FROM l),
      |u AS (SELECT 'global' AS scheme, n_docs, sum_len, n_docs * mx AS sum_padded FROM a
      | UNION ALL SELECT 'pow2', n_docs, sum_len, s2 FROM a
      | UNION ALL SELECT 'mult128', n_docs, sum_len, s128 FROM a)
      |SELECT scheme, CAST(n_docs AS BIGINT) AS n_docs,
      | CAST(sum_len AS BIGINT) AS sum_len, CAST(sum_padded AS BIGINT) AS sum_padded,
      | CAST((sum_padded - sum_len) * 1000 // sum_padded AS BIGINT) AS waste_permille
      |FROM u ORDER BY scheme""".stripMargin

  // q202: LARGEST-REMAINDER BUDGET APPORTIONMENT — the EXACT-integer
  // allocation step between q101's proportional weights and an actual
  // token budget: "1M tokens across sources, proportional to supply"
  // cannot be done with floor division alone (the floors undershoot by
  // up to |sources|−1 tokens) nor with rounding (can overshoot). The
  // Hamilton/largest-remainder method is the classic fix and is pure
  // integer arithmetic: floor_i = B·cᵢ div C, leftover L = B − Σfloor,
  // and the L sources with the largest remainders (B·cᵢ mod C, source
  // tiebreak) get one extra unit — Σ alloc = B EXACTLY, spec-asserted.
  // Every transcendental-free, tie-deterministic step keeps the result
  // hash-exact (the q183 rationale). Plan: ONE corpus-scale shuffle (the
  // per-source token sum, partial-agg'd); floors/remainders/ranks all
  // live on the bounded source grid — the rank window is the q77
  // single-partition-BY-CHOICE pmod idiom on that grid, never on data
  // rows. B = 1_000_000 is the driver-visible constant.
  private def q202(s: SparkSession, d: String): DataFrame = {
    val B = 1000000L
    val counts = documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
    val total = counts.agg(sum("n_tokens").as("c_total"))
    val grid = counts.crossJoin(broadcast(total))
      .withColumn("floor_alloc", expr(s"n_tokens * $B div c_total"))
      .withColumn("remainder", expr(s"(n_tokens * $B) % c_total"))
    val leftover = grid.agg((lit(B) - sum("floor_alloc")).as("leftover"))
    grid.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.partitionBy(pmod(col("floor_alloc"), lit(1L)))
          .orderBy(desc("remainder"), col("source"))))
      .withColumn("extra", when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("floor_alloc"),
        col("remainder"), col("extra"),
        (col("floor_alloc") + col("extra")).as("alloc"))
      .orderBy("source")
  }

  private val q202Sql =
    """WITH c AS (SELECT source, sum(len(string_split(text, ' '))) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t AS (SELECT sum(n_tokens) AS c_total FROM c),
      |g AS (SELECT source, n_tokens,
      |   n_tokens * 1000000 // c_total AS floor_alloc,
      |   (n_tokens * 1000000) % c_total AS remainder
      |  FROM c CROSS JOIN t),
      |l AS (SELECT 1000000 - sum(floor_alloc) AS leftover FROM g),
      |r AS (SELECT *, row_number() OVER (ORDER BY remainder DESC, source) AS rk
      |  FROM g)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      | CAST(floor_alloc AS BIGINT) AS floor_alloc,
      | CAST(remainder AS BIGINT) AS remainder,
      | CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
      | CAST(floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r CROSS JOIN l ORDER BY source""".stripMargin

  // q212: WILSON LOWER-BOUND SOURCE RANKING — the small-sample fix for
  // every rate-ranked gate in the curation family (q82 caps by score,
  // q101/q137 weight by share, q121 compares strata): a source with 2/2
  // good docs naively outranks one with 90/100, and any threshold on the
  // raw rate rewards tiny samples — the "how not to sort by average
  // rating" mistake. The Wilson score interval's lower bound at z=2
  // (z²=4, the ~97.7% one-sided bound) is the standard correction, and
  // it is hash-SAFE despite being floating point: the formula is one
  // fixed expression tree of +,−,×,÷,√ — every operator IEEE
  // exactly-rounded (the q172 sqrt precedent; no exp/log enters) — so
  // both engines produce bit-identical doubles before the round(…,6).
  // Output carries the integer rate alongside, plus both rankings on
  // the bounded source grid (q77 pmod single-partition-by-choice): the
  // rows where naive_rank ≠ lb_rank are exactly the small-sample
  // verdicts the gate would have gotten wrong. One corpus-scale
  // partial-agg'd shuffle (the per-source trial/success counts).
  private def q212(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(col("source"),
        when(size(array_distinct(split(col("text"), " "))) >= 60, 1L).otherwise(0L).as("ok"))
      .groupBy("source").agg(count(lit(1)).as("n"), sum("ok").as("k"))
    val scored = counts
      .withColumn("rate_milli", expr("k * 1000 div n"))
      .withColumn("wilson_lb", expr(
        """round((CAST(k AS DOUBLE) / n + 2.0 / n
          |  - 2.0 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
          |               + 1.0 / (CAST(n AS DOUBLE) * n)))
          | / (1.0 + 4.0 / n), 6)""".stripMargin))
    val wNaive = Window.partitionBy(pmod(col("n"), lit(1L)))
      .orderBy(desc("rate_milli"), col("source"))
    val wLb = Window.partitionBy(pmod(col("n"), lit(1L)))
      .orderBy(desc("wilson_lb"), col("source"))
    scored
      .withColumn("naive_rank", row_number().over(wNaive).cast("long"))
      .withColumn("lb_rank", row_number().over(wLb).cast("long"))
      .select("source", "n", "k", "rate_milli", "wilson_lb", "naive_rank", "lb_rank")
      .orderBy("source")
  }

  private val q212Sql =
    """WITH c AS (SELECT source, count(*) AS n,
      |   sum(CASE WHEN len(list_distinct(string_split(text, ' '))) >= 60
      |       THEN 1 ELSE 0 END) AS k
      |  FROM documents GROUP BY 1),
      |sc AS (SELECT source, n, k, k * 1000 // n AS rate_milli,
      |   round((CAST(k AS DOUBLE) / n + 2.0 / n
      |     - 2.0 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
      |                  + 1.0 / (CAST(n AS DOUBLE) * n)))
      |    / (1.0 + 4.0 / n), 6) AS wilson_lb
      |  FROM c)
      |SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      | CAST(rate_milli AS BIGINT) AS rate_milli, wilson_lb,
      | CAST(row_number() OVER (ORDER BY rate_milli DESC, source) AS BIGINT) AS naive_rank,
      | CAST(row_number() OVER (ORDER BY wilson_lb DESC, source) AS BIGINT) AS lb_rank
      |FROM sc ORDER BY source""".stripMargin

  // q216: TEMPERATURE-SCALED MIX CURVE — the standard multilingual/multi-
  // source sampling law (weight ∝ mass^α, α ∈ (0,1]) that q101/q137
  // assume a single operating point of: α=1 is proportional (big sources
  // dominate), α→0 is uniform (tail sources overfit), and the PICK needs
  // the whole curve priced — per (α, source): weight share and expected
  // EPOCHS over that source at a token budget equal to the corpus (the
  // overfitting number, epochs ≫ 1 = the tail source memorizes). The
  // α grid {¼,½,¾,1} is served by SQRT CHAINS — m^¼ = √√m, m^¾ = √m·√√m
  // — because √,×,÷ are IEEE exactly-rounded while pow/exp/log are not
  // (the SCALE.md transcendental rule; q212's precedent): both engines
  // produce bit-identical doubles, floored once into integer milli-
  // weights so every downstream sum/share/epoch is exact integer
  // arithmetic (sums of doubles would re-order across engines). One
  // corpus-scale shuffle (per-source mass); the α×source grid is
  // bounded — the q77 pmod single-partition idiom; epochs in the q208
  // DECIMAL(38) escape (w·total·1000 overflows Long past ~10⁹ token
  // corpora).
  private def q216(s: SparkSession, d: String): DataFrame = {
    val mass = documents(s, d).groupBy("source").agg(sum("n_chars").as("mass"))
    val grid = mass.crossJoin(
      broadcast(s.range(1, 5).select((col("id") * 250).as("alpha"))))
      .withColumn("w_milli", expr(
        """CAST(floor(CASE alpha
          |  WHEN 250 THEN sqrt(sqrt(CAST(mass AS DOUBLE))) * 1000.0
          |  WHEN 500 THEN sqrt(CAST(mass AS DOUBLE)) * 1000.0
          |  WHEN 750 THEN sqrt(CAST(mass AS DOUBLE)) * sqrt(sqrt(CAST(mass AS DOUBLE))) * 1000.0
          |  ELSE CAST(mass AS DOUBLE) * 1000.0 END) AS BIGINT)""".stripMargin))
    val wA = Window.partitionBy("alpha")
    grid
      .withColumn("sumw", sum("w_milli").over(wA))
      .withColumn("total_mass", sum("mass").over(wA))
      .select(col("alpha"), col("source"), col("mass"), col("w_milli"),
        expr("CAST(CAST(w_milli AS DECIMAL(38,0)) * 1000000 div sumw AS BIGINT)")
          .as("share_ppm"),
        expr("""CAST(CAST(w_milli AS DECIMAL(38,0)) * total_mass * 1000
               |     div (CAST(sumw AS DECIMAL(38,0)) * mass) AS BIGINT)"""
          .stripMargin).as("epochs_milli"))
      .orderBy("alpha", "source")
  }

  private val q216Sql =
    """WITH m AS (SELECT source, sum(n_chars) AS mass FROM documents GROUP BY 1),
      |g AS (SELECT a.alpha, m.source, m.mass,
      |   CAST(floor(CASE a.alpha
      |     WHEN 250 THEN sqrt(sqrt(CAST(mass AS DOUBLE))) * 1000.0
      |     WHEN 500 THEN sqrt(CAST(mass AS DOUBLE)) * 1000.0
      |     WHEN 750 THEN sqrt(CAST(mass AS DOUBLE)) * sqrt(sqrt(CAST(mass AS DOUBLE))) * 1000.0
      |     ELSE CAST(mass AS DOUBLE) * 1000.0 END) AS BIGINT) AS w_milli
      |  FROM m CROSS JOIN (VALUES (250),(500),(750),(1000)) AS a(alpha)),
      |t AS (SELECT *, sum(w_milli) OVER (PARTITION BY alpha) AS sumw,
      |   sum(mass) OVER (PARTITION BY alpha) AS total_mass FROM g)
      |SELECT CAST(alpha AS BIGINT) AS alpha, source, CAST(mass AS BIGINT) AS mass,
      | w_milli, CAST(w_milli::HUGEINT * 1000000 // sumw AS BIGINT) AS share_ppm,
      | CAST(w_milli::HUGEINT * total_mass * 1000
      |      // (sumw::HUGEINT * mass) AS BIGINT) AS epochs_milli
      |FROM t ORDER BY alpha, source""".stripMargin

  // q226: INCREMENTAL JOIN-VIEW MAINTENANCE — q120's algebra extended
  // from γ(A) to γ(A ⋈ B) with BOTH delta kinds a warehouse sees:
  //  - fact delta (orders added AND removed): because the join is
  //    FK-to-one, Δγ(A⋈B) = γ(ΔA⋈B) — the standing corpus A_old is
  //    NEVER rescanned; it is touched only through its (key, seg)
  //    aggregate rows, and the signed merge is the q120 union+re-agg;
  //  - dimension delta (customers re-segmented): the subtle IVM case —
  //    no fact changed, yet view rows must MOVE between groups; because
  //    the dim attribute factors out of the aggregate, the move is a
  //    RE-KEYING of maintained rows (broadcast-sized), again zero fact
  //    scans.
  // The ORACLE computes γ(A_new ⋈ B_new) directly, so the driver's hash
  // match is itself the proof that maintenance ≡ full recompute — the
  // q120 framing, one algebraic level up. Money lands on the exact cent
  // grid; keys with all orders deleted leave the state (n=0 retract).
  // At 100 TB this is the nightly-pipeline shape: delta-sized joins,
  // broadcast dim moves, one (key, seg) partial-agg merge shuffle.
  private def q226(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
    val bOld = customer(s, d).select(col("c_custkey"), col("c_mktsegment").as("seg"))
    // the standing view (the ONLY full-corpus pass — the state a real
    // pipeline would have on disk)
    val vOld = o.filter(col("o_orderkey") % 7 =!= 0)
      .join(bOld, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey").as("k"), col("seg"))
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
    // fact delta: signed, delta-sized, joined only to the dim
    val added = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0)
      .withColumn("sgn", lit(1L))
    val removed = o.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 7 =!= 0)
      .withColumn("sgn", lit(-1L))
    val dv = added.union(removed)
      .join(bOld, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey").as("k"), col("seg"))
      .agg(sum("sgn").as("n"), sum(col("sgn") * col("cents")).as("cents"))
    val v1 = vOld.union(dv).groupBy("k", "seg")
      .agg(sum("n").as("n"), sum("cents").as("cents"))
      .filter(col("n") =!= 0)
    // dimension delta: re-key maintained rows, facts untouched
    val moves = bOld.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("k"), lit(1).as("moved"))
    v1.join(broadcast(moves), Seq("k"), "left")
      .withColumn("seg", when(col("moved").isNotNull, lit("MOVED")).otherwise(col("seg")))
      .groupBy("seg")
      .agg(countDistinct("k").as("n_custkeys"), sum("n").as("n_orders"),
        sum("cents").as("sum_cents"))
      .orderBy("seg")
  }

  private val q226Sql =
    """WITH bn AS (SELECT c_custkey,
      |   CASE WHEN c_custkey % 13 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg
      |  FROM customer),
      |an AS (SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 11 <> 0)
      |SELECT seg, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
      | count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM an JOIN bn ON o_custkey = c_custkey
      |GROUP BY seg ORDER BY seg""".stripMargin

  // q257: GREEDY MAX-COVERAGE SOURCE SELECTION — the selection decision
  // the mixture family stops short of (q101 REWEIGHTS given shares,
  // q183 COUNTS effective diversity, q137 SCHEDULES a chosen mix; none
  // answers "which K sources should I license/crawl to buy the most
  // distinct content"): the classic budgeted max-coverage greedy, whose
  // 1−1/e approximation is provably the best any polynomial algorithm
  // gets — and which is exactly relational for fixed K: each round is
  // one anti-join of the per-source distinct-bigram posting against the
  // covered set, a bounded per-source gain grid, a TakeOrdered(1)
  // argmax (gain desc, source asc — deterministic), and a union-distinct
  // into the cover. Coverage universe = word BIGRAMS (the fixture's
  // unigram vocab is deliberately uniform — 31 types everywhere —
  // bigrams give a 900-type universe with real inter-source variance).
  // Output: per round, chosen source, marginal gain, cumulative covered
  // types, coverage permille — the curve IS the budget decision (where
  // marginal gain collapses, stop buying). 100 TB shape: the posting is
  // (source, bigram-fp) distinct grain (Zipf-bounded, never text), the
  // cover set is fp-keyed, rounds are K ≪ sources by construction.
  private def q257(s: SparkSession, d: String): DataFrame = {
    val K = 4
    val sb = documents(s, d)
      // split ONCE per row, then pair up — inlining the split into the
      // per-element lambda re-tokenizes the doc for every bigram (size²
      // character work per doc; measured 7.9 s → 1.3 s at sf0.1)
      .select(col("source"), split(col("text"), " ").as("a"))
      .select(col("source"), expr(
        """explode(CASE WHEN size(a) < 2 THEN array()
          |ELSE transform(sequence(1, size(a) - 1),
          |  i -> concat(element_at(a, i), ' ', element_at(a, i + 1))) END)"""
          .stripMargin).as("bg"))
      // eager localCheckpoint (q73 discipline): the K rounds and the 2K
      // report branches all re-enter this frame; materializing the
      // bounded (source, bigram) grid ONCE keeps every round a join of
      // checkpointed metadata — a lazy persist raced the 5M-row explode+
      // distinct into existence several times across the union's branches
      .distinct().localCheckpoint()
    val tot = sb.select("bg").distinct().agg(count(lit(1)).as("total"))
    var cov: DataFrame = null
    var report: DataFrame = null
    for (r <- 1 to K) {
      val uncovered = if (cov == null) sb else sb.join(cov, Seq("bg"), "left_anti")
      val chosen = uncovered.groupBy("source").agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), col("source")).limit(1).localCheckpoint()
      val newcov = sb.join(broadcast(chosen.select("source")), Seq("source"))
        .select("bg")
      cov = (if (cov == null) newcov else cov.union(newcov).distinct())
        .localCheckpoint()
      val row = chosen.crossJoin(broadcast(cov.agg(count(lit(1)).as("covered"))))
        .crossJoin(broadcast(tot))
        .select(lit(r.toLong).as("round"), col("source"), col("gain"),
          col("covered"), expr("covered * 1000 div total").as("coverage_milli"))
      report = if (report == null) row else report.unionByName(row)
    }
    report.orderBy("round")
  }

  private val q257Sql = {
    val rounds = (2 to 4).map { r =>
      s"""g$r AS (SELECT source, count(*) AS gain FROM sb
         |  WHERE bg NOT IN (SELECT bg FROM c${r - 1})
         |  GROUP BY source ORDER BY gain DESC, source LIMIT 1),
         |c$r AS (SELECT bg FROM c${r - 1} UNION
         |  SELECT bg FROM sb WHERE source = (SELECT source FROM g$r))"""
        .stripMargin
    }.mkString(",\n")
    val report = (1 to 4).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, (SELECT source FROM g$r) AS source,
         | (SELECT CAST(gain AS BIGINT) FROM g$r) AS gain,
         | (SELECT count(*) FROM c$r) AS covered,
         | (SELECT count(*) FROM c$r) * 1000 // (SELECT total FROM tot) AS coverage_milli"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS a FROM documents),
       |sb AS (SELECT DISTINCT source, a[i] || ' ' || a[i + 1] AS bg
       |  FROM t CROSS JOIN LATERAL unnest(range(1, len(a))) u(i)),
       |tot AS (SELECT count(DISTINCT bg) AS total FROM sb),
       |g1 AS (SELECT source, count(*) AS gain FROM sb
       |  GROUP BY source ORDER BY gain DESC, source LIMIT 1),
       |c1 AS (SELECT bg FROM sb WHERE source = (SELECT source FROM g1)),
       |$rounds
       |$report
       |ORDER BY round""".stripMargin
  }

  // q260: WEIGHTED PRIORITY SAMPLING (Efraimidis–Spirakis A-ES) — the
  // WEIGHTED member of the sampling family (q90 stratifies by share,
  // q91 fixes group sizes uniformly, q133 resamples systematically by
  // precomputed weights; none draws a size-k sample where P(pick) tracks
  // a per-item weight in ONE pass): A-ES keys each item with u^(1/w)
  // (u uniform) and keeps the top-k — order-equivalent to ranking by
  // (−log u)/w ascending, which is how it is computed here, in EXACT
  // fixed point: u = md5-derived 40-BIT integer h (60 bits would
  // overflow the log2milli interpolation multiply), −log2(u) ≈
  // 40000 − log2milli(h) (≥ 0 — no negative ever reaches a truncating
  // divide, the B205 seam), key = that·10⁶ div w, ties by doc_id. The
  // hash IS the randomness (the q74/q90 determinism convention), so
  // both engines draw the IDENTICAL sample and the oracle hash-checks
  // the draw itself, not a distribution claim. Weight = token count:
  // heavy docs are proportionally likelier, the exact bias a
  // token-budgeted curator wants. One scan, row-local keys, per-source
  // top-5 window on bounded partitions (at 100 TB: the q242 bounded-
  // accumulator GroupTopK exec or q16's two-phase escape — A-ES's whole
  // point is that the key is a PARTIAL-TOP-K-able scalar, so the sample
  // merges without ever sorting the corpus).
  private def q260(s: SparkSession, d: String): DataFrame = {
    val keyed = documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 10), 16, 10) AS BIGINT)")
          .as("h"))
      // the shared FixedPoint.log2milli expression, written out over h
      .withColumn("key", expr("CAST((40000 - (1000 * (length(bin(h)) - 1) " +
        "+ ((h - shiftleft(CAST(1 AS BIGINT), length(bin(h)) - 1)) * 1000) " +
        "div shiftleft(CAST(1 AS BIGINT), length(bin(h)) - 1))) * 1000000 div w AS BIGINT)"))
    keyed
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("key"), col("doc_id"))))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk").cast("long").as("rk"), col("doc_id"),
        col("w"), col("key"))
      .orderBy("source", "rk")
  }

  private val q260Sql =
    """WITH k AS (SELECT source, doc_id,
      |   CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 10))::BIGINT AS h
      |  FROM documents),
      |ky AS (SELECT source, doc_id, w,
      |   (40000 - (1000 * (length(bin(h)) - 1)
      |     + ((h - (CAST(1 AS BIGINT) << (length(bin(h)) - 1))) * 1000)
      |       // (CAST(1 AS BIGINT) << (length(bin(h)) - 1)))) * 1000000 // w AS key
      |  FROM k),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |   ORDER BY key, doc_id) AS rk FROM ky)
      |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, w, key
      |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin

  // q266: NEYMAN OPTIMAL ALLOCATION — the sampling-design decision the
  // sampling family executes but never makes: q90 stratifies at a GIVEN
  // per-stratum rate, q91 fixes sizes, q202 integerizes a GIVEN weight
  // vector — nothing decides how a fixed budget SHOULD split across
  // strata. Neyman (1934): allocating n_h ∝ N_h·S_h minimizes the
  // variance of the stratified mean — a high-variance stratum earns more
  // samples than its population share, a near-constant stratum almost
  // none. Everything is exact integer: per-stratum second moments in one
  // partial-agg'd pass (values in deci units so n·Σy² stays far from the
  // ANSI overflow line at sf1), S_h via an exact integer sqrt (double
  // sqrt + two Newton corrections — boundary-proof in both engines),
  // N_h·S_h integerized to a 1000-unit budget by largest remainder (the
  // q202 method, both for the Neyman and the PROPORTIONAL comparison
  // arm), and the per-stratum variance contribution N_h²·S_h²/n_h
  // reported for both arms — summing the two columns is the Neyman
  // optimality gap, the number that justifies the design. All decision
  // arithmetic runs on the ≤ |event_type| grid; the corpus is touched by
  // exactly one moment scan.
  private def q266(s: SparkSession, d: String): DataFrame = {
    val B = 1000L
    val st = Tables.events(s, d)
      .select(col("event_type"),
        expr("CAST(round(value * 1000) AS BIGINT) div 100").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_h"), sum("y").as("sy"), sum(expr("y * y")).as("syy"))
      .withColumn("s2", expr("(n_h * syy - sy * sy) div (n_h * (n_h - 1))"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(s2 * 10000 AS DOUBLE))) AS BIGINT)"))
      .withColumn("s1", expr("s0 + IF((s0 + 1) * (s0 + 1) <= s2 * 10000, 1L, 0L)"))
      .withColumn("sigma_milli", expr("s1 - IF(s1 * s1 > s2 * 10000, 1L, 0L)"))
      .withColumn("w_ney", expr("n_h * sigma_milli"))
    val tot = st.agg(sum("w_ney").as("tw"), sum("n_h").as("tn"))
    val g = st.crossJoin(broadcast(tot))
      .withColumn("fl_n", expr(s"w_ney * $B div tw"))
      .withColumn("rem_n", expr(s"(w_ney * $B) % tw"))
      .withColumn("fl_p", expr(s"n_h * $B div tn"))
      .withColumn("rem_p", expr(s"(n_h * $B) % tn"))
    val lo = g.agg((lit(B) - sum("fl_n")).as("lo_n"), (lit(B) - sum("fl_p")).as("lo_p"))
    g.crossJoin(broadcast(lo))
      .withColumn("rk_n", row_number().over(
        Window.partitionBy(pmod(col("fl_n"), lit(1L)))
          .orderBy(desc("rem_n"), col("event_type"))))
      .withColumn("rk_p", row_number().over(
        Window.partitionBy(pmod(col("fl_p"), lit(1L)))
          .orderBy(desc("rem_p"), col("event_type"))))
      .withColumn("alloc_neyman", expr("fl_n + IF(rk_n <= lo_n, 1L, 0L)"))
      .withColumn("alloc_prop", expr("fl_p + IF(rk_p <= lo_p, 1L, 0L)"))
      .withColumn("vc_neyman", expr("n_h * n_h * s2 div greatest(alloc_neyman, 1L)"))
      .withColumn("vc_prop", expr("n_h * n_h * s2 div greatest(alloc_prop, 1L)"))
      .select(col("event_type"), col("n_h"), col("sigma_milli"),
        col("alloc_neyman"), col("alloc_prop"), col("vc_neyman"), col("vc_prop"))
      .orderBy("event_type")
  }

  private val q266Sql =
    """WITH st AS (SELECT event_type, count(*) AS n_h,
      |   sum(CAST(round(value * 1000) AS BIGINT) // 100) AS sy,
      |   sum((CAST(round(value * 1000) AS BIGINT) // 100)
      |     * (CAST(round(value * 1000) AS BIGINT) // 100)) AS syy
      |  FROM events GROUP BY 1),
      |v AS (SELECT event_type, n_h,
      |   (n_h * syy - sy * sy) // (n_h * (n_h - 1)) AS s2 FROM st),
      |sq AS (SELECT event_type, n_h, s2,
      |   CAST(floor(sqrt(CAST(s2 * 10000 AS DOUBLE))) AS BIGINT) AS s0 FROM v),
      |s1t AS (SELECT *, s0 + CASE WHEN (s0 + 1) * (s0 + 1) <= s2 * 10000
      |   THEN 1 ELSE 0 END AS s1 FROM sq),
      |sg AS (SELECT event_type, n_h, s2,
      |   s1 - CASE WHEN s1 * s1 > s2 * 10000 THEN 1 ELSE 0 END AS sigma_milli
      |  FROM s1t),
      |w AS (SELECT *, n_h * sigma_milli AS w_ney FROM sg),
      |tt AS (SELECT sum(w_ney) AS tw, sum(n_h) AS tn FROM w),
      |g AS (SELECT w.*, (w_ney * 1000) // tw AS fl_n, (w_ney * 1000) % tw AS rem_n,
      |   (n_h * 1000) // tn AS fl_p, (n_h * 1000) % tn AS rem_p
      |  FROM w CROSS JOIN tt),
      |lo AS (SELECT 1000 - sum(fl_n) AS lo_n, 1000 - sum(fl_p) AS lo_p FROM g),
      |r AS (SELECT g.*, lo_n, lo_p,
      |   row_number() OVER (ORDER BY rem_n DESC, event_type) AS rk_n,
      |   row_number() OVER (ORDER BY rem_p DESC, event_type) AS rk_p
      |  FROM g CROSS JOIN lo),
      |al AS (SELECT event_type, n_h, s2, sigma_milli,
      |   fl_n + CASE WHEN rk_n <= lo_n THEN 1 ELSE 0 END AS alloc_neyman,
      |   fl_p + CASE WHEN rk_p <= lo_p THEN 1 ELSE 0 END AS alloc_prop
      |  FROM r)
      |SELECT event_type, n_h, CAST(sigma_milli AS BIGINT) AS sigma_milli,
      | CAST(alloc_neyman AS BIGINT) AS alloc_neyman,
      | CAST(alloc_prop AS BIGINT) AS alloc_prop,
      | CAST(n_h * n_h * s2 // greatest(alloc_neyman, 1) AS BIGINT) AS vc_neyman,
      | CAST(n_h * n_h * s2 // greatest(alloc_prop, 1) AS BIGINT) AS vc_prop
      |FROM al ORDER BY event_type""".stripMargin

  // q270: CLUSTER-SAMPLE DESIGN EFFECT — q266 decides how to split a
  // budget GIVEN strata; this decides whether cluster sampling (grab
  // whole sources — the only affordable design when a "source" is a
  // crawl host you hit once) is statistically affordable at all.
  // Documents within a source resemble each other, so m documents from
  // one source carry less information than m independent draws; the
  // exchange rate is Kish's design effect DEFF = 1 + (m̄−1)·ρ with ρ the
  // intraclass correlation, estimated from the one-way ANOVA decomposition
  // (MSB/MSW over token-count y). Everything is ONE moment pass (per-source
  // n, Σy, Σy² partial-agg'd) and then pure bounded-grid arithmetic in
  // exact integer milli, with the sign split out of every divide whose
  // numerator can go negative (the B205 truncate-vs-floor seam: Spark
  // `div` truncates toward zero, DuckDB `//` floors — a negative
  // numerator must reach neither). The output's last column is the
  // number a sampling plan acts on: the effective sample size a
  // by-source sample of this corpus is actually worth.
  private def q270(s: SparkSession, d: String): DataFrame = {
    val cl = documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("m_h"), sum("y").as("sy"), sum(expr("y * y")).as("syy"))
    cl.agg(count(lit(1)).as("k"), sum("m_h").as("n"),
        sum("sy").as("gy"), sum("syy").as("gyy"),
        sum(expr("sy * sy * 1000 div m_h")).as("ssb_part_m"),
        sum(expr("m_h * m_h")).as("smm"))
      .withColumn("ssb_m", expr("ssb_part_m - gy * gy * 1000 div n"))
      .withColumn("ssw_m", expr("gyy * 1000 - ssb_part_m"))
      .withColumn("msb_m", expr(
        "IF(ssb_m >= 0, ssb_m div (k - 1), -((-ssb_m) div (k - 1)))"))
      .withColumn("msw_m", expr("ssw_m div (n - k)"))
      .withColumn("m0_milli", expr("(n * 1000 - smm * 1000 div n) div (k - 1)"))
      .withColumn("rho_den", expr(
        "greatest(msb_m + (m0_milli - 1000) * msw_m div 1000, 1L)"))
      .withColumn("rho_milli", expr(
        "IF(msb_m >= msw_m, (msb_m - msw_m) * 1000 div rho_den," +
          " -((msw_m - msb_m) * 1000 div rho_den))"))
      .withColumn("deff_milli", expr(
        "IF(rho_milli >= 0, 1000 + (m0_milli - 1000) * rho_milli div 1000," +
          " 1000 - (m0_milli - 1000) * (-rho_milli) div 1000)"))
      .withColumn("ess_milli", expr("n * 1000000 div greatest(deff_milli, 1L)"))
      .select(col("k"), col("n"), col("m0_milli"), col("msb_m"), col("msw_m"),
        col("rho_milli"), col("deff_milli"), col("ess_milli"))
  }

  private val q270Sql =
    """WITH cl AS (SELECT source, count(*) AS m_h,
      |   sum(len(string_split(text, ' '))) AS sy,
      |   sum(len(string_split(text, ' ')) * len(string_split(text, ' '))) AS syy
      |  FROM documents GROUP BY 1),
      |g AS (SELECT count(*) AS k, CAST(sum(m_h) AS BIGINT) AS n,
      |   CAST(sum(sy) AS BIGINT) AS gy, CAST(sum(syy) AS BIGINT) AS gyy,
      |   CAST(sum(sy * sy * 1000 // m_h) AS BIGINT) AS ssb_part_m,
      |   CAST(sum(m_h * m_h) AS BIGINT) AS smm
      |  FROM cl),
      |s1 AS (SELECT *, ssb_part_m - gy * gy * 1000 // n AS ssb_m,
      |   gyy * 1000 - ssb_part_m AS ssw_m,
      |   (n * 1000 - smm * 1000 // n) // (k - 1) AS m0_milli
      |  FROM g),
      |s2 AS (SELECT *,
      |   CASE WHEN ssb_m >= 0 THEN ssb_m // (k - 1)
      |    ELSE -((-ssb_m) // (k - 1)) END AS msb_m,
      |   ssw_m // (n - k) AS msw_m
      |  FROM s1),
      |s3 AS (SELECT *, greatest(msb_m + (m0_milli - 1000) * msw_m // 1000, 1) AS rho_den FROM s2),
      |s4 AS (SELECT *,
      |   CASE WHEN msb_m >= msw_m THEN (msb_m - msw_m) * 1000 // rho_den
      |    ELSE -((msw_m - msb_m) * 1000 // rho_den) END AS rho_milli
      |  FROM s3),
      |s5 AS (SELECT *,
      |   CASE WHEN rho_milli >= 0 THEN 1000 + (m0_milli - 1000) * rho_milli // 1000
      |    ELSE 1000 - (m0_milli - 1000) * (-rho_milli) // 1000 END AS deff_milli
      |  FROM s4)
      |SELECT k, n, CAST(m0_milli AS BIGINT) AS m0_milli,
      | CAST(msb_m AS BIGINT) AS msb_m, CAST(msw_m AS BIGINT) AS msw_m,
      | CAST(rho_milli AS BIGINT) AS rho_milli,
      | CAST(deff_milli AS BIGINT) AS deff_milli,
      | CAST(n * 1000000 // greatest(deff_milli, 1) AS BIGINT) AS ess_milli
      |FROM s5""".stripMargin

  // q273: RAKING (ITERATIVE PROPORTIONAL FITTING) — the calibration step
  // survey statistics applies when a sample's MARGINS are known but its
  // CELLS are not: a 25% hash sample of the corpus is reweighted so its
  // lang totals and source totals both match the full corpus (three
  // alternating proportional-fit rounds — lang, source, lang — the
  // classic raking ladder), and because the corpus here is enumerable,
  // the cell-level error of the raked estimate is REPORTED against the
  // truth next to the plain Horvitz–Thompson (×4) baseline: raking
  // drives the margin-driven error component to ~0 and the residual is
  // the lang×source interaction — exactly the bias/variance contract of
  // post-stratification. All integer milli with positive operands (no
  // truncation seam); the sample collapse is the only corpus-scale
  // shuffle, margins broadcast, and every fit round is window arithmetic
  // over the ≤ |lang|×|source| cell grid (the q77 bounded-grid window
  // discipline).
  private def q273(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"), col("source"))
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_true"))
    val samp = docs.filter(expr(
        "substring(md5(concat(CAST(doc_id AS STRING), 'rk')), 1, 1) IN ('0','1','2','3')"))
      .groupBy("lang", "source").agg(count(lit(1)).as("n_samp"))
    val ml = cells.groupBy("lang").agg(sum("n_true").as("true_l"))
    val ms = cells.groupBy("source").agg(sum("n_true").as("true_s"))
    val wl = Window.partitionBy("lang")
    val wsrc = Window.partitionBy("source")
    cells.join(samp, Seq("lang", "source"), "left")
      .withColumn("n_samp", coalesce(col("n_samp"), lit(0L)))
      .join(broadcast(ml), "lang").join(broadcast(ms), "source")
      .withColumn("t0", expr("n_samp * 4000"))
      .withColumn("sum_l0", sum("t0").over(wl))
      .withColumn("t1", expr(
        "CASE WHEN sum_l0 > 0 THEN t0 * (true_l * 1000) div sum_l0 ELSE 0L END"))
      .withColumn("sum_s1", sum("t1").over(wsrc))
      .withColumn("t2", expr(
        "CASE WHEN sum_s1 > 0 THEN t1 * (true_s * 1000) div sum_s1 ELSE 0L END"))
      .withColumn("sum_l2", sum("t2").over(wl))
      .withColumn("raked_milli", expr(
        "CASE WHEN sum_l2 > 0 THEN t2 * (true_l * 1000) div sum_l2 ELSE 0L END"))
      .withColumn("err_ht_milli", expr("abs(n_samp * 4000 - n_true * 1000)"))
      .withColumn("err_raked_milli", expr("abs(raked_milli - n_true * 1000)"))
      .select(col("lang"), col("source"), col("n_true"), col("n_samp"),
        col("raked_milli"), col("err_ht_milli"), col("err_raked_milli"))
      .orderBy("lang", "source")
  }

  private val q273Sql =
    """WITH docs AS (SELECT doc_id, lang, source FROM documents),
      |cells AS (SELECT lang, source, count(*) AS n_true FROM docs GROUP BY 1, 2),
      |samp AS (SELECT lang, source, count(*) AS n_samp FROM docs
      |  WHERE substr(md5(doc_id::VARCHAR || 'rk'), 1, 1) IN ('0','1','2','3')
      |  GROUP BY 1, 2),
      |ml AS (SELECT lang, CAST(sum(n_true) AS BIGINT) AS true_l FROM cells GROUP BY 1),
      |ms AS (SELECT source, CAST(sum(n_true) AS BIGINT) AS true_s FROM cells GROUP BY 1),
      |g0 AS (SELECT c.lang, c.source, c.n_true,
      |   COALESCE(s.n_samp, 0) AS n_samp, true_l, true_s,
      |   COALESCE(s.n_samp, 0) * 4000 AS t0
      |  FROM cells c LEFT JOIN samp s USING (lang, source)
      |  JOIN ml USING (lang) JOIN ms USING (source)),
      |g1 AS (SELECT *, CASE WHEN sum(t0) OVER (PARTITION BY lang) > 0
      |   THEN t0 * (true_l * 1000) // sum(t0) OVER (PARTITION BY lang) ELSE 0 END AS t1
      |  FROM g0),
      |g2 AS (SELECT *, CASE WHEN sum(t1) OVER (PARTITION BY source) > 0
      |   THEN t1 * (true_s * 1000) // sum(t1) OVER (PARTITION BY source) ELSE 0 END AS t2
      |  FROM g1),
      |g3 AS (SELECT *, CASE WHEN sum(t2) OVER (PARTITION BY lang) > 0
      |   THEN t2 * (true_l * 1000) // sum(t2) OVER (PARTITION BY lang) ELSE 0 END AS raked_milli
      |  FROM g2)
      |SELECT lang, source, n_true, n_samp,
      | CAST(raked_milli AS BIGINT) AS raked_milli,
      | CAST(abs(n_samp * 4000 - n_true * 1000) AS BIGINT) AS err_ht_milli,
      | CAST(abs(raked_milli - n_true * 1000) AS BIGINT) AS err_raked_milli
      |FROM g3 ORDER BY lang, source""".stripMargin

  // q275: UCB CRAWL-BUDGET RANKING — the SEQUENTIAL selection decision
  // the curation family makes once and never revisits: q257 greedily
  // covers, q101/q137 mix by FIXED weights, but a crawl scheduler faces
  // the bandit problem — each source's quality is only known to the
  // precision its sample size n_s affords, and pure exploitation starves
  // exactly the sources it knows least. UCB1 (Auer et al.) ranks by
  // mean + sqrt(2·ln N / n_s): the optimism bonus decays as a source is
  // sampled, so under-observed sources get pulled forward — the output
  // shows the reordering by reporting the UCB rank NEXT TO the
  // exploit-only rank. Reward = success rate in [0, 1000] milli (doc ≥
  // 100 tokens) so mean and bonus share units; ln through the shared
  // FixedPoint log2milli × 693147 ppm (no float log), the square root by
  // the exact integer sqrt (q266's double-sqrt + two Newton
  // corrections). One corpus-scale collapse; every bandit statistic and
  // both rank windows live on the |sources| grid.
  private def q275(s: SparkSession, d: String): DataFrame = {
    import FixedPoint.log2milli
    val st = documents(s, d)
      .select(col("source"),
        expr("IF(size(split(text, ' ')) >= 100, 1L, 0L)").as("succ"))
      .groupBy("source").agg(count(lit(1)).as("n_s"), sum("succ").as("x_s"))
    val tot = st.agg(sum("n_s").as("n_tot"))
    st.crossJoin(broadcast(tot))
      .withColumn("mean_milli", expr("x_s * 1000 div n_s"))
      .withColumn("l2", log2milli("n_tot"))
      .withColumn("ln_milli", expr("l2 * 693147 div 1000000"))
      .withColumn("b2", expr("2000 * ln_milli div n_s"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(b2 AS DOUBLE))) AS BIGINT)"))
      .withColumn("s1", expr("s0 + IF((s0 + 1) * (s0 + 1) <= b2, 1L, 0L)"))
      .withColumn("bonus_milli", expr("s1 - IF(s1 * s1 > b2, 1L, 0L)"))
      .withColumn("ucb_milli", expr("mean_milli + bonus_milli"))
      .withColumn("rank_ucb", row_number().over(
        Window.partitionBy(pmod(col("n_s"), lit(1L)))
          .orderBy(desc("ucb_milli"), col("source"))))
      .withColumn("rank_exploit", row_number().over(
        Window.partitionBy(pmod(col("n_s"), lit(1L)))
          .orderBy(desc("mean_milli"), col("source"))))
      .select(col("source"), col("n_s"), col("mean_milli"), col("bonus_milli"),
        col("ucb_milli"), col("rank_ucb"), col("rank_exploit"))
      .orderBy("source")
  }

  private val q275Sql = {
    def l2m(x: String): String =
      s"(1000 * (length(bin($x)) - 1) + ($x - (CAST(1 AS BIGINT) << (length(bin($x)) - 1)))" +
        s" * 1000 // (CAST(1 AS BIGINT) << (length(bin($x)) - 1)))"
    s"""WITH st AS (SELECT source, count(*) AS n_s,
       |   CAST(sum(CASE WHEN len(string_split(text, ' ')) >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS x_s
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM st),
       |g AS (SELECT st.*, n_tot, x_s * 1000 // n_s AS mean_milli,
       |   ${l2m("n_tot")} * 693147 // 1000000 AS ln_milli
       |  FROM st CROSS JOIN tot),
       |b AS (SELECT *, 2000 * ln_milli // n_s AS b2 FROM g),
       |s0t AS (SELECT *, CAST(floor(sqrt(CAST(b2 AS DOUBLE))) AS BIGINT) AS s0 FROM b),
       |s1t AS (SELECT *, s0 + CASE WHEN (s0 + 1) * (s0 + 1) <= b2 THEN 1 ELSE 0 END AS s1 FROM s0t),
       |u AS (SELECT *, s1 - CASE WHEN s1 * s1 > b2 THEN 1 ELSE 0 END AS bonus_milli FROM s1t),
       |r AS (SELECT source, n_s, mean_milli, bonus_milli,
       |   mean_milli + bonus_milli AS ucb_milli FROM u)
       |SELECT source, n_s, CAST(mean_milli AS BIGINT) AS mean_milli,
       | CAST(bonus_milli AS BIGINT) AS bonus_milli,
       | CAST(ucb_milli AS BIGINT) AS ucb_milli,
       | CAST(row_number() OVER (ORDER BY ucb_milli DESC, source) AS BIGINT) AS rank_ucb,
       | CAST(row_number() OVER (ORDER BY mean_milli DESC, source) AS BIGINT) AS rank_exploit
       |FROM r ORDER BY source""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q273_raking" -> (q273 _),
    "q275_ucb_ranking" -> (q275 _),
    "q270_design_effect" -> (q270 _),
    "q266_neyman_allocation" -> (q266 _),
    "q260_weighted_sample" -> (q260 _),
    "q257_coverage_selection" -> (q257 _),
    "q226_join_view_maintenance" -> (q226 _),
    "q216_temperature_mix" -> (q216 _),
    "q212_wilson_gate" -> (q212 _),
    "q202_budget_apportionment" -> (q202 _),
    "q186_padding_curve" -> (q186 _),
    "q188_epoch_shuffle" -> (q188 _),
    "q189_pareto_frontier" -> (q189 _),
    "q183_effective_sources" -> (q183 _),
    "q155_weighted_percentiles" -> (q155 _),
    "q143_quantile_norm" -> (q143 _),
    "q137_mix_schedule" -> (q137 _),
    "q133_dsir_resample" -> (q133 _),
    "q128_dsir_weights" -> (q128 _),
    "q120_incremental_stats" -> (q120 _),
    "q115_pipeline_e2e" -> (q115 _),
    "q104_corpus_delta" -> (q104 _),
    "q100_chunk_windows" -> (q100 _),
    "q101_domain_mix" -> (q101 _),
    "q90_stratified_sample" -> (q90 _),
    "q91_fixed_group_sample" -> (q91 _),
    "q92_filter_reasons" -> (q92 _),
    "q93_token_budget" -> (q93 _))

  override def oracles: Map[String, String] = Map(
    "q273_raking" -> q273Sql,
    "q275_ucb_ranking" -> q275Sql,
    "q270_design_effect" -> q270Sql,
    "q266_neyman_allocation" -> q266Sql,
    "q260_weighted_sample" -> q260Sql,
    "q257_coverage_selection" -> q257Sql,
    "q226_join_view_maintenance" -> q226Sql,
    "q216_temperature_mix" -> q216Sql,
    "q212_wilson_gate" -> q212Sql,
    "q202_budget_apportionment" -> q202Sql,
    "q186_padding_curve" -> q186Sql,
    "q188_epoch_shuffle" -> q188Sql,
    "q189_pareto_frontier" -> q189Sql,
    "q183_effective_sources" -> q183Sql,
    "q155_weighted_percentiles" -> q155Sql,
    "q143_quantile_norm" -> q143Sql,
    "q137_mix_schedule" -> q137Sql,
    "q133_dsir_resample" -> q133Sql,
    "q128_dsir_weights" -> q128Sql,
    "q120_incremental_stats" -> q120Sql,
    "q115_pipeline_e2e" -> q115Sql,
    "q104_corpus_delta" -> q104Sql,
    "q100_chunk_windows" -> q100Sql,
    "q101_domain_mix" -> q101Sql,
    "q90_stratified_sample" -> q90Sql,
    "q91_fixed_group_sample" -> q91Sql,
    "q92_filter_reasons" -> q92Sql,
    "q93_token_budget" -> q93Sql)
}
