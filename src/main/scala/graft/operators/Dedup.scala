package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.{MinHashSig, SimHash32, WordShingles}
import org.apache.spark.sql.{DataFrame, GraftColumn, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY.md §2B B18,
  * B31 + driver mandate): exact hash-dedup, n-gram Jaccard near-dup, MinHash
  * + LSH banding, and SimHash hamming near-dup — all over `documents`.
  *
  * Design for 100 TB:
  *  - signatures (MinHash, SimHash) are computed ROW-LOCAL with higher-order
  *    functions over the token/shingle arrays — no explode, no shuffle, and
  *    the signature stage stays inside whole-stage codegen;
  *  - candidate generation joins on narrow keys (shingle string / band
  *    bucket / byte band), never on the raw arrays — the shuffle carries
  *    `(key, doc_id)` pairs, and the quadratic all-pairs comparison is
  *    avoided entirely: only bucket-cohabitants are compared;
  *  - exact verification (array_intersect Jaccard, xor-popcount hamming)
  *    happens only on the candidate pairs, which LSH keeps near-linear.
  *
  * Hash functions are md5-derived (first 8 hex chars → unsigned 32-bit int)
  * so the DuckDB oracle reproduces them exactly.
  *
  * Every candidate self-join (q41 shingle index, q43 MinHash bands, q45
  * SimHash bands, q83 fuzzy blocking keys) runs behind
  * [[Guards.capBuckets]] at [[MaxBucket]]: a key
  * held by more than MaxBucket docs is dropped from candidate generation
  * before the join, bounding join output at O(MaxBucket²) per key — the
  * guard that keeps Zipfian stop-shingles / dense bands from going O(f²)
  * at corpus scale. The oracle SQLs mirror the cap with the same
  * `HAVING count(*) <= MaxBucket` frequency filter, so results stay
  * hash-identical by construction.
  */
object Dedup extends QueryPack {
  import Tables._

  /** Hot-key cap for candidate-generation joins. 256 keeps every planted
    * near-dup pair at the tested scales while cutting the measured SimHash
    * hot band (1338 of 5000 docs at sf0.1 → 2.8M pairs) out entirely. */
  val MaxBucket = 256L

  /** The one-scan shingle relation every text-dedup query starts from:
    * `(doc_id, sh, nsh)` — distinct 5-word shingle set (row-local native
    * codegen expression, graft.functions.WordShingles) and its size,
    * persisted MEMORY_AND_DISK because each query reads it 2–3 times
    * (cap-count side, both self-join sides) and q41/q42/q43/q73 share it
    * within a session (the CacheManager dedupes the identical plan, same
    * pattern as Similarity.vecBase). Profiled at sf0.1: the shingle+md5
    * pipeline is ~70% of q41's cost when rebuilt per lineage — the join
    * itself is bucket-capped and cheap. At cluster scale the same role is
    * played by a staged shingle table; MEMORY_AND_DISK spills rather than
    * OOMs under executor pressure. */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    // r17 note: a Tables.fanout here was MEASURED AND REVERTED. The
    // shingle stage is persisted, so the bench's min-of-n (warm path)
    // never re-pays it — fanning it out only added an exchange plus
    // 32-partition cache reads to every downstream stage, and the whole
    // q41-consumer family regressed (q41 0.60→1.54 s, q43 0.64→1.13,
    // q145 2.3→5.3 at sf0.1). Fanout pays only for UNCACHED heavy
    // stages (q83/q94/q264), not for persisted bases.
    val df = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .withColumn("sh", GraftColumn(WordShingles(GraftColumn.expr(col("toks")), 5)))
      .withColumn("nsh", size(col("sh")))
      .select("doc_id", "sh", "nsh")
    graft.Caches.persist(df)
  }

  private val shingleSqlCte =
    """WITH t AS (
      | SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 3),
      |   i -> array_to_string(string_split(text,' ')[i:i+4], ' '))) AS sh
      | FROM documents WHERE len(string_split(text,' ')) >= 5)""".stripMargin

  // q40: exact dedup by content fingerprint (here: first-8-token prefix, so
  // duplicate groups actually occur in the synthetic corpus). Keeps the
  // minimum doc_id as the canonical survivor — the deterministic
  // `dropDuplicates` (SURVEY B18) at corpus scale: one hash shuffle on a
  // 32-char key, min/count partial-agg'd.
  private def q40(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("key_fp", md5(array_join(slice(split(col("text"), " "), 1, 8), " ")))
      .groupBy("key_fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc"))
      .orderBy("key_fp")

  private val q40Sql =
    """SELECT md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS key_fp,
      | count(*) AS n_docs, min(doc_id) AS keep_doc
      |FROM documents GROUP BY 1 ORDER BY key_fp""".stripMargin

  // q41: exact n-gram Jaccard near-duplicate pairs (threshold 0.5). The
  // inverted-index formulation: explode distinct shingles, self-join on the
  // shingle, count common per pair — pairs sharing no shingle never meet.
  // The join key is a 60-bit md5-derived hash of the shingle, not the
  // ~30-byte string: 8-byte shuffle keys, and since BOTH engines compute
  // the same hash, even a (≈2⁻⁶¹-probability) collision yields identical
  // results on both sides.
  /** Uncapped exploded shingle index `(doc_id, nsh, s)` keyed by the
    * 60-bit md5-derived shingle hash. Read 2–3 times by every consumer
    * (cap-count side + both self-join sides in [[scoredPairs]]; rank,
    * prefix and both verify sides in q221), so it is persisted once —
    * the explode+md5 stage is ~70% of q41's sf0.1 cost when rebuilt per
    * lineage. Narrow rows (doc_id, nsh, s:long): the cache is ~1/10 the
    * text size. [[scoredPairs]] caps it (throughput arm); q221 must NOT
    * cap (exactness is its contract) — the shared definition keeps the
    * two arms' shingle universes byte-identical. */
  private def explodedIndex(s: SparkSession, d: String): DataFrame = {
    val ex0 = shingled(s, d).select(col("doc_id"), col("nsh"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), col("nsh"),
        expr("CAST(conv(substring(md5(s0), 1, 15), 16, 10) AS BIGINT)").as("s"))
    graft.Caches.persist(ex0)
  }

  /** The Scala twin of the oracle's shared `np` CTE: capped co-shingle
    * self-join scored with exact Jaccard, (a, b, na, nb, common, jaccard)
    * at candidate-pair grain. q41 thresholds it, q139 tags it with split
    * membership, q140 calibrates MinHash estimates against it — one
    * definition so the cap constant and the jaccard formula cannot drift
    * between consumers (mirror of the SQL-side [[pairCtesSql]] sharing). */
  private def scoredPairs(s: SparkSession, d: String): DataFrame = {
    val ex = Guards.capBuckets(explodedIndex(s, d), "s", MaxBucket, minFreq = 2L)
    ex.alias("a").join(ex.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", round(col("common") / (col("na") + col("nb") - col("common")), 4))
  }

  private def q41(s: SparkSession, d: String): DataFrame =
    scoredPairs(s, d)
      .filter(col("jaccard") >= 0.5)
      .orderBy("a", "b")

  /** The verified q41 pair EDGE LIST `(a, b)` — the input of every graph
    * consumer (q199's peel, clusterLabels' propagation loop, and through
    * it the whole q73/q96/q139/q145/q205/q235/q237/q344 family). r18:
    * persisted HERE, at the last deterministic plan node before the
    * consumers' per-invocation pins — a checkpoint's unique
    * RDD identity defeats CacheManager plan-dedup, so before this cache
    * every invocation (and every bench run) re-paid the capped
    * co-shingle self-join even with [[explodedIndex]] warm. Pair-grain,
    * cap-bounded (≪ corpus at any scale), released with every other
    * engine cache via graft.Caches. No orderBy: q41's presentation sort
    * is dead weight for graph consumers. */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    graft.Caches.persist(
      scoredPairs(s, d).filter(col("jaccard") >= 0.5).select("a", "b"))

  /** Shared pair-generation CTEs (e0 exploded index, e capped index, np
    * scored pairs): q41's final SELECT and q73's cluster step both build
    * on `np`, and [[MaxBucket]] is interpolated, so the cap constant and
    * the jaccard formula cannot desync between the two oracles or drift
    * from the Scala side. */
  private val pairCtesSql =
    s"""e0 AS (SELECT doc_id, len(sh) AS nsh,
      |      ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS s FROM t),
      |e AS (SELECT * FROM e0 WHERE s IN (SELECT s FROM e0 GROUP BY s HAVING count(*) <= $MaxBucket)),
      |np AS (
      | SELECT a.doc_id AS a, b.doc_id AS b, a.nsh AS na, b.nsh AS nb, count(*) AS common,
      |  round(count(*) / (a.nsh + b.nsh - count(*)), 4) AS jaccard
      | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      | GROUP BY 1, 2, 3, 4)""".stripMargin

  private val q41Sql = shingleSqlCte + ",\n" + pairCtesSql +
    "\nSELECT a, b, na, nb, common, jaccard FROM np WHERE jaccard >= 0.5 ORDER BY a, b"

  // q196: CONTAINMENT PAIRS — the ASYMMETRIC arm of the near-dup family.
  // Symmetric Jaccard (q41) structurally under-scores subset duplication:
  // a short doc fully embedded in a long one has jaccard ≈ |A|/|B| → 0
  // as the host grows, yet it is exactly the quote/wrapper/boilerplate
  // duplication a corpus cleaner must see (the RefinedWeb-class pipelines
  // dedup on containment for this reason). Same candidate machinery as
  // q41 — the one capped shingle self-join, already paid for — then
  // containment(A→B) = common·1000 div |A|'s shingles, keeping pairs
  // where the BEST direction clears 600‰ while jaccard stays BELOW
  // q41's 0.5 bar: by construction this reports only what q41 misses
  // (the two queries partition the interesting pair space, pinned in the
  // spec). Direction named explicitly; ties read a_in_b (a < b, so
  // deterministic). Integer permilles, no new shuffle beyond q41's.
  private def q196(s: SparkSession, d: String): DataFrame =
    scoredPairs(s, d)
      .withColumn("cont_a", expr("common * 1000 div na"))
      .withColumn("cont_b", expr("common * 1000 div nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= 600 && col("jaccard") < 0.5)
      .select(col("a"), col("b"), col("na"), col("nb"), col("common"),
        col("cont_a"), col("cont_b"),
        when(col("cont_a") >= col("cont_b"), "a_in_b").otherwise("b_in_a").as("direction"))
      .orderBy("a", "b")

  private val q196Sql = shingleSqlCte + ",\n" + pairCtesSql +
      """
        |SELECT a, b, na, nb, common,
        | CAST(common * 1000 // na AS BIGINT) AS cont_a,
        | CAST(common * 1000 // nb AS BIGINT) AS cont_b,
        | CASE WHEN common * 1000 // na >= common * 1000 // nb
        |      THEN 'a_in_b' ELSE 'b_in_a' END AS direction
        |FROM np
        |WHERE greatest(common * 1000 // na, common * 1000 // nb) >= 600
        |  AND jaccard < 0.5
        |ORDER BY a, b""".stripMargin

  /** 8-function MinHash signature as a row-local column: one md5 per
    * shingle, then the (aᵢ·h+bᵢ) mod P universal-hash family per function.
    * Native codegen expression (graft.functions.MinHashSig) — identical
    * values to the oracle's formula at ~20× interpreted-lambda
    * throughput. */
  private def withSignature(df: DataFrame): DataFrame =
    df.withColumn("sig", GraftColumn(MinHashSig(GraftColumn.expr(col("sh")), 8)))

  // q42: MinHash signatures, exploded to (doc_id, h_idx, minhash) rows.
  private def q42(s: SparkSession, d: String): DataFrame =
    withSignature(shingled(s, d))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("h_idx", "minhash")))
      .orderBy("doc_id", "h_idx")

  private val q42Sql = shingleSqlCte +
    """,
      |hs AS (SELECT doc_id, list_transform(sh,
      |         s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hv FROM t)
      |SELECT doc_id, i AS h_idx,
      | list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7919*i) % 4294967311), 'min') AS minhash
      |FROM hs CROSS JOIN (SELECT unnest(range(0, 8)) AS i) ii
      |ORDER BY doc_id, h_idx""".stripMargin

  // q43: full MinHash-LSH near-dup pipeline: 4 bands × 2 rows → bucket
  // join → candidate pairs → exact-Jaccard verification at threshold 0.4.
  // With J≈0.8 planted dups, P(caught) = 1-(1-J²)⁴ ≈ 0.98.
  private def q43(s: SparkSession, d: String): DataFrame = {
    // sig feeds three lineages; measured at sf0.1, RECOMPUTING the codegen
    // MinHash pass over the cached shingle relation beats persisting these
    // fat rows (the sh string arrays dominate the cache read) — so only
    // `shingled` is persisted, sig recomputes per lineage.
    val sig = withSignature(shingled(s, d)).select("doc_id", "sh", "nsh", "sig")
    val buckets0 = sig.select(col("doc_id"), explode(expr(
      """transform(sequence(0, 3), b -> concat(CAST(b AS STRING), ':',
        |  CAST(element_at(sig, 2*b+1) AS STRING), ':', CAST(element_at(sig, 2*b+2) AS STRING)))""".stripMargin))
      .as("bucket"))
    val buckets = Guards.capBuckets(buckets0, "bucket", MaxBucket, minFreq = 2L)
    val cand = buckets.alias("x").join(buckets.alias("y"),
        col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val docs = sig.select(col("doc_id"), col("sh"), col("nsh"))
    cand
      .join(docs.select(col("doc_id").as("a"), col("sh").as("sha"), col("nsh").as("na")), "a")
      .join(docs.select(col("doc_id").as("b"), col("sh").as("shb"), col("nsh").as("nb")), "b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", round(col("common") / (col("na") + col("nb") - col("common")), 4))
      .filter(col("jaccard") >= 0.4)
      .select("a", "b", "common", "jaccard")
      .orderBy("a", "b")
  }

  private val q43Sql = shingleSqlCte +
    s""",
      |hs AS (SELECT doc_id, sh, len(sh) AS nsh, list_transform(sh,
      |         s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hv FROM t),
      |sig AS (SELECT doc_id, sh, nsh,
      |  list_transform(range(0, 8), i -> list_aggregate(
      |    list_transform(hv, h -> ((2*i+1)*h + 7919*i) % 4294967311), 'min')) AS sg
      | FROM hs),
      |bk0 AS (SELECT DISTINCT doc_id,
      |  b::VARCHAR || ':' || sg[CAST(2*b+1 AS INT)]::VARCHAR || ':' || sg[CAST(2*b+2 AS INT)]::VARCHAR AS bucket
      | FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
      |bk AS (SELECT * FROM bk0
      | WHERE bucket IN (SELECT bucket FROM bk0 GROUP BY bucket HAVING count(*) <= $MaxBucket)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      | FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.doc_id < y.doc_id)
      |SELECT a, b, common, jaccard FROM (
      | SELECT a, b, len(list_intersect(sa.sh, sb.sh)) AS common,
      |  round(len(list_intersect(sa.sh, sb.sh)) / (sa.nsh + sb.nsh - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
      | FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b)
      |WHERE jaccard >= 0.4 ORDER BY a, b""".stripMargin

  /** `(doc_id, simhash)`: row-local 32-bit SimHash (native codegen
    * expression; per-bit majority vote over md5-derived token hashes),
    * persisted narrow for the same reason as [[shingled]] — the md5-per-
    * token stage dominates and q44/q45 read it once/thrice respectively. */
  private def withSimhash(s: SparkSession, d: String): DataFrame = {
    val df = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("simhash", GraftColumn(SimHash32(GraftColumn.expr(col("toks")))))
      .select("doc_id", "simhash")
    graft.Caches.persist(df)
  }

  // q44: 32-bit SimHash per document.
  private def q44(s: SparkSession, d: String): DataFrame =
    withSimhash(s, d)
      .select(col("doc_id"), col("simhash"), bit_count(col("simhash")).as("nbits"))
      .orderBy("doc_id")

  private val q44Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hv FROM tok),
      |bits AS (SELECT doc_id, b, sum(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
      | FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bt GROUP BY 1, 2)
      |SELECT doc_id,
      | CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash,
      | CAST(bit_count(CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT)) AS INT) AS nbits
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // q45: SimHash near-dup pairs — band the 32 bits into 4 bytes, join docs
  // sharing any identical byte band, verify hamming distance ≤ 6 via
  // xor + popcount. Same LSH shape as q43 with a bitwise signature.
  // Threshold 6 (was 8): keeps 100% recall of the exact-Jaccard (q41)
  // ground-truth pairs (GuardsSpec pins this) while halving the verified
  // output — at ≤8 the gate passed 13% of ALL doc pairs on the synthetic
  // corpus, which is not a useful near-dup predicate.
  private def q45(s: SparkSession, d: String): DataFrame = {
    val sh = withSimhash(s, d).select("doc_id", "simhash")
    val bands0 = sh.select(col("doc_id"), col("simhash"), explode(expr(
      "transform(sequence(0, 3), b -> concat(CAST(b AS STRING), ':', CAST((shiftright(simhash, 8*b) & 255) AS STRING)))"))
      .as("band"))
    val bands = Guards.capBuckets(bands0, "band", MaxBucket, minFreq = 2L)
    // hamming-filter BEFORE the pair dedup: the xor+popcount is row-local
    // and cheap, so failing candidates never enter the distinct's shuffle
    // (a pair surfaces once per shared band, up to 4×; the filter verdict
    // is identical for every copy, so filter-then-dedup == dedup-then-
    // filter with a fraction of the shuffled rows).
    bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .withColumn("hamming", bit_count(expr("sa ^ sb")))
      .filter(col("hamming") <= 6)
      .dropDuplicates("a", "b")
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  private val q45Sql =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hv FROM tok),
      |bits AS (SELECT doc_id, b, sum(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
      | FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bt GROUP BY 1, 2),
      |sh AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      | FROM bits GROUP BY doc_id),
      |bands0 AS (SELECT doc_id, simhash,
      |  b::VARCHAR || ':' || ((simhash >> CAST(8*b AS INT)) & 255)::VARCHAR AS band
      | FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
      |bands AS (SELECT * FROM bands0
      | WHERE band IN (SELECT band FROM bands0 GROUP BY band HAVING count(*) <= $MaxBucket)),
      |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
      | FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id)
      |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      |FROM pairs WHERE bit_count(xor(sa, sb)) <= 6
      |ORDER BY a, b""".stripMargin

  // q73: near-dup CLUSTERS — the step after pair generation in a real
  // dedup pipeline: connected components over the verified q41 pair graph,
  // labeling every document with the minimum doc_id of its component and
  // flagging the canonical survivor. Implemented as distributed min-label
  // propagation with path halving (all data stays distributed; the driver
  // only sees a scalar convergence count, the standard Pregel-style
  // orchestration). Each generation is pinned ([[graft.Caches.pin]]);
  // the retained worst case is ≤ 20 generations × one narrow row per
  // edge-touched node, i.e. proportional to the capped pair count, not
  // the corpus. At 100 TB the same loop runs with reliable (HDFS/S3)
  // checkpointing. The fixpoint (min id per component) is unique, so
  // the result is engine-independent — the oracle computes it with a
  // recursive CTE.
  /** q73's cluster labeling minus the presentation columns: (doc_id,
    * cluster) for EVERY corpus document (edge-touched ones via the
    * propagation loop, singletons by identity). Shared with q96, whose
    * split keys on the cluster id. */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame = {
    // Both directions of each edge come from ONE scan of the pair row:
    // under a concurrent Caches.release() two scans of the shared pair
    // cache can see different pair sets (likely one reading the cache,
    // one a recomputation after it was dropped), and an edge present in one
    // direction only leaves a doc that is never a `u` holding its
    // neighbour's larger label, uncounted by `changed` (its `old` is
    // null) — the cluster > doc_id result ConcurrencySpec caught.
    val edges = graft.Caches.pin(verifiedPairs(s, d)
      .select(explode(array(struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select("e.u", "e.v"))
    // The propagation loop runs ONLY over edge-touched nodes: a document
    // in no near-dup pair is its own singleton cluster by definition and
    // can never change label, so iterating over the full corpus (as r4
    // did) pays |corpus| per iteration for rows that are loop-invariant.
    // Near-dup pair graphs are tiny relative to the corpus (|nodes| ≤
    // 2·|pairs|), so each iteration is now bounded by the pair count, not
    // the corpus size — at 100 TB that is the difference between a CC loop
    // over billions of rows and one over the (capped) duplicate set.
    val nodes = edges.select(col("u").as("doc_id")).distinct()
    var labels = graft.Caches.pin(nodes.select(col("doc_id"), col("doc_id").as("lbl")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      val prop = edges.join(labels.withColumnRenamed("doc_id", "u"), "u")
        .select(col("v").as("doc_id"), col("lbl"), lit(null).cast("bigint").as("old"))
      // one aggregation yields BOTH the next generation and the
      // convergence signal: each doc's unique current label rides along as
      // `old` (max ignores the propagated rows' nulls), so no separate
      // join-against-previous job per iteration.
      val step = labels.select(col("doc_id"), col("lbl"), col("lbl").as("old"))
        .union(prop)
        .groupBy("doc_id").agg(min("lbl").as("lbl"), max("old").as("old"))
      // path-halving shortcut: follow each label one more hop through the
      // label table itself (every label IS a node id, so the inner join is
      // total). Labels only decrease and stay within the component, so the
      // fixpoint is unchanged, but convergence needs O(log diameter)
      // iterations instead of O(diameter) — with an iteration costing one
      // scheduled job, that is the loop's wall-clock at any scale.
      val next = graft.Caches.pin(step.alias("x")
        .join(step.select(col("doc_id").as("pdoc"), col("lbl").as("plbl")).alias("p"),
          col("x.lbl") === col("p.pdoc"))
        .select(col("x.doc_id"), col("p.plbl").as("lbl"), col("x.old").as("old")))
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select("doc_id", "lbl")
      iter += 1
    }
    // non-convergence must fail loudly: labels that are not the exact
    // fixpoint would silently hash-mismatch the oracle and be misdiagnosed
    if (changed > 0)
      throw new IllegalStateException(
        s"q73 min-label propagation did not converge in $iter iterations " +
          s"($changed labels still changing); raise the bound or use large-star/small-star")
    // singletons rejoin with their identity label; the loop never saw them
    val singletons = shingled(s, d).select("doc_id")
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("lbl"))
    labels.union(singletons)
      .select(col("doc_id"), col("lbl").as("cluster"))
  }

  private def q73(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d)
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("is_canonical"))
      .orderBy("doc_id")

  /** The recursive-CTE connected-components core shared by the q73 and
    * q96 oracles: `clusters` = (doc_id, cluster=min reachable id). */
  private val ccCtesSql = shingleSqlCte.replace("WITH t AS", "WITH RECURSIVE t AS") +
    ",\n" + pairCtesSql +
    """,
      |np2 AS (SELECT a, b FROM np WHERE jaccard >= 0.5),
      |edges AS (SELECT a AS u, b AS v FROM np2 UNION ALL SELECT b, a FROM np2),
      |reach AS (
      | SELECT doc_id AS doc, doc_id AS r FROM t
      | UNION
      | SELECT e.v, reach.r FROM reach JOIN edges e ON reach.doc = e.u),
      |clusters AS (SELECT doc AS doc_id, min(r) AS cluster FROM reach GROUP BY doc)""".stripMargin

  private val q73Sql = ccCtesSql +
    """
      |SELECT doc_id, cluster, (doc_id = cluster) AS is_canonical
      |FROM clusters ORDER BY doc_id""".stripMargin

  // q96: CLUSTER-AWARE train/eval split — leakage prevention BY
  // CONSTRUCTION, where q75 (decontamination) is detection after the
  // fact: the split hash keys on the near-dup CLUSTER id (q73's labels),
  // so a document and all its near-duplicates land in the SAME split by
  // definition — an eval doc can never have a train-side near-twin. A
  // doc-keyed split (q74) cannot promise this: two near-dups hash
  // independently and straddle train/eval with probability 1−Σp², which
  // on a memorization-prone corpus inflates eval scores. Costs one extra
  // row-local hash over q73's output; the summary proves the corpus is
  // covered (n_docs totals) with cluster-exact membership checksums.
  // ScaleOpsSpec proves the invariant end-to-end: zero q41 near-dup
  // pairs straddle splits here, while the doc-keyed assignment straddles
  // on the same corpus.
  private[graft] def clusterSplits(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d)
      .withColumn("h", Tables.pctBucket(col("cluster")))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "validation").otherwise("test"))

  private def q96(s: SparkSession, d: String): DataFrame =
    clusterSplits(s, d)
      .groupBy("split")
      .agg(countDistinct("cluster").as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum("doc_id").as("id_checksum"))
      .orderBy("split")

  private val q96Sql = ccCtesSql +
    """,
      |withsplit AS (SELECT doc_id, cluster,
      |  ('0x' || substr(md5(cluster::VARCHAR), 1, 8))::BIGINT % 100 AS h
      | FROM clusters)
      |SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'validation' ELSE 'test' END AS split,
      | count(DISTINCT cluster) AS n_clusters, count(*) AS n_docs,
      | CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM withsplit GROUP BY 1 ORDER BY split""".stripMargin

  /** q199's fixed peel depth. 8 rounds, not peel-to-convergence: the
    * round count is part of the operator's SEMANTICS (each round is one
    * row of the output curve), which keeps the result hash-exact and
    * lets the oracle unroll the same 8 stages mechanically — the
    * convergence signal is READ OFF the curve (consecutive equal rows)
    * rather than decided by a driver-side loop test. Real dup graphs
    * have tiny peel depth (whiskers vanish in round 1; depth > 8 means
    * a pathological topology worth seeing in the curve itself). */
  private val PeelRounds = 8

  // q199: 2-CORE PEEL CURVE — graph-topology QA for the duplicate-pair
  // graph, the structural form of the chain-merge warning q181 scores
  // statistically: q73 clusters whatever is connected, but a component
  // held together by degree-1 "whiskers" (A-B pairs, stars) is sound to
  // cluster, while a dense 2-core (every node ≥ 2 independent near-dup
  // links) is where transitive closure can chain-merge unrelated docs
  // through hub documents. Classic k-core peeling (Seidman; the
  // Matula-Beck linear algorithm's parallel form), k=2, as PeelRounds
  // fixed rounds: each round computes degrees over the surviving edge
  // set (one partial-agg'd shuffle over the CAPPED pair graph — never
  // the corpus), keeps nodes with deg ≥ 2, and keeps edges with both
  // ends alive (two left-semi joins). The output is the peel CURVE —
  // (round, n_nodes, n_edges) — whose fixpoint rows are the 2-core size
  // and whose round-1 drop counts the whisker mass. Every round's stats
  // ride 1-row aggregates unioned lazily: no driver-side loop test, no
  // collect; at 100 TB each round is one bounded job over the duplicate
  // set, the q73 cost model exactly. Each generation and each round's
  // survivor set `keep` is pinned ([[graft.Caches.pin]]): a round reads
  // the previous edge set FOUR times — degree union ×2, semi-join ×2 —
  // so an un-truncated 8-round tree re-embeds the base subtree 4⁸ times,
  // and `keep` is read by both the next generation and the n_nodes count.
  private def q199(s: SparkSession, d: String): DataFrame = {
    var edges = graft.Caches.pin(verifiedPairs(s, d))
    val rounds = (1 to PeelRounds).map { r =>
      val deg = edges.select(col("a").as("node"))
        .union(edges.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = graft.Caches.pin(deg.filter(col("deg") >= 2).select("node"))
      val nextEdges = graft.Caches.pin(edges
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b"))
      val row = keep.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(nextEdges.agg(count(lit(1)).as("n_edges")))
        .withColumn("peel_round", lit(r.toLong))
      edges = nextEdges
      row
    }
    rounds.reduce(_ unionByName _)
      .select("peel_round", "n_nodes", "n_edges")
      .orderBy("peel_round")
  }

  private val q199Sql = {
    // every stage CTE is MATERIALIZED: each round references its
    // predecessor 4×, and DuckDB's default CTE inlining would re-expand
    // the whole shingle/pair subtree 4⁸ times (the same blow-up the
    // Scala side's pins truncate)
    val stages = (1 to PeelRounds).map { r =>
      val prev = if (r == 1) "ep0" else s"ep${r - 1}"
      s"""dg$r AS MATERIALIZED (SELECT node, count(*) AS deg FROM
         |  (SELECT a AS node FROM $prev UNION ALL SELECT b AS node FROM $prev)
         |  GROUP BY 1),
         |kp$r AS MATERIALIZED (SELECT node FROM dg$r WHERE deg >= 2),
         |ep$r AS MATERIALIZED (SELECT a, b FROM $prev
         |  WHERE a IN (SELECT node FROM kp$r) AND b IN (SELECT node FROM kp$r))""".stripMargin
    }.mkString(",\n")
    val rows = (1 to PeelRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS peel_round, (SELECT count(*) FROM kp$r) AS n_nodes," +
        s" (SELECT count(*) FROM ep$r) AS n_edges"
    }.mkString("\nUNION ALL\n")
    shingleSqlCte + ",\n" + pairCtesSql + ",\n" +
      "ep0 AS MATERIALIZED (SELECT a, b FROM np WHERE jaccard >= 0.5),\n" +
      stages + "\n" + rows + "\nORDER BY peel_round"
  }

  // q205: CANONICAL ELECTION — the survivor CHOICE the cluster family
  // leaves open: q73 labels every component with its MIN id (an arrival
  // accident), but production cleaners keep the BEST copy of a duplicate
  // cluster, not the first one (the RefinedWeb/FineWeb convention —
  // quality-ranked survivor election). Per multi-member q73 cluster:
  // survivor = argmax by lexical richness (distinct-token count, the q36
  // quality family's integer backbone) with lowest-id tiebreak, plus the
  // price of the deletion (dropped doc and token counts — q145's savings
  // number, here at CLUSTER grain with the ELECTED survivor subtracted
  // rather than an arbitrary one). Election is ONE partial-agg'd max_by
  // over a struct ordering (q52's latest-state reduction shape — each
  // map partition forwards one candidate per cluster, no window over
  // members); the only join attaches the two integer quality columns to
  // the cluster labels. At 100 TB the q73 loop dominates; election adds
  // one metadata-light shuffle on cluster.
  private def q205(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), size(col("toks")).cast("long").as("nt"),
        size(array_distinct(col("toks"))).cast("long").as("nd"))
    clusterLabels(s, d).join(docs, "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum("nt").as("sum_nt"),
        expr("max_by(struct(doc_id, nd, nt), struct(nd, -doc_id))").as("w"))
      .filter(col("n_members") >= 2)
      .select(col("cluster"), col("n_members"),
        col("w.doc_id").as("keep_doc"), col("w.nd").as("keep_q"),
        (col("sum_nt") - col("w.nt")).as("dropped_tokens"))
      .orderBy("cluster")
  }

  private val q205Sql = ccCtesSql +
    """,
      |qd AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
      |  FROM documents),
      |mm AS (SELECT c.cluster, c.doc_id, qd.nt, qd.nd
      |  FROM clusters c JOIN qd USING (doc_id)),
      |g AS (SELECT cluster, count(*) AS n_members, sum(nt) AS sum_nt
      |  FROM mm GROUP BY 1 HAVING count(*) >= 2),
      |r AS (SELECT mm.*, row_number() OVER
      |   (PARTITION BY cluster ORDER BY nd DESC, doc_id) AS rn FROM mm),
      |k AS (SELECT cluster, doc_id AS keep_doc, nd AS keep_q, nt AS keep_nt
      |  FROM r WHERE rn = 1)
      |SELECT g.cluster, CAST(n_members AS BIGINT) AS n_members, keep_doc,
      | keep_q, CAST(sum_nt - keep_nt AS BIGINT) AS dropped_tokens
      |FROM g JOIN k USING (cluster) ORDER BY cluster""".stripMargin

  // q83: fuzzy-match near-dup pairs by EDIT DISTANCE — the dedup modality
  // for short keys (titles, product names) where token-set Jaccard is too
  // coarse. Blocking is MULTI-PROBE: each document emits its (first token,
  // prefix-length band) key AND the next band up, so two prefixes within
  // edit distance 3 (length delta ≤ 3 < band width 4, hence same or
  // adjacent bands) always share at least one emitted key — an
  // equality-only probe would silently drop pairs straddling a band
  // boundary. Exact `levenshtein` (both engines: unit-cost edit distance)
  // verifies ≤ 3 on the 8-token prefix; the double-probed pair dedups on
  // (a, b). Same capped-self-join shape as q41/q43/q45: the blocking key
  // runs behind Guards.capBuckets (oracle-mirrored), the quadratic verify
  // touches only bucket cohabitants, and every quantity is integer-exact.
  // KNOWN RECALL LIMIT: blocking requires an EXACT first token, so a typo
  // in token 0 escapes every block — inherent to first-token blocking,
  // not to the band probe. q94 implements the standard mitigation (a
  // second probe family on the prefix's last token behind the same cap,
  // ~2× the candidate volume); see SCALE.md §fuzzy-dedup blocking recall.
  private def q83(s: SparkSession, d: String): DataFrame = {
    // r17 fanout: same single-task-scan serialization as [[shingled]]
    val probes = Tables.fanout(documents(s, d), col("doc_id"))
      .withColumn("prefix", array_join(slice(split(col("text"), " "), 1, 8), " "))
      .withColumn("band", expr("length(prefix) div 4"))
      .select(col("doc_id"), col("prefix"),
        split(col("text"), " ").getItem(0).as("tok0"),
        explode(array(col("band"), col("band") + 1)).as("bandp"))
      .select(col("doc_id"), col("prefix"),
        concat(col("tok0"), lit(":"), col("bandp")).as("blk"))
    // persisted like [[shingled]]: capBuckets reads the probe relation
    // for its frequency pass and again as the join input, and the capped
    // result self-joins — without the cache the scan+split+explode
    // lineage runs 2-3x
    graft.Caches.persist(probes)
    val capped = Guards.capBuckets(probes, "blk", MaxBucket, minFreq = 2L)
    capped.alias("x").join(capped.alias("y"),
        col("x.blk") === col("y.blk") && col("x.doc_id") < col("y.doc_id"))
      // the THRESHOLDED levenshtein (banded O(n·k) DP with early exit,
      // -1 beyond the bound) is ~15× the full O(n·m) form per the sf0.1
      // profile, and is value-identical on every kept row: distance ≤ 3
      // rows get their exact distance, everything else is filtered either
      // way (the oracle's unthresholded levenshtein ≤ 3 agrees).
      .withColumn("dist", levenshtein(col("x.prefix"), col("y.prefix"), 3))
      .filter(col("dist") >= 0)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("dist"))
      .dropDuplicates("a", "b")
      .orderBy("a", "b")
  }

  // q94: DUAL-PROBE fuzzy pairs — q83 plus the documented mitigation for
  // its first-token recall limit: a second, INDEPENDENT blocking family
  // keyed on the prefix's LAST token. A typo in token 0 moves a doc out
  // of every first-token block, but (for prefixes of ≥ 2 tokens) leaves
  // the last token intact, so the pair still co-buckets in the L-family;
  // symmetrically a last-token typo is caught by the F-family. Only a
  // pair with typos in BOTH anchor tokens escapes — two corrupted anchors
  // out of ≤ 8 tokens, vanishingly rarer than the single-anchor case.
  // Families are namespaced ("F:"/"L:") so their buckets never merge, the
  // union runs behind the SAME Guards.capBuckets cap (oracle-mirrored),
  // and the verify + dedup stage is identical to q83's — candidate volume
  // is ~2× q83 by construction, the price SCALE.md quotes for the recall.
  private[graft] def fuzzyPairsDual(docsIn: DataFrame): DataFrame = {
    // r17 fanout: same single-task-scan serialization as [[shingled]]
    val pre = Tables.fanout(docsIn, col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("prefix", array_join(slice(col("toks"), 1, 8), " "))
      .withColumn("band", expr("length(prefix) div 4"))
      .withColumn("tok0", col("toks").getItem(0))
      .withColumn("tokL", expr("element_at(toks, least(size(toks), 8))"))
    val probes = pre
      .select(col("doc_id"), col("prefix"),
        explode(array(
          concat(lit("F:"), col("tok0"), lit(":"), col("band")),
          concat(lit("F:"), col("tok0"), lit(":"), col("band") + 1),
          concat(lit("L:"), col("tokL"), lit(":"), col("band")),
          concat(lit("L:"), col("tokL"), lit(":"), col("band") + 1))).as("blk"))
    // persisted for the same 2-3x lineage reuse as q83's probes
    graft.Caches.persist(probes)
    val capped = Guards.capBuckets(probes, "blk", MaxBucket, minFreq = 2L)
    capped.alias("x").join(capped.alias("y"),
        col("x.blk") === col("y.blk") && col("x.doc_id") < col("y.doc_id"))
      .withColumn("dist", levenshtein(col("x.prefix"), col("y.prefix"), 3))
      .filter(col("dist") >= 0)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("dist"))
      .dropDuplicates("a", "b")
      .orderBy("a", "b")
  }

  private def q94(s: SparkSession, d: String): DataFrame =
    fuzzyPairsDual(documents(s, d))

  private val q94Sql =
    s"""WITH pre AS (
      | SELECT doc_id,
      |  array_to_string(string_split(text,' ')[1:8], ' ') AS prefix,
      |  string_split(text,' ')[1] AS tok0,
      |  string_split(text,' ')[least(len(string_split(text,' ')), 8)] AS tokL,
      |  length(array_to_string(string_split(text,' ')[1:8], ' ')) // 4 AS band
      | FROM documents),
      |probes AS (
      | SELECT doc_id, prefix, 'F:' || tok0 || ':' || (band + d)::VARCHAR AS blk
      | FROM pre CROSS JOIN (SELECT unnest([0, 1]) AS d)
      | UNION ALL
      | SELECT doc_id, prefix, 'L:' || tokL || ':' || (band + d)::VARCHAR AS blk
      | FROM pre CROSS JOIN (SELECT unnest([0, 1]) AS d)),
      |capped AS (SELECT * FROM probes
      | WHERE blk IN (SELECT blk FROM probes GROUP BY blk HAVING count(*) BETWEEN 2 AND $MaxBucket))
      |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, levenshtein(x.prefix, y.prefix) AS dist
      |FROM capped x JOIN capped y ON x.blk = y.blk AND x.doc_id < y.doc_id
      |WHERE levenshtein(x.prefix, y.prefix) <= 3
      |ORDER BY a, b""".stripMargin

  private val q83Sql =
    s"""WITH pre AS (
      | SELECT doc_id,
      |  array_to_string(string_split(text,' ')[1:8], ' ') AS prefix,
      |  string_split(text,' ')[1] AS tok0,
      |  length(array_to_string(string_split(text,' ')[1:8], ' ')) // 4 AS band
      | FROM documents),
      |probes AS (SELECT doc_id, prefix, tok0 || ':' || (band + d)::VARCHAR AS blk
      | FROM pre CROSS JOIN (SELECT unnest([0, 1]) AS d)),
      |capped AS (SELECT * FROM probes
      | WHERE blk IN (SELECT blk FROM probes GROUP BY blk HAVING count(*) BETWEEN 2 AND $MaxBucket))
      |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, levenshtein(x.prefix, y.prefix) AS dist
      |FROM capped x JOIN capped y ON x.blk = y.blk AND x.doc_id < y.doc_id
      |WHERE levenshtein(x.prefix, y.prefix) <= 3
      |ORDER BY a, b""".stripMargin

  // q184: SYMMETRIC-DELETE pairs — the EXACT-RECALL member of the fuzzy
  // family. q83/q94 block on anchor tokens + length bands, buying d ≤ 3
  // at a documented recall gap (a typo in the anchor token escapes every
  // block; q94 halves but cannot close it). This is the SymSpell/FastSS
  // guarantee for the d ≤ 1 regime, at token grain over the fixed 4-token
  // head: each doc emits one POSITION-TAGGED deletion variant per
  // position, and two heads within one token substitution share exactly
  // the variant tagged with the differing position — recall is 100% BY
  // CONSTRUCTION (identical heads share all four variants), and precision
  // is structural too: sharing variant i forces agreement on every other
  // position, so candidate = confirmed and NO verify step exists (q83
  // pays a levenshtein per candidate; here the blocking key itself is the
  // proof). Output is the calibration grain the family's other members
  // report at: per differing position (-1 = identical heads), pair count
  // and distinct docs involved — which head slot drifts most is the
  // signal a title-dedup pipeline keys its canonicalization on.
  // Shape at 100 TB: variants expand row-local (4 narrow rows per doc;
  // the text column never leaves the scan), the one self-join runs on the
  // variant key behind Guards.capBuckets (oracle-mirrored), and both
  // closing rollups are on pair grain, joined on the ≤5-row diff_pos
  // grid. The d ≤ 2 extension is the same operator with C(4,2)
  // double-deletion variants — variant count grows, the plan shape
  // does not.
  private def q184(s: SparkSession, d: String): DataFrame = {
    val heads = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 4)
      .select(col("doc_id"),
        col("toks").getItem(0).as("h1"), col("toks").getItem(1).as("h2"),
        col("toks").getItem(2).as("h3"), col("toks").getItem(3).as("h4"))
      .withColumn("head", concat_ws(" ", col("h1"), col("h2"), col("h3"), col("h4")))
    val probes = heads.select(col("doc_id"), col("head"), explode(array(
        concat(lit("0:"), concat_ws(" ", col("h2"), col("h3"), col("h4"))),
        concat(lit("1:"), concat_ws(" ", col("h1"), col("h3"), col("h4"))),
        concat(lit("2:"), concat_ws(" ", col("h1"), col("h2"), col("h4"))),
        concat(lit("3:"), concat_ws(" ", col("h1"), col("h2"), col("h3"))))).as("blk"))
    // persisted like q83's probes: capBuckets reads the relation for its
    // frequency pass and again as the join input
    graft.Caches.persist(probes)
    val capped = Guards.capBuckets(probes, "blk", MaxBucket, minFreq = 2L)
    val pairs = capped.alias("x").join(capped.alias("y"),
        col("x.blk") === col("y.blk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        when(col("x.head") === col("y.head"), lit(-1L))
          .otherwise(substring(col("x.blk"), 1, 1).cast("long")).as("diff_pos"))
      .dropDuplicates("a", "b", "diff_pos")
    // pair grain read twice (pair count + distinct-doc count)
    graft.Caches.persist(pairs)
    val perPos = pairs.groupBy("diff_pos").agg(count(lit(1)).as("n_pairs"))
    val docsPer = pairs
      .select(col("diff_pos"), explode(array(col("a"), col("b"))).as("doc"))
      .groupBy("diff_pos").agg(countDistinct("doc").as("n_docs"))
    perPos.join(docsPer, Seq("diff_pos"))
      .select(col("diff_pos"), col("n_pairs"), col("n_docs"))
      .orderBy("diff_pos")
  }

  private val q184Sql =
    s"""WITH heads AS (
      | SELECT doc_id, toks[1] AS h1, toks[2] AS h2, toks[3] AS h3, toks[4] AS h4,
      |   array_to_string(toks[1:4], ' ') AS head
      | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      | WHERE len(toks) >= 4),
      |probes AS (
      | SELECT doc_id, head, '0:' || h2 || ' ' || h3 || ' ' || h4 AS blk FROM heads
      | UNION ALL SELECT doc_id, head, '1:' || h1 || ' ' || h3 || ' ' || h4 FROM heads
      | UNION ALL SELECT doc_id, head, '2:' || h1 || ' ' || h2 || ' ' || h4 FROM heads
      | UNION ALL SELECT doc_id, head, '3:' || h1 || ' ' || h2 || ' ' || h3 FROM heads),
      |capped AS (SELECT * FROM probes
      | WHERE blk IN (SELECT blk FROM probes GROUP BY blk HAVING count(*) BETWEEN 2 AND $MaxBucket)),
      |pairs AS (
      | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
      |   CAST(CASE WHEN x.head = y.head THEN -1
      |        ELSE CAST(substr(x.blk, 1, 1) AS BIGINT) END AS BIGINT) AS diff_pos
      | FROM capped x JOIN capped y ON x.blk = y.blk AND x.doc_id < y.doc_id),
      |pp AS (SELECT diff_pos, count(*) AS n_pairs FROM pairs GROUP BY diff_pos),
      |dd AS (SELECT diff_pos, count(DISTINCT doc) AS n_docs FROM
      |   (SELECT diff_pos, unnest([a, b]) AS doc FROM pairs) GROUP BY diff_pos)
      |SELECT pp.diff_pos, CAST(n_pairs AS BIGINT) AS n_pairs,
      | CAST(n_docs AS BIGINT) AS n_docs
      |FROM pp JOIN dd USING (diff_pos) ORDER BY diff_pos""".stripMargin

  // q98: PASSAGE-level exact duplication coverage — the Lee et al. 2021
  // "Deduplicating Training Data Makes Language Models Better" exact-
  // substring family, complementing q41's whole-document set-Jaccard:
  // a doc that merely EMBEDS a boilerplate paragraph is invisible to
  // document-level Jaccard but lights up here. Every POSITIONAL 8-token
  // shingle is emitted (multiplicity preserved — a passage pasted twice
  // counts twice, unlike `shingled`'s distinct sets); a shingle is
  // "duplicated" when ≥2 distinct docs contain it; each doc reports how
  // many of its positions sit inside corpus-duplicated passages. The
  // shuffle is shingle-keyed `(h, doc_id)` pairs — exactly the
  // distributed suffix-array surrogate: linear in corpus token count,
  // no pairwise comparison anywhere (where q41/q83 join candidates,
  // this op never materializes a pair at all). The 32-hex md5 key is
  // the oracle-parity choice; at 100 TB the same plan runs on xxhash64
  // keys at half the shuffle width. `pos` is read twice (dup-set agg +
  // semi-join back), hence persisted — the q41 `shingled` lesson.
  private def q98(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("npos", greatest(size(col("toks")) - 7, lit(0)).cast("long"))
    val pos = base
      .filter(col("npos") > 0)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 7), i -> md5(array_join(slice(toks, i, 8), ' ')))")).as("h"))
    graft.Caches.persist(pos)
    val dup = pos.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val perDoc = pos.join(dup, Seq("h"), "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_pos"))
    base.select("doc_id", "source", "npos")
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_pos", coalesce(col("dup_pos"), lit(0L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_pos") > 0, 1L).otherwise(0L)).as("n_docs_dup"),
        sum("npos").as("n_pos"),
        sum("dup_pos").as("n_dup_pos"))
      .orderBy("source")
  }

  private val q98Sql =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |base AS (SELECT doc_id, source, CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS npos FROM t),
      |pos AS (SELECT doc_id,
      |  unnest(list_transform(range(1, len(toks) - 6),
      |    i -> md5(array_to_string(toks[i:i+7], ' ')))) AS h
      | FROM t WHERE len(toks) >= 8),
      |dup AS (SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |pd AS (SELECT doc_id, count(*) AS dup_pos FROM pos
      |       WHERE h IN (SELECT h FROM dup) GROUP BY doc_id)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN coalesce(dup_pos, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_dup,
      | CAST(sum(npos) AS BIGINT) AS n_pos,
      | CAST(sum(coalesce(dup_pos, 0)) AS BIGINT) AS n_dup_pos
      |FROM base LEFT JOIN pd USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  // q181: LSH BUCKET-COHESION AUDIT — the clustering-QA complement to
  // q140 (which calibrates banding against PLANTED similarity, forward):
  // this reads the live index BACKWARD — for every band bucket that
  // actually collides ≥2 docs, how much do its members' signatures agree
  // OUTSIDE the band that binned them? The band's own 2 components are
  // unanimous by construction (they ARE the bucket key), so agreement
  // over the other 6 is the honest signal: each out-of-band component is
  // unanimous with probability ≈ the members' mutual Jaccard (the
  // MinHash identity), so a bucket whose cohesion is low is exactly the
  // chain-merge risk q73's transitive closure would amplify — the audit
  // to read before trusting any cluster built from these candidates.
  // Shape at 100 TB: signatures explode ×4 row-local carrying 8 longs,
  // min/max per component partial-aggregate map-side on the bucket key,
  // and NO pair is ever materialized — where q43 joins candidates, this
  // audit is one grouped pass with a bounded top-20 head.
  private def q181(s: SparkSession, d: String): DataFrame = {
    val sig = withSignature(shingled(s, d)).select("doc_id", "sig")
    val buckets = sig.select(col("doc_id"), col("sig"), explode(expr(
      """transform(sequence(0, 3), b -> concat(CAST(b AS STRING), ':',
        |  CAST(element_at(sig, 2*b+1) AS STRING), ':', CAST(element_at(sig, 2*b+2) AS STRING)))""".stripMargin))
      .as("bucket"))
    val minmax = (1 to 8).flatMap(k => Seq(
      min(expr(s"element_at(sig, $k)")).as(s"mn$k"),
      max(expr(s"element_at(sig, $k)")).as(s"mx$k")))
    val agg = buckets.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), minmax: _*)
      .filter(col("n_docs") >= 2)
      .withColumn("band", expr("CAST(split_part(bucket, ':', 1) AS INT)"))
    val unan = (1 to 8).map(k =>
      when(expr(s"$k <> 2*band+1 AND $k <> 2*band+2") && col(s"mn$k") === col(s"mx$k"),
        1L).otherwise(0L)).reduce(_ + _)
    agg.withColumn("n_unanimous_oob", unan)
      .withColumn("cohesion_permille", expr("n_unanimous_oob * 1000 div 6"))
      .select("bucket", "n_docs", "n_unanimous_oob", "cohesion_permille")
      .orderBy(desc("n_docs"), col("bucket"))
      .limit(20)
  }

  private val q181Sql = shingleSqlCte + ",\n" +
    """hs AS (SELECT doc_id, list_transform(sh,
      |         s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hv FROM t),
      |sg AS (SELECT doc_id, list_transform(range(0, 8),
      |         i -> list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7919*i) % 4294967311), 'min')) AS sig
      |       FROM hs),
      |bk AS (SELECT doc_id, sig,
      |  unnest(list_transform(range(0, 4), b -> b::VARCHAR || ':' ||
      |    sig[CAST(2*b+1 AS INT)]::VARCHAR || ':' || sig[CAST(2*b+2 AS INT)]::VARCHAR)) AS bucket
      | FROM sg),
      |""".stripMargin +
    "ag AS (SELECT bucket, count(*) AS n_docs, " +
    (1 to 8).map(k => s"min(sig[$k]) AS mn$k, max(sig[$k]) AS mx$k").mkString(", ") +
    " FROM bk GROUP BY bucket HAVING count(*) >= 2),\n" +
    "u AS (SELECT bucket, n_docs, CAST(string_split(bucket, ':')[1] AS INT) AS band, " +
    (1 to 8).map(k =>
      s"CASE WHEN $k <> 0 THEN CASE WHEN mn$k = mx$k THEN 1 ELSE 0 END ELSE 0 END AS eq$k")
      .mkString(", ") + " FROM ag)\n" +
    """SELECT bucket, n_docs, CAST((""".stripMargin +
    (1 to 8).map(k => s"CASE WHEN $k <> 2*band+1 AND $k <> 2*band+2 THEN eq$k ELSE 0 END")
      .mkString(" + ") +
    """) AS BIGINT) AS n_unanimous_oob,
      | CAST((""".stripMargin +
    (1 to 8).map(k => s"CASE WHEN $k <> 2*band+1 AND $k <> 2*band+2 THEN eq$k ELSE 0 END")
      .mkString(" + ") +
    """) * 1000 // 6 AS BIGINT) AS cohesion_permille
      |FROM u ORDER BY n_docs DESC, bucket LIMIT 20""".stripMargin

  // q178: INTRA-DOC REPETITION AUDIT — the third leg of the repetition
  // family: q98 finds 8-gram passages shared ACROSS docs, q99 flags a doc
  // whose single top BIGRAM dominates; this measures how much of a doc is
  // a repeat of ITSELF at passage grain (the Lee et al. self-repetition
  // signal — generated/boilerplate text loops whole clauses, which bigram
  // coverage understates and cross-doc dedup never sees). Per doc over
  // the same md5'd token 8-grams as q98: positions, distinct grams,
  // repeated positions (n_pos − n_uniq) and the worst single gram's
  // multiplicity, flagged when ≥20% of positions are repeats (q99's
  // integer-threshold idiom: repeats*5 ≥ n_pos — no float ratio hashed),
  // rolled up per source. Docs under 8 tokens have no 8-gram position
  // and are excluded by construction in BOTH engines. Shape at 100 TB:
  // grams expand row-local, ONE partial-agg'd shuffle keyed finer than
  // doc_id — per-doc state never exceeds its own distinct grams, and no
  // join or window exists anywhere in the plan.
  private def q178(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 7), i -> md5(array_join(slice(toks, i, 8), ' ')))")).as("h"))
      .groupBy("doc_id", "source", "h").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n_pos"), count(lit(1)).as("n_uniq"), max("c").as("max_mult"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when((col("n_pos") - col("n_uniq")) * 5 >= col("n_pos"), 1L).otherwise(0L))
          .as("n_flagged"),
        sum(col("n_pos")).as("sum_pos"),
        sum(col("n_pos") - col("n_uniq")).as("sum_repeats"),
        max("max_mult").as("max_multiplicity"))
      .orderBy("source")

  private val q178Sql =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |pos AS (SELECT doc_id, source,
      |  unnest(list_transform(range(1, len(toks) - 6),
      |    i -> md5(array_to_string(toks[i:i+7], ' ')))) AS h
      | FROM t WHERE len(toks) >= 8),
      |pc AS (SELECT doc_id, source, h, count(*) AS c FROM pos GROUP BY 1, 2, 3),
      |pd AS (SELECT doc_id, source, sum(c) AS n_pos, count(*) AS n_uniq,
      |   max(c) AS max_mult FROM pc GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN (n_pos - n_uniq) * 5 >= n_pos THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_flagged,
      | CAST(sum(n_pos) AS BIGINT) AS sum_pos,
      | CAST(sum(n_pos - n_uniq) AS BIGINT) AS sum_repeats,
      | CAST(max(max_mult) AS BIGINT) AS max_multiplicity
      |FROM pd GROUP BY source ORDER BY source""".stripMargin

  // q139: SPLIT-LEAKAGE AUDIT — measures the exact flaw q96 exists to
  // fix: under q74's doc-keyed split a document and its near-duplicate
  // can hash to different splits, and every such pair is an eval item
  // whose near-twin was trained on. This query lists those pairs: q41's
  // scored candidate pairs at the ≥0.5 threshold, each end tagged with
  // its split — a ROW-LOCAL projection of the id (the md5 pct-bucket both
  // q74 and q90 use), so split assignment adds NO join; the only joins in
  // the plan are the capped co-shingle self-join the pair set already
  // paid for. At 100 TB the output is leak-pair-grain (a subset of the
  // bounded candidate set). The q96 contract, asserted in the spec: the
  // same pair set under the CLUSTER-keyed split has zero crossing pairs,
  // because a ≥0.5 pair is by definition an edge of one q73 component.
  private def q139(s: SparkSession, d: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) = {
      val h = Tables.pctBucket(c)
      when(h < 80, "train").when(h < 90, "validation").otherwise("test")
    }
    scoredPairs(s, d)
      .filter(col("jaccard") >= 0.5)
      .withColumn("split_a", splitOf(col("a")))
      .withColumn("split_b", splitOf(col("b")))
      .filter(col("split_a") =!= col("split_b"))
      .select("a", "b", "jaccard", "split_a", "split_b")
      .orderBy("a", "b")
  }

  private val q139Sql = shingleSqlCte + ",\n" + pairCtesSql +
    """,
      |sp AS (SELECT a, b, jaccard,
      |   ('0x' || substr(md5(a::VARCHAR), 1, 8))::BIGINT % 100 AS ha,
      |   ('0x' || substr(md5(b::VARCHAR), 1, 8))::BIGINT % 100 AS hb
      |  FROM np WHERE jaccard >= 0.5),
      |sl AS (SELECT a, b, jaccard,
      |   CASE WHEN ha < 80 THEN 'train' WHEN ha < 90 THEN 'validation' ELSE 'test' END AS split_a,
      |   CASE WHEN hb < 80 THEN 'train' WHEN hb < 90 THEN 'validation' ELSE 'test' END AS split_b
      |  FROM sp)
      |SELECT a, b, jaccard, split_a, split_b
      |FROM sl WHERE split_a <> split_b ORDER BY a, b""".stripMargin

  // q197: GRAM-LEVEL DECONTAMINATION — the third grain of the
  // decontamination family, catching what the other two structurally
  // miss. q75 flags an eval doc only when its exact 8-token-prefix
  // fingerprint appears in train; q139 flags only PAIRS where one train
  // doc alone clears the 0.5-Jaccard bar. Neither sees MOSAIC leakage:
  // an eval doc assembled from shingles of MANY train docs, where no
  // single pair is near-dup but most of the eval text was still trained
  // on — the case the GPT-3-style n-gram decontamination sweep exists
  // for. So this query scores each eval-split doc against the train
  // split's ENTIRE distinct-shingle set: matched = how many of the doc's
  // shingles appear in ANY train doc, permille = matched·1000 div nsh.
  // The plan is the cheap one among the family's three: the train side
  // collapses to ONE row per distinct 60-bit gram key (partial-agg'd —
  // never doc×gram pairs), the join is gram-keyed with that deduped side,
  // and NO pair is ever materialized, so no capBuckets is needed — join
  // output is bounded by the eval side's exploded grams. Shuffles carry
  // 8-byte keys; text never leaves its scan. Output is matched-docs only
  // (zero-overlap eval docs are clean and stay out of the report).
  private def q197(s: SparkSession, d: String): DataFrame = {
    val ex = shingled(s, d)
      .withColumn("hb", Tables.docIdPctBucket)
      .select(col("doc_id"), col("hb"), col("nsh"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), col("hb"), col("nsh"),
        expr("CAST(conv(substring(md5(s0), 1, 15), 16, 10) AS BIGINT)").as("s"))
    val train = ex.filter(col("hb") < 80).select("s").distinct()
    ex.filter(col("hb") >= 80)
      .withColumn("split", when(col("hb") < 90, "validation").otherwise("test"))
      .join(train, "s")
      .groupBy(col("doc_id").as("eval_doc"), col("split"), col("nsh"))
      .agg(count(lit(1)).as("matched"))
      .withColumn("permille", expr("matched * 1000 div nsh"))
      .select("eval_doc", "split", "nsh", "matched", "permille")
      .orderBy("eval_doc")
  }

  private val q197Sql = shingleSqlCte +
    """,
      |hsp AS (SELECT doc_id, sh, len(sh) AS nsh,
      |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS hb FROM t),
      |tr AS (SELECT DISTINCT ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS s
      |  FROM hsp WHERE hb < 80),
      |ev AS (SELECT doc_id, CASE WHEN hb < 90 THEN 'validation' ELSE 'test' END AS split,
      |   nsh, ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS s
      |  FROM hsp WHERE hb >= 80)
      |SELECT ev.doc_id AS eval_doc, split, nsh, CAST(count(*) AS BIGINT) AS matched,
      | CAST(count(*) * 1000 // nsh AS BIGINT) AS permille
      |FROM ev JOIN tr ON ev.s = tr.s
      |GROUP BY 1, 2, 3 ORDER BY eval_doc""".stripMargin

  // q140: MINHASH CALIBRATION AUDIT — the measurement that justifies
  // q42/q43's "8 hash functions" parameter the way q129 justifies int8
  // quantization and q134 justifies z-ordering: for every candidate pair,
  // the signature-agreement estimate of Jaccard (matching minhash slots
  // / 8, an unbiased estimator) is compared against the exact value the
  // pair's common-shingle count gives, and the absolute error lands in a
  // 0.1-wide histogram bucket. All integer: est_bp = matches·1250, exact
  // bp by truncating div, so both engines bucket identically. The sig
  // table is doc-grain but 72-byte NARROW (id + 8 longs — the whole point
  // of signatures); the two sig joins and the candidate set are the only
  // shuffles, and none of them ever carries text or shingle sets. The
  // audit's product is the bucket histogram — metadata-sized anywhere.
  private def q140(s: SparkSession, d: String): DataFrame = {
    val sg = withSignature(shingled(s, d)).select(col("doc_id"), col("sig"))
    scoredPairs(s, d)
      .join(sg.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
      .join(sg.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
      .withColumn("est_bp",
        expr("CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v)) * 1250 AS BIGINT)"))
      .withColumn("exact_bp", expr("(common * 10000) div (na + nb - common)"))
      .withColumn("err_bp", abs(col("est_bp") - col("exact_bp")))
      .groupBy(expr("err_bp div 1000").as("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum("err_bp").as("sum_err_bp"),
        max("err_bp").as("max_err_bp"))
      .orderBy("err_bucket")
  }

  private val q140Sql = shingleSqlCte + ",\n" + pairCtesSql +
    """,
      |hs AS (SELECT doc_id, list_transform(sh,
      |         s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hv FROM t),
      |sg AS (SELECT doc_id, list_transform(range(0, 8), i ->
      |   list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7919*i) % 4294967311), 'min')) AS sig
      |  FROM hs),
      |pj AS (SELECT np.a, np.b, np.na, np.nb, np.common, g1.sig AS sa, g2.sig AS sb
      |  FROM np JOIN sg g1 ON np.a = g1.doc_id JOIN sg g2 ON np.b = g2.doc_id),
      |sc AS (SELECT a, b,
      |   CAST(len(list_filter(range(0, 8), i -> sa[i+1] = sb[i+1])) * 1250 AS BIGINT) AS est_bp,
      |   (common * 10000) // (na + nb - common) AS exact_bp FROM pj),
      |eb AS (SELECT abs(est_bp - exact_bp) AS err_bp FROM sc)
      |SELECT err_bp // 1000 AS err_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
      | CAST(sum(err_bp) AS BIGINT) AS sum_err_bp, CAST(max(err_bp) AS BIGINT) AS max_err_bp
      |FROM eb GROUP BY 1 ORDER BY err_bucket""".stripMargin

  // q200: LSH BAND-GRID CALIBRATION — the (bands × rows) KNOB curve the
  // q42/q43 index needs priced, completing the LSH self-measurement
  // family: q140 calibrates the ESTIMATOR's error, q181 scores live
  // bucket cohesion, this prices the BANDING CHOICE — for each config
  // (b,r) ∈ {8×1, 4×2, 2×4} over the same 8-slot signature, a pair is
  // caught iff some band matches in full (the S-curve P = 1-(1-J^r)^b,
  // measured EMPIRICALLY instead of through the transcendental formula —
  // the SCALE.md rule). The one-pass-grid trick (q168/q174 discipline):
  // the candidate universe is q140's sig-joined pair frame, every
  // config's caught flag is a ROW-LOCAL predicate over the two sig
  // arrays, and the 3-config curve is one stack-explode + one
  // partial-agg'd 3-key shuffle — no per-config re-scan, no re-banding
  // join. Read: pick the finest b whose low-J catch count (false-
  // candidate load, priced in join fan-in) stays within budget while
  // good-pair recall holds. Coarser configs catch strict subsets at
  // r|r' granularity — the fixture monotonicity b8r1 ⊇ b4r2 ⊇ b2r4 is
  // asserted in the spec (adjacent slot-pairs must BOTH match, etc.).
  private def q200(s: SparkSession, d: String): DataFrame = {
    val sg = withSignature(shingled(s, d)).select(col("doc_id"), col("sig"))
    scoredPairs(s, d)
      .join(sg.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
      .join(sg.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
      .withColumn("cfg", explode(expr(
        """array(
          | struct('b8r1' AS config,
          |   exists(zip_with(sa, sb, (x, y) -> x = y), v -> v) AS caught),
          | struct('b4r2' AS config,
          |   exists(sequence(0, 3), bb ->
          |     element_at(sa, CAST(2*bb+1 AS INT)) = element_at(sb, CAST(2*bb+1 AS INT)) AND
          |     element_at(sa, CAST(2*bb+2 AS INT)) = element_at(sb, CAST(2*bb+2 AS INT))) AS caught),
          | struct('b2r4' AS config,
          |   exists(sequence(0, 1), bb ->
          |     forall(sequence(1, 4), i ->
          |       element_at(sa, CAST(4*bb+i AS INT)) = element_at(sb, CAST(4*bb+i AS INT)))) AS caught))""".stripMargin)))
      .select(col("cfg.config").as("config"), col("cfg.caught").as("caught"),
        col("jaccard"))
      .groupBy("config")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("caught") && col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_good_caught"),
        sum(when(col("caught") && col("jaccard") < 0.3, 1L).otherwise(0L)).as("n_lowj_caught"))
      .withColumn("recall_permille",
        when(col("n_good") > 0, expr("n_good_caught * 1000 div n_good")))
      .orderBy("config")
  }

  private val q200Sql = shingleSqlCte + ",\n" + pairCtesSql +
    """,
      |hs AS (SELECT doc_id, list_transform(sh,
      |         s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hv FROM t),
      |sg AS (SELECT doc_id, list_transform(range(0, 8), i ->
      |   list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7919*i) % 4294967311), 'min')) AS sig
      |  FROM hs),
      |pj AS (SELECT np.a, np.b, np.jaccard, g1.sig AS sa, g2.sig AS sb
      |  FROM np JOIN sg g1 ON np.a = g1.doc_id JOIN sg g2 ON np.b = g2.doc_id),
      |fl AS (
      | SELECT 'b8r1' AS config, jaccard,
      |  len(list_filter(range(0, 8), i -> sa[i+1] = sb[i+1])) > 0 AS caught FROM pj
      | UNION ALL
      | SELECT 'b4r2', jaccard,
      |  len(list_filter(range(0, 4), bb -> sa[2*bb+1] = sb[2*bb+1]
      |    AND sa[2*bb+2] = sb[2*bb+2])) > 0 FROM pj
      | UNION ALL
      | SELECT 'b2r4', jaccard,
      |  len(list_filter(range(0, 2), bb ->
      |    len(list_filter(range(1, 5), i -> sa[4*bb+i] = sb[4*bb+i])) = 4)) > 0 FROM pj)
      |SELECT config, count(*) AS n_pairs,
      | CAST(sum(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
      | CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      | CAST(sum(CASE WHEN caught AND jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good_caught,
      | CAST(sum(CASE WHEN caught AND jaccard < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_lowj_caught,
      | CASE WHEN sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) > 0
      |      THEN CAST(sum(CASE WHEN caught AND jaccard >= 0.5 THEN 1 ELSE 0 END) * 1000
      |        // sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
      | END AS recall_permille
      |FROM fl GROUP BY 1 ORDER BY config""".stripMargin

  // q144: INCREMENTAL-INGEST DEDUP — the production shape of q40: a
  // daily batch must be deduped against the EXISTING corpus (and within
  // itself) without ever rescanning corpus text. The corpus role is
  // played by the md5 pct-bucket < 90 slice, the incoming batch by the
  // >= 90 slice; the corpus side is reduced to its distinct-fingerprint
  // INDEX (fp-grain, 32 chars/row — in production this index is
  // maintained incrementally per ingest, the StatsStream pattern, so the
  // per-batch cost is probe-sized, ∝ incoming + index, never ∝ corpus).
  // Status precedence mirrors what a pipeline acts on: a corpus hit wins
  // over an in-batch hit ('dup_vs_corpus' > 'dup_in_batch' > 'new');
  // within-batch survivors keep the smallest doc_id (q40's canonical
  // rule) via a row_number over the fp-partitioned incoming rows — a
  // bounded frame (duplicate-group-sized), never a global window. q79's
  // bloom pruning composes in front of the index probe at scale.
  /** The fingerprint-index reduction shared by q144's corpus side and
    * `streaming/IndexStream`: (fp, first_doc = min doc_id). min is
    * associative, commutative AND idempotent, so the maintained form is
    * replay-proof like BloomStream's OR words. */
  /** The per-row fingerprint projection shared with the streaming twin —
    * one definition, so stream and batch cannot drift. */
  private[graft] def fpProjected(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(array_join(slice(split(col("text"), " "), 1, 8), " ")))

  private[graft] def fpIndexFrom(docs: DataFrame): DataFrame =
    fpProjected(docs).groupBy("fp").agg(min("doc_id").as("first_doc"))

  private def q144(s: SparkSession, d: String): DataFrame = {
    val fp = documents(s, d)
      .withColumn("fp", md5(array_join(slice(split(col("text"), " "), 1, 8), " ")))
      .withColumn("bkt", Tables.docIdPctBucket)
      .select("doc_id", "fp", "bkt")
    val index = fp.filter(col("bkt") < 90).select("fp").distinct()
      .withColumn("in_corpus", lit(1L))
    val wb = Window.partitionBy("fp").orderBy("doc_id")
    fp.filter(col("bkt") >= 90)
      .join(index, Seq("fp"), "left")
      .withColumn("rn", row_number().over(wb))
      .withColumn("status",
        when(col("in_corpus").isNotNull, "dup_vs_corpus")
          .when(col("rn") > 1, "dup_in_batch")
          .otherwise("new"))
      .select("doc_id", "fp", "status")
      .orderBy("doc_id")
  }

  private val q144Sql =
    """WITH f AS (SELECT doc_id,
      |  md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS fp,
      |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bkt
      | FROM documents),
      |ix AS (SELECT DISTINCT fp FROM f WHERE bkt < 90),
      |inc AS (SELECT doc_id, fp,
      |   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
      |   (fp IN (SELECT fp FROM ix)) AS in_corpus
      |  FROM f WHERE bkt >= 90)
      |SELECT doc_id, fp,
      | CASE WHEN in_corpus THEN 'dup_vs_corpus'
      |      WHEN rn > 1 THEN 'dup_in_batch' ELSE 'new' END AS status
      |FROM inc ORDER BY doc_id""".stripMargin

  // q145: DEDUP-SAVINGS REPORT — the number the whole near-dup family
  // exists to produce: if only each q73 cluster's canonical doc is kept,
  // how many documents and characters disappear, broken out by cluster
  // size (the histogram tells you whether savings come from a few giant
  // boilerplate clusters or a long tail of pairs). Two aggregations over
  // the cluster labels — cluster-grain then size-grain, both ≪ corpus —
  // with the canonical doc's chars picked by min_by (q40's smallest-id
  // rule). Composition, not recomputation: the pair graph and labels are
  // q73's, so the report costs nothing beyond the labels it summarizes.
  private def q145(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d)
      .join(documents(s, d).select("doc_id", "n_chars"), "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("sz"), sum("n_chars").as("chars_total"),
        min_by(col("n_chars"), col("doc_id")).as("kept_chars"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz") - 1).as("n_docs_dropped"),
        sum(col("chars_total") - col("kept_chars")).as("chars_saved"))
      .orderBy("cluster_size")

  private val q145Sql = ccCtesSql +
    """,
      |cs AS (SELECT c.cluster, count(*) AS sz, sum(d.n_chars) AS chars_total,
      |   arg_min(d.n_chars, d.doc_id) AS kept_chars
      |  FROM clusters c JOIN documents d USING (doc_id) GROUP BY 1)
      |SELECT sz AS cluster_size, count(*) AS n_clusters,
      | CAST(sum(sz - 1) AS BIGINT) AS n_docs_dropped,
      | CAST(sum(chars_total - kept_chars) AS BIGINT) AS chars_saved
      |FROM cs GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // q163: SPAN-LEVEL DEDUP MASKING — the surgical arm of the Lee et al.
  // 2021 exact-substring family: where q98 only REPORTS how much of each
  // doc sits in corpus-duplicated passages, this op REWRITES the corpus,
  // removing every token whose position falls inside a cross-document
  // duplicated 8-gram (the ExactSubstr treatment RefinedWeb/SlimPajama
  // apply before training, which keeps the unique remainder of a doc
  // instead of dropping the whole thing). Mechanics: positional 8-gram
  // hashes (q98's shingle relation, multiplicity preserved) → grams held
  // by ≥2 distinct docs → each doc's DUPLICATED START OFFSETS collected
  // into one small array — and the rewrite itself is ROW-LOCAL: a
  // filter-with-index lambda keeps token position p iff no duplicated
  // start s covers it (s ≤ p ≤ s+7). Shape at 100 TB: the only shuffles
  // carry (hash, doc_id, start) triples and the per-doc start lists
  // (bounded by doc length, usually ≪ it); the heavy text column never
  // leaves its scan — rebuilding via groupBy(doc)+collect_list(token)
  // would re-shuffle the entire corpus text, the exact cost this
  // formulation avoids. Fully-masked docs yield '' (oracle coalesces the
  // empty string-agg group identically).
  private def q163(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
    val grams = base.filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 7),
          |  i -> struct(i AS st, md5(array_join(slice(toks, i, 8), ' ')) AS h))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.st").as("st"), col("g.h").as("h"))
    graft.Caches.persist(grams)
    val dup = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val dupStarts = grams.join(dup, Seq("h"), "leftsemi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("st"))).as("starts"))
    base.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), typedLit(Array.empty[Int])))
      .withColumn("kept",
        expr("filter(toks, (t, i) -> NOT exists(starts, s -> s <= i + 1 AND i + 1 <= s + 7))"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tok"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_masked"),
        size(col("starts")).cast("long").as("n_dup_spans"),
        array_join(col("kept"), " ").as("masked_text"))
      .orderBy("doc_id")
  }

  private val q163Sql =
    """WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, CAST(s AS BIGINT) AS st,
      |   md5(array_to_string(list_slice(toks, CAST(s AS INT), CAST(s AS INT) + 7), ' ')) AS h
      |  FROM base CROSS JOIN LATERAL unnest(range(1, len(toks) - 6)) AS t(s)
      |  WHERE len(toks) >= 8),
      |dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |ds AS (SELECT doc_id, st FROM g WHERE h IN (SELECT h FROM dup)),
      |cov AS (SELECT DISTINCT doc_id, st + k AS p
      |  FROM ds CROSS JOIN LATERAL unnest(range(0, 8)) AS r(k)),
      |tok AS (SELECT doc_id, CAST(p AS BIGINT) AS p, toks[CAST(p AS INT)] AS tok
      |  FROM base CROSS JOIN LATERAL unnest(range(1, len(toks) + 1)) AS u(p)),
      |kept AS (SELECT t.doc_id, t.p, t.tok FROM tok t
      |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
      |  WHERE c.p IS NULL),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS masked_text,
      |   count(*) AS n_kept FROM kept GROUP BY doc_id),
      |spans AS (SELECT doc_id, count(*) AS n_spans FROM ds GROUP BY doc_id)
      |SELECT b.doc_id, b.source, CAST(len(b.toks) AS BIGINT) AS n_tok,
      | CAST(len(b.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_masked,
      | CAST(coalesce(sp.n_spans, 0) AS BIGINT) AS n_dup_spans,
      | coalesce(r.masked_text, '') AS masked_text
      |FROM base b LEFT JOIN reb r USING (doc_id) LEFT JOIN spans sp USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // q220: CONTENT-DEFINED CHUNK DEDUP (CDC, rsync/LBFS family) — the
  // byte-grain member of the dedup family, and the only one whose chunk
  // boundaries SURVIVE EDITS: q98's passages and q100's chunks cut on
  // token grids, so one insertion near the top of a doc shifts every
  // later boundary and destroys all downstream chunk identity; a
  // content-defined boundary (rolling hash of the last 8 bytes ≡ 0
  // mod 61, graft.functions.CdcBoundaries) re-synchronizes within one
  // chunk of the edit, which is why storage dedup (restic/borg/ZFS) and
  // large-corpus delta pipelines chunk this way. Boundary detection is a
  // row-local O(len) codegen expression; chunk fingerprints (md5) are
  // derived per chunk with one higher-order transform — the text column
  // never shuffles. Per source: chunk count, bytes, distinct-fingerprint
  // count/bytes, and the dedup savings a chunk-store would realize,
  // in integer permille. Shape at 100 TB: explode is chunk-grain
  // (~len/61 rows/doc), the only shuffles are the fp-keyed distinct and
  // the source-keyed rollup, both partial-aggregated map-side.
  /** Chunk-grain relation `(source, fp, clen)` — ONE definition shared by
    * batch q220 and the maintained chunk store
    * (`streaming.ChunkStream`), so the report and the store cannot drift
    * (the q120/StatsStream and q144/IndexStream sharing discipline).
    *
    * Every step lives in the BYTE domain: boundaries, slicing, lengths,
    * and fingerprints all run over the text's UTF-8 encoding (`cast(text
    * as binary)`), so positions and substrings share one unit (ADVICE
    * r11 — the earlier form mixed byte-based boundaries with
    * character-based `substring`, which silently stopped tiling non-ASCII
    * documents). For the ASCII corpus the oracle's per-character `ascii()`
    * arithmetic is byte-identical; for any other corpus the chunks are
    * still well-defined (and tiling — CorpusOpsSpec pins conservation on
    * a non-ASCII fixture) because CDC is a byte-grain primitive. */
  def cdcChunks(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= 1)
      .withColumn("tb", col("text").cast("binary"))
      .withColumn("bnd", GraftColumn(
        graft.functions.CdcBoundariesBytes(GraftColumn.expr(col("tb")), 61)))
      .withColumn("len", octet_length(col("text")))
      // chunk END positions: every boundary plus the final byte (distinct
      // keeps the list sorted since bnd is ascending and len is max)
      .withColumn("ends", expr("array_distinct(concat(bnd, array(len)))"))
      .withColumn("chunks", expr(
        """transform(ends, (e, i) -> struct(
          |  md5(substring(tb, CASE WHEN i = 0 THEN 1 ELSE ends[i-1] + 1 END,
          |      e - (CASE WHEN i = 0 THEN 0 ELSE ends[i-1] END))) AS fp,
          |  CAST(e - (CASE WHEN i = 0 THEN 0 ELSE ends[i-1] END) AS BIGINT) AS clen))"""
          .stripMargin))
      .select(col("source"), explode(col("chunks")).as("c"))
      .select(col("source"), col("c.fp").as("fp"), col("c.clen").as("clen"))

  /** Savings rollup over pre-aggregated `(source, n_chunks, bytes)` ×
    * `(source, n_uniq, uniq_bytes)` — shared closing pass of q220 and
    * `ChunkStream.readReport`. */
  def chunkSavings(tot: DataFrame, uniq: DataFrame): DataFrame =
    tot.join(uniq, "source")
      .withColumn("savings_milli", expr("(bytes - uniq_bytes) * 1000 div bytes"))
      .select("source", "n_chunks", "bytes", "n_uniq", "uniq_bytes", "savings_milli")
      .orderBy("source")

  private def q220(s: SparkSession, d: String): DataFrame = {
    val ch = graft.Caches.persist(cdcChunks(documents(s, d)))
    val tot = ch.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"), sum("clen").as("bytes"))
    val uniq = ch.groupBy("source", "fp").agg(min("clen").as("clen"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_uniq"), sum("clen").as("uniq_bytes"))
    chunkSavings(tot, uniq)
  }

  private val q220Sql =
    """WITH d AS (SELECT doc_id, source, text, length(text) AS len
      |  FROM documents WHERE length(text) >= 1),
      |pos AS (SELECT doc_id, CAST(p AS INT) AS p, text
      |  FROM d CROSS JOIN LATERAL unnest(range(8, len + 1)) t(p)),
      |hh AS (SELECT doc_id, p,
      |   CAST(ascii(substr(text, p, 1)) AS BIGINT)
      | + CAST(ascii(substr(text, p-1, 1)) AS BIGINT) * 31
      | + CAST(ascii(substr(text, p-2, 1)) AS BIGINT) * 961
      | + CAST(ascii(substr(text, p-3, 1)) AS BIGINT) * 29791
      | + CAST(ascii(substr(text, p-4, 1)) AS BIGINT) * 923521
      | + CAST(ascii(substr(text, p-5, 1)) AS BIGINT) * 28629151
      | + CAST(ascii(substr(text, p-6, 1)) AS BIGINT) * 887503681
      | + CAST(ascii(substr(text, p-7, 1)) AS BIGINT) * 27512614111 AS h
      |  FROM pos),
      |ends AS (SELECT doc_id, p FROM hh WHERE h % 61 = 0
      |  UNION SELECT doc_id, len FROM d),
      |ch0 AS (SELECT doc_id, p AS e,
      |   coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1 AS st
      |  FROM ends),
      |chunks AS (SELECT d.source, md5(substr(d.text, c.st, c.e - c.st + 1)) AS fp,
      |   CAST(c.e - c.st + 1 AS BIGINT) AS clen
      |  FROM ch0 c JOIN d USING (doc_id)),
      |tot AS (SELECT source, count(*) AS n_chunks, CAST(sum(clen) AS BIGINT) AS bytes
      |  FROM chunks GROUP BY source),
      |u0 AS (SELECT source, fp, min(clen) AS clen FROM chunks GROUP BY 1, 2),
      |u AS (SELECT source, count(*) AS n_uniq, CAST(sum(clen) AS BIGINT) AS uniq_bytes
      |  FROM u0 GROUP BY source)
      |SELECT source, n_chunks, bytes, n_uniq, uniq_bytes,
      | (bytes - uniq_bytes) * 1000 // bytes AS savings_milli
      |FROM tot JOIN u USING (source) ORDER BY source""".stripMargin

  // q221: EXACT similarity join via PREFIX FILTERING (the AllPairs/PPJoin
  // family) — the no-false-negative arm of the near-dup family. q41 is the
  // THROUGHPUT arm: its hot-shingle cap bounds the candidate join at
  // O(MaxBucket²·keys) but silently drops any pair whose shared shingles
  // are all hot — lossy by design, and none of the capped family can say
  // WHAT was lost. q221 is the GUARANTEE arm: order the shingle universe
  // by ascending document frequency (rarest first, hash tiebreak), take
  // each doc's first (nsh − ceil(τ·nsh) + 1) = (nsh div 2 + 1 at τ=0.5)
  // shingles in that order, and generate candidates ONLY from prefix
  // co-occurrence. The prefix-filter theorem (if |A∩B|/|A∪B| ≥ τ, the two
  // prefixes under one global order must intersect) makes candidate
  // generation exhaustive, yet the join deliberately avoids the hot tail
  // of the Zipf curve: a stop-shingle is rarely in anyone's prefix
  // because prefixes are rarest-first, which is what makes the exact join
  // tractable where an uncapped inverted-index join is O(f²) per hot key.
  // Candidates then verify against the FULL index — joined per candidate
  // pair keyed on (doc, shingle), |cand|·avg(nsh) rows, never all-pairs.
  // The τ bar is applied INTEGER-EXACT (3·common ≥ na+nb ⇔ J ≥ 0.5); the
  // rounded float is display-only. One Zipf-small df groupBy, one doc_id
  // window for the per-doc rank, and bounded verify joins — all partial-
  // aggregated. Spec pins q221 ⊇ q41 (the cap only ever loses pairs) and
  // the prefix index is strictly smaller than the full index.
  private def q221(s: SparkSession, d: String): DataFrame = {
    val ex0 = explodedIndex(s, d)
    val fr = ex0.groupBy("s").agg(count(lit(1)).as("df"))
    val pre = ex0.join(fr, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(expr("rn <= nsh div 2 + 1"))
      .select("doc_id", "nsh", "s")
    val cand = pre.alias("a").join(pre.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .filter(expr("2 * least(a.nsh, b.nsh) >= greatest(a.nsh, b.nsh)"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .distinct()
    cand
      .join(ex0.select(col("doc_id").as("a"), col("s")), Seq("a"))
      .join(ex0.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b", "na", "nb")
      .agg(count(lit(1)).as("common"))
      .filter(expr("3 * common >= na + nb"))
      .withColumn("jaccard", round(col("common") / (col("na") + col("nb") - col("common")), 4))
      .select("a", "b", "na", "nb", "common", "jaccard")
      .orderBy("a", "b")
  }

  private val q221Sql = shingleSqlCte + ",\n" +
    """e0 AS (SELECT doc_id, len(sh) AS nsh,
      |   ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS s FROM t),
      |fr AS (SELECT s, count(*) AS df FROM e0 GROUP BY s),
      |pre AS (SELECT doc_id, nsh, s FROM (
      |   SELECT e0.doc_id, e0.nsh, e0.s,
      |     row_number() OVER (PARTITION BY e0.doc_id ORDER BY fr.df, e0.s) AS rn
      |   FROM e0 JOIN fr USING (s)) WHERE rn <= nsh // 2 + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.nsh AS na, b.nsh AS nb
      |   FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id
      |   WHERE 2 * least(a.nsh, b.nsh) >= greatest(a.nsh, b.nsh)),
      |com AS (SELECT c.a, c.b, c.na, c.nb, count(*) AS common
      |   FROM cand c JOIN e0 x ON x.doc_id = c.a JOIN e0 y ON y.doc_id = c.b AND y.s = x.s
      |   GROUP BY 1, 2, 3, 4)
      |SELECT a, b, na, nb, common,
      | round(common / (na + nb - common), 4) AS jaccard
      |FROM com WHERE 3 * common >= na + nb ORDER BY a, b""".stripMargin

  // q222: TRIANGLE CENSUS of the near-dup graph (degree-ordered wedge
  // join). Near-duplication is NOT transitive, yet q73 merges it by
  // connected components — so the shape of each component decides whether
  // that merge was sound. Triangles are the finest-grain shape signal:
  // a component rich in triangles is a genuine dup clique; a component
  // with none is a CHAIN glued by borderline pairs (the q199 2-core lens,
  // at per-node resolution). Per node: triangle count and local
  // clustering coefficient 2·T/(deg·(deg−1)) in integer millis.
  // Algorithm (Schank–Wagner / Latapy): orient every edge from the
  // (degree, id)-smaller endpoint to the larger; each node's out-degree
  // is then O(√m), so the wedge self-join is O(Σ outdeg²) ≤ O(m^1.5) —
  // the 100 TB-safe census shape, vs O(Σ deg²) on unoriented wedges
  // where one hub explodes. Edges ride the capped q41-grain pair
  // relation (same CTEs), so the graph itself is bounded; the census
  // adds two small joins on node keys and one on (s, t) edge keys.
  private def q222(s: SparkSession, d: String): DataFrame = {
    val ed = graft.Caches.persist(
      scoredPairs(s, d).filter(col("jaccard") >= 0.5)
        .select(col("a").as("u"), col("b").as("v")))
    val deg = ed.select(col("u").as("n")).union(ed.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = ed
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val o = graft.Caches.persist(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t"),
      when(uFirst, col("dv")).otherwise(col("du")).as("td")))
    val wedge = o.alias("o1").join(o.alias("o2"),
      col("o1.s") === col("o2.s") &&
        (col("o1.td") < col("o2.td") ||
          (col("o1.td") === col("o2.td") && col("o1.t") < col("o2.t"))))
    val tri = wedge.join(o.alias("o3"),
        col("o3.s") === col("o1.t") && col("o3.t") === col("o2.t"))
      .select(col("o1.s").as("x"), col("o1.t").as("y"), col("o2.t").as("z"))
    val tn = tri.select(col("x").as("n")).union(tri.select(col("y").as("n")))
      .union(tri.select(col("z").as("n")))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(tn, Seq("n"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .select(col("n").as("node"), col("deg"), col("n_tri"),
        expr("CASE WHEN deg >= 2 THEN (2000 * n_tri) div (deg * (deg - 1)) ELSE 0 END")
          .as("cc_milli"))
      .orderBy("node")
  }

  private val q222Sql = shingleSqlCte + ",\n" + pairCtesSql + ",\n" +
    """ed AS (SELECT a AS u, b AS v FROM np WHERE jaccard >= 0.5),
      |deg AS (SELECT n, count(*) AS deg FROM
      |   (SELECT u AS n FROM ed UNION ALL SELECT v AS n FROM ed) GROUP BY n),
      |o AS (SELECT
      |   CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND ed.u < ed.v)
      |        THEN ed.u ELSE ed.v END AS s,
      |   CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND ed.u < ed.v)
      |        THEN ed.v ELSE ed.u END AS t,
      |   CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND ed.u < ed.v)
      |        THEN dv.deg ELSE du.deg END AS td
      |   FROM ed JOIN deg du ON du.n = ed.u JOIN deg dv ON dv.n = ed.v),
      |tri AS (SELECT o1.s AS x, o1.t AS y, o2.t AS z
      |   FROM o o1 JOIN o o2 ON o2.s = o1.s
      |     AND (o1.td < o2.td OR (o1.td = o2.td AND o1.t < o2.t))
      |   JOIN o o3 ON o3.s = o1.t AND o3.t = o2.t),
      |tn AS (SELECT n, count(*) AS n_tri FROM
      |   (SELECT x AS n FROM tri UNION ALL SELECT y AS n FROM tri
      |    UNION ALL SELECT z AS n FROM tri) GROUP BY n)
      |SELECT deg.n AS node, deg.deg AS deg, coalesce(tn.n_tri, 0) AS n_tri,
      | CASE WHEN deg.deg >= 2
      |      THEN (2000 * coalesce(tn.n_tri, 0)) // (deg.deg * (deg.deg - 1))
      |      ELSE 0 END AS cc_milli
      |FROM deg LEFT JOIN tn ON tn.n = deg.n ORDER BY node""".stripMargin

  // q235: IN-BATCH NEGATIVE COLLISION AUDIT — what the dedup family's
  // cluster labels are FOR on the training side (q145 prices storage,
  // q96 seals splits; this prices the TRAINING objective): contrastive
  // learners treat every other in-batch example as a negative, so a
  // batch that samples two members of one near-dup cluster trains on a
  // FALSE negative — the well-known reason contrastive pipelines dedup
  // before batching. For a uniform batch of size B (without
  // replacement), E[same-cluster pairs in batch] = C(B,2)·P2/C(N,2)
  // where P2 = Σ C(c_i,2) over q73's cluster sizes — EXACT expectation,
  // not a simulation, so it is integer-expressible: ppm = B'(B'−1)·P2·1e6
  // div (N(N−1)) with B' = min(B, N), per-epoch expectation alongside
  // (× N div B batches, in milli). DECIMAL(38): at 1e9 docs and B=4096
  // the numerator is ~1e9·P2 — far outside BIGINT, inside 128-bit. All
  // corpus-scale work is q73's own label propagation (shared,
  // Caches-persisted); this adds one cluster-size rollup and a 4-row
  // ladder on broadcast scalars.
  private def q235(s: SparkSession, d: String): DataFrame = {
    val stats = clusterLabels(s, d)
      .groupBy("cluster").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n"),
        sum(expr("c * (c - 1) div 2")).as("p2"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_multi"))
    stats
      .select(explode(array(Seq(64L, 256L, 1024L, 4096L).map(lit): _*)).as("batch"),
        col("n"), col("p2"), col("n_multi"))
      .withColumn("beff", least(col("batch"), col("n")))
      .withColumn("pairs_per_batch_ppm", expr(
        "CAST(CAST(beff AS DECIMAL(38,0)) * (beff - 1) * p2 * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"))
      .withColumn("epoch_collisions_milli", expr(
        "CAST(CAST(beff AS DECIMAL(38,0)) * (beff - 1) * p2 * 1000 * (n div beff)" +
          " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"))
      .select("batch", "n", "n_multi", "p2", "pairs_per_batch_ppm",
        "epoch_collisions_milli")
      .orderBy("batch")
  }

  private val q235Sql = ccCtesSql +
    """,
      |sz AS (SELECT cluster, count(*) AS c FROM clusters GROUP BY 1),
      |st AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |   CAST(sum(c * (c - 1) // 2) AS BIGINT) AS p2,
      |   CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi
      |  FROM sz),
      |x AS (SELECT batch, n, p2, n_multi, least(batch, n) AS beff
      |  FROM st CROSS JOIN (SELECT unnest([64, 256, 1024, 4096]) AS batch) b)
      |SELECT CAST(batch AS BIGINT) AS batch, n, n_multi, p2,
      | CAST(beff::HUGEINT * (beff - 1) * p2 * 1000000
      |   // (n::HUGEINT * (n - 1)) AS BIGINT) AS pairs_per_batch_ppm,
      | CAST(beff::HUGEINT * (beff - 1) * p2 * 1000 * (n // beff)
      |   // (n::HUGEINT * (n - 1)) AS BIGINT) AS epoch_collisions_milli
      |FROM x ORDER BY batch""".stripMargin

  // q237: DEDUP WATERFALL — the one-page executive readout the grain
  // family reports feed (q40 counts exact groups, q145/q205 price
  // cluster savings, q115 gates a pipeline — but "how big is the corpus
  // REALLY" needs the stages side by side on one scale): docs and
  // tokens surviving each dedup grain, each stage measured
  // INDEPENDENTLY against raw (deliberately not sequential — stage
  // composition depends on q41's cap keeping identical docs paired,
  // and an independent-stage table stays meaningful if a capped corpus
  // violates that; the q221 lesson as a reporting posture):
  //   0_raw — everything; 1_exact — one doc per q40 prefix
  //   fingerprint (min doc_id); 2_neardup — q73's cluster canonicals.
  // share in exact milli against the raw totals (broadcast crossJoin of
  // one scalar row, the q148 topology). The q73 propagation dominates
  // at scale (shared + persisted); the stages add two metadata-grain
  // aggregates. This is the number a training-data review quotes first:
  // "50k documents, 41k effective after near-dup collapse".
  private def q237(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Caches.persist(documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt")))
    val totals = docs.agg(count(lit(1)).as("rd"), sum("nt").as("rt"))
    val raw = docs.agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .withColumn("stage", lit("0_raw"))
    val exact = fpIndexFrom(documents(s, d))
      .select(col("first_doc").as("doc_id"))
      .join(docs, "doc_id")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .withColumn("stage", lit("1_exact"))
    val canon = clusterLabels(s, d)
      .filter(col("doc_id") === col("cluster"))
      .join(docs, "doc_id")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .withColumn("stage", lit("2_neardup"))
    raw.unionByName(exact).unionByName(canon)
      .crossJoin(broadcast(totals))
      .withColumn("doc_share_milli", expr("n_docs * 1000 div rd"))
      .withColumn("token_share_milli", expr("n_tokens * 1000 div rt"))
      .select("stage", "n_docs", "doc_share_milli", "n_tokens", "token_share_milli")
      .orderBy("stage")
  }

  private val q237Sql = ccCtesSql +
    """,
      |dn AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |tot AS (SELECT count(*) AS rd, CAST(sum(nt) AS BIGINT) AS rt FROM dn),
      |ex AS (SELECT min(doc_id) AS doc_id FROM (
      |  SELECT doc_id, md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS fp
      |  FROM documents) GROUP BY fp),
      |st AS (
      | SELECT '0_raw' AS stage, count(*) AS n_docs, sum(nt) AS n_tokens FROM dn
      | UNION ALL
      | SELECT '1_exact', count(*), sum(nt) FROM ex JOIN dn USING (doc_id)
      | UNION ALL
      | SELECT '2_neardup', count(*), sum(nt) FROM clusters c JOIN dn USING (doc_id)
      |  WHERE c.doc_id = c.cluster)
      |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
      | CAST(n_docs * 1000 // rd AS BIGINT) AS doc_share_milli,
      | CAST(n_tokens AS BIGINT) AS n_tokens,
      | CAST(n_tokens * 1000 // rt AS BIGINT) AS token_share_milli
      |FROM st CROSS JOIN tot ORDER BY stage""".stripMargin

  // q251: SORTED-NEIGHBORHOOD BLOCKING (Hernández–Stolfo merge/purge) —
  // the SORT-based candidate generator the blocking family lacked: LSH
  // (q43) and the capped shingle join (q41) both block by HASH, so a
  // hot bucket needs `capBuckets` and a Zipf-heavy key can still cost;
  // SNM instead sorts the corpus by a derived key (here the first 24
  // space-stripped chars — edits DEEP in a doc leave it untouched) and
  // compares only rank-neighbors within a fixed window w, which bounds
  // the candidate set at EXACTLY n·w whatever the key distribution — no
  // skew anywhere, the property every hash scheme has to engineer back.
  // The price is key-start blindness (an edit in the first 24 chars can
  // separate a true pair — why production runs multi-pass SNM with a
  // second key; single-pass here, stated). The global sort rank is the
  // q187 `denseOrdinal` two-phase form — per-bucket counts prefix-summed
  // on the bounded grid, within-bucket row_number — so NOTHING funnels
  // the corpus through one task; the window join is the q238 grid idiom
  // (left side exploded to its two covering blocks, equi-join, exact
  // band filter). Confirm is row-local exact token Jaccard
  // (array_intersect of distinct-token arrays — no second shuffle).
  private def q251(s: SparkSession, d: String): DataFrame = {
    val W = 8
    val ranked = graft.operators.ScaleOps.denseOrdinal(
        documents(s, d).select(col("doc_id"), col("text"))
          .withColumn("k", expr("substring(replace(text, ' ', ''), 1, 24)")),
        substring(col("k"), 1, 2), Seq(col("k"), col("doc_id")))
      .select(col("doc_id"), col("ordinal").as("r"),
        expr("array_distinct(split(text, ' '))").as("tk"))
    val left = ranked.select(col("doc_id").as("a"), col("r").as("ra"),
      col("tk").as("ta"),
      explode(array(expr(s"r div $W"), expr(s"r div $W + 1"))).as("blk"))
    val right = ranked.select(col("doc_id").as("b"), col("r").as("rb"),
      col("tk").as("tb"), expr(s"r div $W").as("blk"))
    left.join(right, Seq("blk"))
      .filter(col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= W)
      .withColumn("common", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("na", size(col("ta")).cast("long"))
      .withColumn("nb", size(col("tb")).cast("long"))
      .withColumn("jaccard_milli", expr("common * 1000 div (na + nb - common)"))
      .filter(col("jaccard_milli") >= 500)
      .select(col("a"), col("b"), (col("rb") - col("ra")).as("gap"),
        col("na"), col("nb"), col("common"), col("jaccard_milli"))
      .orderBy("a", "b")
  }

  private val q251Sql =
    """WITH kd AS (SELECT doc_id, text,
      |   substring(replace(text, ' ', ''), 1, 24) AS k FROM documents),
      |r AS (SELECT doc_id, text,
      |   row_number() OVER (ORDER BY k, doc_id) AS r FROM kd),
      |tk AS (SELECT doc_id, r, list_distinct(string_split(text, ' ')) AS tk FROM r),
      |cand AS (SELECT a.doc_id AS a, b.doc_id AS b, b.r - a.r AS gap,
      |   CAST(len(a.tk) AS BIGINT) AS na, CAST(len(b.tk) AS BIGINT) AS nb,
      |   CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS common
      |  FROM tk a JOIN tk b ON b.r BETWEEN a.r + 1 AND a.r + 8)
      |SELECT a, b, gap, na, nb, common,
      | common * 1000 // (na + nb - common) AS jaccard_milli
      |FROM cand WHERE common * 1000 // (na + nb - common) >= 500
      |ORDER BY a, b""".stripMargin

  // q263: FELLEGI–SUNTER RECORD-LINKAGE SCORING — the probabilistic
  // DECISION layer the matching family stopped short of: every matcher in
  // the repo (q41 Jaccard, q83/q94 fuzzy, q251 SNM) decides link/non-link
  // with a single similarity THRESHOLD, which treats all evidence as one
  // number. Record linkage's standard model (Fellegi & Sunter 1969)
  // instead scores a candidate pair by its AGREEMENT VECTOR over k fields,
  // weighting field f by log2(m_f/u_f) on agreement and
  // log2((1−m_f)/(1−u_f)) on disagreement — agreement on a high-cardinality
  // field (tail-16 chars: u ≈ 0) is worth many bits, agreement on `lang`
  // (5 values: u ≈ 0.2) almost none, and the three-band decision
  // (link / review / non-link) is a likelihood-ratio test. The u
  // probabilities are ESTIMATED FROM DATA in one pass — P(two random
  // records agree on f) = Σ_v n_v(n_v−1) / (N(N−1)) over the field's value
  // marginal, all four fields through ONE (field, value) unpivot-groupBy
  // (Zipf-bounded grid) — while the m priors are stated milli literals
  // (estimating m needs labeled pairs or EM; documented, out of scope).
  // Weights are exact integer milli-bits via the shared FixedPoint
  // log2milli on cross-multiplied ratios (log of a ratio = difference of
  // two integer log2millis — no float log anywhere). Candidate pairs come
  // from capped 12-char-prefix blocks (the q41/q251 economics) and
  // COLLAPSE TO THEIR PATTERN before scoring: the output is the classic
  // FS pattern-frequency table (≤ 2^4 rows), so the only corpus-scale
  // shuffles are the marginal pass and the blocked pair join — the
  // scoring/decision arithmetic runs on a 16-row grid. At 100 TB this is
  // the shape production linkage runs: block, collapse to patterns,
  // decide once per pattern, never once per pair.
  private def q263(s: SparkSession, d: String): DataFrame = {
    import FixedPoint.log2milli
    val docs = documents(s, d)
      .withColumn("st", expr("replace(text, ' ', '')"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 64").as("lenb"),
        expr("substring(st, CAST(greatest(1, length(st) - 15) AS INT), 16)").as("tail16"),
        expr("substring(st, 1, 12)").as("blk"))
    val marg = docs.select(explode(array(
        struct(lit("lang").as("f"), col("lang").cast("string").as("v")),
        struct(lit("source").as("f"), col("source").cast("string").as("v")),
        struct(lit("lenb").as("f"), col("lenb").cast("string").as("v")),
        struct(lit("tail16").as("f"), col("tail16").cast("string").as("v")))).as("fv"))
      .groupBy(col("fv.f").as("f"), col("fv.v").as("v")).agg(count(lit(1)).as("c"))
      .groupBy("f").agg(sum(expr("c * (c - 1)")).as("u_num"))
    val n = docs.agg(count(lit(1)).as("nn"))
    val wts = marg.crossJoin(broadcast(n))
      // Laplace-style floor: a field with NO agreeing random pair at this
      // corpus size (u_num = 0) is smoothed to "one pair" rather than fed
      // to log2milli(0) (whose bin-length form returns a deterministic
      // but meaningless −1000); mirrored in the oracle.
      .withColumn("u_num", expr("greatest(u_num, 1L)"))
      .withColumn("u_den", expr("nn * (nn - 1)"))
      .withColumn("m_milli", expr(
        "CASE f WHEN 'lang' THEN 950L WHEN 'source' THEN 900L WHEN 'lenb' THEN 850L ELSE 700L END"))
      .withColumn("wa",
        log2milli("(m_milli * u_den)") - log2milli("(1000 * u_num)"))
      .withColumn("wd",
        log2milli("((1000 - m_milli) * u_den)") - log2milli("(1000 * (u_den - u_num))"))
    val wrow = wts.agg(
      max(when(col("f") === "lang", col("wa"))).as("wa_lang"),
      max(when(col("f") === "lang", col("wd"))).as("wd_lang"),
      max(when(col("f") === "source", col("wa"))).as("wa_source"),
      max(when(col("f") === "source", col("wd"))).as("wd_source"),
      max(when(col("f") === "lenb", col("wa"))).as("wa_lenb"),
      max(when(col("f") === "lenb", col("wd"))).as("wd_lenb"),
      max(when(col("f") === "tail16", col("wa"))).as("wa_tail"),
      max(when(col("f") === "tail16", col("wd"))).as("wd_tail"))
    val blocked = Guards.capBuckets(docs, "blk", 64L, minFreq = 2L)
    val a = blocked.select(col("blk"), col("doc_id").as("a"), col("lang").as("la"),
      col("source").as("sa"), col("lenb").as("ba"), col("tail16").as("ta"))
    val b = blocked.select(col("blk"), col("doc_id").as("b"), col("lang").as("lb"),
      col("source").as("sb"), col("lenb").as("bb"), col("tail16").as("tb"))
    val pat = a.join(b, Seq("blk")).filter(col("a") < col("b"))
      .select(
        when(col("la") === col("lb"), 1L).otherwise(0L).as("g_lang"),
        when(col("sa") === col("sb"), 1L).otherwise(0L).as("g_source"),
        when(col("ba") === col("bb"), 1L).otherwise(0L).as("g_lenb"),
        when(col("ta") === col("tb"), 1L).otherwise(0L).as("g_tail"))
      .groupBy("g_lang", "g_source", "g_lenb", "g_tail")
      .agg(count(lit(1)).as("n_pairs"))
    pat.crossJoin(broadcast(wrow))
      .withColumn("score_milli", expr(
        "IF(g_lang = 1, wa_lang, wd_lang) + IF(g_source = 1, wa_source, wd_source)" +
          " + IF(g_lenb = 1, wa_lenb, wd_lenb) + IF(g_tail = 1, wa_tail, wd_tail)"))
      .select(
        expr("g_lang * 8 + g_source * 4 + g_lenb * 2 + g_tail").as("pattern"),
        col("g_lang"), col("g_source"), col("g_lenb"), col("g_tail"),
        col("n_pairs"), col("score_milli"),
        expr("CASE WHEN score_milli >= 4000 THEN 'link'" +
          " WHEN score_milli <= 0 THEN 'non_link' ELSE 'review' END").as("decision"))
      .orderBy("pattern")
  }

  /** `(doc_id, bucket)` MinHash band rows computed ROW-LOCAL from a
    * `(doc_id, text)` frame — the q43 banding lifted off the table
    * reader so the LshStream twin can run the identical signature +
    * banding per micro-batch. Same codegen expressions, same bucket
    * string format (`band:minhash:minhash`). */
  private[graft] def bandRowsOf(docs: DataFrame): DataFrame =
    // r17 fanout: shingle + 8 MinHash passes per doc are recomputed per
    // consumer reference (this frame is deliberately not persisted), and
    // a single-task scan serialized them on one core
    Tables.fanout(docs, col("doc_id")).withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .withColumn("sh", GraftColumn(WordShingles(GraftColumn.expr(col("toks")), 5)))
      .withColumn("sig", GraftColumn(MinHashSig(GraftColumn.expr(col("sh")), 8)))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3), b -> concat(CAST(b AS STRING), ':',
          |  CAST(element_at(sig, 2*b+1) AS STRING), ':', CAST(element_at(sig, 2*b+2) AS STRING)))""".stripMargin))
        .as("bucket"))

  // q272: FIRST-ADMISSION LSH CANDIDATES — the batch anchor of the
  // LshStream twin (SURVEY B232), and the blocking discipline that is
  // actually POSSIBLE online: `capBuckets` (q41/q43/q45) drops a hot
  // bucket WHOLESALE, but that needs the bucket's final count — a fact
  // no streaming ingest has. What an online dedup can enforce is an
  // ADMISSION CAP: a band bucket admits its first `MaxBucket` arrivals
  // (arrival = doc_id order, the ingest order), later arrivals PROBE the
  // admitted set (full recall against everything admitted) but are not
  // stored — per-arrival cost and per-bucket state both ≤ cap, the hot
  // bucket degrades to bounded-recall instead of unbounded-cost. The
  // admitted set of a doc's bucket is FROZEN by the time any later doc
  // probes it (admission rank = rank among earlier doc_ids, which later
  // arrivals cannot change), which is exactly why the streaming fold and
  // this batch form agree row-for-row — StreamingSpec pins it. Output is
  // the candidate pair list with its band-agreement count (the q43
  // verification stage consumes it unchanged).
  private def q272(s: SparkSession, d: String): DataFrame = {
    val bands = bandRowsOf(documents(s, d).select(col("doc_id"), col("text")))
    val adm = bands.withColumn("rn", row_number().over(
        Window.partitionBy("bucket").orderBy("doc_id")))
      .filter(col("rn") <= MaxBucket)
    adm.alias("x").join(bands.alias("y"),
        col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("a", "b")
  }

  private val q272Sql = shingleSqlCte +
    s""",
      |hs AS (SELECT doc_id, sh, len(sh) AS nsh, list_transform(sh,
      |         s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hv FROM t),
      |sig AS (SELECT doc_id,
      |  list_transform(range(0, 8), i -> list_aggregate(
      |    list_transform(hv, h -> ((2*i+1)*h + 7919*i) % 4294967311), 'min')) AS sg
      | FROM hs),
      |bk0 AS (SELECT doc_id,
      |  b::VARCHAR || ':' || sg[CAST(2*b+1 AS INT)]::VARCHAR || ':' || sg[CAST(2*b+2 AS INT)]::VARCHAR AS bucket
      | FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
      |adm AS (SELECT doc_id, bucket FROM (SELECT doc_id, bucket,
      |   row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM bk0) r
      |  WHERE rn <= $MaxBucket)
      |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_bands
      |FROM adm x JOIN bk0 y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
      |GROUP BY 1, 2 ORDER BY a, b""".stripMargin

  /** DuckDB twin of [[FixedPoint.log2milli]] for q263's oracle. */
  private def l2m(x: String): String =
    s"(1000 * (length(bin($x)) - 1) + ($x - (CAST(1 AS BIGINT) << (length(bin($x)) - 1)))" +
      s" * 1000 // (CAST(1 AS BIGINT) << (length(bin($x)) - 1)))"

  private val q263Sql =
    s"""WITH d2 AS (SELECT doc_id, lang, source, n_chars // 64 AS lenb,
       |   substr(replace(text, ' ', ''), CAST(greatest(1, length(replace(text, ' ', '')) - 15) AS INT), 16) AS tail16,
       |   substr(replace(text, ' ', ''), 1, 12) AS blk
       |  FROM documents),
       |n AS (SELECT count(*) AS nn FROM d2),
       |marg AS (SELECT f, CAST(sum(c * (c - 1)) AS BIGINT) AS u_num FROM (
       |  SELECT f, v, count(*) AS c FROM (
       |    SELECT 'lang' AS f, lang AS v FROM d2 UNION ALL
       |    SELECT 'source', source FROM d2 UNION ALL
       |    SELECT 'lenb', lenb::VARCHAR FROM d2 UNION ALL
       |    SELECT 'tail16', tail16 FROM d2) u GROUP BY f, v) g GROUP BY f),
       |wt AS (SELECT f,
       |  ${l2m("(m_milli * u_den)")} - ${l2m("(1000 * u_num)")} AS wa,
       |  ${l2m("((1000 - m_milli) * u_den)")} - ${l2m("(1000 * (u_den - u_num))")} AS wd
       | FROM (SELECT f, greatest(u_num, 1) AS u_num, nn * (nn - 1) AS u_den,
       |    CASE f WHEN 'lang' THEN 950 WHEN 'source' THEN 900 WHEN 'lenb' THEN 850 ELSE 700 END AS m_milli
       |   FROM marg CROSS JOIN n) mm),
       |wrow AS (SELECT
       |  max(CASE WHEN f = 'lang' THEN wa END) AS wa_lang,
       |  max(CASE WHEN f = 'lang' THEN wd END) AS wd_lang,
       |  max(CASE WHEN f = 'source' THEN wa END) AS wa_source,
       |  max(CASE WHEN f = 'source' THEN wd END) AS wd_source,
       |  max(CASE WHEN f = 'lenb' THEN wa END) AS wa_lenb,
       |  max(CASE WHEN f = 'lenb' THEN wd END) AS wd_lenb,
       |  max(CASE WHEN f = 'tail16' THEN wa END) AS wa_tail,
       |  max(CASE WHEN f = 'tail16' THEN wd END) AS wd_tail
       | FROM wt),
       |blk AS (SELECT * FROM d2 WHERE blk IN (
       |  SELECT blk FROM d2 GROUP BY blk HAVING count(*) <= 64)),
       |pat AS (SELECT
       |  CAST(CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS BIGINT) AS g_lang,
       |  CAST(CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS BIGINT) AS g_source,
       |  CAST(CASE WHEN a.lenb = b.lenb THEN 1 ELSE 0 END AS BIGINT) AS g_lenb,
       |  CAST(CASE WHEN a.tail16 = b.tail16 THEN 1 ELSE 0 END AS BIGINT) AS g_tail
       |  FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id),
       |pt AS (SELECT g_lang, g_source, g_lenb, g_tail, count(*) AS n_pairs
       |  FROM pat GROUP BY 1, 2, 3, 4)
       |SELECT g_lang * 8 + g_source * 4 + g_lenb * 2 + g_tail AS pattern,
       | g_lang, g_source, g_lenb, g_tail, n_pairs,
       | (CASE WHEN g_lang = 1 THEN wa_lang ELSE wd_lang END)
       |  + (CASE WHEN g_source = 1 THEN wa_source ELSE wd_source END)
       |  + (CASE WHEN g_lenb = 1 THEN wa_lenb ELSE wd_lenb END)
       |  + (CASE WHEN g_tail = 1 THEN wa_tail ELSE wd_tail END) AS score_milli,
       | CASE WHEN (CASE WHEN g_lang = 1 THEN wa_lang ELSE wd_lang END)
       |  + (CASE WHEN g_source = 1 THEN wa_source ELSE wd_source END)
       |  + (CASE WHEN g_lenb = 1 THEN wa_lenb ELSE wd_lenb END)
       |  + (CASE WHEN g_tail = 1 THEN wa_tail ELSE wd_tail END) >= 4000 THEN 'link'
       |  WHEN (CASE WHEN g_lang = 1 THEN wa_lang ELSE wd_lang END)
       |  + (CASE WHEN g_source = 1 THEN wa_source ELSE wd_source END)
       |  + (CASE WHEN g_lenb = 1 THEN wa_lenb ELSE wd_lenb END)
       |  + (CASE WHEN g_tail = 1 THEN wa_tail ELSE wd_tail END) <= 0 THEN 'non_link'
       |  ELSE 'review' END AS decision
       |FROM pt CROSS JOIN wrow
       |ORDER BY pattern""".stripMargin

  // q325: DEGREE ASSORTATIVITY of the near-dup graph — the topology
  // family's CORRELATION member (q73 labels components, q199 peels
  // cores, q222 counts triangles; nothing states whether hubs attach to
  // hubs). Newman (2002) assortativity = Pearson r over the degrees at
  // the two ends of every edge, computed on the SYMMETRIZED edge list
  // (each undirected edge contributes both orientations, so the x and y
  // margins are identical by construction and r is orientation-free).
  // Sign carried separately + r² permille via the q302 staged
  // DECIMAL(38) cross-multiplication — no float, no negative division.
  // Why it earns a row: a strongly assortative dup graph means the
  // hot-bucket caps (Guards.capBuckets) bite on a CORE, not on random
  // edges — exactly the regime where cluster splitting (q73/B55) risks
  // leakage, so this one number prices that risk. 100 TB shape: edges
  // come from the already-capped pair machinery; degrees are one
  // node-grain partial agg; moments collapse edge-grain to ONE row.
  // q344: MODULARITY OF THE NEAR-DUP PARTITION — the one number that
  // prices how CONCENTRATED duplicate mass is across q73's components
  // (q325 asks whether hubs attach to hubs; this asks whether one giant
  // cluster owns the graph): Newman's Q = Σ_c[m_c/m − (d_c/2m)²], which
  // for a connected-component partition has Σm_c ≡ m, so Q collapses
  // EXACTLY to 1 − Σ(d_c/2m)² — one minus the Herfindahl of per-cluster
  // degree mass. Q near 1 = dup mass spread over many small clusters
  // (cap-friendly); Q near 0 = one component owns the edges, the regime
  // where q199's hot-bucket caps and q96's cluster-keyed splits carry
  // real leakage risk. Exact integers: d_c sums ride DECIMAL(38)
  // (Σd_c² ≤ 4m², fine to m ~ 10¹⁶ edges), one cross-multiplied milli
  // division. Reuses q41's capped pair set and q73's label fixpoint;
  // grid-grain everywhere past the label join.
  private def q344(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.Caches.persist(q41(s, d).select(col("a"), col("b")))
    val sym = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    val labels = clusterLabels(s, d)
    val dc = deg.join(labels, deg("a") === labels("doc_id"))
      .groupBy("cluster").agg(sum("deg").as("d_c"))
    val m = pairs.agg(count(lit(1)).as("m"))
    dc.agg(count(lit(1)).as("n_components"),
      sum(expr("CAST(d_c AS DECIMAL(38,0)) * d_c")).as("sd2"),
      max("d_c").as("dmax"))
      .crossJoin(broadcast(m))
      .select(col("m").as("n_edges"), col("n_components"),
        expr(
          """CASE WHEN m > 0 THEN
            | CAST(1000 - sd2 * 1000 div (CAST(4 AS DECIMAL(38,0)) * m * m)
            |   AS BIGINT)
            |ELSE 0L END""".stripMargin).as("q_milli"),
        expr("CASE WHEN m > 0 THEN dmax * 1000 div (2 * m) ELSE 0L END")
          .as("top_share_permille"))
      .orderBy("n_edges")
  }

  private val q344Sql = ccCtesSql +
    """,
      |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY 1),
      |m AS (SELECT count(*) AS m FROM np2),
      |dc AS (SELECT cluster, CAST(sum(deg) AS HUGEINT) AS d_c
      |  FROM deg JOIN clusters ON u = doc_id GROUP BY 1),
      |ag AS (SELECT count(*) AS n_components, sum(d_c * d_c) AS sd2,
      |   max(d_c) AS dmax FROM dc)
      |SELECT CAST(m AS BIGINT) AS n_edges,
      | CAST(n_components AS BIGINT) AS n_components,
      | CASE WHEN m > 0 THEN
      |  CAST(1000 - sd2 * 1000 // (CAST(4 AS HUGEINT) * m * m) AS BIGINT)
      | ELSE 0 END AS q_milli,
      | CASE WHEN m > 0 THEN CAST(dmax * 1000 // (2 * m) AS BIGINT)
      | ELSE 0 END AS top_share_permille
      |FROM ag CROSS JOIN m ORDER BY n_edges""".stripMargin

  private def q325(s: SparkSession, d: String): DataFrame = {
    val ed = graft.Caches.persist(
      scoredPairs(s, d).filter(col("jaccard") >= 0.5)
        .select(col("a").as("u"), col("b").as("v")))
    val sym = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    val m = sym
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .agg(count(lit(1)).as("n2"), sum("du").as("sx"), sum("dv").as("sy"),
        sum(expr("CAST(du AS DECIMAL(38,0)) * du")).as("sxx"),
        sum(expr("CAST(du AS DECIMAL(38,0)) * dv")).as("sxy"),
        sum(expr("CAST(dv AS DECIMAL(38,0)) * dv")).as("syy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    m.crossJoin(broadcast(nNodes))
      .withColumn("cxy", expr("n2 * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("cxx", expr("n2 * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("cyy", expr("n2 * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .select(col("n_nodes"), expr("n2 div 2").as("n_edges"),
        expr("n2 * 1000 div n_nodes").as("avg_deg_milli"),
        expr("CAST(sign(cxy) AS BIGINT)").as("r_sign"),
        expr(
          """CASE WHEN cxx > 0 AND cyy > 0 THEN
            | CAST(CAST(abs(cxy) * 1000 div cxx AS DECIMAL(38,0))
            |   * abs(cxy) div cyy AS BIGINT)
            |ELSE 0L END""".stripMargin).as("r2_permille"))
      .orderBy("n_nodes")
  }

  private val q325Sql = shingleSqlCte + ",\n" + pairCtesSql + ",\n" +
    """ed AS (SELECT a AS u, b AS v FROM np WHERE jaccard >= 0.5),
      |sym AS (SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed),
      |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
      |m AS (SELECT count(*) AS n2,
      |   CAST(sum(du.deg) AS HUGEINT) AS sx, CAST(sum(dv.deg) AS HUGEINT) AS sy,
      |   sum(CAST(du.deg AS HUGEINT) * du.deg) AS sxx,
      |   sum(CAST(du.deg AS HUGEINT) * dv.deg) AS sxy,
      |   sum(CAST(dv.deg AS HUGEINT) * dv.deg) AS syy
      |  FROM sym JOIN deg du ON du.u = sym.u JOIN deg dv ON dv.u = sym.v),
      |nn AS (SELECT count(*) AS n_nodes FROM deg),
      |c AS (SELECT n_nodes, n2, sx, sy,
      |   n2 * sxy - sx * sy AS cxy, n2 * sxx - sx * sx AS cxx,
      |   n2 * syy - sy * sy AS cyy
      |  FROM m CROSS JOIN nn)
      |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
      | CAST(n2 // 2 AS BIGINT) AS n_edges,
      | CAST(n2 * 1000 // n_nodes AS BIGINT) AS avg_deg_milli,
      | CAST(sign(cxy) AS BIGINT) AS r_sign,
      | CASE WHEN cxx > 0 AND cyy > 0 THEN
      |  CAST((abs(cxy) * 1000 // cxx) * abs(cxy) // cyy AS BIGINT)
      | ELSE 0 END AS r2_permille
      |FROM c ORDER BY n_nodes""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q325_assortativity" -> (q325 _),
    "q344_modularity" -> (q344 _),
    "q272_admission_lsh" -> (q272 _),
    "q263_fellegi_sunter" -> (q263 _),
    "q251_sorted_neighborhood" -> (q251 _),
    "q237_dedup_waterfall" -> (q237 _),
    "q235_inbatch_collisions" -> (q235 _),
    "q220_cdc_chunks" -> (q220 _),
    "q221_prefix_filter_join" -> (q221 _),
    "q222_triangle_census" -> (q222 _),
    "q181_lsh_cohesion" -> (q181 _),
    "q178_self_repetition" -> (q178 _),
    "q163_span_mask" -> (q163 _),
    "q144_incremental_dedup" -> (q144 _),
    "q145_dedup_savings" -> (q145 _),
    "q139_split_leakage" -> (q139 _),
    "q197_gram_decontamination" -> (q197 _),
    "q140_minhash_calibration" -> (q140 _),
    "q200_band_grid" -> (q200 _),
    "q98_passage_dedup" -> (q98 _),
    "q83_fuzzy_pairs" -> (q83 _),
    "q94_fuzzy_pairs_dual" -> (q94 _),
    "q184_symmetric_delete" -> (q184 _),
    "q196_containment_pairs" -> (q196 _),
    "q96_cluster_split" -> (q96 _),
    "q199_kcore_peel" -> (q199 _),
    "q205_canonical_election" -> (q205 _),
    "q40_dedup_exact_fp" -> (q40 _),
    "q73_dedup_clusters" -> (q73 _),
    "q41_jaccard_pairs" -> (q41 _),
    "q42_minhash_signatures" -> (q42 _),
    "q43_minhash_lsh" -> (q43 _),
    "q44_simhash" -> (q44 _),
    "q45_simhash_neardup" -> (q45 _))

  override val oracles: Map[String, String] = Map(
    "q325_assortativity" -> q325Sql,
    "q344_modularity" -> q344Sql,
    "q272_admission_lsh" -> q272Sql,
    "q263_fellegi_sunter" -> q263Sql,
    "q251_sorted_neighborhood" -> q251Sql,
    "q237_dedup_waterfall" -> q237Sql,
    "q235_inbatch_collisions" -> q235Sql,
    "q220_cdc_chunks" -> q220Sql,
    "q221_prefix_filter_join" -> q221Sql,
    "q222_triangle_census" -> q222Sql,
    "q181_lsh_cohesion" -> q181Sql,
    "q178_self_repetition" -> q178Sql,
    "q163_span_mask" -> q163Sql,
    "q144_incremental_dedup" -> q144Sql,
    "q145_dedup_savings" -> q145Sql,
    "q139_split_leakage" -> q139Sql,
    "q197_gram_decontamination" -> q197Sql,
    "q140_minhash_calibration" -> q140Sql,
    "q200_band_grid" -> q200Sql,
    "q98_passage_dedup" -> q98Sql,
    "q83_fuzzy_pairs" -> q83Sql,
    "q94_fuzzy_pairs_dual" -> q94Sql,
    "q184_symmetric_delete" -> q184Sql,
    "q196_containment_pairs" -> q196Sql,
    "q96_cluster_split" -> q96Sql,
    "q199_kcore_peel" -> q199Sql,
    "q205_canonical_election" -> q205Sql,
    "q40_dedup_exact_fp" -> q40Sql,
    "q73_dedup_clusters" -> q73Sql,
    "q41_jaccard_pairs" -> q41Sql,
    "q42_minhash_signatures" -> q42Sql,
    "q43_minhash_lsh" -> q43Sql,
    "q44_simhash" -> q44Sql,
    "q45_simhash_neardup" -> q45Sql)
}
