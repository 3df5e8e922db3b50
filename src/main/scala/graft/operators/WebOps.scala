package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.JaroWinkler
import org.apache.spark.sql.{DataFrame, GraftColumn, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** WEB-CORPUS plumbing operators: the URL/domain/graph passes a crawl
  * pipeline runs before any text is even read. q287 canonicalizes URLs
  * (the dedup key of every crawl); q288 enforces a domain blocklist by
  * suffix-ladder join (the public-suffix pattern); q289 is bounded-hop
  * BFS over the part–supplier bipartite graph (the link-graph
  * reachability pass, with a recursive-CTE oracle); q290 ranks dirty
  * name variants by the new codegen [[graft.functions.JaroWinkler]]
  * comparator (the record-linkage scorer q263's Fellegi–Sunter weights
  * assume).
  *
  * The corpus has no URL column, so q287/q288 derive URLs/hosts
  * DETERMINISTICALLY from `doc_id` (the q104/AuditOps decoration
  * precedent — both engines derive the identical input, so the
  * canonicalization/matching path is what the hash checks).
  */
object WebOps extends QueryPack {
  import Tables._

  // q287: URL CANONICALIZATION DEDUP — the first dedup of any crawl is
  // BY URL, and raw URLs over-count: scheme/host case, default ports,
  // www., tracking params (utm_*/fbclid), param order, fragments, and
  // trailing slashes all alias the same resource. Canonicalization is
  // ROW-LOCAL (regexp extracts + a filtered, sorted param list fused
  // into the scan's codegen stage — zero shuffle until the 20-row
  // report); the report prices the aliasing: per source, raw-distinct vs
  // canonical-distinct and the savings permille. At 100 TB the same
  // expression is the partition key of the URL-grain dedup; count
  // distinct here keeps the oracle exact.
  private def rawUrl(idCol: String): String =
    s"""concat(IF($idCol % 3 = 0, 'HTTPS', 'https'), '://',
       | IF($idCol % 4 = 0, 'WWW.', ''), 'Src', CAST($idCol % 20 AS STRING), '.Example.COM',
       | IF($idCol % 5 = 0, ':443', ''),
       | '/item/', CAST($idCol % 50 AS STRING), IF($idCol % 6 = 0, '/', ''),
       | '?', IF($idCol % 2 = 0,
       |   concat('utm_source=feed&id=', CAST($idCol % 25 AS STRING), '&ref=r', CAST($idCol % 3 AS STRING)),
       |   concat('ref=r', CAST($idCol % 3 AS STRING), '&id=', CAST($idCol % 25 AS STRING),
       |     IF($idCol % 7 = 1, '&fbclid=zz', ''))),
       | IF($idCol % 8 = 0, concat('#sec', CAST($idCol % 3 AS STRING)), ''))""".stripMargin

  private def q287(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("raw", expr(rawUrl("doc_id")))
      .withColumn("u1", regexp_replace(col("raw"), "#.*$", ""))
      .withColumn("scheme", lower(regexp_extract(col("u1"), "^([a-zA-Z]+)://", 1)))
      .withColumn("hostport", lower(regexp_extract(col("u1"), "^[a-zA-Z]+://([^/?]+)", 1)))
      .withColumn("host", regexp_replace(
        regexp_replace(col("hostport"), ":443$", ""), "^www\\.", ""))
      .withColumn("path0", regexp_extract(col("u1"), "^[a-zA-Z]+://[^/?]+([^?]*)", 1))
      .withColumn("pathc", expr(
        "CASE WHEN path0 = '' OR path0 = '/' THEN '/' ELSE regexp_replace(path0, '/+$', '') END"))
      .withColumn("q0", regexp_extract(col("u1"), "\\?(.*)$", 1))
      .withColumn("qc", expr(
        "array_join(array_sort(filter(split(q0, '&'), " +
          "p -> NOT (p LIKE 'utm_%' OR p LIKE 'fbclid=%') AND p != '')), '&')"))
      .withColumn("canon", expr(
        "concat(scheme, '://', host, pathc, IF(qc = '', '', concat('?', qc)))"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("raw")).as("n_raw_distinct"),
        countDistinct(col("canon")).as("n_canon_distinct"))
      .withColumn("savings_permille", expr(
        "(n_raw_distinct - n_canon_distinct) * 1000 div n_raw_distinct"))
      .orderBy("source")

  private val q287Sql = {
    val raw =
      """(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
        | || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
        | || 'Src' || CAST(doc_id % 20 AS VARCHAR) || '.Example.COM'
        | || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
        | || '/item/' || CAST(doc_id % 50 AS VARCHAR)
        | || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        | || '?' || (CASE WHEN doc_id % 2 = 0
        |   THEN 'utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR) || '&ref=r' || CAST(doc_id % 3 AS VARCHAR)
        |   ELSE 'ref=r' || CAST(doc_id % 3 AS VARCHAR) || '&id=' || CAST(doc_id % 25 AS VARCHAR)
        |     || (CASE WHEN doc_id % 7 = 1 THEN '&fbclid=zz' ELSE '' END) END)
        | || (CASE WHEN doc_id % 8 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)"""
        .stripMargin.replace("\n", " ")
    s"""WITH u AS (SELECT source, $raw AS raw FROM documents),
       |c1 AS (SELECT source, raw, regexp_replace(raw, '#.*$$', '') AS u1 FROM u),
       |c2 AS (SELECT source, raw,
       |   lower(regexp_extract(u1, '^([a-zA-Z]+)://', 1)) AS scheme,
       |   regexp_replace(regexp_replace(
       |     lower(regexp_extract(u1, '^[a-zA-Z]+://([^/?]+)', 1)), ':443$$', ''),
       |     '^www\\.', '') AS host,
       |   regexp_extract(u1, '^[a-zA-Z]+://[^/?]+([^?]*)', 1) AS path0,
       |   regexp_extract(u1, '\\?(.*)$$', 1) AS q0
       |  FROM c1),
       |c3 AS (SELECT source, raw, scheme, host,
       |   CASE WHEN path0 = '' OR path0 = '/' THEN '/'
       |        ELSE regexp_replace(path0, '/+$$', '') END AS pathc,
       |   array_to_string(list_sort(list_filter(string_split(q0, '&'),
       |     p -> NOT (p LIKE 'utm_%' OR p LIKE 'fbclid=%') AND p != '')), '&') AS qc
       |  FROM c2),
       |c4 AS (SELECT source, raw, scheme || '://' || host || pathc
       |   || (CASE WHEN qc = '' THEN '' ELSE '?' || qc END) AS canon FROM c3)
       |SELECT source, count(*) AS n_urls,
       | count(DISTINCT raw) AS n_raw_distinct,
       | count(DISTINCT canon) AS n_canon_distinct,
       | (count(DISTINCT raw) - count(DISTINCT canon)) * 1000 // count(DISTINCT raw)
       |   AS savings_permille
       |FROM c4 GROUP BY source ORDER BY source""".stripMargin
  }

  // q288: DOMAIN-BLOCKLIST SUFFIX JOIN + REGISTERED-DOMAIN EXTRACTION —
  // blocklists are DOMAIN-SUFFIX rules ("dom5.com" must block
  // "a.b.dom5.com"), which a naive equi-join on host misses entirely.
  // The scalable form: each host explodes its O(#labels) suffix ladder
  // (row-local transform, ≤4 extra rows/host) and equi-joins the ladder
  // against the BROADCAST blocklist — the corpus never shuffles, and the
  // deepest matching rule wins per host (a subdomain carve-out ranks
  // above its parent rule). Registered-domain extraction carries the
  // public-suffix exception pattern (co.uk takes 3 labels) — the
  // same-site grouping key crawl dedup and robots enforcement both key
  // on. Report per source: hosts, blocked, deep-rule blocks, distinct
  // registered domains.
  private def hostExpr(idCol: String): String =
    s"""concat(CASE WHEN $idCol % 5 = 0 THEN 'www.' WHEN $idCol % 5 = 1 THEN 'cdn.'
       | WHEN $idCol % 5 = 2 THEN 'a.b.' ELSE '' END,
       | 'dom', CAST($idCol % 30 AS STRING),
       | IF($idCol % 4 = 0, '.co.uk', '.com'))""".stripMargin

  // Rules chosen to be REACHABLE under the host derivation's residue
  // coupling (sub-label class = dom % 5; .co.uk forces dom even):
  // dom7 → 'a.b.' hosts (deep suffix through two subdomain labels),
  // dom12.co.uk + its 'a.b.' carve-out (multi-match, deepest wins),
  // cdn.dom6.com (exact 3-label rule), dom16/dom21 → 'cdn.' hosts
  // blocked through the parent-domain rule.
  private val blockRules = Seq("dom7.com", "dom12.co.uk", "a.b.dom12.co.uk",
    "cdn.dom6.com", "dom16.com", "dom21.com")

  private def q288(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rules = blockRules.toDF("rule")
      .withColumn("depth", size(split(col("rule"), "\\.")).cast("long"))
    val hosts = documents(s, d)
      .withColumn("host", expr(hostExpr("doc_id")))
      .withColumn("labels", split(col("host"), "\\."))
      .withColumn("nl", size(col("labels")))
      .withColumn("tld2", expr("concat_ws('.', element_at(labels, -2), element_at(labels, -1))"))
      .withColumn("reg_domain", expr(
        "IF(tld2 = 'co.uk', array_join(slice(labels, nl - 2, 3), '.'), tld2)"))
    val matched = hosts
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, nl - 1), i -> array_join(slice(labels, i, nl - i + 1), '.'))"))
        .as("suffix"))
      .join(broadcast(rules), col("suffix") === col("rule"))
      .groupBy("doc_id")
      .agg(max("depth").as("match_depth"), count(lit(1)).as("n_rules"))
    hosts.join(matched, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_hosts"),
        sum(expr("IF(match_depth IS NOT NULL, 1L, 0L)")).as("n_blocked"),
        sum(expr("IF(match_depth >= 3, 1L, 0L)")).as("n_deep_blocked"),
        countDistinct(col("reg_domain")).as("n_reg_domains"))
      .orderBy("source")
  }

  private val q288Sql = {
    val rules = blockRules.map(r => s"('$r')").mkString(", ")
    s"""WITH h AS (SELECT doc_id, source,
       |   (CASE WHEN doc_id % 5 = 0 THEN 'www.' WHEN doc_id % 5 = 1 THEN 'cdn.'
       |     WHEN doc_id % 5 = 2 THEN 'a.b.' ELSE '' END)
       |   || 'dom' || CAST(doc_id % 30 AS VARCHAR)
       |   || (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) AS host
       |  FROM documents),
       |hl AS (SELECT doc_id, source, host, string_split(host, '.') AS labels,
       |   len(string_split(host, '.')) AS nl FROM h),
       |hr AS (SELECT *, labels[-2] || '.' || labels[-1] AS tld2,
       |   CASE WHEN labels[-2] || '.' || labels[-1] = 'co.uk'
       |     THEN array_to_string(labels[nl-2:nl], '.')
       |     ELSE labels[-2] || '.' || labels[-1] END AS reg_domain
       |  FROM hl),
       |sfx AS (SELECT doc_id,
       |   unnest(list_transform(range(1, nl), i -> array_to_string(labels[i:nl], '.'))) AS suffix
       |  FROM hl),
       |rules(rule) AS (VALUES $rules),
       |m AS (SELECT s.doc_id, max(len(string_split(r.rule, '.'))) AS match_depth,
       |   count(*) AS n_rules
       |  FROM sfx s JOIN rules r ON s.suffix = r.rule GROUP BY 1)
       |SELECT hr.source, count(*) AS n_hosts,
       | CAST(sum(CASE WHEN m.match_depth IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       | CAST(sum(CASE WHEN m.match_depth >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_deep_blocked,
       | count(DISTINCT hr.reg_domain) AS n_reg_domains
       |FROM hr LEFT JOIN m ON hr.doc_id = m.doc_id
       |GROUP BY hr.source ORDER BY hr.source""".stripMargin
  }

  // q289: BOUNDED-HOP BFS REACHABILITY — the graph family's missing
  // TRAVERSAL member (q199 peels cores, q222 counts triangles, q241
  // power-iterates; none answers "what is reachable from these seeds in
  // k hops", the link-graph expansion pass of a crawl frontier or a
  // contamination spread check). Level-synchronous BFS over the DISTINCT
  // part–supplier bipartite edges: 4 fixed rounds, each a frontier
  // equi-join + distinct + anti-join against the visited set (first
  // visit = min distance, the level-synchronous invariant), each level
  // pinned ([[graft.Caches.pin]]) — without it round r re-executes
  // rounds 1..r-1. The oracle is a DuckDB RECURSIVE CTE with post-hoc
  // min(dist) — a genuinely different evaluation strategy agreeing on
  // the hash. At 100 TB edges partition
  // by key and each round shuffles ONLY the frontier — the standard
  // Pregel-without-Pregel shape.
  private def q289(s: SparkSession, d: String): DataFrame = {
    val e = graft.Caches.persist(lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sp"))
      .distinct())
    val p0 = graft.Caches.pin(e.select("p").where(col("p") % 100 === 0).distinct())
    // level r crosses from level r-1's kind to the other one, minus the
    // nodes of its kind already seen at levels r-2, r-4, …
    val levels = (1 to 4).foldLeft(Vector(p0)) { (lv, r) =>
      val (from, to) = if (r % 2 == 1) ("p", "sp") else ("sp", "p")
      val reached = e.join(lv.last, from).select(to).distinct()
      val seen = lv.indices.filter(i => (r - i) % 2 == 0).map(lv)
      lv :+ graft.Caches.pin(
        if (seen.isEmpty) reached else reached.join(seen.reduce(_ union _), Seq(to), "left_anti"))
    }
    levels.zipWithIndex
      .map { case (lv, r) =>
        lv.select(lit(if (r % 2 == 0) "p" else "s").as("kind"), lit(r.toLong).as("dist")) }
      .reduce(_ union _)
      .groupBy("kind", "dist").agg(count(lit(1)).as("n_nodes"))
      .orderBy("kind", "dist")
  }

  private val q289Sql =
    """WITH RECURSIVE e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sp
      |  FROM lineitem),
      |walk(kind, id, dist) AS (
      |  SELECT 'p', p, 0 FROM (SELECT DISTINCT p FROM e WHERE p % 100 = 0)
      |  UNION
      |  SELECT CASE WHEN w.kind = 'p' THEN 's' ELSE 'p' END,
      |         CASE WHEN w.kind = 'p' THEN e.sp ELSE e.p END,
      |         w.dist + 1
      |  FROM walk w JOIN e
      |    ON (w.kind = 'p' AND e.p = w.id) OR (w.kind = 's' AND e.sp = w.id)
      |  WHERE w.dist < 4),
      |mins AS (SELECT kind, id, min(dist) AS dist FROM walk GROUP BY 1, 2)
      |SELECT kind, dist, count(*) AS n_nodes
      |FROM mins GROUP BY 1, 2 ORDER BY kind, dist""".stripMargin

  // q290: JARO–WINKLER LINKAGE RANKING — exercises the new codegen
  // [[JaroWinkler]] comparator end-to-end on a name-matching task: every
  // distinct part name spawns three deterministic dirty variants
  // (adjacent transposition, deletion, substitution — the classic typo
  // classes), candidates are blocked on the UNCHANGED first character
  // (the blocking key all three variants preserve, so the true match is
  // always in-block), and per dirty name the candidates rank by
  // similarity. Deliverable per variant class: how often the true origin
  // wins top-1, how many pairs clear the 0.94 matcher bar, and the mean
  // similarity of true pairs — the calibration numbers a Fellegi–Sunter
  // deployment (q263) reads off before setting its agreement weights.
  // Name-grain (64 rows) by construction; the pair set is block-bounded.
  // The oracle calls DuckDB's native jaro_winkler_similarity — parity at
  // micro rounding is the expression's pinned contract.
  private def q290(s: SparkSession, d: String): DataFrame = {
    val names = part(s, d).select(col("p_name").as("clean")).distinct()
    val dirty = names
      .withColumn("variant", explode(expr(
        """array(
          | named_struct('kind', 'swap', 'dn',
          |   concat(substring(clean, 1, 1), substring(clean, 3, 1),
          |     substring(clean, 2, 1), substring(clean, 4, length(clean)))),
          | named_struct('kind', 'del', 'dn',
          |   concat(substring(clean, 1, 2), substring(clean, 4, length(clean)))),
          | named_struct('kind', 'sub', 'dn',
          |   concat(substring(clean, 1, 1), 'x', substring(clean, 3, length(clean)))))""".stripMargin)))
      .select(col("clean").as("orig"), col("variant.kind").as("kind"),
        col("variant.dn").as("dn"))
      .withColumn("blk", substring(col("dn"), 1, 1))
    val cand = dirty.join(
      names.withColumn("blk", substring(col("clean"), 1, 1)), "blk")
    val withJw = cand
      .withColumn("jw", GraftColumn(JaroWinkler(
        GraftColumn.expr(col("dn")), GraftColumn.expr(col("clean")))))
      .withColumn("jw_micro", expr("CAST(round(jw * 1000000) AS BIGINT)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("kind", "orig").orderBy(desc("jw_micro"), col("clean"))))
    withJw.groupBy("kind")
      .agg(countDistinct(col("orig")).as("n_names"),
        count(lit(1)).as("n_pairs"),
        sum(expr("IF(rnk = 1 AND clean = orig, 1L, 0L)")).as("n_top1_correct"),
        sum(expr("IF(jw_micro >= 940000, 1L, 0L)")).as("n_match94"),
        sum(expr("IF(clean = orig, jw_micro, 0L)")).as("sum_true_jw_micro"))
      .orderBy("kind")
  }

  private val q290Sql =
    """WITH names AS (SELECT DISTINCT p_name AS clean FROM part),
      |dirty AS (
      |  SELECT clean AS orig, 'swap' AS kind,
      |    substring(clean, 1, 1) || substring(clean, 3, 1) || substring(clean, 2, 1)
      |      || substring(clean, 4, length(clean)) AS dn FROM names
      |  UNION ALL
      |  SELECT clean, 'del',
      |    substring(clean, 1, 2) || substring(clean, 4, length(clean)) FROM names
      |  UNION ALL
      |  SELECT clean, 'sub',
      |    substring(clean, 1, 1) || 'x' || substring(clean, 3, length(clean)) FROM names),
      |cand AS (SELECT d.orig, d.kind, d.dn, n.clean,
      |   CAST(round(jaro_winkler_similarity(d.dn, n.clean) * 1000000) AS BIGINT) AS jw_micro
      |  FROM dirty d JOIN names n ON substring(d.dn, 1, 1) = substring(n.clean, 1, 1)),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY kind, orig
      |   ORDER BY jw_micro DESC, clean) AS rnk FROM cand)
      |SELECT kind, count(DISTINCT orig) AS n_names, count(*) AS n_pairs,
      | CAST(sum(CASE WHEN rnk = 1 AND clean = orig THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_top1_correct,
      | CAST(sum(CASE WHEN jw_micro >= 940000 THEN 1 ELSE 0 END) AS BIGINT) AS n_match94,
      | CAST(sum(CASE WHEN clean = orig THEN jw_micro ELSE 0 END) AS BIGINT)
      |   AS sum_true_jw_micro
      |FROM rk GROUP BY kind ORDER BY kind""".stripMargin

  // q330: HITS HUBS & AUTHORITIES — the link-analysis family's SECOND
  // classic (q130 is integer PageRank — one score, random-surfer; HITS
  // computes TWO mutually-recursive scores, Kleinberg 1999: a good hub
  // points at good authorities and vice versa), run on the same
  // part–supplier bipartite graph as q289's BFS: suppliers are hubs
  // (they stock parts), parts are authorities (they are stocked).
  // Two full mutual-reinforcement rounds, max-normalized to milli after
  // every half-step (the practical display normalization; L2 needs a
  // sqrt neither engine can hash-match) — every score ∈ [0, 1000], so
  // no iteration can overflow regardless of corpus size, and the
  // per-step truncation is mirrored exactly. Deliverable: top-10
  // authorities + top-10 hubs under the total order (score DESC, id).
  // 100 TB shape: each half-step is one edge-grain partial-agg shuffle
  // against a score table (co-partitioned on the join key); the maxima
  // are 1-row broadcasts; 4 half-steps total, the q130/q199
  // fixed-rounds posture.
  private def q330(s: SparkSession, d: String): DataFrame = {
    val e = graft.Caches.persist(lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sp")).distinct())
    // each half-step's raw frame is read twice (its own max and the next
    // half-step's join) and the half-steps chain, so it is pinned
    def normalized(raw0: DataFrame, key: String): DataFrame = {
      val raw = graft.Caches.pin(raw0)
      val mx = raw.agg(max("raw").as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col(key), expr("raw * 1000 div mx").as("score"))
    }
    // half-step 1: hub ∝ degree (uniform authority prior); half-steps
    // 2–4 score the other side from the previous one's mass: authority
    // from hub, hub from authority, authority from the refreshed hub
    val halfSteps = (2 to 4).scanLeft(
      normalized(e.groupBy("sp").agg(count(lit(1)).as("raw")), "sp")) { (prev, t) =>
      val (from, to) = if (t % 2 == 0) ("sp", "p") else ("p", "sp")
      normalized(e.join(prev, from).groupBy(to).agg(sum("score").as("raw")), to)
    }
    val (hub2, auth2) = (halfSteps(2), halfSteps(3))
    val topA = auth2
      .select(lit("authority").as("kind"), col("p").as("node_id"), col("score"))
      .orderBy(col("score").desc, col("node_id")).limit(10)
    val topH = hub2
      .select(lit("hub").as("kind"), col("sp").as("node_id"), col("score"))
      .orderBy(col("score").desc, col("node_id")).limit(10)
    topA.union(topH).orderBy(col("kind"), col("score").desc, col("node_id"))
  }

  private val q330Sql =
    """WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sp FROM lineitem),
      |h1r AS (SELECT sp, count(*) AS raw FROM e GROUP BY sp),
      |h1 AS (SELECT sp, raw * 1000 // (SELECT max(raw) FROM h1r) AS score FROM h1r),
      |a1r AS (SELECT p, sum(score) AS raw FROM e JOIN h1 USING (sp) GROUP BY p),
      |a1 AS (SELECT p, raw * 1000 // (SELECT max(raw) FROM a1r) AS score FROM a1r),
      |h2r AS (SELECT sp, sum(score) AS raw FROM e JOIN a1 USING (p) GROUP BY sp),
      |h2 AS (SELECT sp, raw * 1000 // (SELECT max(raw) FROM h2r) AS score FROM h2r),
      |a2r AS (SELECT p, sum(score) AS raw FROM e JOIN h2 USING (sp) GROUP BY p),
      |a2 AS (SELECT p, raw * 1000 // (SELECT max(raw) FROM a2r) AS score FROM a2r),
      |ta AS (SELECT 'authority' AS kind, p AS node_id, CAST(score AS BIGINT) AS score
      |  FROM a2 ORDER BY score DESC, node_id LIMIT 10),
      |th AS (SELECT 'hub' AS kind, sp AS node_id, CAST(score AS BIGINT) AS score
      |  FROM h2 ORDER BY score DESC, node_id LIMIT 10)
      |SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
      |ORDER BY kind, score DESC, node_id""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q287_url_canonical" -> (q287 _),
    "q288_domain_blocklist" -> (q288 _),
    "q289_khop_reach" -> (q289 _),
    "q290_jw_linkage" -> (q290 _),
    "q330_hits_scores" -> (q330 _))

  override val oracles: Map[String, String] = Map(
    "q287_url_canonical" -> q287Sql,
    "q288_domain_blocklist" -> q288Sql,
    "q289_khop_reach" -> q289Sql,
    "q290_jw_linkage" -> q290Sql,
    "q330_hits_scores" -> q330Sql)
}
