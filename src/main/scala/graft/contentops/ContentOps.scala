package graft.contentops

import graft.QueryPack
import graft.functions.GzipDecode
import org.apache.spark.sql.{Column, DataFrame, GraftColumn, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types._

/** The reference's entire executable + prescribed surface as a Spark
  * pipeline (SURVEY.md §2A, A1–A19), over the deterministic wire fixture:
  *
  *   Kinesis-record stand-ins → gzip decode (A2) → payload-source branch +
  *   S3-indirection resolve with error-tolerant skip (A3/A4/A19) →
  *   envelope parse via from_json (A5) → type-discriminator validation
  *   (A6) → projection (A7) + operation-kind parse (A8) → keyed semantic
  *   operators (A9–A18).
  *
  * Each wire record is decoded, resolved and parsed exactly once
  * (ContentOpsSpec pins the executed plan), and the same wire input
  * always yields an equal plan, so the CacheManager shares one persisted
  * envelope across queries and sessions.
  *
  * The DuckDB oracle for every query starts from a VALUES literal of the
  * expected envelope rows (same fixture object), so a hash match certifies
  * the binary decode path AND the semantics.
  *
  * Scale notes (100 TB): the ingest stage is per-row/per-partition only —
  * no shuffle until a keyed operator; latest-state (q52) uses `max_by`
  * partial aggregation on the composite key so the shuffle carries one
  * pre-reduced row per key per map partition; the S3-indirection resolve
  * is a per-partition window of fetches ([[HttpResolver]]) over one pooled
  * HTTP client per executor, and the fixture's own URLs are served from
  * its in-memory object store through the same window.
  */
object ContentOps extends QueryPack {

  /** Envelope schema (user-guide.md:56-110). `body` is open (:112-114),
    * so it is read as a string: the JSON reader keeps a nested object's
    * text for a string field. Its fields are read from that text, never
    * through a guessed StructType. */
  private val triggerSchema = StructType(Seq(
    StructField("type", StringType),
    StructField("id", StringType),
    StructField("referent_update", BooleanType),
    StructField("priority", StringType),
    StructField("app_name", StringType)))

  private val envelopeSchema = StructType(Seq(
    StructField("type", StringType),
    StructField("organization_id", StringType),
    StructField("operation", StringType),
    StructField("date", TimestampType),
    StructField("id", StringType),
    StructField("branch", StringType),
    StructField("published", BooleanType),
    StructField("created", BooleanType),
    StructField("trigger", triggerSchema),
    StructField("body", StringType)))

  /** The full ingest pipeline: wire bytes → parsed envelope DataFrame. */
  def envelope(s: SparkSession): DataFrame = envelopeWithBody(s).drop("body_raw")

  /** envelope + the raw open-schema body JSON (for the variant path),
    * persisted: the semantic queries share the materialized envelope, as
    * a deployment would query a materialized envelope table instead of
    * re-running the decode per query. Every build has an equal plan, so
    * the CacheManager hands each later build, in any session, the first
    * build's cache; after [[graft.Caches.release]] the next build
    * persists afresh. */
  def envelopeWithBody(s: SparkSession): DataFrame = graft.Caches.persist(buildEnvelope(s))

  private def buildEnvelope(s: SparkSession): DataFrame = {
    import s.implicits._
    envelopeFromWire(s, s.createDataset(Fixture.wireRecords).toDF())
  }

  /** The production ingest entry point: ANY wire frame
    * `(shard, seq, payload binary)` — the fixture source, or
    * `KinesisWireSource.toWireRecords(connectorFrame)` — through
    * decode (A2) → resolve (A3/A4) → validate (A6) → project (A7).
    * KinesisFixtureSpec drives it from a recorded GetRecords response.
    *
    * One pass per record: the resolved JSON is parsed once, and the parse
    * sits in a generator (`inline`), which predicate pushdown does not
    * cross, so the A6 filter cannot copy the parse below the projection.
    * A skipped record (A19) parses to a null `type`, so the A6 filter is
    * also the skip. */
  def envelopeFromWire(s: SparkSession, wire: DataFrame): DataFrame =
    resolved(wire)
      .select(col("seq"), col("shard"),
        inline(array(from_json(col("raw"), envelopeSchema))))
      .filter(col("type") === "content-operation") // A6 + A19
      .select(col("*"),
        json_tuple(col("body"), "headline", "word_count").as(Seq("headline", "word_count")))
      .select( // A7 projection
        col("seq"), col("shard"), col("organization_id"), col("operation"),
        col("date"), col("id"), col("branch"), col("published"), col("created"),
        col("trigger.type").as("trg_type"),
        col("trigger.id").as("trg_id"),
        col("trigger.referent_update").as("referent_update"),
        col("trigger.priority").as("priority"),
        col("trigger.app_name").as("app_name"),
        col("headline"),
        col("word_count").cast("int").as("word_count"),
        col("body").as("body_raw"))

  /** A2 + A3 over a wire frame: `(shard, seq, raw, skip_reason)`. The
    * gzip decode (zlib wbits 15+32 ≈ GZIPInputStream auto header) is a
    * native codegen expression, not a UDF (SURVEY.md §4), in a `Project`;
    * then [[HttpResolver.resolve]] resolves each decoded payload. */
  private def resolved(wire: DataFrame): DataFrame =
    HttpResolver.resolve(wire.select(col("shard"), col("seq"),
      GraftColumn(GzipDecode(GraftColumn.expr(col("payload"))))))

  private[graft] def verbCol = split(col("operation"), "-").getItem(0)  // A8
  private[graft] def ctypeCol = split(col("operation"), "-").getItem(1)

  /** A13/A17: a publish event — the created insert of a published copy
    * (user-guide.md:145). q57 and its stream twin count on this. */
  private[graft] def isPublish: Column =
    col("published") && col("created") && verbCol === "insert"

  /** A9: the document key. Draft and published copies of one id are
    * distinct entities (user-guide.md:119-139). */
  private val docKey = Seq("id", "branch", "published")

  /** A16: the changelog order. State moves only to a change that is
    * strictly newer by (date, seq); seq breaks event-time ties. */
  private def changeOrder = Seq(col("date"), col("seq"))

  /** Each document's changes, unordered (q169 orders them by arrival). */
  private def byKey: WindowSpec = Window.partitionBy(docKey.map(col): _*)

  /** Each document's changes in changelog order: the version chain that
    * q80, q161, q211 and q213 walk. */
  private def keyOrder: WindowSpec = byKey.orderBy(changeOrder: _*)

  /** A10 + A11: each document's latest change by the changelog order, as
    * `last` (seq, operation, date, headline, word_count), with a
    * `deleted` tombstone flag — the batch form of
    * `graft.streaming.ContentStream.StateChange`. `max_by` aggregates
    * partially, so the key shuffle carries one row per key per map
    * partition. */
  private def latest(env: DataFrame): DataFrame =
    env.groupBy(docKey.map(col): _*)
      .agg(max_by(
        struct(col("seq"), col("operation"), col("date"), col("headline"), col("word_count")),
        struct(changeOrder: _*)).as("last"))
      .withColumn("deleted", col("last.operation").startsWith("delete"))

  // q50: the ingest path itself — every surviving envelope row, verbatim.
  // Proves decode + resolve + skip + validate + parse against the VALUES
  // oracle (which starts AFTER the wire encoding).
  private def q50(s: SparkSession, d: String): DataFrame =
    envelope(s).orderBy("seq")

  private def q50Sql = Fixture.valuesCte +
    "\nSELECT * FROM ops ORDER BY seq"

  // q51: operation-kind parse (A8): verb × content-type × org counts over
  // the four core types and two verbs (user-guide.md:70-72).
  private def q51(s: SparkSession, d: String): DataFrame =
    envelope(s)
      .groupBy(col("organization_id"), verbCol.as("verb"), ctypeCol.as("ctype"))
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("n_docs"))
      .orderBy("organization_id", "verb", "ctype")

  private def q51Sql = Fixture.valuesCte +
    """
      |SELECT organization_id, string_split(operation,'-')[1] AS verb,
      | string_split(operation,'-')[2] AS ctype,
      | count(*) AS n, count(DISTINCT id) AS n_docs
      |FROM ops GROUP BY 1, 2, 3
      |ORDER BY organization_id, verb, ctype""".stripMargin

  // q52: latest-state materialization (A10) + tombstone drop (A11), keyed
  // on the composite (id, branch, published) — the reference's #1
  // documented trap (user-guide.md:119-139). Event-time order with seq
  // tiebreak (A16); keys whose newest op is a delete vanish (:72).
  private def q52(s: SparkSession, d: String): DataFrame =
    latest(envelope(s))
      .filter(!col("deleted"))
      .select(col("id"), col("branch"), col("published"),
        col("last.seq").as("last_seq"), col("last.date").as("last_date"),
        col("last.headline").as("headline"), col("last.word_count").as("word_count"))
      .orderBy("id", "branch", "published")

  private def q52Sql = Fixture.valuesCte +
    """
      |SELECT id, branch, published, seq AS last_seq, date AS last_date, headline, word_count
      |FROM (SELECT *, row_number() OVER (PARTITION BY id, branch, published
      |                                   ORDER BY date DESC, seq DESC) AS rn FROM ops)
      |WHERE rn = 1 AND operation NOT LIKE 'delete%'
      |ORDER BY id, branch, published""".stripMargin

  // q53: stateless publish/unpublish proxy events (A13, user-guide.md:145):
  // publish ⇔ created insert of the published copy; unpublish ⇔ delete of
  // the published copy.
  private def q53(s: SparkSession, d: String): DataFrame =
    envelope(s)
      .filter(col("published") &&
        ((verbCol === "insert" && col("created")) || verbCol === "delete"))
      .select(col("seq"), col("id"), col("branch"),
        when(verbCol === "insert", "publish").otherwise("unpublish").as("event"),
        col("date"))
      .orderBy("seq")

  private def q53Sql = Fixture.valuesCte +
    """
      |SELECT seq, id, branch,
      | CASE WHEN operation LIKE 'insert%' THEN 'publish' ELSE 'unpublish' END AS event,
      | date
      |FROM ops
      |WHERE published AND ((operation LIKE 'insert%' AND created) OR operation LIKE 'delete%')
      |ORDER BY seq""".stripMargin

  // q54: stateful publish-transition detection (A12, user-guide.md:141-143),
  // batch form: per (id, branch), walk the published-copy timeline in event
  // order; emit a transition whenever existence flips (insert after
  // null/delete ⇒ publish; delete after insert ⇒ unpublish). The streaming
  // twin is graft.streaming.ContentStream.publishTransitions.
  private def q54(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("id", "branch").orderBy(changeOrder: _*)
    envelope(s)
      .filter(col("published"))
      .withColumn("verb", verbCol)
      .withColumn("prev_verb", lag(col("verb"), 1).over(w))
      .filter((col("verb") === "insert" && (col("prev_verb").isNull || col("prev_verb") === "delete")) ||
        (col("verb") === "delete" && col("prev_verb") === "insert"))
      .select(col("seq"), col("id"), col("branch"),
        when(col("verb") === "insert", "publish").otherwise("unpublish").as("event"),
        col("date"))
      .orderBy("seq")
  }

  private def q54Sql = Fixture.valuesCte +
    """
      |SELECT seq, id, branch,
      | CASE WHEN verb = 'insert' THEN 'publish' ELSE 'unpublish' END AS event, date
      |FROM (SELECT seq, id, branch, date,
      |        string_split(operation,'-')[1] AS verb,
      |        lag(string_split(operation,'-')[1], 1)
      |          OVER (PARTITION BY id, branch ORDER BY date, seq) AS prev_verb
      |      FROM ops WHERE published)
      |WHERE (verb = 'insert' AND (prev_verb IS NULL OR prev_verb = 'delete'))
      |   OR (verb = 'delete' AND prev_verb = 'insert')
      |ORDER BY seq""".stripMargin

  // q55: direct-vs-referent update classification (A14,
  // user-guide.md:88-102): trigger doc ≡ affected doc ⇒ direct user edit;
  // otherwise a cascade from a referenced document.
  private def q55(s: SparkSession, d: String): DataFrame =
    envelope(s)
      .withColumn("update_class",
        when(col("referent_update") || col("trg_id") =!= col("id"), "referent")
          .otherwise("direct"))
      .groupBy(col("update_class"), ctypeCol.as("ctype"))
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("n_docs"))
      .orderBy("update_class", "ctype")

  private def q55Sql = Fixture.valuesCte +
    """
      |SELECT CASE WHEN referent_update OR trg_id <> id THEN 'referent' ELSE 'direct' END AS update_class,
      | string_split(operation,'-')[2] AS ctype, count(*) AS n, count(DISTINCT id) AS n_docs
      |FROM ops GROUP BY 1, 2
      |ORDER BY update_class, ctype""".stripMargin

  // q56: trigger priority/provenance profile (A15, user-guide.md:104-110).
  // avg as one exact-integer sum ÷ one count — engine-order-proof.
  private def q56(s: SparkSession, d: String): DataFrame =
    envelope(s)
      .groupBy(col("priority"), col("app_name"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("word_count")).cast("double") / count(lit(1)), 4).as("avg_words"))
      .orderBy("priority", "app_name")

  private def q56Sql = Fixture.valuesCte +
    """
      |SELECT priority, app_name, count(*) AS n,
      | round(CAST(sum(word_count) AS DOUBLE) / count(*), 4) AS avg_words
      |FROM ops GROUP BY 1, 2
      |ORDER BY priority, app_name""".stripMargin

  // q57: real-time analytics on publishing changes (A17, user-guide.md:3),
  // batch form: daily tumbling counts of publish-proxy events by type.
  private def q57(s: SparkSession, d: String): DataFrame =
    envelope(s)
      .filter(isPublish)
      .groupBy(date_trunc("day", col("date")).as("day"), ctypeCol.as("ctype"))
      .agg(count(lit(1)).as("n_published"))
      .orderBy("day", "ctype")

  private def q57Sql = Fixture.valuesCte +
    """
      |SELECT CAST(date_trunc('day', date) AS TIMESTAMP) AS day,
      | string_split(operation,'-')[2] AS ctype, count(*) AS n_published
      |FROM ops WHERE published AND created AND operation LIKE 'insert%'
      |GROUP BY 1, 2 ORDER BY day, ctype""".stripMargin

  // q58: filtered current-state extraction (A18, user-guide.md:3): stories
  // currently live on the published branch with a body predicate (via the
  // open-schema body path, :112-114).
  private def q58(s: SparkSession, d: String): DataFrame =
    latest(envelope(s))
      .filter(col("published") && !col("deleted") &&
        col("last.operation").endsWith("story") &&
        col("last.word_count") > 500)
      .select(col("id"), col("branch"),
        col("last.headline").as("headline"), col("last.word_count").as("word_count"))
      .orderBy("id", "branch")

  private def q58Sql = Fixture.valuesCte +
    """
      |SELECT id, branch, headline, word_count
      |FROM (SELECT *, row_number() OVER (PARTITION BY id, branch, published
      |                                   ORDER BY date DESC, seq DESC) AS rn FROM ops)
      |WHERE rn = 1 AND published AND operation NOT LIKE 'delete%'
      |  AND operation LIKE '%story' AND word_count > 500
      |ORDER BY id, branch""".stripMargin

  // q65: the open-schema body through Spark 4's VariantType (SURVEY §1.4's
  // 100 TB semi-structured path): parse once into a variant, then typed
  // extraction — the shredded-at-scan alternative to per-field
  // get_json_object when many body fields are touched. try_variant_get on
  // an absent path null-propagates instead of failing (open schema:
  // upstream promises nothing about body fields, user-guide.md:112-114).
  private def q65(s: SparkSession, d: String): DataFrame =
    envelopeWithBody(s)
      .withColumn("v", expr("parse_json(body_raw)"))
      .select(col("seq"),
        expr("variant_get(v, '$.headline', 'string')").as("headline"),
        expr("variant_get(v, '$.word_count', 'int')").as("word_count"),
        expr("variant_get(v, '$.verb', 'string')").as("verb"),
        expr("try_variant_get(v, '$.not_promised_by_upstream', 'string') IS NULL").as("absent_is_null"))
      .orderBy("seq")

  private def q65Sql = Fixture.valuesCte +
    """
      |SELECT seq, headline, word_count,
      | string_split(operation, '-')[1] AS verb,
      | true AS absent_is_null
      |FROM ops ORDER BY seq""".stripMargin

  // q80: SCD2 / CDC materialization — the changelog as a warehouse
  // dimension: every insert becomes a VERSION row with a validity
  // interval [date, next-op date) on its composite key; an open interval
  // means the version is current (a trailing delete closes the last
  // interval, so the tombstoned key has no current row — consistent with
  // q52's latest-state semantics). This is the batch shape of
  // "synchronize a foreign CMS" (user-guide.md:3): the foreign side can
  // time-travel any key. One window per key in (event-time, seq) order —
  // the same shuffle key as every other A9 operator, so at 100 TB the
  // partitioning is shared, and the window is per-key (never global).
  private def q80(s: SparkSession, d: String): DataFrame =
    envelope(s)
      .withColumn("valid_to", lead(col("date"), 1).over(keyOrder))
      .filter(verbCol === "insert")
      .select(col("id"), col("branch"), col("published"), col("seq"),
        col("headline"), col("word_count"),
        col("date").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("id", "branch", "published", "seq")

  private def q80Sql = Fixture.valuesCte +
    """
      |SELECT id, branch, published, seq, headline, word_count,
      | date AS valid_from, valid_to, valid_to IS NULL AS is_current
      |FROM (SELECT *, lead(date, 1) OVER (PARTITION BY id, branch, published
      |                                    ORDER BY date, seq) AS valid_to FROM ops)
      |WHERE operation LIKE 'insert%'
      |ORDER BY id, branch, published, seq""".stripMargin

  /** The generic body-diff core behind q161: per composite document key,
    * field-level adds/removes/changes between CONSECUTIVE insert versions
    * (the q80 version chain — same (date, seq) ordering, same key
    * partitioning, so at 100 TB the shuffle is the shared A9 one). The
    * field universe is discovered per pair from the DATA
    * (`json_object_keys` of both bodies, union, sorted — open schema:
    * upstream promises nothing, user-guide.md:112-114), never from a
    * hardcoded column list; the explode is bounded by the body's key
    * count, so output is O(versions · fields-touched), all row-local
    * after the one per-key window. Field names are assumed JSON-path-safe
    * (no dots/quotes), which the reference's ANS bodies satisfy. */
  def bodyDiff(env: DataFrame): DataFrame =
    env
      .filter(verbCol === "insert")
      .withColumn("prev_body", lag(col("body_raw"), 1).over(keyOrder))
      .filter(col("prev_body").isNotNull) // first version: nothing to diff
      .withColumn("field", explode(array_sort(array_union(
        json_object_keys(col("prev_body")), json_object_keys(col("body_raw"))))))
      .withColumn("old_val", expr("get_json_object(prev_body, concat('$.', field))"))
      .withColumn("new_val", expr("get_json_object(body_raw, concat('$.', field))"))
      .filter(!(col("old_val") <=> col("new_val")))
      .select(col("id"), col("branch"), col("published"), col("seq"), col("field"),
        col("old_val"), col("new_val"),
        when(col("old_val").isNull, "added")
          .when(col("new_val").isNull, "removed")
          .otherwise("changed").as("kind"))

  /** q211's core, factored for the spec: per (branch, published) copy
    * class, the share of consecutive insert version pairs whose body is
    * BYTE-IDENTICAL — republish-without-change traffic a changelog
    * consumer pays to transport, decode, and upsert but gains nothing
    * from (the number that decides whether a pre-publish content-hash
    * gate belongs in the producer). Rides the q161/q80 version-pair
    * window; the noop flag compares md5 fingerprints, not bodies, so the
    * shuffle after the fold carries 32-char keys. Worst offender =
    * max_by (noops, then lexicographically-last id — deterministic,
    * oracle-mirrored). Engine parity note: the oracle reconstructs the
    * body JSON, so its raw bytes differ from body_raw — but equal
    * field-tuples produce equal strings and distinct tuples distinct
    * strings WITHIN each engine, so the noop flags (and everything
    * hashed) agree; the fingerprints themselves never reach the output. */
  def noopAudit(env: DataFrame): DataFrame = {
    val pairs = env
      .filter(verbCol === "insert")
      .withColumn("fp", md5(col("body_raw")))
      .withColumn("prev_fp", lag(col("fp"), 1).over(keyOrder))
      .filter(col("prev_fp").isNotNull)
      .withColumn("noop", when(col("fp") === col("prev_fp"), 1L).otherwise(0L))
    val perKey = pairs.groupBy("branch", "published", "id")
      .agg(count(lit(1)).as("np"), sum("noop").as("nn"))
    perKey.groupBy("branch", "published")
      .agg(sum("np").as("n_pairs"), sum("nn").as("n_noop"),
        expr("max_by(struct(id, nn), struct(nn, id))").as("w"))
      .select(col("branch"), col("published"), col("n_pairs"), col("n_noop"),
        expr("n_noop * 1000 div n_pairs").as("noop_permille"),
        col("w.id").as("worst_id"), col("w.nn").as("worst_noops"))
      .orderBy("branch", "published")
  }

  private def q211(s: SparkSession, d: String): DataFrame =
    noopAudit(envelopeWithBody(s))

  private def q211Sql = Fixture.valuesCte +
    """
      |, ins AS (SELECT id, branch, published, seq, date,
      |    json_object('_id', id, 'headline', headline, 'word_count', word_count,
      |                'verb', 'insert') AS body
      |  FROM ops WHERE operation LIKE 'insert%'),
      |v AS (SELECT *, lag(md5(body)) OVER (PARTITION BY id, branch, published
      |                                     ORDER BY date, seq) AS prev_fp FROM ins),
      |p AS (SELECT branch, published, id,
      |   CASE WHEN md5(body) = prev_fp THEN 1 ELSE 0 END AS noop
      |  FROM v WHERE prev_fp IS NOT NULL),
      |k AS (SELECT branch, published, id, count(*) AS np, sum(noop) AS nn
      |  FROM p GROUP BY 1, 2, 3),
      |r AS (SELECT *, row_number() OVER (PARTITION BY branch, published
      |                                   ORDER BY nn DESC, id DESC) AS rn FROM k),
      |g AS (SELECT branch, published, sum(np) AS n_pairs, sum(nn) AS n_noop
      |  FROM k GROUP BY 1, 2)
      |SELECT g.branch, g.published, CAST(n_pairs AS BIGINT) AS n_pairs,
      | CAST(n_noop AS BIGINT) AS n_noop,
      | CAST(n_noop * 1000 // n_pairs AS BIGINT) AS noop_permille,
      | rr.id AS worst_id, CAST(rr.nn AS BIGINT) AS worst_noops
      |FROM g JOIN (SELECT * FROM r WHERE rn = 1) rr USING (branch, published)
      |ORDER BY branch, published""".stripMargin

  /** q213's core, factored for the spec: per (branch, published) copy
    * class, keys whose tombstone was WRITTEN THROUGH — an insert
    * following a delete in (date, seq) order. A delete is a contract
    * (A11: the key's state is gone); a later insert is either a
    * legitimate re-creation or a producer replaying stale state over a
    * tombstone — the batch-changelog measurement of the exact
    * resurrection risk the streaming TTL test pins (StreamingSpec "TTL
    * expires latest-state": once state expires, a very-late record
    * re-creates it). Same topology as q211: the one per-key ordered
    * window, then two partial-agg'd collapses; gaps in integer seconds
    * (zone-free epoch arithmetic). worst_id/worst_gap_s are NULL when
    * the class has no resurrections — never an innocent key's name. */
  def resurrectionAudit(env: DataFrame): DataFrame = {
    val ops = env
      .withColumn("kind", verbCol)
      .filter(col("kind").isin("insert", "delete"))
      .withColumn("prev_kind", lag(col("kind"), 1).over(keyOrder))
      .withColumn("prev_us", lag(unix_micros(col("date")), 1).over(keyOrder))
      .withColumn("res",
        when(col("kind") === "insert" && col("prev_kind") === "delete", 1L).otherwise(0L))
      .withColumn("gap_s",
        when(col("res") === 1L, expr("(unix_micros(date) - prev_us) div 1000000")))
    val perKey = ops.groupBy("branch", "published", "id")
      .agg(max(when(col("kind") === "delete", 1L).otherwise(0L)).as("has_delete"),
        sum("res").as("n_res"), max("gap_s").as("max_gap_s"))
    perKey.groupBy("branch", "published")
      .agg(count(lit(1)).as("n_keys"),
        sum("has_delete").as("n_deleted_keys"),
        sum(when(col("n_res") > 0, 1L).otherwise(0L)).as("n_resurrected_keys"),
        sum("n_res").as("n_resurrections"),
        max("max_gap_s").as("worst_gap_s"),
        expr("max_by(struct(id, n_res), struct(n_res, id))").as("w"))
      .select(col("branch"), col("published"), col("n_keys"), col("n_deleted_keys"),
        col("n_resurrected_keys"), col("n_resurrections"), col("worst_gap_s"),
        when(col("n_resurrections") > 0, col("w.id")).as("worst_id"))
      .orderBy("branch", "published")
  }

  private def q213(s: SparkSession, d: String): DataFrame =
    resurrectionAudit(envelope(s))

  private def q213Sql = Fixture.valuesCte +
    """
      |, oo AS (SELECT id, branch, published, seq, date,
      |    string_split(operation, '-')[1] AS kind FROM ops
      |  WHERE operation LIKE 'insert%' OR operation LIKE 'delete%'),
      |v AS (SELECT *, lag(kind) OVER win AS prev_kind,
      |   lag(epoch_us(date)) OVER win AS prev_us
      |  FROM oo WINDOW win AS (PARTITION BY id, branch, published ORDER BY date, seq)),
      |r AS (SELECT branch, published, id, kind,
      |   CASE WHEN kind = 'insert' AND prev_kind = 'delete' THEN 1 ELSE 0 END AS res,
      |   CASE WHEN kind = 'insert' AND prev_kind = 'delete'
      |        THEN (epoch_us(date) - prev_us) // 1000000 END AS gap_s FROM v),
      |k AS (SELECT branch, published, id,
      |   max(CASE WHEN kind = 'delete' THEN 1 ELSE 0 END) AS has_delete,
      |   sum(res) AS n_res, max(gap_s) AS max_gap_s
      |  FROM r GROUP BY 1, 2, 3),
      |w1 AS (SELECT *, row_number() OVER (PARTITION BY branch, published
      |                                    ORDER BY n_res DESC, id DESC) AS rn FROM k),
      |g AS (SELECT branch, published, count(*) AS n_keys,
      |   sum(has_delete) AS n_deleted_keys,
      |   sum(CASE WHEN n_res > 0 THEN 1 ELSE 0 END) AS n_resurrected_keys,
      |   sum(n_res) AS n_resurrections, max(max_gap_s) AS worst_gap_s
      |  FROM k GROUP BY 1, 2)
      |SELECT g.branch, g.published, CAST(n_keys AS BIGINT) AS n_keys,
      | CAST(n_deleted_keys AS BIGINT) AS n_deleted_keys,
      | CAST(n_resurrected_keys AS BIGINT) AS n_resurrected_keys,
      | CAST(n_resurrections AS BIGINT) AS n_resurrections,
      | CAST(worst_gap_s AS BIGINT) AS worst_gap_s,
      | CASE WHEN n_resurrections > 0 THEN rr.id END AS worst_id
      |FROM g JOIN (SELECT * FROM w1 WHERE rn = 1) rr USING (branch, published)
      |ORDER BY branch, published""".stripMargin

  // q161: BODY FIELD-DIFF — "extract the current state of certain content
  // as it changes" (user-guide.md:3) at FIELD grain: which body fields
  // changed between consecutive versions of each document key, with
  // old/new values and an added/removed/changed verdict. The oracle
  // rebuilds the same body JSON from the VALUES columns and runs the
  // identical generic key-set diff in DuckDB's json functions — so the
  // hash certifies the whole json_object_keys/extract pipeline, not a
  // per-column special case.
  private def q161(s: SparkSession, d: String): DataFrame =
    bodyDiff(envelopeWithBody(s))
      .orderBy("id", "branch", "published", "seq", "field")

  private def q161Sql = Fixture.valuesCte +
    """
      |, ins AS (SELECT id, branch, published, seq, date,
      |    json_object('_id', id, 'headline', headline, 'word_count', word_count,
      |                'verb', 'insert') AS body
      |  FROM ops WHERE operation LIKE 'insert%'),
      |v AS (SELECT *, lag(body) OVER (PARTITION BY id, branch, published
      |                                ORDER BY date, seq) AS prev_body FROM ins),
      |p AS (SELECT * FROM v WHERE prev_body IS NOT NULL),
      |k AS (SELECT id, branch, published, seq, prev_body, body,
      |   unnest(list_sort(list_distinct(json_keys(prev_body) || json_keys(body)))) AS field
      |  FROM p),
      |d AS (SELECT id, branch, published, seq, field,
      |   json_extract_string(prev_body, '$.' || field) AS old_val,
      |   json_extract_string(body, '$.' || field) AS new_val
      |  FROM k)
      |SELECT id, branch, published, seq, field, old_val, new_val,
      | CASE WHEN old_val IS NULL THEN 'added' WHEN new_val IS NULL THEN 'removed'
      |      ELSE 'changed' END AS kind
      |FROM d WHERE old_val IS DISTINCT FROM new_val
      |ORDER BY id, branch, published, seq, field""".stripMargin

  /** The generic cascade core behind q162: referent updates as a
    * document-id graph. Edges are `trigger.id → id` (user-guide.md:88-102
    * — the update to the TRIGGER document caused the AFFECTED document to
    * update), self-loops excluded (those are direct edits, not cascades).
    * First a distinct-EDGE reduction with event counts — the q130 idiom:
    * everything downstream runs at edge grain (bounded by the document
    * graph), never at event grain, so the one self-join on the midpoint
    * is over the reduced frame. 2-hop reach excludes the source itself
    * (an A→B→A cycle is not "A reaches A"). */
  def triggerCascade(env: DataFrame): DataFrame = {
    val edges = graft.Caches.persist(
      env.filter(col("referent_update") && col("trg_id") =!= col("id"))
        .groupBy(col("trg_id").as("src"), col("id").as("dst"))
        .agg(count(lit(1)).as("n_ev")))
    val hop2 = edges.select(col("src"), col("dst").as("mid"))
      .join(edges.select(col("src").as("mid"), col("dst").as("dst2")), Seq("mid"))
      .filter(col("dst2") =!= col("src"))
      .groupBy("src").agg(countDistinct("dst2").as("n_2hop"))
    edges.groupBy("src")
      .agg(sum("n_ev").as("n_events"), count(lit(1)).as("n_affected"))
      .join(hop2, Seq("src"), "left").na.fill(0L, Seq("n_2hop"))
      .select(col("src").as("trigger_id"), col("n_events"),
        col("n_affected"), col("n_2hop"))
  }

  // q162: TRIGGER-CASCADE FAN-OUT — the reference-domain graph the
  // user-guide's trigger metadata describes (:88-102): which documents,
  // when edited, fan out into how many downstream updates — and how far
  // the ripple reaches at two hops (an image updates a gallery, the
  // gallery updates its embedding stories). Per trigger doc: events
  // triggered, distinct directly-affected docs, distinct 2-hop reach.
  private def q162(s: SparkSession, d: String): DataFrame =
    triggerCascade(envelope(s)).orderBy("trigger_id")

  private def q162Sql = Fixture.valuesCte +
    """
      |, ed AS (SELECT trg_id AS src, id AS dst, count(*) AS n_ev FROM ops
      |  WHERE referent_update AND trg_id <> id GROUP BY 1, 2),
      |h2 AS (SELECT e1.src, count(DISTINCT e2.dst) AS n_2hop
      |  FROM ed e1 JOIN ed e2 ON e1.dst = e2.src AND e2.dst <> e1.src
      |  GROUP BY 1),
      |agg AS (SELECT src, CAST(sum(n_ev) AS BIGINT) AS n_events,
      |   count(*) AS n_affected FROM ed GROUP BY 1)
      |SELECT agg.src AS trigger_id, n_events, n_affected,
      | coalesce(n_2hop, CAST(0 AS BIGINT)) AS n_2hop
      |FROM agg LEFT JOIN h2 ON agg.src = h2.src
      |ORDER BY trigger_id""".stripMargin

  // q169: STALE-ARRIVAL AUDIT — the reference's #1 documented trap
  // (user-guide.md:125-139: state only advances on a STRICTLY newer
  // record) measured instead of just guarded against: per (branch,
  // published) copy class, how many ops arrive (in wire seq order)
  // already OLDER than their key's event-time high-water mark — the
  // records the latest-state fold must silently discard — how many keys
  // see at least one, and the worst time regression. This is the
  // operational dashboard for A16's ordering rule: a rising stale count
  // means upstream shard fan-in is reordering harder and any consumer
  // NOT folding by (date, seq) is now corrupting state. The per-key
  // running max runs over the composite-key window — bounded by
  // versions-per-key (the per-key fold's own cardinality), never
  // corpus-wide, so no block decomposition is needed here.
  private def q169(s: SparkSession, d: String): DataFrame =
    staleArrivals(envelope(s))

  /** q169 core over any envelope-shaped frame (`seq, date, id, branch,
    * published`) — separated so specs can plant stale arrivals the
    * fixture (whose seq order happens to agree with event time) lacks. */
  def staleArrivals(env: DataFrame): DataFrame = {
    val w = byKey.orderBy("seq").rowsBetween(Window.unboundedPreceding, -1)
    env
      .withColumn("us", unix_micros(col("date")))
      .withColumn("hwm", max("us").over(w))
      .withColumn("stale", col("hwm") > col("us"))
      .groupBy("branch", "published")
      .agg(count(lit(1)).as("n_ops"),
        sum(when(col("stale"), 1L).otherwise(0L)).as("n_stale"),
        countDistinct(when(col("stale"), col("id"))).as("n_keys_affected"),
        coalesce(max(when(col("stale"), expr("(hwm - us) div 1000"))), lit(0L))
          .as("max_regression_ms"))
      .orderBy("branch", "published")
  }

  private def q169Sql = Fixture.valuesCte +
    """
      |, h AS (SELECT branch, published, id, epoch_us(date) AS us,
      |   max(epoch_us(date)) OVER (PARTITION BY id, branch, published
      |     ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM ops),
      |f AS (SELECT branch, published, id, us, hwm,
      |   CASE WHEN hwm > us THEN 1 ELSE 0 END AS stale FROM h)
      |SELECT branch, published, count(*) AS n_ops,
      | CAST(sum(stale) AS BIGINT) AS n_stale,
      | CAST(count(DISTINCT CASE WHEN stale = 1 THEN id END) AS BIGINT)
      |   AS n_keys_affected,
      | CAST(coalesce(max(CASE WHEN stale = 1 THEN (hwm - us) // 1000 END), 0) AS BIGINT)
      |   AS max_regression_ms
      |FROM f GROUP BY 1, 2 ORDER BY branch, published""".stripMargin

  // q171: STORAGE-MODE ADVISOR (copy-on-write vs merge-on-read) — the
  // q138/q150/q165 advisor family applied to the changelog itself: a
  // latest-state table materialized from this feed pays COW rewrite cost
  // proportional to update frequency but reads clean; MOR writes deltas
  // cheaply but every read merges the version chain. The decision input
  // is exactly the churn profile per (branch, published) copy class:
  // keys, ops, updates-per-key (milli), and the longest version chain
  // (worst-case MOR merge width). Advice rule, documented not hidden:
  // ≤ 1500 milli-updates/key (most keys written ~once) → COW; above →
  // MOR. Two grouped aggregations, key-grain then class-grain — the
  // second over ≤ |classes| rows.
  private def q171(s: SparkSession, d: String): DataFrame =
    storageMode(envelope(s))

  /** q171 core over any envelope-shaped frame — separated for planted
    * churn in specs (the q169 [[staleArrivals]] precedent). */
  def storageMode(env: DataFrame): DataFrame =
    env.groupBy(docKey.map(col): _*)
      .agg(count(lit(1)).as("versions"))
      .groupBy("branch", "published")
      .agg(count(lit(1)).as("n_keys"), sum("versions").as("n_ops"),
        max("versions").as("max_versions"))
      .withColumn("updates_per_key_milli", expr("n_ops * 1000 div n_keys"))
      .withColumn("advice",
        when(col("updates_per_key_milli") <= 1500L, "copy-on-write")
          .otherwise("merge-on-read"))
      .select("branch", "published", "n_keys", "n_ops", "max_versions",
        "updates_per_key_milli", "advice")
      .orderBy("branch", "published")

  private def q171Sql = Fixture.valuesCte +
    """
      |, k AS (SELECT branch, published, id, count(*) AS versions
      |  FROM ops GROUP BY 1, 2, 3),
      |c AS (SELECT branch, published, count(*) AS n_keys,
      |   CAST(sum(versions) AS BIGINT) AS n_ops,
      |   CAST(max(versions) AS BIGINT) AS max_versions
      |  FROM k GROUP BY 1, 2)
      |SELECT branch, published, n_keys, n_ops, max_versions,
      | n_ops * 1000 // n_keys AS updates_per_key_milli,
      | CASE WHEN n_ops * 1000 // n_keys <= 1500 THEN 'copy-on-write'
      |      ELSE 'merge-on-read' END AS advice
      |FROM c ORDER BY branch, published""".stripMargin

  // q173: DRAFT-PUBLISHED DRIFT — the duality at the heart of the data
  // model (user-guide.md:78-82: draft and published copies co-exist as
  // DISTINCT entities) measured as an editorial-operations report: per
  // (id, branch), the latest surviving draft state vs the latest
  // surviving published state — which documents have a draft ahead of
  // their published copy (pending edits), by how long, and whether the
  // two copies' visible fields (headline, word_count) currently
  // disagree. Builds on q52's latest-state fold ([[latest]], the
  // (date, seq) A16 order, delete-tombstone drop), run once over
  // BOTH copy classes and self-joined on (id, branch) — a key-keyed
  // hash join of two already-collapsed frames, each ≤ one row per copy.
  // Classes: 'in_sync' (both exist, fields agree, draft not newer),
  // 'pending_edits' (draft strictly newer), 'field_divergence' (same
  // recency but fields differ), 'draft_only' / 'published_only'.
  private def q173(s: SparkSession, d: String): DataFrame = {
    val live = latest(envelope(s))
      .filter(!col("deleted"))
      .select(col("id"), col("branch"), col("published"),
        col("last.date").as("dt"), col("last.headline").as("h"),
        col("last.word_count").as("wc"))
    val draft = live.filter(!col("published"))
      .select(col("id"), col("branch"), col("dt").as("d_dt"),
        col("h").as("d_h"), col("wc").as("d_wc"))
    val pub = live.filter(col("published"))
      .select(col("id"), col("branch"), col("dt").as("p_dt"),
        col("h").as("p_h"), col("wc").as("p_wc"))
    draft.join(pub, Seq("id", "branch"), "full_outer")
      .withColumn("status",
        when(col("p_dt").isNull, "draft_only")
          .when(col("d_dt").isNull, "published_only")
          .when(unix_micros(col("d_dt")) > unix_micros(col("p_dt")), "pending_edits")
          .when(col("d_h") =!= col("p_h") || col("d_wc") =!= col("p_wc"),
            "field_divergence")
          .otherwise("in_sync"))
      .withColumn("drift_ms",
        when(col("d_dt").isNotNull && col("p_dt").isNotNull &&
            unix_micros(col("d_dt")) > unix_micros(col("p_dt")),
          expr("(unix_micros(d_dt) - unix_micros(p_dt)) div 1000")).otherwise(0L))
      .groupBy("branch", "status")
      .agg(count(lit(1)).as("n_docs"), max("drift_ms").as("max_drift_ms"))
      .orderBy("branch", "status")
  }

  private def q173Sql = Fixture.valuesCte +
    """
      |, latest AS (SELECT id, branch, published, date AS dt, headline AS h,
      |   word_count AS wc
      |  FROM (SELECT *, row_number() OVER (PARTITION BY id, branch, published
      |     ORDER BY date DESC, seq DESC) AS rn FROM ops)
      |  WHERE rn = 1 AND operation NOT LIKE 'delete%'),
      |d AS (SELECT id, branch, dt AS d_dt, h AS d_h, wc AS d_wc
      |  FROM latest WHERE NOT published),
      |p AS (SELECT id, branch, dt AS p_dt, h AS p_h, wc AS p_wc
      |  FROM latest WHERE published),
      |j AS (SELECT coalesce(d.id, p.id) AS id, coalesce(d.branch, p.branch) AS branch,
      |   d_dt, d_h, d_wc, p_dt, p_h, p_wc
      |  FROM d FULL OUTER JOIN p ON d.id = p.id AND d.branch = p.branch),
      |c AS (SELECT branch,
      |   CASE WHEN p_dt IS NULL THEN 'draft_only'
      |        WHEN d_dt IS NULL THEN 'published_only'
      |        WHEN epoch_us(d_dt) > epoch_us(p_dt) THEN 'pending_edits'
      |        WHEN d_h <> p_h OR d_wc <> p_wc THEN 'field_divergence'
      |        ELSE 'in_sync' END AS status,
      |   CASE WHEN d_dt IS NOT NULL AND p_dt IS NOT NULL
      |         AND epoch_us(d_dt) > epoch_us(p_dt)
      |        THEN (epoch_us(d_dt) - epoch_us(p_dt)) // 1000 ELSE 0 END AS drift_ms
      |  FROM j)
      |SELECT branch, status, count(*) AS n_docs,
      | CAST(max(drift_ms) AS BIGINT) AS max_drift_ms
      |FROM c GROUP BY 1, 2 ORDER BY branch, status""".stripMargin

  // q177: CHECKPOINT-CADENCE ADVISOR — the q168/q175 "derive the whole
  // knob curve, don't guess the knob" discipline applied to the ingest
  // pipeline's own durability setting: a latest-state consumer (A10)
  // that checkpoints every N changelog ops pays replay cost ≤ N on
  // failure but re-materializes every key touched in each N-block
  // (write amplification). Per candidate interval {8, 32, 128}: block
  // count, worst replay, total state writes, worst per-block key fan-out,
  // and writes-per-op permille — the two axes of the tradeoff as exact
  // integers. The interval grid needs a per-block DISTINCT-key count, so
  // the curve can't collapse into one aggregate like q168's; instead the
  // changelog explodes ×|grid| into (interval, block, key) tuples — a
  // bounded 3× inflation of narrow keys through one partial-agg'd
  // shuffle, fine at changelog scale because the changelog is the
  // SMALLEST relation in the system (ops, not documents). The block
  // ordinal derives from the zero-padded seq, numeric at fixture width;
  // on real 56-digit Kinesis seqs (not BIGINT-representable) the
  // consumer's shard-local arrival ordinal plays this role instead.
  private def q177(s: SparkSession, d: String): DataFrame =
    checkpointCadence(envelope(s))

  /** q177 core over any envelope-shaped frame (`seq, id, branch,
    * published`) — separated so specs can plant known block layouts (the
    * q169 [[staleArrivals]] precedent). */
  def checkpointCadence(env: DataFrame): DataFrame = {
    val intervals = Seq(8, 32, 128)
    env
      .select(col("seq"), concat_ws("|", col("id"), col("branch"),
        col("published").cast("string")).as("key"))
      .withColumn("iv", explode(array(intervals.map(i => lit(i.toLong)): _*)))
      .withColumn("blk", expr("cast(seq as bigint) div iv"))
      .groupBy("iv", "blk")
      .agg(count(lit(1)).as("n_ops"), countDistinct(col("key")).as("n_keys"))
      .groupBy("iv")
      .agg(count(lit(1)).as("n_blocks"),
        sum("n_ops").as("n_ops"),
        max("n_ops").as("max_replay_ops"),
        sum("n_keys").as("state_writes"),
        max("n_keys").as("max_keys_per_block"))
      .select(col("iv").as("ckpt_interval"), col("n_blocks"), col("max_replay_ops"),
        col("state_writes"), col("max_keys_per_block"),
        expr("state_writes * 1000 div n_ops").as("writes_per_op_permille"))
      .orderBy("ckpt_interval")
  }

  // q192: SELECTIVE-REPLAY AMPLIFICATION — the reference's recovery story
  // is "re-read the stream" (shard + sequence range is the only seek the
  // transport offers), so replaying one DAY of changes costs whatever
  // else interleaves inside that day's per-shard [min seq, max seq]
  // envelope. Per (shard, day): the ops the replay WANTS, the seq range
  // it must SCAN, and amplification_milli = scanned·1000 div wanted
  // (1000 = the day is seq-contiguous on that shard; higher = foreign
  // days interleave and a day-grain backfill over-reads). This is the
  // q177 discipline (price the operational knob from the changelog
  // itself) for the OTHER recovery axis: q177 prices checkpoint replay,
  // this prices range-scan backfill — together they say whether to
  // checkpoint more or re-shard by date. Shape: one grouped collapse to
  // the bounded (shard, day) grid, then the grid broadcasts back against
  // the changelog — shard equality is the hash key, the seq-range pair
  // rides as a post-join filter, so no range-join blow-up exists; both
  // passes are changelog-scale (the system's smallest relation).
  private def q192(s: SparkSession, d: String): DataFrame =
    replayAmplification(envelope(s))

  /** q192 core over any envelope-shaped frame (`shard, seq, date`) —
    * separated so specs can plant known interleavings. */
  def replayAmplification(env: DataFrame): DataFrame = {
    val base = replayBase(env)
    graft.Caches.persist(base)
    val wins = base.groupBy("shard", "day")
      .agg(count(lit(1)).as("window_ops"),
        min("seqn").as("seq_lo"), max("seqn").as("seq_hi"))
    amplificationFrom(wins, base)
  }

  /** The (shard, seqn, day) projection both q192 passes read. */
  def replayBase(env: DataFrame): DataFrame =
    env.select(col("shard").cast("long").as("shard"),
      expr("cast(seq as bigint)").as("seqn"),
      date_trunc("day", col("date")).as("day"))

  /** q192's closing pass from an ALREADY-BUILT (shard, day, window_ops,
    * seq_lo, seq_hi) grid — the grid `streaming/ReplayStream` maintains
    * incrementally (count/min/max merge is associative, so the
    * stream-maintained grid equals the batch grid exactly and this
    * closing join is stream ≡ batch by construction). */
  def amplificationFrom(wins: DataFrame, base: DataFrame): DataFrame = {
    val scanned = base.alias("o").join(wins.hint("broadcast").alias("w"),
        col("o.shard") === col("w.shard") &&
          col("o.seqn") >= col("w.seq_lo") && col("o.seqn") <= col("w.seq_hi"))
      .groupBy(col("w.shard").as("shard"), col("w.day").as("day"))
      .agg(count(lit(1)).as("scanned_ops"))
    wins.join(scanned, Seq("shard", "day"))
      .select(col("shard"), col("day"), col("window_ops"),
        col("seq_lo"), col("seq_hi"), col("scanned_ops"),
        expr("scanned_ops * 1000 div window_ops").as("amplification_milli"))
      .orderBy("shard", "day")
  }

  private def q192Sql = Fixture.valuesCte +
    """
      |, b AS (SELECT CAST(shard AS BIGINT) AS shard, CAST(seq AS BIGINT) AS seqn,
      |   CAST(date_trunc('day', date) AS TIMESTAMP) AS day FROM ops),
      |w AS (SELECT shard, day, count(*) AS window_ops, min(seqn) AS seq_lo,
      |   max(seqn) AS seq_hi FROM b GROUP BY 1, 2),
      |sc AS (SELECT w.shard, w.day, count(*) AS scanned_ops
      |  FROM b o JOIN w ON o.shard = w.shard
      |   AND o.seqn BETWEEN w.seq_lo AND w.seq_hi
      |  GROUP BY 1, 2)
      |SELECT w.shard, w.day, CAST(window_ops AS BIGINT) AS window_ops,
      | seq_lo, seq_hi, CAST(scanned_ops AS BIGINT) AS scanned_ops,
      | CAST(scanned_ops * 1000 // window_ops AS BIGINT) AS amplification_milli
      |FROM w JOIN sc ON w.shard = sc.shard AND w.day = sc.day
      |ORDER BY w.shard, w.day""".stripMargin

  private def q177Sql = Fixture.valuesCte +
    """
      |, e AS (SELECT seq, id || '|' || branch || '|' || published AS key,
      |   unnest([8, 32, 128]) AS iv
      |  FROM ops),
      |b AS (SELECT iv, CAST(seq AS BIGINT) // iv AS blk, count(*) AS n_ops,
      |   count(DISTINCT key) AS n_keys
      |  FROM e GROUP BY 1, 2),
      |c AS (SELECT iv, count(*) AS n_blocks, sum(n_ops) AS n_ops,
      |   max(n_ops) AS max_replay_ops, sum(n_keys) AS state_writes,
      |   max(n_keys) AS max_keys_per_block
      |  FROM b GROUP BY 1)
      |SELECT CAST(iv AS BIGINT) AS ckpt_interval, n_blocks,
      | CAST(max_replay_ops AS BIGINT) AS max_replay_ops,
      | CAST(state_writes AS BIGINT) AS state_writes,
      | CAST(max_keys_per_block AS BIGINT) AS max_keys_per_block,
      | CAST(state_writes * 1000 // n_ops AS BIGINT) AS writes_per_op_permille
      |FROM c ORDER BY ckpt_interval""".stripMargin

  // q365: ANS-SCHEMA FIDELITY GATE (r14 verdict task 6) — the reference
  // pins the envelope to the ANS 0.6.1 `content_operation.json` schema
  // (`/root/reference/docs/user-guide.md:56`); the A6 filter only checks
  // the `type` discriminator, so a record that IS a content-operation but
  // violates the schema (bad operation enum, missing document-key member,
  // out-of-enum trigger priority) flows silently into every downstream
  // query. This is the reason-coded audit (the q92 gate shape) over the
  // FULL wire tape + malformed specimens: first-fail classification
  //   fetch_failed → not_content_operation → missing_required →
  //   bad_operation (verb×ctype ∉ insert|delete × story|gallery|video|
  //   redirect, user-guide.md:70-72) → bad_priority (∉ ingestion|standard,
  //   :106) → ok
  // run on the RAW resolved JSON (before any projection), so the gate
  // certifies the decode path itself. At 100 TB this is one row-local
  // CASE over the ingest scan + a 6-row partial-agg — free.
  private val opEnum = (for {
    v <- Seq("insert", "delete"); t <- Seq("story", "gallery", "video", "redirect")
  } yield s"'$v-$t'").mkString(", ")

  /** The nine fields the gate checks, all read as strings: a string field
    * holds any JSON value's text, as a `$.field` path lookup returns it,
    * and null for an absent member or a JSON `null`. */
  private val ansGateSchema = StructType(
    Seq("type", "organization_id", "operation", "date", "id", "branch",
      "published", "created").map(StructField(_, StringType)) :+
      StructField("trigger", StructType(Seq(StructField("priority", StringType)))))

  /** The gate's first-fail reason coding over the resolved raw JSON `raw`
    * and its one parse `j` — one row-local CASE, shared verbatim by the
    * batch audit (q365) and the streaming wire stage ([[ansGate]]) so the
    * two classifications cannot drift.
    */
  private val ansGateReasonCase =
    s"""CASE
       | WHEN raw IS NULL THEN 'fetch_failed'
       | WHEN j.type IS NULL OR j.type <> 'content-operation'
       |  THEN 'not_content_operation'
       | WHEN j.organization_id IS NULL OR j.operation IS NULL OR j.date IS NULL
       |   OR j.id IS NULL OR j.branch IS NULL OR j.published IS NULL
       |   OR j.created IS NULL
       |  THEN 'missing_required'
       | WHEN j.operation NOT IN ($opEnum)
       |  THEN 'bad_operation'
       | WHEN j.trigger.priority IS NOT NULL
       |   AND j.trigger.priority NOT IN ('ingestion', 'standard')
       |  THEN 'bad_priority'
       | ELSE 'ok'
       |END""".stripMargin

  /** ANS-schema gate as a WIRE-PATH STAGE (r15 verdict task 6): takes a
    * (possibly streaming) wire frame `(shard, seq, payload)` — the same
    * shape `FixtureKinesisSource`/`WireSource` emit — and returns each
    * record's `(shard, seq, raw, skip_reason)` from the envelope's own
    * resolve stage plus its first-fail `reason`. Everything is row-local
    * (codegen gzip + the resolve window + one parse + one CASE),
    * so the stage composes into a Structured Streaming micro-batch with no
    * state and no mode constraint; its production seat is right after
    * the Kinesis read, tagging records BEFORE the A6 filter so schema
    * violations are observable instead of silently dropped
    * (`/root/reference/docs/user-guide.md:56-110`). StreamingSpec pins
    * stream==batch convergence against q365.
    */
  def ansGate(s: SparkSession, wire: DataFrame): DataFrame =
    resolved(wire)
      .withColumn("j", from_json(col("raw"), ansGateSchema))
      .withColumn("reason", expr(ansGateReasonCase))
      .drop("j")

  private def q365(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ansGate(s, s.createDataset(Fixture.auditWireRecords).toDF())
      .groupBy("reason")
      .agg(count(lit(1)).as("n"), min("seq").as("first_seq"))
      .orderBy("reason")
  }

  private def q365Sql = Fixture.auditValuesCte +
    s"""
       |, cls AS (SELECT seq, CASE
       |  WHEN NOT fetched THEN 'fetch_failed'
       |  WHEN typ IS NULL OR typ <> 'content-operation'
       |   THEN 'not_content_operation'
       |  WHEN organization_id IS NULL OR operation IS NULL OR NOT has_date
       |    OR id IS NULL OR branch IS NULL OR NOT has_published
       |    OR NOT has_created THEN 'missing_required'
       |  WHEN operation NOT IN ($opEnum) THEN 'bad_operation'
       |  WHEN priority IS NOT NULL AND priority NOT IN ('ingestion', 'standard')
       |   THEN 'bad_priority'
       |  ELSE 'ok' END AS reason
       | FROM recs)
       |SELECT reason, count(*) AS n, min(seq) AS first_seq
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q365_ans_schema_gate" -> (q365 _),
    "q177_checkpoint_cadence" -> (q177 _),
    "q192_replay_amplification" -> (q192 _),
    "q173_draft_published_drift" -> (q173 _),
    "q171_storage_mode" -> (q171 _),
    "q169_stale_arrival_audit" -> (q169 _),
    "q162_trigger_cascade" -> (q162 _),
    "q161_body_field_diff" -> (q161 _),
    "q211_noop_republish" -> (q211 _),
    "q213_resurrection_audit" -> (q213 _),
    "q80_scd2_versions" -> (q80 _),
    "q65_variant_body" -> (q65 _),
    "q50_envelope_parse" -> (q50 _),
    "q51_operation_kinds" -> (q51 _),
    "q52_latest_state" -> (q52 _),
    "q53_publish_proxy" -> (q53 _),
    "q54_publish_transitions" -> (q54 _),
    "q55_direct_vs_referent" -> (q55 _),
    "q56_trigger_profile" -> (q56 _),
    "q57_publish_analytics" -> (q57 _),
    "q58_state_extraction" -> (q58 _))

  override val oracles: Map[String, String] = Map(
    "q365_ans_schema_gate" -> q365Sql,
    "q177_checkpoint_cadence" -> q177Sql,
    "q192_replay_amplification" -> q192Sql,
    "q173_draft_published_drift" -> q173Sql,
    "q171_storage_mode" -> q171Sql,
    "q169_stale_arrival_audit" -> q169Sql,
    "q162_trigger_cascade" -> q162Sql,
    "q161_body_field_diff" -> q161Sql,
    "q211_noop_republish" -> q211Sql,
    "q213_resurrection_audit" -> q213Sql,
    "q80_scd2_versions" -> q80Sql,
    "q65_variant_body" -> q65Sql,
    "q50_envelope_parse" -> q50Sql,
    "q51_operation_kinds" -> q51Sql,
    "q52_latest_state" -> q52Sql,
    "q53_publish_proxy" -> q53Sql,
    "q54_publish_transitions" -> q54Sql,
    "q55_direct_vs_referent" -> q55Sql,
    "q56_trigger_profile" -> q56Sql,
    "q57_publish_analytics" -> q57Sql,
    "q58_state_extraction" -> q58Sql)
}
