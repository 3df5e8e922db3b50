package graft.contentops

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Deterministic content-operation fixture derived from the reference spec
  * (`/root/reference/docs/user-guide.md`): the envelope schema (:56-114),
  * the golden draft/published interleaving from the Gotchas section
  * (:125-139), upsert/delete semantics (:72), trigger classification
  * (:88-110), and the wire format — gzip on every record, S3-indirection
  * for some records regardless of size, broken fetches skipped (:17-44).
  *
  * The SAME op list renders three ways: (a) wire records (gzipped inline
  * payloads, gzipped pre-signed-URL indirections backed by an in-memory
  * object store, and broken URLs that must be skipped); (b) the expected
  * envelope rows the Spark pipeline must produce; (c) a SQL VALUES literal
  * the DuckDB oracle starts from — so the oracle certifies the whole
  * decode→resolve→parse path end-to-end without needing gzip in SQL.
  */
object Fixture {

  case class Op(
      seq: Long, shard: Int, org: String, operation: String, date: Instant,
      id: String, branch: String, published: Boolean, created: Boolean,
      trgType: String, trgId: String, referent: Boolean, priority: String,
      appName: String, headline: String, wordCount: Int)

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val sqlFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private val contentTypes = Vector("story", "gallery", "video", "redirect")
  private val appNames = Vector("composer", "ellipsis", "ingest-wire", "photo-center")
  private val orgs = Vector("washpost", "herald")

  /** The full deterministic op stream: the 5-record golden sequence
    * (user-guide.md:125-135), an explicit publish→unpublish delete pair,
    * then ~300 seeded ops over 40 document ids. `created` is maintained
    * per composite key (id, branch, published) — the reference's
    * "first insert for a previously-absent key" semantics (:84-86). */
  lazy val ops: Vector[Op] = {
    val rnd = new scala.util.Random(42)
    val buf = Vector.newBuilder[Op]
    val live = scala.collection.mutable.Set[(String, String, Boolean)]()
    var seq = 0L
    var t = Instant.parse("2024-03-01T00:00:00Z")

    def shardOf(id: String): Int = math.abs(id.hashCode) % 4

    def emit(org: String, verb: String, ctype: String, id: String, branch: String,
             published: Boolean, trgType: String, trgId: String, referent: Boolean,
             priority: String, appName: String): Unit = {
      val key = (id, branch, published)
      val created = verb == "insert" && !live.contains(key)
      if (verb == "insert") live += key else live -= key
      buf += Op(seq, shardOf(id), org, s"$verb-$ctype", t, id, branch, published, created,
        trgType, trgId, referent, priority, appName,
        headline = s"$ctype $id rev $seq", wordCount = 100 + (math.abs((seq * 37 + id.length * 13) % 900)).toInt)
      seq += 1
      // event time advances 0..120 min with occasional backwards jitter —
      // per-shard arrival order is NOT per-key event order (user-guide.md:13).
      t = t.plusSeconds(rnd.nextInt(7200).toLong - 180L)
    }

    // Golden sequence (user-guide.md:125-135): one id, draft and published
    // copies interleaved; correct reading = two independent latest-states.
    Seq(false, true, true, false, true).foreach { pub =>
      emit("washpost", "insert", "story", "ABC", "default", pub,
        "story", "ABC", referent = false, "standard", "composer")
    }
    // Publish→unpublish pair (proxy rules, user-guide.md:145).
    emit("washpost", "insert", "story", "XYZ", "default", published = true,
      "story", "XYZ", referent = false, "standard", "composer")
    emit("washpost", "delete", "story", "XYZ", "default", published = true,
      "story", "XYZ", referent = false, "standard", "composer")

    // Seeded bulk stream.
    val ids = (1 to 40).map(i => f"DOC$i%03d")
    (0 until 300).foreach { _ =>
      val org = orgs(rnd.nextInt(orgs.length))
      val ctype = contentTypes(rnd.nextInt(contentTypes.length))
      val id = ids(rnd.nextInt(ids.length))
      val branch = if (rnd.nextInt(10) == 0) "v2" else "default"
      val published = rnd.nextBoolean()
      val key = (id, branch, published)
      val verb = if (live.contains(key) && rnd.nextInt(100) < 15) "delete" else "insert"
      val referent = rnd.nextInt(100) < 30
      val (trgType, trgId) =
        if (referent) ("image", ids(rnd.nextInt(ids.length)))
        else (ctype, id)
      val priority = if (rnd.nextInt(100) < 20) "ingestion" else "standard"
      val appName = appNames(rnd.nextInt(appNames.length))
      emit(org, verb, ctype, id, branch, published, trgType, trgId, referent, priority, appName)
    }
    buf.result()
  }

  /** Wire-path placement: every 7th record is S3-indirected ("some number
    * of updates are randomly saved to S3 regardless of payload size",
    * user-guide.md:17); a deterministic subset of those has a broken URL
    * (fetch fails ⇒ record skipped, user-guide.md:36-39). */
  def isIndirect(seq: Long): Boolean = seq % 7 == 3
  def isBroken(seq: Long): Boolean = seq % 49 == 17
  // Only an S3-indirected record can be lost to a broken URL. With the
  // current moduli every broken seq is also indirect (17 ≡ 3 mod 7), but
  // requiring both keeps `expected` in sync with the pipeline if either
  // modulus ever changes (ContentOpsSpec pins the invariant).
  def isLost(op: Op): Boolean = isIndirect(op.seq) && isBroken(op.seq)

  /** Envelope rows the pipeline must output = all ops minus broken-URL ones. */
  lazy val expected: Vector[Op] = ops.filterNot(isLost)

  // ---- wire rendering ----

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  /** The one gzip read loop: [[graft.functions.GzipDecode]] (the A2
    * decode) and the resolve paths call it. Throws on malformed input. */
  def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(b))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** The ANS content-operation envelope as wire JSON (user-guide.md:56-114);
    * `body` is a nested open-schema document kept small here. */
  def envelopeJson(o: Op): String = {
    val verb = o.operation.takeWhile(_ != '-')
    s"""{"type":"content-operation","organization_id":"${o.org}","operation":"${o.operation}",""" +
      s""""date":"${isoFmt.format(o.date)}","id":"${o.id}","branch":"${o.branch}",""" +
      s""""published":${o.published},"created":${o.created},""" +
      s""""trigger":{"type":"${o.trgType}","id":"${o.trgId}","referent_update":${o.referent},""" +
      s""""priority":"${o.priority}","app_name":"${o.appName}"},""" +
      s""""body":{"_id":"${o.id}","headline":"${o.headline}","word_count":${o.wordCount},"verb":"$verb"}}"""
  }

  /** The engine's wire contract for `seq` (see graft.streaming.WireSource):
    * a FIXED-WIDTH decimal STRING, so lexicographic order is numeric order
    * per shard. Kinesis sequence numbers are natively 56-digit fixed-width
    * decimals (they overflow BIGINT, so a numeric seq is not even
    * representable on real data); the fixture renders its compact op ids
    * at width 6 to honor the same contract. */
  def seqStr(seq: Long): String = f"$seq%06d"

  case class WireRecord(shard: Int, seq: String, payload: Array[Byte])

  private val StoreRoot = "https://fixture-store/"

  /** A URL on the object store's host, which [[HttpResolver]] serves
    * from [[objectStore]] and never over the network. */
  private[contentops] def isStoreUrl(url: String): Boolean = url.startsWith(StoreRoot)

  private def urlFor(seq: Long): String =
    if (isBroken(seq)) s"${StoreRoot}missing/$seq"
    else s"${StoreRoot}objects/$seq"

  /** The alien (non-content-operation) record's seq: wire-contract-valid
    * fixed-width decimal, disjoint from every op seq (ops stay < 1000). */
  val AlienSeq: String = "999999"

  /** Kinesis-record stand-ins. Includes one non-content-operation record
    * (type "ping", seq [[AlienSeq]]) that the A6 validation filter must drop. */
  lazy val wireRecords: Vector[WireRecord] = {
    val real = ops.map { o =>
      val body =
        if (isIndirect(o.seq)) gzip(urlFor(o.seq).getBytes(UTF_8))
        else gzip(envelopeJson(o).getBytes(UTF_8))
      WireRecord(o.shard, seqStr(o.seq), body)
    }
    val alien = WireRecord(0, AlienSeq,
      gzip("""{"type":"ping","source":"healthcheck"}""".getBytes(UTF_8)))
    alien +: real
  }

  /** The pre-signed-URL object store stand-in: the in-memory transport
    * of [[HttpResolver]]'s fetch for URLs on its host. Broken URLs are
    * absent by construction. */
  lazy val objectStore: Map[String, Array[Byte]] =
    ops.filter(o => isIndirect(o.seq) && !isBroken(o.seq))
      .map(o => urlFor(o.seq) -> gzip(envelopeJson(o).getBytes(UTF_8))).toMap

  // ---- ANS-schema fidelity fixtures (r14 verdict task 6) ----

  /** Malformed content-operation envelopes for the q365 schema gate — one
    * specimen per defect class the ANS 0.6.1 `content_operation.json`
    * schema forbids (`/root/reference/docs/user-guide.md:56-114`): a bad
    * content-type enum, a bad verb, a missing document-key member, a
    * missing `date`, a missing `published`, an out-of-enum trigger
    * priority, a missing `type` discriminator — plus one fully VALID
    * control record. Seqs live in the 9000xx range: wire-contract valid
    * fixed-width decimals, disjoint from ops (< 1000) and [[AlienSeq]].
    * These records feed ONLY the schema-gate query; the main envelope
    * pipeline and its nine semantic queries never see them. */
  lazy val malformedWireRecords: Vector[WireRecord] = {
    def rec(seq: String, json: String) =
      WireRecord(shard = 1, seq = seq, payload = gzip(json.getBytes(UTF_8)))
    val base =
      """"organization_id":"washpost","date":"2018-03-01T12:00:00Z","id":"BAD%s",""" +
        """"branch":"default","published":true,"created":false,""" +
        """"trigger":{"type":"story","id":"BAD%s","referent_update":false,""" +
        """"priority":"%s","app_name":"composer"}"""
    def body(n: String, pri: String) = base.format(n, n, pri)
    Vector(
      rec("900001", s"""{"type":"content-operation","operation":"insert-image",${body("01", "standard")}}"""),
      rec("900002", s"""{"type":"content-operation","operation":"upsert-story",${body("02", "standard")}}"""),
      rec("900003", """{"type":"content-operation","operation":"insert-story","organization_id":"washpost",""" +
        """"date":"2018-03-01T12:00:00Z","branch":"default","published":true,"created":false}"""),
      rec("900004", """{"type":"content-operation","operation":"insert-story","organization_id":"washpost",""" +
        """"id":"BAD04","branch":"default","published":true,"created":false}"""),
      rec("900005", s"""{"type":"content-operation","operation":"delete-video",""" +
        """"organization_id":"washpost","date":"2018-03-01T12:00:00Z","id":"BAD05","branch":"default","created":false}"""),
      rec("900006", s"""{"type":"content-operation","operation":"insert-gallery",${body("06", "urgent")}}"""),
      rec("900007", s"""{"operation":"insert-story",${body("07", "standard")}}"""),
      rec("900008", s"""{"type":"content-operation","operation":"insert-redirect",${body("08", "ingestion")}}"""))
  }

  /** The q365 gate input: the full wire tape (every op, the alien ping,
    * the broken-URL indirections) plus the malformed specimens. */
  lazy val auditWireRecords: Vector[WireRecord] =
    wireRecords ++ malformedWireRecords

  /** `WITH recs(...) AS (VALUES ...)` over the q365 gate INPUT — one row
    * per audit wire record carrying the schema-relevant raw fields
    * (NULL = absent in the JSON), so the DuckDB oracle re-derives the
    * reason coding independently of the Spark CASE. `fetched` is false
    * exactly for broken-URL indirections (A3 loss happens before any
    * schema check can run). */
  lazy val auditValuesCte: String = {
    def q(s: String) = s"'$s'"
    val opRows = ops.map { o =>
      s"(${q(seqStr(o.seq))}, ${!isLost(o)}, 'content-operation', ${q(o.org)}, " +
        s"${q(o.operation)}, true, ${q(o.id)}, ${q(o.branch)}, true, true, ${q(o.priority)})"
    }
    val alienRow =
      s"(${q(AlienSeq)}, true, 'ping', NULL, NULL, false, NULL, NULL, false, false, NULL)"
    val badRows = Vector(
      s"('900001', true, 'content-operation', 'washpost', 'insert-image', true, 'BAD01', 'default', true, true, 'standard')",
      s"('900002', true, 'content-operation', 'washpost', 'upsert-story', true, 'BAD02', 'default', true, true, 'standard')",
      s"('900003', true, 'content-operation', 'washpost', 'insert-story', true, NULL, 'default', true, true, NULL)",
      s"('900004', true, 'content-operation', 'washpost', 'insert-story', false, 'BAD04', 'default', true, true, NULL)",
      s"('900005', true, 'content-operation', 'washpost', 'delete-video', true, 'BAD05', 'default', false, true, NULL)",
      s"('900006', true, 'content-operation', 'washpost', 'insert-gallery', true, 'BAD06', 'default', true, true, 'urgent')",
      s"('900007', true, NULL, 'washpost', 'insert-story', true, 'BAD07', 'default', true, true, 'standard')",
      s"('900008', true, 'content-operation', 'washpost', 'insert-redirect', true, 'BAD08', 'default', true, true, 'ingestion')")
    "WITH recs(seq, fetched, typ, organization_id, operation, has_date, id, branch, " +
      "has_published, has_created, priority) AS (VALUES\n " +
      (opRows ++ Vector(alienRow) ++ badRows).mkString(",\n ") + ")"
  }

  // ---- oracle rendering ----

  /** `WITH ops(...) AS (VALUES ...)` over the expected envelope rows —
    * the single source of truth the DuckDB oracle queries start from. */
  lazy val valuesCte: String = {
    val rows = expected.map { o =>
      s"('${seqStr(o.seq)}', ${o.shard}, '${o.org}', '${o.operation}', TIMESTAMP '${sqlFmt.format(o.date)}', " +
        s"'${o.id}', '${o.branch}', ${o.published}, ${o.created}, " +
        s"'${o.trgType}', '${o.trgId}', ${o.referent}, '${o.priority}', '${o.appName}', " +
        s"'${o.headline}', ${o.wordCount})"
    }
    "WITH ops(seq, shard, organization_id, operation, date, id, branch, published, created, " +
      "trg_type, trg_id, referent_update, priority, app_name, headline, word_count) AS (VALUES\n " +
      rows.mkString(",\n ") + ")"
  }
}
