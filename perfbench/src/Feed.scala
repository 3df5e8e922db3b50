package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.Timestamp
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.SplittableRandom

import graft.contentops.Fixture
import org.apache.spark.sql.{Dataset, SparkSession}

/** Traffic parameters of one generated wire feed. Every record is a pure
  * function of (these parameters, its index), so a seed names a feed
  * exactly and generation parallelizes without coordination.
  *
  * Fractions are of all records: `brokenFrac` is the indirected share
  * whose URL is broken (a subset of `indirectFrac`), `alienFrac` the
  * non-`content-operation` records. `hotFrac` of the records draw their
  * document from the first `hotKeys` ids, the rest uniformly from `keys`;
  * with `keysInOrder`, record `i` is on document `i % keys` instead. The
  * feed holds records `first` until `first + records`. */
case class FeedParams(
    seed: Long, records: Int, bodyBytes: Int, indirectFrac: Double, brokenFrac: Double,
    alienFrac: Double, keys: Int, hotKeys: Int, hotFrac: Double, shards: Int, files: Int,
    first: Long = 0L, keysInOrder: Boolean = false)

/** One Kinesis-record stand-in: the engine's wire contract
  * `(shard, seq fixed-width decimal, gzip payload)`. */
case class WireRow(shard: Int, seq: String, payload: Array[Byte])

/** The sidecar row: what the engine must make of one wire record. `kind`
  * is `inline`, `indirect` (resolvable), `broken` (fetch fails, record
  * skipped) or `alien` (not a content operation, record dropped); the
  * envelope fields are empty for the last two. `body_fp` names the body
  * content: two records carry byte-identical bodies iff their `body_fp`
  * is equal. */
case class Expected(
    seq: String, shard: Int, kind: String, organization_id: Option[String],
    operation: Option[String], date: Option[Timestamp], id: Option[String],
    branch: Option[String], published: Option[Boolean], created: Option[Boolean],
    trg_type: Option[String], trg_id: Option[String], referent_update: Option[Boolean],
    priority: Option[String], app_name: Option[String], headline: Option[String],
    word_count: Option[Int], body_fp: Option[String])

object Feed {
  private val ctypes = Array("story", "gallery", "video", "redirect")
  private val apps = Array("composer", "ellipsis", "ingest-wire", "photo-center")
  private val orgs = Array("washpost", "herald")
  private val vocab = Array("the", "city", "council", "vote", "budget", "school", "river",
    "storm", "market", "court", "report", "season", "game", "film", "museum", "bridge",
    "transit", "housing", "health", "election", "campaign", "trade", "energy", "water")
  private val isoFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val baseMs = Instant.parse("2024-06-01T00:00:00Z").toEpochMilli

  /** splitmix64 finalizer: decorrelates (seed, index) into an RNG seed. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def seqStr(i: Long): String = f"$i%012d"

  /** The resolvable objects of the engine's broadcast object store, in a
    * fixed order: `envelopeFromWire` resolves `https` indirections only
    * against `Fixture.objectStore`, so an indirection that must resolve
    * points at one of these URLs and yields that fixture op's envelope. */
  lazy val fixtureObjects: Array[(String, Fixture.Op)] = {
    val bySeq = Fixture.ops.map(o => o.seq -> o).toMap
    Fixture.objectStore.keys.toArray.sorted
      .map(u => u -> bySeq(u.substring(u.lastIndexOf('/') + 1).toLong))
  }

  /** The generated envelope fields of one record, before wire rendering. */
  final case class Op(
      org: String, operation: String, dateMs: Long, id: String, branch: String,
      published: Boolean, created: Boolean, trgType: String, trgId: String,
      referent: Boolean, priority: String, app: String, rev: Int, keyIdx: Int) {
    def verb: String = operation.takeWhile(_ != '-')
    def headline: String = s"headline $id r$rev"
    def wordCount: Int = 100 + (math.abs(mix(keyIdx * 8L + rev)) % 900).toInt
    def bodyFp: String = s"$id/$rev/$verb"
  }

  def docId(k: Int): String = f"D$k%07d"

  /** Draws the op of record `i`. The draw order is fixed: changing it
    * changes every feed. */
  def op(p: FeedParams, i: Long, r: SplittableRandom): Op = {
    val k =
      if (p.keysInOrder) (i % p.keys).toInt
      else if (r.nextDouble() < p.hotFrac) r.nextInt(p.hotKeys)
      else r.nextInt(p.keys)
    val id = docId(k)
    val ctype = ctypes(r.nextInt(ctypes.length))
    val verb = if (r.nextInt(100) < 15) "delete" else "insert"
    val referent = r.nextInt(100) < 30
    val trgId = if (referent) docId(r.nextInt(p.keys)) else id
    // event time advances one second per record with up to ten minutes of
    // backwards jitter: per-shard arrival order is not per-key event order
    val dateMs = baseMs + i * 1000L - r.nextInt(600) * 1000L
    Op(org = orgs(r.nextInt(orgs.length)), operation = s"$verb-$ctype", dateMs = dateMs,
      id = id, branch = if (k % 10 == 9) "v2" else "default", published = r.nextBoolean(),
      created = verb == "insert" && r.nextInt(4) == 0,
      trgType = if (referent) "image" else ctype, trgId = trgId, referent = referent,
      priority = if (r.nextInt(100) < 20) "ingestion" else "standard",
      app = apps(r.nextInt(apps.length)), rev = r.nextInt(3), keyIdx = k)
  }

  /** The body: deterministic in (key, rev, verb) and padded with text to
    * `bodyBytes`, so equal `bodyFp` means byte-identical bodies. */
  def bodyJson(o: Op, bodyBytes: Int): String = {
    val r = new SplittableRandom(mix(o.keyIdx * 8L + o.rev))
    val sb = new StringBuilder
    while (sb.length < bodyBytes) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(vocab(r.nextInt(vocab.length)))
    }
    s"""{"_id":"${o.id}","headline":"${o.headline}","word_count":${o.wordCount},""" +
      s""""verb":"${o.verb}","text":"$sb"}"""
  }

  def envelopeJson(o: Op, bodyBytes: Int): String =
    s"""{"type":"content-operation","organization_id":"${o.org}","operation":"${o.operation}",""" +
      s""""date":"${isoFmt.format(Instant.ofEpochMilli(o.dateMs))}","id":"${o.id}",""" +
      s""""branch":"${o.branch}","published":${o.published},"created":${o.created},""" +
      s""""trigger":{"type":"${o.trgType}","id":"${o.trgId}","referent_update":${o.referent},""" +
      s""""priority":"${o.priority}","app_name":"${o.app}"},"body":${bodyJson(o, bodyBytes)}}"""

  private def expectedOf(seq: String, shard: Int, o: Op): Expected =
    Expected(seq, shard, "inline", Some(o.org), Some(o.operation), Some(new Timestamp(o.dateMs)),
      Some(o.id), Some(o.branch), Some(o.published), Some(o.created), Some(o.trgType),
      Some(o.trgId), Some(o.referent), Some(o.priority), Some(o.app), Some(o.headline),
      Some(o.wordCount), Some(o.bodyFp))

  private def expectedOf(seq: String, shard: Int, f: Fixture.Op): Expected =
    Expected(seq, shard, "indirect", Some(f.org), Some(f.operation),
      Some(new Timestamp(f.date.toEpochMilli)), Some(f.id), Some(f.branch),
      Some(f.published), Some(f.created), Some(f.trgType), Some(f.trgId), Some(f.referent),
      Some(f.priority), Some(f.appName), Some(f.headline), Some(f.wordCount),
      Some(s"fixture/${f.seq}"))

  private def dropped(seq: String, shard: Int, kind: String): Expected =
    Expected(seq, shard, kind, None, None, None, None, None, None, None, None, None, None,
      None, None, None, None, None)

  /** Record `i` of the feed and its sidecar row. */
  def record(p: FeedParams, i: Long): (WireRow, Expected) = {
    val r = new SplittableRandom(mix(p.seed * 0x632BE59BD9B4E019L + i))
    val u = r.nextDouble()
    val o = op(p, i, r)
    val seq = seqStr(i)
    val shard = (math.abs(mix(o.keyIdx.toLong)) % p.shards).toInt
    def wire(s: String) = WireRow(shard, seq, Fixture.gzip(s.getBytes(UTF_8)))
    if (u < p.alienFrac)
      (wire(s"""{"type":"ping","source":"healthcheck","n":$i}"""), dropped(seq, shard, "alien"))
    else if (u < p.alienFrac + p.brokenFrac)
      (wire(s"https://fixture-store/missing/$i"), dropped(seq, shard, "broken"))
    else if (u < p.alienFrac + p.indirectFrac) {
      val (url, f) = fixtureObjects(r.nextInt(fixtureObjects.length))
      (wire(url), expectedOf(seq, shard, f))
    } else (wire(envelopeJson(o, p.bodyBytes)), expectedOf(seq, shard, o))
  }

  /** The generated feed, one partition per output file; partition `f`
    * holds a contiguous index range, ordered by (shard, seq). */
  def generate(s: SparkSession, p: FeedParams): Dataset[(WireRow, Expected)] = {
    import s.implicits._
    s.range(p.first, p.first + p.records, 1, p.files).mapPartitions(_.map(i => record(p, i)))
  }

  /** Writes the wire feed to `dir/wire` (parquet, `files` files) and the
    * sidecar to `dir/sidecar`. */
  def write(s: SparkSession, p: FeedParams, dir: String): Unit = {
    import s.implicits._
    val g = generate(s, p).persist()
    try {
      g.map(_._1).sortWithinPartitions("shard", "seq")
        .write.mode("overwrite").parquet(s"$dir/wire")
      g.map(_._2).write.mode("overwrite").parquet(s"$dir/sidecar")
    } finally g.unpersist()
  }

  /** SHA-256 over every wire record in index order. */
  def digest(s: SparkSession, p: FeedParams): String = {
    import s.implicits._
    val parts = generate(s, p).mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256")
      it.foreach { case (w, _) =>
        md.update(s"${w.shard}/${w.seq}/".getBytes(UTF_8)); md.update(w.payload)
      }
      Iterator.single(md.digest().map("%02x".format(_)).mkString)
    }.collect()
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(h => md.update(h.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}
