package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.contentops.Fixture
import org.apache.spark.sql.SparkSession

/** The `resolve_http` feed: gzip payloads that are nearly all URLs into
  * the benchmark's object-store server. `indirectFrac` of the records are
  * URLs; `brokenFrac` of all records carry a planted failure, split evenly
  * over the five planted classes (missing, expired, failing, corrupt, and
  * flaky, which recovers on the client's one retry). The rest are inline
  * envelopes (`alienFrac` of them non-content-operation pings), which the
  * resolver passes through. */
object ResolveFeed {
  private val planted = Array("missing", "expired", "failing", "corrupt", "flaky")

  /** One record: its planted kind (`ok`, `inline` or a planted class) and
    * the JSON the resolver must return for it (null for a skip). */
  final case class Rec(seq: String, shard: Int, kind: String, json: String, gz: Array[Byte])

  final case class Plan(records: Array[Rec], objects: Map[String, (String, Array[Byte])]) {
    def urlCount: Int = records.count(_.kind != "inline")
    /** One GET per URL, plus one retry per transient (500) answer. */
    def expectedGets: Long = urlCount + records.count(r => r.kind == "flaky" || r.kind == "failing")
  }

  /** The resolver's skip class for a planted kind; None for a record that
    * must resolve. */
  def skipReason(kind: String): Option[String] = kind match {
    case "missing" => Some("missing")
    case "expired" => Some("expired")
    case "failing" => Some("transient")
    case "corrupt" => Some("corrupt")
    case _ => None
  }

  def plan(p: FeedParams): Plan = {
    val recs = (0 until p.records).map { i =>
      val r = new SplittableRandom(Feed.mix(p.seed * 0x5851F42D4C957F2DL + i))
      val u = r.nextDouble()
      val o = Feed.op(p, i, r)
      val seq = Feed.seqStr(i)
      val shard = (math.abs(Feed.mix(o.keyIdx.toLong)) % p.shards).toInt
      val json =
        if (u >= p.indirectFrac && u < p.indirectFrac + p.alienFrac)
          s"""{"type":"ping","source":"healthcheck","n":$i}"""
        else Feed.envelopeJson(o, p.bodyBytes)
      val kind =
        if (u >= p.indirectFrac) "inline"
        else if (u < p.brokenFrac) planted(r.nextInt(planted.length))
        else "ok"
      val gz = if (kind == "corrupt") json.getBytes(UTF_8) else Fixture.gzip(json.getBytes(UTF_8))
      Rec(seq, shard, kind, if (skipReason(kind).isDefined) null else json, gz)
    }.toArray
    Plan(recs, recs.filter(_.kind != "inline").map(r => r.seq -> (r.kind, r.gz)).toMap)
  }

  /** SHA-256 over every planned record in index order. */
  def digest(p: FeedParams): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    plan(p).records.foreach { r =>
      md.update(s"${r.shard}/${r.seq}/${r.kind}/".getBytes(UTF_8)); md.update(r.gz)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Writes the wire feed in `files` files, each a contiguous index range
    * ordered by (shard, seq): URL payloads for planted and ok records, the
    * inline JSON otherwise, all gzipped. */
  def write(s: SparkSession, plan: Plan, base: String, dir: String, files: Int): Unit = {
    import s.implicits._
    val rows = plan.records.map { r =>
      val payload = if (r.kind == "inline") r.json else s"$base/o/${r.seq}"
      WireRow(r.shard, r.seq, Fixture.gzip(payload.getBytes(UTF_8)))
    }
    s.createDataset(s.sparkContext.parallelize(rows.toSeq, files))
      .sortWithinPartitions("shard", "seq").write.mode("overwrite").parquet(dir)
  }
}
