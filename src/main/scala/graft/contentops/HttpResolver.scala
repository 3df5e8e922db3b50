package graft.contentops

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset}

/** A3 in its production shape: resolve pre-signed-URL payload indirections
  * with a REAL HTTP client (`/root/reference/docs/user-guide.md:17-44` —
  * oversized documents land in S3 and the wire record carries a pre-signed
  * URL; the consumer fetches it, gunzips, and must skip — not crash — on
  * a failed fetch).
  *
  * Client lifecycle is the scale story: `client` is a JVM-wide lazy
  * singleton, so on a 1000-executor cluster each executor JVM opens ONE
  * pooled `java.net.http.HttpClient` (HTTP/1.1 keep-alive + HTTP/2
  * multiplexing) that every task and partition on that executor reuses —
  * connection setup amortizes across the whole executor lifetime instead
  * of being paid per record or even per partition. The resolve itself runs
  * in `mapPartitions` purely so the row loop is a plain iterator over the
  * shared client (no per-row UDF serialization), mirroring the reference's
  * per-shard consumer loop.
  *
  * Error tolerance (A19): a non-200 status, a connect/read timeout, a DNS
  * failure, or a corrupt (non-gzip) body all resolve to null, and the
  * caller's `filter(raw.isNotNull)` skips the record — the exact
  * log-and-skip contract of the reference loop (user-guide.md:34-39).
  * ContentOpsSpec drives this against an in-JVM HTTP fixture server:
  * 200+gzip, 404, timeout, and corrupt-body paths, proving the output
  * row-identical to the fixture-store stand-in on the same wire fixture.
  */
object HttpResolver {

  /** One pooled client per JVM (per executor, in cluster terms). Objects
    * are re-initialized on each executor, so this is never serialized. */
  lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(5))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  /** One GET, classified. Pre-signed URLs make status classes MEAN
    * something (user-guide.md:17 — the URLs are time-limited):
    *  - 200 → body;
    *  - 403 → `expired`: the signature lapsed — retrying the SAME URL
    *    cannot succeed (only re-signing upstream can), so never retried,
    *    but counted apart from true loss in the A19 observe() metrics;
    *  - other 4xx → `missing`: permanent (deleted object, bad key);
    *  - 5xx / timeout / transport → `transient`: the only class a
    *    bounded retry can rescue. */
  private def fetchOnce(url: String, timeoutMs: Long): Either[String, Array[Byte]] =
    try {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(timeoutMs)).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      resp.statusCode() match {
        case 200 => Right(resp.body())
        case 403 => Left("expired")
        case c if c < 500 => Left("missing")
        case _ => Left("transient")
      }
    } catch { case scala.util.control.NonFatal(_) => Left("transient") }

  /** Classified fetch with ONE bounded retry for the transient class only
    * (5xx/timeout/transport). One, not a backoff loop: the consumer is a
    * streaming ingest where a stuck partition delays every record behind
    * it — persistent failure belongs in the skip metrics, not in retries. */
  def fetchClassified(url: String, timeoutMs: Long, retries: Int = 1): Either[String, Array[Byte]] = {
    var r = fetchOnce(url, timeoutMs)
    var left = retries
    while (left > 0 && r == Left("transient")) { left -= 1; r = fetchOnce(url, timeoutMs) }
    r
  }

  /** GET `url`; Some(body) on 200, None on any HTTP error status or
    * transport failure (timeout, refused, DNS). Never throws. */
  def fetch(url: String, timeoutMs: Long): Option[Array[Byte]] =
    fetchClassified(url, timeoutMs).toOption

  /** The resolve stage: decoded payload strings `(shard, seq, payload)` →
    * `(shard, seq, raw)` where `raw` is the envelope JSON — fetched and
    * gunzipped when the payload is a pre-signed URL (`isUrl`, the
    * reference's `payload[0:5] == 'https'` branch), passed through when
    * inline, null (⇒ caller skips) when the fetch or decode fails.
    *
    * `isUrl` is a parameter only so tests can point at a plain-http
    * in-JVM fixture server; production uses the default per the spec. */
  def resolve(
      decoded: Dataset[(Int, String, String)],
      timeoutMs: Long = 10000L,
      isUrl: String => Boolean = _.startsWith("https")): DataFrame =
    resolveWithReasons(decoded, timeoutMs, isUrl).select("shard", "seq", "raw")

  /** [[resolve]] plus a `skip_reason` column (null on success) so the A19
    * observe() telemetry can count the classes apart without a second
    * scan: `expired` (403 — re-sign upstream) vs `missing` (other 4xx)
    * vs `transient` (5xx/timeout, already retried once) vs `corrupt`
    * (200 but not gzip) vs `null_payload`. */
  def resolveWithReasons(
      decoded: Dataset[(Int, String, String)],
      timeoutMs: Long = 10000L,
      isUrl: String => Boolean = _.startsWith("https")): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { it =>
      it.map { case (shard, seq, p) =>
        if (p == null) (shard, seq, null: String, "null_payload")
        else if (isUrl(p))
          fetchClassified(p, timeoutMs) match {
            case Right(b) =>
              try (shard, seq, new String(Fixture.gunzip(b), UTF_8), null: String)
              catch { case scala.util.control.NonFatal(_) =>
                (shard, seq, null: String, "corrupt") }
            case Left(reason) => (shard, seq, null: String, reason)
          }
        else (shard, seq, p, null: String)
      }
    }.toDF("shard", "seq", "raw", "skip_reason")
  }
}
