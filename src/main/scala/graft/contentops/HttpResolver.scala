package graft.contentops

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}

/** A3 in its production shape: resolve pre-signed-URL payload indirections
  * with a REAL HTTP client (`/root/reference/docs/user-guide.md:17-44` —
  * oversized documents land in S3 and the wire record carries a pre-signed
  * URL; the consumer fetches it, gunzips, and must skip — not crash — on
  * a failed fetch).
  *
  * Client lifecycle is the scale story: `client` is a JVM-wide lazy
  * singleton, so on a 1000-executor cluster each executor JVM opens ONE
  * pooled `java.net.http.HttpClient` that every task and partition on that
  * executor reuses — its HTTP/1.1 keep-alive connections amortize setup
  * across the whole executor lifetime instead of paying it per record or
  * even per partition.
  *
  * The stage waits on the network, not the CPU, so each task keeps a
  * window of up to [[InFlight]] GETs outstanding (`sendAsync`) and emits
  * rows in input order as the head of the window answers: a task
  * resolves ~InFlight rows per round-trip instead of one. Gunzip and the
  * `corrupt` check run on the task thread when a row is emitted, so the
  * CPU work stays in Spark's task time; at most InFlight bodies per task
  * are held at once, and a task completion listener cancels whatever
  * GETs are still outstanding when a task ends early or is killed.
  *
  * Error tolerance (A19): a non-200 status, a connect/read timeout, a DNS
  * failure, or a corrupt (non-gzip) body all resolve to null, and the
  * caller's `filter(raw.isNotNull)` skips the record — the exact
  * log-and-skip contract of the reference loop (user-guide.md:34-39).
  * ContentOpsSpec drives this against an in-JVM HTTP fixture server:
  * 200+gzip, 404, timeout, and corrupt-body paths, proving the output
  * equal to the fixture's expected envelope JSON on the same wire fixture.
  */
object HttpResolver {

  /** GETs each task keeps outstanding. Not a parameter: at 25 ms per GET
    * on 4 cores a window of 8 resolved ~300 rows/s, 32 ~540 and 64 or
    * 128 no more than ~590, where Spark's per-job overhead, not the
    * window, bounds a pass. It also bounds memory at 32 bodies a task. */
  val InFlight = 32

  /** One pooled client per JVM (per executor, in cluster terms). Objects
    * are re-initialized on each executor, so this is never serialized. */
  lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(5))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  /** A row once its GET has answered: `Left((raw, skip_reason))` is final
    * (an inline or null payload, or a skip class), `Right(body)` is a 200
    * body still to gunzip on the task thread. */
  private type Answer = Either[(String, String), Array[Byte]]

  private def done(raw: String, reason: String): CompletableFuture[Answer] =
    CompletableFuture.completedFuture(Left((raw, reason)))

  private val Transient: Answer = Left((null, "transient"))

  /** One partition's resolve: an iterator over `(shard, seq, raw,
    * skip_reason)` that keeps up to [[InFlight]] rows of `it` in flight. */
  private final class Window(it: Iterator[(Int, String, String)], timeoutMs: Long,
      isUrl: String => Boolean) extends Iterator[(Int, String, String, String)] {
    private val pending = new java.util.ArrayDeque[(Int, String, CompletableFuture[Answer])]()
    private val live = ConcurrentHashMap.newKeySet[CompletableFuture[_]]()
    @volatile private var closed = false

    def hasNext: Boolean = { fill(); !pending.isEmpty }

    def next(): (Int, String, String, String) = {
      fill()
      val (shard, seq, answer) = pending.remove()
      answer.get() match { // interruptible: a killed task stops waiting
        case Left((raw, reason)) => (shard, seq, raw, reason)
        case Right(b) =>
          try (shard, seq, new String(Fixture.gunzip(b), UTF_8), null)
          catch { case scala.util.control.NonFatal(_) => (shard, seq, null, "corrupt") }
      }
    }

    /** Cancel every outstanding GET; no retry starts after this. */
    def close(): Unit = { closed = true; live.forEach(_.cancel(true)) }

    /** Inline and null payloads enter the window as completed answers, so
      * output order is input order. A URL gets ONE bounded retry for the
      * transient class only, chained on its own first answer. One, not a
      * backoff loop: the consumer is a streaming ingest where a stuck
      * partition delays every record behind it — persistent failure
      * belongs in the skip metrics, not in retries. */
    private def fill(): Unit = while (pending.size < InFlight && it.hasNext) {
      val (shard, seq, p) = it.next()
      pending.add((shard, seq,
        if (p == null) done(null, "null_payload")
        else if (isUrl(p))
          get(p).thenCompose(a => if (a == Transient) get(p) else CompletableFuture.completedFuture(a))
        else done(p, null)))
    }

    /** One GET, classified. Pre-signed URLs make status classes MEAN
      * something (user-guide.md:17 — the URLs are time-limited):
      *  - 200 → body;
      *  - 403 → `expired`: the signature lapsed — retrying the SAME URL
      *    cannot succeed (only re-signing upstream can), so never retried,
      *    but counted apart from true loss in the A19 observe() metrics;
      *  - other 4xx → `missing`: permanent (deleted object, bad key);
      *  - 5xx / timeout / transport → `transient`: the only class a
      *    bounded retry can rescue. */
    private def get(url: String): CompletableFuture[Answer] =
      if (closed) done(null, "transient")
      else try {
        val req = HttpRequest.newBuilder(URI.create(url))
          .timeout(Duration.ofMillis(timeoutMs)).GET().build()
        val f = client.sendAsync(req, HttpResponse.BodyHandlers.ofByteArray())
        live.add(f)
        if (closed) f.cancel(true)
        f.whenComplete((_, _) => live.remove(f))
        f.handle[Answer]((resp, err) =>
          if (err != null) Transient
          else resp.statusCode() match {
            case 200 => Right(resp.body())
            case 403 => Left((null, "expired"))
            case c if c < 500 => Left((null, "missing"))
            case _ => Transient
          })
      } catch { case scala.util.control.NonFatal(_) => done(null, "transient") }
  }

  /** A4: a payload is a pointer to fetch when it starts with `https`
    * (the reference's `payload[0:5] == 'https'` branch); anything else is
    * the record itself. The fixture-store resolve in [[ContentOps]] reads
    * the same test. */
  private[contentops] def isPointer(payload: String): Boolean = payload.startsWith("https")

  /** The resolve stage: decoded payload strings `(shard, seq, payload)` →
    * `(shard, seq, raw, skip_reason)` where `raw` is the envelope JSON —
    * fetched and gunzipped when the payload is a pointer (`isUrl`),
    * passed through when inline, null (⇒ caller skips) when the fetch or
    * decode fails. `skip_reason` (null on success) lets the A19
    * observe() telemetry count the classes apart without a second scan:
    * `expired` (403 — re-sign upstream) vs `missing` (other 4xx) vs
    * `transient` (5xx/timeout, already retried once) vs `corrupt` (200
    * but not gzip) vs `null_payload`. Rows keep their input order within
    * each partition.
    *
    * `isUrl` is a parameter only so tests can point at a plain-http
    * in-JVM fixture server; production uses the default, [[isPointer]]. */
  def resolveWithReasons(
      decoded: Dataset[(Int, String, String)],
      timeoutMs: Long = 10000L,
      isUrl: String => Boolean = isPointer): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { it =>
      val window = new Window(it, timeoutMs, isUrl)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => window.close()))
      window
    }.toDF("shard", "seq", "raw", "skip_reason")
  }
}
