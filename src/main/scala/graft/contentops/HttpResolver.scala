package graft.contentops

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** A3, the engine's one S3-indirection resolve (the reference's
  * `docs/user-guide.md:17-44` — oversized documents land in S3 and the
  * wire record carries a pre-signed URL; the consumer fetches it,
  * gunzips, and must skip — not crash — on a failed fetch). [[ContentOps.envelopeFromWire]],
  * [[ContentOps.ansGate]] and [[resolveWithReasons]] all run it.
  *
  * A fetch is `url → CompletableFuture[Answer]` over one of two
  * transports, chosen by the URL's host: the fixture's own host
  * ([[Fixture.isStoreUrl]]) is served from [[Fixture.objectStore]] with
  * completed futures, every other URL by a real HTTP GET. The store path
  * never creates the client.
  *
  * Client lifecycle is the scale story: `client` is a JVM-wide lazy
  * singleton, so on a 1000-executor cluster each executor JVM opens ONE
  * pooled `java.net.http.HttpClient` that every task and partition on that
  * executor reuses — its HTTP/1.1 keep-alive connections amortize setup
  * across the whole executor lifetime instead of paying it per record or
  * even per partition.
  *
  * The stage waits on the network, not the CPU, so each task keeps a
  * window of up to [[InFlight]] fetches outstanding (`sendAsync`) and
  * emits rows in input order as the head of the window answers: a task
  * resolves ~InFlight rows per round-trip instead of one. Gunzip and the
  * `corrupt` check run on the task thread when a row is emitted, so the
  * CPU work stays in Spark's task time; at most InFlight bodies per task
  * are held at once, and a task completion listener cancels whatever
  * GETs are still outstanding when a task ends early or is killed.
  *
  * Error tolerance (A19): a non-200 status, a connect/read timeout, a DNS
  * failure, a store miss, or a corrupt (non-gzip) body all resolve to a
  * null `raw` with its `skip_reason`, and the caller skips the record —
  * the log-and-skip contract of the reference loop (user-guide.md:34-39).
  */
object HttpResolver {

  /** Fetches each task keeps outstanding. Not a parameter: it bounds
    * memory at 32 bodies a task. At 25 ms per GET on 4 cores a window of
    * 8 resolved ~300 rows/s and 32 ~540. */
  val InFlight = 32

  /** One pooled client per JVM (per executor, in cluster terms). Objects
    * are re-initialized on each executor, so this is never serialized. */
  lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(5))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  /** A row once its fetch has answered: `Left((raw, skip_reason))` is
    * final (an inline or null payload, or a skip class), `Right(body)` is
    * a 200 body still to gunzip on the task thread. */
  private type Answer = Either[(String, String), Array[Byte]]

  private def done(raw: String, reason: String): CompletableFuture[Answer] =
    CompletableFuture.completedFuture(Left((raw, reason)))

  private val Transient: Answer = Left((null, "transient"))

  /** A4: a payload is a pointer to fetch when it is an `http://` or
    * `https://` URL (the reference tests `payload[0:5] == 'https'`; no
    * inline JSON record starts with either); anything else is the record
    * itself. */
  private[contentops] def isPointer(payload: String): Boolean =
    payload.startsWith("https://") || payload.startsWith("http://")

  /** One partition's resolve: an iterator over `(shard, seq, raw,
    * skip_reason)` rows that keeps up to [[InFlight]] rows of `it` in
    * flight, and cancels what is still outstanding when its task ends. */
  private final class Window(it: Iterator[Row], timeoutMs: Long, isUrl: String => Boolean)
      extends Iterator[Row] {
    private val pending = new java.util.ArrayDeque[(Row, CompletableFuture[Answer])]()
    private val live = ConcurrentHashMap.newKeySet[CompletableFuture[_]]()
    @volatile private var closed = false
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

    def hasNext: Boolean = { fill(); !pending.isEmpty }

    def next(): Row = {
      fill()
      val (r, answer) = pending.remove()
      val (raw, reason) = answer.get() match { // interruptible: a killed task stops waiting
        case Left(done) => done
        case Right(b) =>
          try (new String(Fixture.gunzip(b), UTF_8), null)
          catch { case scala.util.control.NonFatal(_) => (null, "corrupt") }
      }
      Row(r.get(0), r.get(1), raw, reason)
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
      val r = it.next()
      val p = r.getString(2)
      pending.add((r,
        if (p == null) done(null, "null_payload")
        else if (isUrl(p))
          get(p).thenCompose(a => if (a == Transient) get(p) else CompletableFuture.completedFuture(a))
        else done(p, null)))
    }

    /** One fetch, over the transport the URL's host selects: the
      * fixture's object store answers at once, a 200 body or `missing`;
      * any other URL is one GET, classified. Pre-signed URLs make status
      * classes MEAN something (user-guide.md:17 — the URLs are
      * time-limited):
      *  - 200 → body;
      *  - 403 → `expired`: the signature lapsed — retrying the SAME URL
      *    cannot succeed (only re-signing upstream can), so never retried,
      *    but counted apart from true loss in the A19 observe() metrics;
      *  - other 4xx → `missing`: permanent (deleted object, bad key);
      *  - 5xx / timeout / transport → `transient`: the only class a
      *    bounded retry can rescue. */
    private def get(url: String): CompletableFuture[Answer] =
      if (Fixture.isStoreUrl(url))
        CompletableFuture.completedFuture(Fixture.objectStore.get(url).toRight((null, "missing")))
      else if (closed) done(null, "transient")
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

  /** The engine's partition function, defined once, so every plan that
    * resolves the same input is equal to every other and the
    * CacheManager shares what is cached on it. */
  private val engineWindow: Iterator[Row] => Iterator[Row] = new Window(_, 10000L, isPointer)

  /** The resolve stage: a decoded frame `(shard, seq, payload)` →
    * `(shard, seq, raw, skip_reason)`, rows in input order within each
    * partition, `shard` and `seq` as the input has them. `raw` is the
    * record JSON — fetched and gunzipped when the payload is a pointer,
    * passed through when inline, null (⇒ caller skips) when the fetch or
    * decode fails. `skip_reason` (null on success) names the class:
    * `expired` (403 — re-sign upstream) vs `missing` (other 4xx, or not
    * in the fixture store) vs `transient` (5xx/timeout, already retried
    * once) vs `corrupt` (200 but not gzip) vs `null_payload`. */
  private[contentops] def resolve(decoded: DataFrame,
      window: Iterator[Row] => Iterator[Row] = engineWindow): DataFrame =
    decoded.mapPartitions(window)(Encoders.row(StructType(decoded.schema.take(2) ++
      Seq(StructField("raw", StringType), StructField("skip_reason", StringType)))))

  /** [[resolve]] over decoded payload strings. `isUrl` lets a caller pick
    * which payloads to fetch; the engine's own stage uses the default,
    * [[isPointer]]. */
  def resolveWithReasons(
      decoded: Dataset[(Int, String, String)],
      timeoutMs: Long = 10000L,
      isUrl: String => Boolean = isPointer): DataFrame =
    resolve(decoded.toDF("shard", "seq", "payload"), new Window(_, timeoutMs, isUrl))
}
