package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-JVM pre-signed-URL object store on loopback, serving `GET /o/<name>`.
  *
  * Each object answers with a planted behaviour: `ok` (200 + body),
  * `missing` (404), `expired` (403), `flaky` (500 on every odd request,
  * 200 on every even one, so a client that retries once always recovers),
  * `failing` (500 always) or `corrupt` (200 + a body that is not gzip).
  *
  * Per-GET latency is a fixed parameter. The handler thread only parks
  * the exchange: a scheduler completes the response after `latencyMs`,
  * so a client that overlaps fetches is not capped by the `threads`
  * handler threads. Call [[StoreServer.configure]] before the first
  * server is created: with the JDK default (Nagle on) a loopback GET
  * stalls ~40 ms on delayed ACKs, which would read as store latency. */
final class StoreServer(objects: Map[String, (String, Array[Byte])], latencyMs: Double,
    threads: Int) {
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 128)
  private val handlers = Executors.newFixedThreadPool(threads)
  private val timer: ScheduledExecutorService = Executors.newScheduledThreadPool(1)
  private val requests = new AtomicLong
  private val inFlight = new AtomicInteger
  private val maxInFlight = new AtomicInteger
  private val serviceNs = new AtomicLong
  private val flakyHits = new ConcurrentHashMap[String, AtomicInteger]()
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val delayNs = (latencyMs * 1e6).toLong

  server.setExecutor(handlers)
  server.createContext("/o/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    val name = ex.getRequestURI.getPath.stripPrefix("/o/")
    val (status, body) = objects.get(name) match {
      case Some(("ok", b)) => (200, b)
      case Some(("expired", _)) => (403, Array.emptyByteArray)
      case Some(("flaky", b)) =>
        val n = flakyHits.computeIfAbsent(name, _ => new AtomicInteger).incrementAndGet()
        if (n % 2 == 1) (500, Array.emptyByteArray) else (200, b)
      case Some(("failing", _)) => (500, Array.emptyByteArray)
      case Some(("corrupt", b)) => (200, b)
      case _ => (404, Array.emptyByteArray)
    }
    timer.schedule(new Runnable {
      def run(): Unit = respond(ex, status, body, t0)
    }, delayNs, TimeUnit.NANOSECONDS)
  })
  server.start()

  private def respond(ex: HttpExchange, status: Int, body: Array[Byte], t0: Long): Unit =
    try {
      ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
    } catch { case _: java.io.IOException => () }
    finally {
      ex.close()
      val dt = System.nanoTime() - t0
      serviceNs.addAndGet(dt)
      samples.add(dt)
      inFlight.decrementAndGet()
    }

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Counters since the last reset: (requests, max in flight, Σ service
    * ns, service-time samples in ns). */
  def snapshot(): (Long, Int, Long, Array[Long]) = {
    val xs = samples.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
    (requests.get, maxInFlight.get, serviceNs.get, xs)
  }

  def reset(): Unit = {
    requests.set(0); maxInFlight.set(0); serviceNs.set(0); samples.clear()
  }

  def stop(): Unit = {
    server.stop(0)
    handlers.shutdownNow(); timer.shutdownNow()
    handlers.awaitTermination(10, TimeUnit.SECONDS)
    timer.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object StoreServer {
  def configure(): Unit = System.setProperty("sun.net.httpserver.nodelay", "true")
}
