package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode

/** Loopback CTS v2 REST stub — the SERVER side of the trace-list wire
  * protocol the `cts` source speaks over `http://` (the scan-side twin
  * of [[graft.operators.CeHttpReceiver]], which closed the same gap for
  * the sink in round 7). Serves a fixture directory of
  * `page-<marker>.json` envelopes as the live endpoint the reference
  * polls (pkg/adapter/querier.go:30-37 one list call;
  * pkg/adapter/adapter.go:98-130 From/To/Limit on every request, Next
  * threaded from the previous response's meta_data.marker):
  *
  *   GET <url>[?next=<marker>][&limit=N][&from=ms][&to=ms]
  *     → `{"traces":[...], "meta_data":{"count":N, "marker":"<next>"}}`
  *
  * Protocol rules implemented server-side, so the client's pushed-down
  * time window and page cap are genuinely evaluated by the "service":
  *  - no `next` parameter → the chain-head page (the reference's first
  *    list call carries no Next);
  *  - `limit` caps the page's trace rows; `from`/`to` filter on `time`
  *    as a [from, to) window (adapter.go:98-100);
  *  - `X-Auth-Token` must match the configured token when one is set —
  *    the OpenStack-family auth header the reference's IAM exchange
  *    produces (cmd/cts_exporter/main.go:78) — else 401;
  *  - an unknown marker → 404 (end of chain / retention horizon).
  *
  * Driver-side utility: the real service is a remote regional endpoint;
  * this stub exists so `CtsSourceSpec` can prove batch, micro-batch and
  * checkpoint-resume over a REAL socket equal the file-fixture path
  * row-for-row. Pages are re-read from disk per request, so a fixture
  * dir that grows a new page mid-test behaves like a live feed.
  */
class CtsRestStub(pagesDir: String, token: Option[String] = None) {
  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

  private val mapper = new ObjectMapper()

  /** Every query string served, in arrival order — lets a spec assert
    * what actually crossed the wire (e.g. that a pushed-down time
    * window rode the request as from/to). */
  val served = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Fault injection: the next N requests answer 500 before the stub
    * recovers — drives the client's bounded per-page retry
    * (CtsSource.PAGE_RETRIES) in CtsSourceSpec. */
  val failNext = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fault injection: the next N requests answer HTTP 200 with a
    * MALFORMED body (truncated JSON) — drives the client's
    * parse-outside-the-retry-loop contract: a bad 200 body is a server
    * contract violation, not a transient, and must fail on the first
    * sight without burning the 5xx retry budget (r18 ADVICE). */
  val garbleNext = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fault injection: a request for one of these markers answers 500
    * every time — a page that never recovers, so the client's retry
    * budget for that page runs out while the rest of the chain reads. */
  val failMarkers: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Milliseconds each request is held before it is answered, so that
    * overlapping client requests show up in [[maxInFlight]]. */
  val delayMs = new java.util.concurrent.atomic.AtomicLong(0)

  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The most requests this stub has been handling at one time. */
  val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  private val server = HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        val (rc, body) =
          try {
            Thread.sleep(delayMs.get)
            respond(Option(ex.getRequestURI.getRawQuery).getOrElse(""),
              Option(ex.getRequestHeaders.getFirst("X-Auth-Token")))
          } catch { case scala.util.control.NonFatal(_) => (500, "") }
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        if (rc == 200) {
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        } else ex.sendResponseHeaders(rc, -1)
        ex.close()
      } finally inFlight.decrementAndGet()
    }
  })
  server.start()

  private def respond(rawQuery: String, auth: Option[String]): (Int, String) = {
    served.add(rawQuery)
    if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) return (500, "")
    if (garbleNext.getAndUpdate(n => math.max(0, n - 1)) > 0)
      return (200, """{"traces":[{"trace_id": tru""")
    if (token.exists(t => !auth.contains(t))) return (401, "")
    val params = rawQuery.split("&").filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
      .toMap
    val marker = params.getOrElse("next", CtsSource.FirstMarker)
    if (failMarkers.contains(marker)) return (500, "")
    val path = Paths.get(CtsSource.pagePath(pagesDir, marker))
    if (!Files.exists(path)) return (404, "")
    val page = mapper.readTree(new String(
      Files.readAllBytes(path), StandardCharsets.UTF_8))
    val limit = params.get("limit").map(_.toInt).getOrElse(Int.MaxValue)
    val from = params.get("from").map(_.toLong)
    val to = params.get("to").map(_.toLong)
    val out = mapper.createArrayNode()
    val it = page.path("traces").elements()
    var taken = 0
    while (it.hasNext && taken < limit) {
      val t = it.next()
      taken += 1 // Limit caps what the server CONSIDERS, like take(limit)
      val time = t.path("time").asLong(0L)
      if (!from.exists(time < _) && !to.exists(time >= _))
        out.add(t)
    }
    val env = mapper.createObjectNode()
    env.set[ArrayNode]("traces", out)
    val meta = env.putObject("meta_data")
    meta.put("count", out.size())
    meta.put("marker", page.path("meta_data").path("marker").asText(""))
    (200, mapper.writeValueAsString(env))
  }

  /** The endpoint the `pages` option should point at. */
  val url: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/v2.0/project/system/trace"

  def stop(): Unit = server.stop(0)
}
