package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-memory CTS v2 list endpoint over a real loopback socket. It speaks
  * the same wire protocol as `graft.sources.CtsRestStub` (`next`, `limit`,
  * `from`, `to` query parameters; 404 past the chain) but serves bodies
  * rendered once per distinct query string, so a timed poll measures the
  * client, not the server's parse and re-serialisation. */
final class CtsEndpoint(pages: Gen.Pages, threads: Int) {
  private val index = pages.markers.zipWithIndex.toMap
  private val rendered = new ConcurrentHashMap[String, Array[Byte]]()
  /** Requests served since the last [[resetCount]]. */
  val requests = new AtomicLong()

  private def render(rawQuery: String): Option[Array[Byte]] = {
    val params = rawQuery.split("&").filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    index.get(params.getOrElse("next", pages.markers.head)).map { i =>
      Gen.envelope(pages.pages(i), pages.nextMarker(i),
        params.get("limit").map(_.toInt).getOrElse(Int.MaxValue),
        params.get("from").map(_.toLong), params.get("to").map(_.toLong))
        .getBytes(StandardCharsets.UTF_8)
    }
  }

  /** Render the bodies for the query strings a poll sends, so the first
    * timed cycle finds them ready. */
  def prerender(queries: Seq[String]): Unit =
    queries.foreach(q => render(q).foreach(rendered.put(q, _)))

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    requests.incrementAndGet()
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val body = Option(rendered.get(q)).orElse {
      val r = render(q); r.foreach(rendered.put(q, _)); r
    }
    body match {
      case Some(b) =>
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      case None => ex.sendResponseHeaders(404, -1)
    }
    ex.close()
  })
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v2.0/project/system/trace"

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** CloudEvents receiver that ACKs every POST and records what arrived:
  * the `ce-id` of each well-formed binary-mode event, and a count of
  * requests missing a required `ce-*` header. */
final class CeReceiver(threads: Int) {
  val ids = new ConcurrentLinkedQueue[String]()
  val malformed = new AtomicLong()
  val posts = new AtomicLong()

  private val required = Seq("Ce-id", "Ce-specversion", "Ce-source", "Ce-type")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    posts.incrementAndGet()
    ex.getRequestBody.readAllBytes()
    val h = ex.getRequestHeaders
    val ok = ex.getRequestMethod == "POST" &&
      required.forall(k => Option(h.getFirst(k)).exists(_.nonEmpty))
    if (ok) ids.add(h.getFirst("Ce-id")) else malformed.incrementAndGet()
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  def reset(): Unit = { ids.clear(); malformed.set(0); posts.set(0) }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}
