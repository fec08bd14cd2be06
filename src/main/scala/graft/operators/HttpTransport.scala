package graft.operators

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.CompletableFuture

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Real HTTP delivery for the CE sink — the wire protocol the reference
  * actually speaks (pkg/adapter/adapter.go:146 `ceClient.Send` per event;
  * the Go SDK's `NewClientHTTP` POSTs each event over the CloudEvents
  * HTTP protocol binding, K_SINK being the target URL).
  *
  * Both binding content modes are implemented:
  *  - BINARY (the Go SDK's default): context attributes ride `ce-*`
  *    headers, the payload rides the body with its own `Content-Type` —
  *    core attrs and flat extensions map 1:1 onto headers, `data` (when
  *    present) onto the body;
  *  - STRUCTURED: the whole JSON envelope IS the body under
  *    `Content-Type: application/cloudevents+json`.
  *
  * ACK ≙ 2xx (`cloudevents.IsACK`, adapter.go:146): a non-2xx response
  * or a transport error fails that one event, and the sink's F4/C4
  * accounting counts it without killing the job.
  *
  * Scale shape: every task POSTs over ONE JVM-wide keep-alive
  * `HttpClient`, whose connection pool and selector thread outlive the
  * task, so a micro-batch builds no client of its own. Per-event POST is
  * the reference's semantics (its main perf flaw, SURVEY §4), but a task
  * does not wait for one round trip before the next POST:
  * `sendPartition` pipelines them with `sendAsync`, at most
  * `POSTS_IN_FLIGHT` at a time, waits for them all before it returns,
  * and tallies the ACKs on the task thread (`send` is a one-event
  * partition, so there is one POST path). So a partition's events arrive
  * in no fixed order. The CE HTTP binding promises none, and every
  * receiver here MERGEs by event identity. `timeoutMs` bounds each
  * request; the connect timeout is the shared client's (10 s). Delivery
  * over HTTP is at-least-once exactly as in the reference: a redelivered
  * batch re-POSTs and the RECEIVER's MERGE idempotency (§2.5) collapses
  * it — unlike `NdjsonDirTransport`, there is no replace-previous-attempt
  * strengthening to lean on, which is why every receiver-side pipeline
  * in this repo dedups on content identity.
  *
  * Header values are percent-encoded per the CE HTTP binding (non-ASCII
  * and non-printable octets only), symmetric with [[CeHttpReceiver]].
  */
class HttpCloudEventTransport(url: String, structured: Boolean = false,
                              timeoutMs: Long = 10000)
    extends CloudEventSink.EventTransport {
  import HttpCloudEventTransport.{client, mapper, POSTS_IN_FLIGHT}

  private def request(eventJson: String): HttpRequest = {
    val builder = HttpRequest.newBuilder(URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
    if (structured)
      builder.header("Content-Type", "application/cloudevents+json")
        .POST(HttpRequest.BodyPublishers.ofString(eventJson, StandardCharsets.UTF_8))
        .build()
    else {
      val node = mapper.readTree(eventJson)
      require(node.isObject, s"CE envelope must be a JSON object: $eventJson")
      var body = ""
      val it = node.properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        if (k == "data") body = mapper.writeValueAsString(e.getValue)
        else {
          val v = if (e.getValue.isTextual) e.getValue.asText()
                  else mapper.writeValueAsString(e.getValue)
          builder.header(s"ce-$k", HttpCloudEventTransport.encodeHeader(v))
        }
      }
      // the binding's default specversion if the envelope carries none
      if (!node.has("specversion")) builder.header("ce-specversion", "1.0")
      builder.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
        .build()
    }
  }

  override def send(eventJson: String): Boolean =
    sendPartition(Iterator.single(eventJson)).sent == 1

  /** Only this thread counts the POSTs' outcomes: a 2xx ACKs, a non-2xx
    * response or an exception fails that one event. It waits for the
    * oldest whenever `POSTS_IN_FLIGHT` are open. An interrupt (a killed
    * task) cancels the POSTs still open and is rethrown. */
  override def sendPartition(events: Iterator[String]): CloudEventSink.Delivery = {
    val inFlight = new java.util.ArrayDeque[CompletableFuture[HttpResponse[Void]]]()
    var sent, failed = 0L
    def settleOldest(): Unit = {
      val oldest = inFlight.poll()
      val acked =
        try { val rc = oldest.get().statusCode(); rc >= 200 && rc < 300 }
        catch {
          case _: java.util.concurrent.ExecutionException => false
          case e: InterruptedException =>
            oldest.cancel(true)
            inFlight.forEach(_.cancel(true))
            throw e
        }
      if (acked) sent += 1 else failed += 1
    }
    events.foreach { e =>
      if (inFlight.size >= POSTS_IN_FLIGHT) settleOldest()
      inFlight.add(
        try client.sendAsync(request(e), HttpResponse.BodyHandlers.discarding())
        catch { case NonFatal(err) => CompletableFuture.failedFuture(err) })
    }
    while (!inFlight.isEmpty) settleOldest()
    CloudEventSink.Delivery(sent, failed)
  }
}

object HttpCloudEventTransport {
  /** POSTs one task keeps in flight. */
  private[graft] final val POSTS_IN_FLIGHT = 16

  private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private lazy val mapper = new ObjectMapper()

  /** CE HTTP binding header-value encoding: percent-encode octets outside
    * printable ASCII (and '%' itself); everything else passes through. */
  def encodeHeader(v: String): String = {
    val bytes = v.getBytes(StandardCharsets.UTF_8)
    val sb = new StringBuilder(bytes.length)
    bytes.foreach { b =>
      val c = b & 0xff
      if (c >= 0x21 && c <= 0x7e && c != '%') sb.append(c.toChar)
      else sb.append(f"%%$c%02X")
    }
    sb.toString
  }

  def decodeHeader(v: String): String = {
    val out = new java.io.ByteArrayOutputStream(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length) {
        out.write(Integer.parseInt(v.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, StandardCharsets.UTF_8)
  }
}

/** Loopback CE HTTP receiver — the ingress side the reference runs as its
  * sink process (cmd/neo4j_sink/main.go:59-78: `StartReceiver` on :8080,
  * events funneled through a channel into the graph upsert). Here the
  * received envelopes land as NDJSON in a directory — the exact seam the
  * repo's streaming ingest (`StreamingOps.readEventsStream`, S5) and
  * MERGE pipelines already consume, so receive → ingest → upsert runs the
  * reference's full loop as real socket I/O.
  *
  * Decodes BOTH binding modes symmetric with [[HttpCloudEventTransport]]:
  * `application/cloudevents+json` bodies verbatim; binary-mode `ce-*`
  * headers + body reassembled into the canonical flat envelope. Non-CE
  * requests get 400. `reject` injects per-event receiver faults (503) so
  * tests can drive the sender's F4 failure accounting over a real socket.
  *
  * Driver-side utility (the receiver is its own process in the reference
  * deploy): a single-writer appender with a synchronized flush per event —
  * delivery ACK (200) is only sent AFTER the line is durably appended,
  * so a sender that saw 2xx can never lose the event to a receiver crash
  * (at-least-once end to end; receiver-side MERGE dedups replays).
  */
class CeHttpReceiver(dir: String, reject: String => Boolean = _ => false) {
  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

  private val mapper = new ObjectMapper()
  private val path = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Paths.get(dir, "received.ndjson")
  }
  private val out = java.nio.file.Files.newBufferedWriter(path,
    StandardCharsets.UTF_8, java.nio.file.StandardOpenOption.CREATE,
    java.nio.file.StandardOpenOption.APPEND)

  private val server = HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val rc =
        try {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          val envelope: Option[String] =
            if (ct.startsWith("application/cloudevents+json")) {
              val n = mapper.readTree(body)
              if (n != null && n.isObject) Some(mapper.writeValueAsString(n)) else None
            } else if (ex.getRequestHeaders.containsKey("Ce-Specversion")) {
              val node = mapper.createObjectNode()
              val hs = ex.getRequestHeaders.entrySet().iterator()
              while (hs.hasNext) {
                val h = hs.next()
                val k = h.getKey.toLowerCase
                if (k.startsWith("ce-")) {
                  // binary-mode context attributes are STRINGS by binding
                  // definition — a non-string envelope value is stringified
                  // on send and stays a string here (use structured mode
                  // when attribute types must survive the wire)
                  node.put(k.stripPrefix("ce-"),
                    HttpCloudEventTransport.decodeHeader(h.getValue.get(0)))
                }
              }
              if (body.nonEmpty) {
                val dn = try mapper.readTree(body) catch { case _: Exception => null }
                if (dn != null) node.set[ObjectNode]("data", dn)
                else node.put("data", body)
              }
              Some(mapper.writeValueAsString(node))
            } else None
          envelope match {
            case None => 400
            case Some(js) if reject(js) => 503
            case Some(js) =>
              out.synchronized { out.write(js); out.write("\n"); out.flush() }
              200
          }
        } catch { case scala.util.control.NonFatal(_) => 500 }
      ex.sendResponseHeaders(rc, -1)
      ex.close()
    }
  })
  server.start()

  /** The K_SINK url senders should target. */
  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  /** Where received envelopes accumulate (NDJSON, one per line). */
  val receivedPath: String = path.toString

  def stop(): Unit = {
    server.stop(0)
    out.synchronized(out.close())
  }
}
