package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 `cts` — the CTS v2 trace feed as a first-class Spark source
  * (north_star "custom source for CloudTrace events").
  *
  * The real service is a REST API paged by a continuation marker
  * (reference: pkg/adapter/querier.go:30-37 one list call;
  * pkg/adapter/adapter.go:106-130 batch page loop, adapter.go:158-210
  * streaming loop). This offline implementation reads the same protocol
  * from page fixtures on disk: `page-<marker>.json`, each a
  * `{"traces":[...], "meta_data":{"count":N, "marker":"<next>"}}` response
  * envelope; an empty marker ends the chain (adapter.go:125-129).
  *
  * Options:
  *  - `pages`  (required): WHERE the page chain lives — either a
  *    directory of page fixtures (first marker `000`), or an
  *    `http(s)://` endpoint speaking the live CTS v2 list protocol:
  *    `GET <pages>[?next=<marker>][&limit=N][&from=ms][&to=ms]`, the
  *    exact wire shape of the reference's traces.List call
  *    (querier.go:30-37 builds the list call; adapter.go:98-104 sets
  *    From/To/Limit on every request, adapter.go:125-129 threads the
  *    response marker into the next request's Next — the FIRST request
  *    carries no Next). A 404 ends the chain cleanly (the file path's
  *    missing-page rule); any other non-200 — including 401 — fails the
  *    scan loudly, because an auth error silently reading as "empty
  *    feed" would be a data-loss bug.
  *  - `token`: bearer credential sent as `X-Auth-Token` on every HTTP
  *    request — the header OpenStack-family APIs authenticate with. The
  *    reference exchanges IAM user/password for this token at startup
  *    (cmd/cts_exporter/main.go:78 via clouds.yaml); the exchange needs
  *    a live IAM endpoint, so here the token itself is the config seam.
  *  - `limit`: server-side page-size cap, reference default 50
  *    (querier.go:15 tracesLowerBound, adapter.go:101).
  *
  * Spark-shaped improvements over the Go loop, by construction:
  *  - the driver only walks the (tiny) marker chain; page BODIES are
  *    parsed by executors in parallel — the Go adapter accumulates all
  *    pages in one goroutine. The walked chain is cut into one contiguous
  *    run of markers per task slot (`min(pages, defaultParallelism)`
  *    partitions, read on the driver when the scan or stream is built),
  *    and each reader keeps up to `READ_AHEAD` of its pages in flight
  *    while it yields rows in marker order: a page read waits one
  *    round trip, and a slot that held one page at a time would wait
  *    for its pages' round trips one after another;
  *  - the chain is walked once per scan, and a stream walks it once and
  *    then only re-fetches its tail page per trigger, so a poll costs
  *    two endpoint requests per page (the walk's and the read's). The
  *    walk keeps only markers: shipping the walked bodies inside the
  *    partitions would save the read, but then every page is fetched
  *    serially on the driver instead of in parallel on the executors,
  *    which made a 40-page poll slower, not faster;
  *  - the server-side From/To time filter (adapter.go:98-100) is a
  *    pushed-down predicate (`SupportsPushDownFilters` on `time`), so
  *    Catalyst stops re-filtering what the "server" already filtered;
  *  - streaming offsets are committed marker positions — the checkpointed
  *    replacement for the mutex-guarded delta tracking of
  *    adapter.go:266-271; a restarted query resumes mid-chain.
  */
class CtsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cts"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CtsSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new CtsTable(properties.asScala.toMap)
}

/** Non-retryable CTS endpoint failure (4xx other than the 404
  * end-of-chain contract): auth or protocol errors a retry cannot fix. */
final class CtsClientError(msg: String) extends RuntimeException(msg)

object CtsSource {
  /** The CTS v2 trace fields the reference touches (SURVEY §1.1, each cited
    * from adapter.go usage). `time` is epoch-ms int64 exactly as the API
    * ships it (adapter.go:242 applies UnixMilli downstream). */
  val schema: StructType = StructType(Seq(
    StructField("trace_id", StringType),
    StructField("service_type", StringType),
    StructField("trace_type", StringType),
    StructField("resource_type", StringType),
    StructField("trace_name", StringType),
    StructField("resource_id", StringType),
    StructField("resource_name", StringType),
    StructField("time", LongType),
    StructField("trace_status", StringType),
    StructField("code", StringType),
    StructField("user", StringType),
    StructField("source_ip", StringType)))

  private val mapper = new ObjectMapper()

  /** The chain-head marker. Files name their first page with it; over
    * HTTP it is never sent (the reference's first list call carries no
    * Next — adapter.go:98-104). */
  val FirstMarker = "000"

  def pagePath(dir: String, marker: String) = s"$dir/page-$marker.json"

  private def isHttp(dir: String): Boolean =
    dir.startsWith("http://") || dir.startsWith("https://")

  /** One shared keep-alive client per JVM: every reader's page fetches
    * reuse its pooled connections, as the sink transport's POSTs do
    * (HttpTransport.scala). */
  private lazy val http: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** Transient-failure budget per page request: 5xx responses and
    * connection-level IOExceptions retry up to PAGE_RETRIES times with
    * linear backoff, then FAIL the task with context. The reference's
    * stream loop logs a failed page and moves on (adapter.go:181-198) —
    * acceptable for a best-effort exporter, but in an analytics scan a
    * silently skipped page is silent data loss, so the divergence is
    * deliberate: bounded retry absorbs the transient blip the
    * reference's skip was for, and a deterministic server error surfaces
    * loudly (Spark then retries the task / the orchestrator the query)
    * instead of producing a plausible-but-incomplete answer. 4xx never
    * retries: 404 is the clean end-of-chain contract, 401/403 is a
    * credential problem no retry fixes. */
  private[graft] final val PAGE_RETRIES = 3
  private final val PAGE_BACKOFF_MS = 100L

  /** Page fetches one partition reader keeps in flight. It bounds the
    * requests a reader adds to the endpoint, so the fetch pool below can
    * be shared by every reader in the JVM. Traced exporter runs (40 pages
    * over 4 slots, 10 per reader) gave `sources.scan_s` 0.30 s at 4,
    * 0.22 s at 8, 0.12 s at 10 and 0.16–0.20 s at 16: a window smaller
    * than a reader's run costs a second round of waits. Against 8, 16 cut
    * the exporter's untraced `pass_s` from 1.54 to 1.43 s (6 seed pairs,
    * 4 vCPUs). */
  private[graft] final val READ_AHEAD = 16

  /** Daemon threads that run the readers' page fetches. */
  private[sources] lazy val fetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "cts-page-fetch")
      t.setDaemon(true)
      t
    }

  /** Task slots of the active session: the number of partitions a scan
    * or stream cuts its chain into. Read on the driver. */
  def taskSlots(): Int =
    org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism

  /** Fetch one page envelope — the transport seam shared by the marker
    * walk and the executor body reads. Returns None on a CLEAN end of
    * chain (missing fixture file / HTTP 404); throws on any other HTTP
    * failure after the retry budget. `limit`/`tFrom`/`tTo` ride the wire
    * as the server-side Limit/From/To parameters (adapter.go:98-104);
    * the file path ignores them here because [[readPage]] replays them
    * client-side. */
  def fetchPage(dir: String, marker: String, token: Option[String],
                limit: Option[Int] = None, tFrom: Option[Long] = None,
                tTo: Option[Long] = None): Option[JsonNode] =
    if (isHttp(dir)) {
      val params = Seq(
        if (marker == FirstMarker) None else Some(s"next=$marker"),
        limit.map(l => s"limit=$l"),
        tFrom.map(f => s"from=$f"),
        tTo.map(t => s"to=$t")).flatten
      val sep = if (dir.contains("?")) "&" else "?"
      val url = if (params.isEmpty) dir else dir + sep + params.mkString("&")
      def attempt(): Option[String] = {
        val b = java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofSeconds(30)).GET()
        token.foreach(t => b.header("X-Auth-Token", t))
        val resp = http.send(b.build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        resp.statusCode() match {
          case 200 => Some(resp.body())
          case 404 => None
          case c if c >= 500 => throw new java.io.IOException(
            s"cts: GET $url failed with HTTP $c")
          case c => throw new CtsClientError(
            s"cts: GET $url failed with HTTP $c" +
              (if (c == 401 || c == 403) " (check the 'token' option)" else ""))
        }
      }
      var tries = 0
      var out: Option[String] = None
      var done = false
      while (!done) {
        try { out = attempt(); done = true }
        catch {
          case e: java.io.IOException =>
            tries += 1
            if (tries > PAGE_RETRIES) throw new java.io.IOException(
              s"cts: page fetch failed after ${tries} attempts: ${e.getMessage}", e)
            Thread.sleep(PAGE_BACKOFF_MS * tries)
        }
      }
      // Parse OUTSIDE the retried section (r18 ADVICE): Jackson's
      // JsonProcessingException extends IOException, so a deterministic
      // malformed 200 body inside the loop would burn the whole retry
      // budget with backoff before failing. A bad body is a server
      // contract violation, not a transient — fail on the first sight.
      out.map { body =>
        try mapper.readTree(body)
        catch {
          case e: com.fasterxml.jackson.core.JsonProcessingException =>
            throw new CtsClientError(
              s"cts: GET $url returned HTTP 200 with a malformed JSON body: ${e.getMessage}")
        }
      }
    } else {
      val p = Paths.get(pagePath(dir, marker))
      if (!Files.exists(p)) None
      else Some(mapper.readTree(new String(
        Files.readAllBytes(p), StandardCharsets.UTF_8)))
    }

  /** Parse a checkpointed offset envelope. Explicit field lookup, not a
    * digit regex — a malformed or reshaped envelope must FAIL the restart
    * (resuming from a guessed page count silently re-reads or skips data). */
  def parseOffsetJson(json: String): Int = {
    val n = try mapper.readTree(json).path("pages")
    catch { case e: Exception =>
      throw new IllegalArgumentException(s"malformed cts offset: $json", e) }
    if (!n.canConvertToInt || n.asInt() < 0)
      throw new IllegalArgumentException(s"malformed cts offset: $json")
    n.asInt()
  }

  /** The continuation marker a page envelope points at; empty at the end
    * of the chain (adapter.go:125-129). */
  def nextMarker(page: JsonNode): String =
    page.path("meta_data").path("marker").asText("")

  /** Follow the marker chain from `start` (the head by default) — the
    * driver-side page walk (adapter.go:106-130). Only markers are kept;
    * over HTTP the server still ships whole pages (the CTS list API has
    * no marker-only call), so a walk costs one request per page. The
    * walk sends the same `limit`/`tFrom`/`tTo` as the executor reads: a
    * live endpoint's chain depends on them, and a chain walked without
    * them could point past traces the limited reads never see. */
  def walkMarkers(dir: String, token: Option[String] = None,
                  limit: Option[Int] = None, tFrom: Option[Long] = None,
                  tTo: Option[Long] = None,
                  start: String = FirstMarker): Vector[String] = {
    val markers = ArrayBuffer.empty[String]
    var m = start
    var done = false
    while (!done) {
      fetchPage(dir, m, token, limit, tFrom, tTo) match {
        case None => done = true
        case Some(page) =>
          markers += m
          m = nextMarker(page)
          if (m.isEmpty) done = true
      }
    }
    markers.toVector
  }

  /** Parse one page body into rows — executor-side work. `limit` caps rows
    * per page (the server's Limit parameter); `tFrom`/`tTo` replay the
    * server-side window filter on `time`. Over HTTP all three ALSO ride
    * the request so the server evaluates them first — the client-side
    * replay is idempotent, and keeps the two transports row-identical
    * even against a server that ignores the parameters. */
  def readPage(dir: String, marker: String, limit: Int,
               tFrom: Option[Long], tTo: Option[Long],
               token: Option[String] = None): Iterator[InternalRow] = {
    val traces = fetchPage(dir, marker, token, Some(limit), tFrom, tTo)
      .getOrElse(throw new java.io.IOException(
        s"cts: page '$marker' vanished between planning and read under $dir"))
      .path("traces")
    def str(n: JsonNode, f: String): Any = {
      val v = n.path(f)
      if (v.isMissingNode || v.isNull) null else UTF8String.fromString(v.asText)
    }
    traces.elements().asScala.take(limit).flatMap { t =>
      val time = t.path("time").asLong(0L)
      if (tFrom.exists(time < _) || tTo.exists(time >= _)) None
      else Some(new GenericInternalRow(Array[Any](
        str(t, "trace_id"), str(t, "service_type"), str(t, "trace_type"),
        str(t, "resource_type"), str(t, "trace_name"), str(t, "resource_id"),
        str(t, "resource_name"), time, str(t, "trace_status"), str(t, "code"),
        str(t, "user"), str(t, "source_ip"))))
    }
  }
}

class CtsTable(props: Map[String, String]) extends Table with SupportsRead {
  private val dir = props.getOrElse("pages",
    throw new IllegalArgumentException("cts source requires option 'pages'"))
  private val token = props.get("token")
  private val limit = props.get("limit").map(_.toInt).getOrElse(50)
  // CTS page-size legal band (querier.go:15-16 tracesLowerBound=50 /
  // tracesUpperBound=200 — the API cap): a mis-configured page size must
  // fail at table resolution, not paginate garbage silently (main.go's
  // fail-fast-on-config-error posture, exit code 78)
  if (limit < 1 || limit > 200)
    throw new IllegalArgumentException(
      s"cts option 'limit' out of range: 1 and 200 (got $limit)")

  override def name(): String = s"cts:$dir"
  override def schema(): StructType = CtsSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CtsScanBuilder(dir, limit, token)
}

class CtsScanBuilder(dir: String, limit: Int, token: Option[String])
    extends ScanBuilder with SupportsPushDownFilters {
  private var tFrom: Option[Long] = None
  private var tTo: Option[Long] = None
  private var pushed: Array[Filter] = Array.empty

  /** Accept time-range predicates — the server evaluates From/To, so Spark
    * must not re-check them (adapter.go:98-100 ≙ F1 pushdown). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual("time", v: Long) => { tFrom = maxOpt(tFrom, v); true }
      case GreaterThan("time", v: Long)        => { tFrom = maxOpt(tFrom, v + 1); true }
      case LessThan("time", v: Long)           => { tTo = minOpt(tTo, v); true }
      case LessThanOrEqual("time", v: Long)    => { tTo = minOpt(tTo, v + 1); true }
      case _ => false
    }
    pushed = accepted
    rejected
  }
  private def maxOpt(o: Option[Long], v: Long) = Some(o.fold(v)(math.max(_, v)))
  private def minOpt(o: Option[Long], v: Long) = Some(o.fold(v)(math.min(_, v)))
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new CtsScan(dir, limit, tFrom, tTo, token, CtsSource.taskSlots())
}

/** A contiguous run of the chain, in chain order. */
case class CtsInputPartition(dir: String, markers: Vector[String], limit: Int,
                             tFrom: Option[Long], tTo: Option[Long],
                             token: Option[String]) extends InputPartition

class CtsScan(dir: String, limit: Int, tFrom: Option[Long], tTo: Option[Long],
              token: Option[String], slots: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = CtsSource.schema
  override def description(): String =
    s"CtsScan pages=$dir limit=$limit pushedTimeFrom=$tFrom pushedTimeTo=$tTo"

  /** The chain, walked once per scan: Spark plans a scan's partitions
    * more than once, and each new query builds a new scan, so a later
    * action still sees pages appended since this one. */
  private lazy val markers =
    CtsSource.walkMarkers(dir, token, Some(limit), tFrom, tTo)

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    CtsScan.partitions(markers, slots, dir, limit, tFrom, tTo, token)
  override def createReaderFactory(): PartitionReaderFactory = CtsReaderFactory

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CtsMicroBatchStream(dir, limit, tFrom, tTo, token, slots)
}

object CtsScan {
  /** Cut the chain into `min(pages, slots)` contiguous runs whose sizes
    * differ by at most one page. */
  def partitions(markers: Seq[String], slots: Int, dir: String, limit: Int,
                 tFrom: Option[Long], tTo: Option[Long],
                 token: Option[String]): Array[InputPartition] = {
    val n = math.min(markers.size, math.max(slots, 1))
    Array.tabulate[InputPartition](n) { i =>
      CtsInputPartition(dir,
        markers.slice(i * markers.size / n, (i + 1) * markers.size / n).toVector,
        limit, tFrom, tTo, token)
    }
  }
}

object CtsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new CtsPageReader(p.asInstanceOf[CtsInputPartition])
}

/** Reads a partition's pages through [[CtsSource.readPage]] — so every
  * retry, end-of-chain and auth rule is the scan's own — with up to
  * `READ_AHEAD` fetches in flight on the shared fetch pool, and yields
  * their rows in marker order. A page's failure is rethrown as is on the
  * task thread when its turn comes. `close()` cancels the fetches still
  * pending and returns only once none of them is running. */
final class CtsPageReader(part: CtsInputPartition) extends PartitionReader[InternalRow] {
  private val pending = new java.util.ArrayDeque[CtsPageReader.Fetch]()
  private var issued = 0
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (!rows.hasNext) {
      while (pending.size < CtsSource.READ_AHEAD && issued < part.markers.length) {
        pending.add(new CtsPageReader.Fetch(part, part.markers(issued)))
        issued += 1
      }
      if (pending.isEmpty) return false
      rows = pending.poll().rows()
    }
    row = rows.next()
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = {
    pending.forEach(_.cancel())
    pending.clear()
  }
}

object CtsPageReader {
  /** One page fetch on the shared pool. A fetch cancelled before the
    * pool starts it never runs, so it never sends a request. */
  private final class Fetch(part: CtsInputPartition, marker: String) {
    private val finished = new java.util.concurrent.CountDownLatch(1)
    private val task = new java.util.concurrent.FutureTask[Iterator[InternalRow]](() =>
      CtsSource.readPage(part.dir, marker, part.limit, part.tFrom, part.tTo, part.token))
    CtsSource.fetchPool.execute(() => try task.run() finally finished.countDown())

    def rows(): Iterator[InternalRow] =
      try task.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

    /** Stop the fetch: interrupt it if it is running (an HTTP wait or a
      * retry backoff) and wait until it has ended. */
    def cancel(): Unit = {
      task.cancel(true)
      // a killed task closes its reader with its interrupt still set
      var interrupted = false
      while (finished.getCount > 0)
        try finished.await() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }
}

/** Offset = number of pages fully consumed; committed by the checkpoint —
  * the durable replacement for the reference's in-memory delta tracking. */
case class CtsOffset(pages: Int) extends Offset {
  override def json(): String = s"""{"pages":$pages}"""
}

class CtsMicroBatchStream(dir: String, limit: Int,
                          tFrom: Option[Long], tTo: Option[Long],
                          token: Option[String],
                          slots: Int = CtsSource.taskSlots()) extends MicroBatchStream {
  /** Every marker this stream has seen, in chain order. A chain only
    * grows at its tail, so the buffer is extended, never re-walked. */
  private val seen = ArrayBuffer.empty[String]

  private def walk(start: String): Vector[String] =
    CtsSource.walkMarkers(dir, token, Some(limit), tFrom, tTo, start)

  /** Bring `seen` up to the chain's current end and return its length:
    * walk from the head while nothing is known, else re-fetch only the
    * tail page and walk on from its marker if it now has one — one
    * request per trigger when nothing was appended. */
  private def extend(): Int = synchronized {
    if (seen.isEmpty) seen ++= walk(CtsSource.FirstMarker)
    else CtsSource.fetchPage(dir, seen.last, token, Some(limit), tFrom, tTo)
      .map(CtsSource.nextMarker).filter(_.nonEmpty)
      .foreach(next => seen ++= walk(next))
    seen.length
  }

  override def initialOffset(): Offset = CtsOffset(0)
  override def latestOffset(): Offset = CtsOffset(extend())
  override def deserializeOffset(json: String): Offset =
    CtsOffset(CtsSource.parseOffsetJson(json))
  /** Slices the buffer; extends it first only when it is shorter than
    * `end`, as when a restarted query replays a checkpointed batch. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CtsOffset].pages
    val e = end.asInstanceOf[CtsOffset].pages
    val markers = synchronized {
      if (seen.length < e) extend()
      seen.slice(s, e).toVector
    }
    CtsScan.partitions(markers, slots, dir, limit, tFrom, tTo, token)
  }
  override def createReaderFactory(): PartitionReaderFactory = CtsReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
