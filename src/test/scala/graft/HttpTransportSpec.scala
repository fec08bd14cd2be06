package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CeHttpReceiver, CloudEventSink, CtsParity, HttpCloudEventTransport}

/** The reference's delivery path as REAL socket I/O on loopback: per-event
  * CE POST (adapter.go:146) against a receiver speaking the CloudEvents
  * HTTP binding (cmd/neo4j_sink/main.go:59-78), both binding content
  * modes, failure accounting over the wire, and the full export → HTTP →
  * receive → ingest loop. */
class HttpTransportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ce() = CtsParity.toCloudEvents(
    CtsParity.eventsAsTraces(Tables.events(spark, TestSpark.sfDir))).limit(120)

  /** Parse NDJSON lines to attribute maps (order-free envelope compare). */
  private def envelopes(path: String): Set[Map[String, String]] = {
    val m = new ObjectMapper()
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { line =>
      val n = m.readTree(line)
      n.properties().asScala.map(e => e.getKey ->
        (if (e.getValue.isTextual) e.getValue.asText else m.writeValueAsString(e.getValue))
      ).toMap
    }.toSet
  }

  private def sentEnvelopes(df: org.apache.spark.sql.DataFrame): Set[Map[String, String]] = {
    import org.apache.spark.sql.functions._
    val m = new ObjectMapper()
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("j"))
      .collect().map { r =>
        val n = m.readTree(r.getString(0))
        n.properties().asScala.map(e => e.getKey ->
          (if (e.getValue.isTextual) e.getValue.asText else m.writeValueAsString(e.getValue))
        ).toMap
      }.toSet
  }

  test("structured-mode round trip delivers every envelope intact") {
    val dir = graft.streaming.StreamingOps.tmp("ce-http-structured-")
    val rx = new CeHttpReceiver(dir)
    try {
      val events = ce().cache()
      val n = events.count()
      val d = CloudEventSink.deliver(events,
        new HttpCloudEventTransport(rx.url, structured = true), deliveryId = 0L)
      assert(d.sent === n && d.failed === 0)
      assert(envelopes(rx.receivedPath) === sentEnvelopes(events))
      events.unpersist()
    } finally rx.stop()
  }

  test("binary-mode round trip reassembles the same envelope from ce-* headers") {
    val dir = graft.streaming.StreamingOps.tmp("ce-http-binary-")
    val rx = new CeHttpReceiver(dir)
    try {
      val events = ce().cache()
      val n = events.count()
      val d = CloudEventSink.deliver(events,
        new HttpCloudEventTransport(rx.url), deliveryId = 0L)
      assert(d.sent === n && d.failed === 0)
      // binary mode adds the binding's default specversion; compare modulo it
      val got = envelopes(rx.receivedPath).map(_ - "specversion")
      assert(got === sentEnvelopes(events))
      events.unpersist()
    } finally rx.stop()
  }

  test("header percent-encoding survives non-ASCII and control characters") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOf(Gen.frequency(
      4 -> Gen.asciiPrintableChar,
      2 -> Gen.choose('\u0000', '\u00FF'),
      1 -> Gen.choose('\u0100', '\uFFFF').filterNot(Character.isSurrogate)
    )).map(_.mkString)
    val random = (0 until 300).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val cases = Seq("plain", "päyload ü", "tab\tnl\n", "pct%20x", "", "漢字") ++ random
    cases.foreach { s =>
      assert(HttpCloudEventTransport.decodeHeader(
        HttpCloudEventTransport.encodeHeader(s)) === s)
    }
    // encoded form must be legal printable-ASCII header material
    cases.foreach { s =>
      val e = HttpCloudEventTransport.encodeHeader(s)
      assert(e.forall(c => c >= 0x21 && c <= 0x7e), s"not header-safe: $e")
    }
  }

  test("receiver faults surface as failed ACK accounting over the wire (F4/C4)") {
    val dir = graft.streaming.StreamingOps.tmp("ce-http-fault-")
    // 503 every envelope whose id ends in '3' — per-event, mid-stream
    val rx = new CeHttpReceiver(dir, reject = js => {
      """"id":"(\d+)"""".r.findFirstMatchIn(js).exists(_.group(1).endsWith("3"))
    })
    try {
      val events = ce().cache()
      val n = events.count()
      val expectedFail = events.collect()
        .count(r => r.getAs[String]("id").endsWith("3"))
      val d = CloudEventSink.deliver(events,
        new HttpCloudEventTransport(rx.url), deliveryId = 0L)
      assert(d.sent + d.failed === n, "every event accounted exactly once")
      assert(d.failed === expectedFail)
      // rejected events must NOT have been appended
      assert(envelopes(rx.receivedPath).size === (n - expectedFail))
      events.unpersist()
    } finally rx.stop()
  }

  test("K2 streaming delivery over HTTP: foreachBatch posts arrive intact") {
    val dir = graft.streaming.StreamingOps.tmp("ce-http-stream-")
    val rx = new CeHttpReceiver(dir)
    try {
      val events = ce().cache()
      val n = events.count()
      // drive the SAME frame through the streaming sink: rate-limited file
      // replay would be slow here; a MemoryStream keeps it a true streaming
      // query (foreachBatch, checkpointed) over identical rows
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rows = events.toJSON.collect()
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
      ms.addData(rows.toIndexedSeq)
      val schema = events.schema
      import org.apache.spark.sql.functions._
      val streamed = ms.toDF().select(from_json(col("value"), schema).as("e"))
        .select(col("e.*"))
      val transport = new HttpCloudEventTransport(rx.url, structured = true)
      val d = CloudEventSink.deliverStream(streamed, cycle = 0L)(
        CloudEventSink.deliver(_, transport, _))
      assert(d === CloudEventSink.Delivery(n, 0))
      assert(envelopes(rx.receivedPath) === sentEnvelopes(events))
      events.unpersist()
    } finally rx.stop()
  }

  test("full loop: Exporter over HTTP → receiver → ingest equals direct transform") {
    val dir = graft.streaming.StreamingOps.tmp("ce-http-loop-")
    val rx = new CeHttpReceiver(dir)
    try {
      // same two-page marker-chain fixture shape ExporterSpec drives
      def trace(id: Int): String = {
        val t = 1700000000000L + id * 60000L
        s"""{"trace_id":"t$id","service_type":"ECS","trace_type":"ApiCall",
           |"resource_type":"server","trace_name":"op$id","resource_id":"r$id",
           |"resource_name":"vm-$id","time":$t,"trace_status":"normal",
           |"code":"200","user":"u$id","source_ip":"10.0.0.$id"}""".stripMargin.replace("\n", "")
      }
      val fixtures = Paths.get(graft.streaming.StreamingOps.tmp("http-loop-pages-"))
      def page(marker: String, ids: Seq[Int], next: String): Unit =
        Files.write(fixtures.resolve(s"page-$marker.json"),
          s"""{"traces":[${ids.map(trace).mkString(",")}],"meta_data":{"count":${ids.size},"marker":"$next"}}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      page("000", Seq(0, 1, 2), "001")
      page("001", Seq(3, 4), "")
      val d = Exporter.run(spark,
        Exporter.Config(fixtures.toString, rx.url)).get
      assert(d.failed === 0 && d.sent > 0)
      // what landed at the receiver == what the offline NDJSON transport
      // would have delivered for the same config
      val offDir = graft.streaming.StreamingOps.tmp("ce-ndjson-ref-")
      Exporter.run(spark, Exporter.Config(fixtures.toString, offDir))
      val offline = Files.list(Paths.get(offDir)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".ndjson"))
        .flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty)
        .map { line =>
          val m = new ObjectMapper(); val n = m.readTree(line)
          n.properties().asScala.map(e => e.getKey ->
            (if (e.getValue.isTextual) e.getValue.asText else m.writeValueAsString(e.getValue))
          ).toMap
        }.toSet
      assert(envelopes(rx.receivedPath).map(_ - "specversion") === offline)
    } finally rx.stop()
  }

  test("pipelined POSTs are tallied exactly on the task thread, delivery after delivery") {
    val dir = graft.streaming.StreamingOps.tmp("ce-http-tally-")
    // a slow receiver keeps many POSTs of each task open at once
    val rx = new CeHttpReceiver(dir, reject = js => {
      Thread.sleep(20)
      """"id":"(\d+)"""".r.findFirstMatchIn(js).exists(_.group(1).endsWith("3"))
    })
    try {
      val events = ce().repartition(4).cache()
      val n = events.count()
      val expectedFail = events.collect().count(r => r.getAs[String]("id").endsWith("3"))
      assert(expectedFail > 0)
      (0 until 5).foreach { i =>
        val d = CloudEventSink.deliver(events, new HttpCloudEventTransport(rx.url), i.toLong)
        assert(d.sent + d.failed === n, s"delivery $i: $d")
        assert(d.failed === expectedFail, s"delivery $i: $d")
      }
      events.unpersist()
    } finally rx.stop()
  }

  test("one shared HttpClient: 50 deliveries start no new selector threads") {
    def selectors(): Set[String] = Thread.getAllStackTraces.keySet.asScala
      .map(_.getName).filter(_.matches("HttpClient-\\d+-SelectorManager")).toSet
    val dir = graft.streaming.StreamingOps.tmp("ce-http-shared-")
    val open, maxOpen = new java.util.concurrent.atomic.AtomicInteger(0)
    val rx = new CeHttpReceiver(dir, reject = _ => {
      maxOpen.accumulateAndGet(open.incrementAndGet(), math.max)
      Thread.sleep(20)
      open.decrementAndGet()
      false
    })
    try {
      val events = ce().limit(40).coalesce(1).cache()
      val n = events.count()
      val transport = new HttpCloudEventTransport(rx.url)
      assert(CloudEventSink.deliver(events, transport, 0L) === CloudEventSink.Delivery(n, 0))
      val first = selectors()
      (1 until 50).foreach { i =>
        assert(CloudEventSink.deliver(events, transport, i.toLong) === CloudEventSink.Delivery(n, 0))
      }
      assert(selectors() -- first === Set.empty[String])
      assert(maxOpen.get <= HttpCloudEventTransport.POSTS_IN_FLIGHT,
        s"${maxOpen.get} POSTs in flight from one task")
      assert(maxOpen.get > 1, "one task's POSTs must overlap")
      events.unpersist()
    } finally rx.stop()
  }

  test("an interrupted delivery stops at once instead of waiting out its open POSTs") {
    val dir = graft.streaming.StreamingOps.tmp("ce-http-kill-")
    val rx = new CeHttpReceiver(dir, reject = _ => { Thread.sleep(3000); false })
    try {
      val events = (0 until 40).map(i =>
        s"""{"specversion":"1.0","id":"$i","source":"s","type":"t"}""")
      var outcome: Option[Throwable] = None
      val task = new Thread(() =>
        try new HttpCloudEventTransport(rx.url).sendPartition(events.iterator)
        catch { case e: Throwable => outcome = Some(e) })
      task.start()
      Thread.sleep(300)
      val killedAt = System.nanoTime()
      task.interrupt()
      task.join(5000)
      val stopMs = (System.nanoTime() - killedAt) / 1000000
      assert(!task.isAlive)
      assert(outcome.exists(_.isInstanceOf[InterruptedException]), s"$outcome")
      assert(stopMs < 1000, s"took $stopMs ms to stop")
    } finally rx.stop()
  }
}
