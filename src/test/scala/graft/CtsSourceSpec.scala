package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CtsSource

/** The custom `cts` DataSourceV2 against local page fixtures that speak the
  * CTS v2 response protocol (traces + meta_data.marker continuation —
  * reference pkg/adapter/adapter.go:106-130). */
class CtsSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def trace(id: Int): String = {
    val t = 1700000000000L + id * 60000L
    s"""{"trace_id":"t$id","service_type":"ECS","trace_type":"ApiCall",
       |"resource_type":"server","trace_name":"op$id","resource_id":"r$id",
       |"resource_name":"vm-$id","time":$t,"trace_status":"normal",
       |"code":"200","user":"{\\"name\\":\\"u$id\\"}","source_ip":"10.0.0.$id"}""".stripMargin.replace("\n", "")
  }

  private def page(dir: Path, marker: String, ids: Seq[Int], next: String): Unit =
    Files.write(dir.resolve(s"page-$marker.json"),
      s"""{"traces":[${ids.map(trace).mkString(",")}],
         |"meta_data":{"count":${ids.size},"marker":"$next"}}""".stripMargin
        .replace("\n", "").getBytes(StandardCharsets.UTF_8))

  /** 3 pages of 3/3/2 traces chained by markers 000→001→002→(end). */
  private def writeFixtures(): Path = {
    val dir = Paths.get(graft.streaming.StreamingOps.tmp("cts-pages-"))
    page(dir, "000", Seq(0, 1, 2), "001")
    page(dir, "001", Seq(3, 4, 5), "002")
    page(dir, "002", Seq(6, 7), "")
    dir
  }

  private def marker(i: Int) = f"$i%03d"

  /** `n` pages of 3 traces each, page i holding traces 3i..3i+2, chained
    * by markers 000→001→…→(end). */
  private def writeChain(n: Int): Path = {
    val dir = Paths.get(graft.streaming.StreamingOps.tmp("cts-chain-"))
    (0 until n).foreach { i =>
      page(dir, marker(i), (3 * i until 3 * i + 3), if (i == n - 1) "" else marker(i + 1))
    }
    dir
  }

  test("batch read follows the marker chain and yields all traces") {
    val dir = writeFixtures()
    val df = spark.read.format("cts").option("pages", dir.toString).load()
    val rows = df.orderBy("trace_id").collect()
    assert(rows.length === 8)
    assert(rows.map(_.getString(0)).toSeq === (0 to 7).map(i => s"t$i"))
    assert(rows.head.getString(6) === "vm-0")
    assert(rows.head.getLong(7) === 1700000000000L)
    assert(df.rdd.getNumPartitions === 3, "one partition per page")
  }

  test("time-range predicate is pushed into the scan (server-side F1 filter)") {
    val dir = writeFixtures()
    val from = 1700000000000L + 3 * 60000L
    val df = spark.read.format("cts").option("pages", dir.toString).load()
      .filter(col("time") >= from && col("time") < from + 3 * 60000L)
    assert(df.select("trace_id").collect().map(_.getString(0)).sorted.toSeq
      === Seq("t3", "t4", "t5"))
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("pushedTimeFrom=Some"), s"no pushed lower bound in:\n$scanDesc")
    assert(scanDesc.contains("pushedTimeTo=Some"), s"no pushed upper bound in:\n$scanDesc")
  }

  test("limit option caps rows per page like the server Limit parameter") {
    val dir = writeFixtures()
    val df = spark.read.format("cts")
      .option("pages", dir.toString).option("limit", "2").load()
    assert(df.count() === 6L) // 2 per page x 3 pages (last page has 2)
  }

  test("micro-batch stream delivers the same rows as the batch read") {
    val dir = writeFixtures()
    val name = "cts_stream_out"
    val q = spark.readStream.format("cts").option("pages", dir.toString).load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", graft.streaming.StreamingOps.tmp("cts-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(name).orderBy("trace_id").collect()
    val batch = spark.read.format("cts").option("pages", dir.toString).load()
      .orderBy("trace_id").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("a drain of the cts stream keeps the session's partitions and deletes its checkpoint") {
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.shuffle.partitions"
    def ckpts(): Set[String] =
      Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("graft-ckpt-")).toSet
    val before = ckpts()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Set[String])]()
    val stream = spark.readStream.format("cts").option("pages", writeFixtures().toString).load()
    graft.streaming.StreamingOps.drain(stream) { (batch, _) =>
      seen.add((batch.sparkSession.conf.get(key), ckpts() -- before))
    }
    assert(!seen.isEmpty, "the drain ran no batch")
    seen.forEach { case (partitions, made) =>
      // a DSv2 source has no file feed to size by: the drain must not
      // override the session's count (a 3-page feed would derive 1)
      assert(partitions === spark.conf.get(key))
      assert(made.size === 1, s"the drain's own checkpoint, live while it runs: $made")
    }
    assert(ckpts() -- before === Set.empty, "the checkpoint outlived the drain")
  }

  test("a restarted stream resumes from the committed marker offset") {
    val dir = writeFixtures()
    val ckpt = graft.streaming.StreamingOps.tmp("cts-ckpt-")
    // foreachBatch sink (memory sink cannot recover a checkpoint); the
    // buffer records what each RUN actually delivered
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("cts").option("pages", dir.toString).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("trace_id").collect().foreach(r => delivered.add(r.getString(0)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce()
    assert(delivered.toArray.map(_.toString).toSeq.sorted === (0 to 7).map(i => s"t$i"))
    // a fourth page arrives after the first drain; chain 002 now points at it
    Files.write(dir.resolve("page-003.json"),
      s"""{"traces":[${trace(8)}],"meta_data":{"count":1,"marker":""}}"""
        .getBytes(StandardCharsets.UTF_8))
    val p2 = new String(Files.readAllBytes(dir.resolve("page-002.json")), StandardCharsets.UTF_8)
    Files.write(dir.resolve("page-002.json"),
      p2.replace(""""marker":""""", """"marker":"003"""").getBytes(StandardCharsets.UTF_8))
    delivered.clear()
    drainOnce()
    // only the NEW page is delivered after restart — offsets held
    assert(delivered.toArray.map(_.toString).toSeq === Seq("t8"))
  }

  test("cts stream feeding the CE transform + curation head equals the batch path") {
    // r14 verdict task 5: the one end-to-end shape not yet pinned —
    // format("cts") micro-batches (the marker-chain protocol) feeding the
    // CloudEvent transform and the pipeline's stateless admission head
    // (quality cascade + PII scrub) in ONE streaming query. The head is a
    // codegen Project + filter with no state store, so it binds to the
    // micro-batch stream unchanged; equality with the batch path over the
    // same fixture chain is the proof.
    val dir = writeFixtures()
    // trace → CE (toCloudEvents needs ts/region/domain/tenant, which the
    // live CTS payload carries but the minimal fixture omits) → a
    // document-shaped frame: id digits become doc_id (exercising the
    // planted-PII branches at doc_id % 7 ∈ {0, 3, 5}), the CE fields
    // compose a text long enough to clear the quality cascade.
    def ceDocs(traces: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val ce = graft.operators.CtsParity.toCloudEvents(traces
        .withColumn("ts", timestamp_millis(col("time")))
        .withColumn("region", lit("eu-de"))
        .withColumn("domain", lit("dom"))
        .withColumn("tenant", lit("ten")))
      ce.select(
          expr("cast(substring(id, 2) as long)").as("doc_id"),
          lit("en").as("lang"),
          concat(
            lit("the event of type "), col("type"),
            lit(" from subject "), col("subject"),
            lit(" was a normal api call and the trace is fine "),
            lit("so the record was kept for review and the audit "),
            lit("found that it was in order for all the checks")).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val batchAdmitted = LlmOps.pipelineHead(
      ceDocs(spark.read.format("cts").option("pages", dir.toString).load()))
      .collect().map(_.toString).sorted.toSeq
    assert(batchAdmitted.nonEmpty, "the fixture corpus must clear the quality head")
    val name = "cts_pipeline_out"
    val q = LlmOps.pipelineHead(
      ceDocs(spark.readStream.format("cts").option("pages", dir.toString).load()))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", graft.streaming.StreamingOps.tmp("cts-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(name).collect().map(_.toString).sorted.toSeq
    assert(streamed === batchAdmitted,
      "cts-stream → CE → admission head diverged from the batch path")
    // the head actually redacted: doc 0 (doc_id % 7 == 0) carries the
    // planted email rewritten to the [EMAIL] tag
    assert(streamed.exists(_.contains("[EMAIL]")),
      "planted PII must be redacted on the streamed path")
  }

  test("http: batch read over the REST stub equals the file-fixture path row-for-row") {
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString, Some("tok-123"))
    try {
      val http = spark.read.format("cts")
        .option("pages", stub.url).option("token", "tok-123").load()
        .orderBy("trace_id").collect()
      val file = spark.read.format("cts").option("pages", dir.toString).load()
        .orderBy("trace_id").collect()
      assert(http.length === 8)
      assert(http.toSeq === file.toSeq,
        "HTTP and file transports must deliver identical rows")
      // protocol shape: the FIRST request carries no Next (adapter.go:98),
      // later requests thread the response marker as next=<marker>
      val qs = stub.served.toArray.map(_.toString).toSeq
      assert(!qs.head.contains("next="), s"first request must omit next: ${qs.head}")
      assert(qs.exists(_.contains("next=001")) && qs.exists(_.contains("next=002")),
        s"marker chain did not ride the wire: $qs")
    } finally stub.stop()
  }

  test("http: a transiently flaky page survives via bounded retry; a dead server fails") {
    // r17 verdict task 7: the reference's stream loop logs a failed page
    // and keeps going (adapter.go:181-198); here a 500 gets a bounded
    // retry — a blip is absorbed, a deterministic failure surfaces
    // loudly instead of looping a task forever or dropping the page.
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      // one blip: the very first request 500s once, then the chain walks
      stub.failNext.set(1)
      val rows = spark.read.format("cts").option("pages", stub.url).load().count()
      assert(rows === 8, "retry must deliver the full chain after one 500")
      // a persistent failure exhausts the budget and fails with context
      stub.failNext.set(1000)
      val before = stub.served.size()
      val err = intercept[Throwable] {
        spark.read.format("cts").option("pages", stub.url).load().count()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(err).exists(m => m != null && m.contains("attempts")),
        s"exhausted retry must say so, got: ${chain(err)}")
      val tried = stub.served.size() - before
      assert(tried >= 2 && tried <= 8,
        s"retry budget must be bounded (saw $tried requests for one page)")
      stub.failNext.set(0)
    } finally stub.stop()
  }

  test("http: a malformed 200 body fails on the FIRST request, never retried") {
    // r18 ADVICE: Jackson's JsonProcessingException extends IOException,
    // so parsing inside the retried section treated a deterministic bad
    // body as transient and burned the whole backoff budget. The parse
    // now happens outside the loop and surfaces as a non-retryable
    // client error on first sight.
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      stub.garbleNext.set(1000)
      val before = stub.served.size()
      val err = intercept[Throwable] {
        spark.read.format("cts").option("pages", stub.url).load().count()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(err).exists(m => m != null && m.contains("malformed JSON body")),
        s"bad body must surface as a contract violation, got: ${chain(err)}")
      assert(stub.served.size() - before === 1,
        s"malformed 200 must not be retried (saw ${stub.served.size() - before} requests)")
      stub.garbleNext.set(0)
    } finally stub.stop()
  }

  test("http: a wrong or missing token fails the scan loudly (401), never as empty") {
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString, Some("tok-123"))
    try {
      val err = intercept[Throwable] {
        spark.read.format("cts")
          .option("pages", stub.url).option("token", "wrong").load().count()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(err).exists(m => m != null && m.contains("401")),
        s"auth failure must surface the 401, got: ${chain(err)}")
      // 4xx is non-retryable: a credential problem must fail on the
      // FIRST request, not burn the 5xx retry budget against an auth
      // wall (CtsClientError bypasses the bounded-retry loop)
      assert(stub.served.size() === 1,
        s"401 must not be retried (saw ${stub.served.size()} requests)")
    } finally stub.stop()
  }

  test("http: the pushed-down time window rides the wire and the server evaluates it") {
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      val from = 1700000000000L + 3 * 60000L
      val to = from + 3 * 60000L
      def read(pages: String) = spark.read.format("cts").option("pages", pages).load()
        .filter(col("time") >= from && col("time") < to)
        .orderBy("trace_id").collect()
      val http = read(stub.url)
      assert(http.map(_.getString(0)).toSeq === Seq("t3", "t4", "t5"))
      assert(http.toSeq === read(dir.toString).toSeq)
      // the executor body fetches carried the window as from/to params —
      // the server (not a Spark Filter) evaluated F1 over the wire
      val qs = stub.served.toArray.map(_.toString)
      assert(qs.exists(q => q.contains(s"from=$from") && q.contains(s"to=$to")),
        s"pushed window never rode the wire: ${qs.toSeq}")
    } finally stub.stop()
  }

  test("http: micro-batch stream resumes from the committed marker over the wire") {
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString, Some("tok-9"))
    try {
      val ckpt = graft.streaming.StreamingOps.tmp("cts-ckpt-")
      val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def drainOnce(): Unit = {
        val q = spark.readStream.format("cts")
          .option("pages", stub.url).option("token", "tok-9").load()
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.select("trace_id").collect().foreach(r => delivered.add(r.getString(0)))
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainOnce()
      assert(delivered.toArray.map(_.toString).toSeq.sorted === (0 to 7).map(i => s"t$i"),
        "first HTTP drain must deliver the whole chain")
      // the feed grows a page; the stub re-reads fixtures per request, so
      // this is a live-feed append over the same endpoint
      Files.write(dir.resolve("page-003.json"),
        s"""{"traces":[${trace(8)}],"meta_data":{"count":1,"marker":""}}"""
          .getBytes(StandardCharsets.UTF_8))
      val p2 = new String(Files.readAllBytes(dir.resolve("page-002.json")), StandardCharsets.UTF_8)
      Files.write(dir.resolve("page-002.json"),
        p2.replace(""""marker":""""", """"marker":"003"""").getBytes(StandardCharsets.UTF_8))
      delivered.clear()
      drainOnce()
      assert(delivered.toArray.map(_.toString).toSeq === Seq("t8"),
        "restart must resume from the committed marker offset, not re-read")
    } finally stub.stop()
  }

  /** Point page 002's marker at a new page 003 holding trace t8 — the
    * chain grows at its tail, the way a live feed does. */
  private def appendPage(dir: Path): Unit = {
    Files.write(dir.resolve("page-003.json"),
      s"""{"traces":[${trace(8)}],"meta_data":{"count":1,"marker":""}}"""
        .getBytes(StandardCharsets.UTF_8))
    val p2 = new String(Files.readAllBytes(dir.resolve("page-002.json")), StandardCharsets.UTF_8)
    Files.write(dir.resolve("page-002.json"),
      p2.replace(""""marker":""""", """"marker":"003"""").getBytes(StandardCharsets.UTF_8))
  }

  test("http: the walk sends the same limit and window as the page reads") {
    // a live endpoint's marker chain depends on Limit and on the window,
    // so a walk without them could lead the limited reads past traces
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      val from = 1700000000000L + 60000L
      val rows = spark.read.format("cts")
        .option("pages", stub.url).option("limit", "2").load()
        .filter(col("time") >= from && col("time") < from + 6 * 60000L)
        .collect()
      assert(rows.map(_.getString(0)).sorted.toSeq === Seq("t1", "t3", "t4", "t6"))
      val qs = stub.served.toArray.map(_.toString).toSeq
      assert(qs.size === 6)
      assert(qs.forall(q => q.contains("limit=2") && q.contains("from=") && q.contains("to=")),
        s"every request must carry limit, from and to: $qs")
    } finally stub.stop()
  }

  test("http: a batch read of N pages serves exactly 2N requests") {
    // one chain walk per scan (planning asks for partitions more than
    // once) plus one body read per page
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      assert(spark.read.format("cts").option("pages", stub.url).load().count() === 8L)
      assert(stub.served.size() === 6, s"served: ${stub.served}")
    } finally stub.stop()
  }

  test("http: an AvailableNow drain of N pages serves exactly 2N requests") {
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      val name = "cts_counted_out"
      spark.readStream.format("cts").option("pages", stub.url).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", graft.streaming.StreamingOps.tmp("cts-ckpt-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      assert(spark.table(name).count() === 8L)
      assert(stub.served.size() === 6, s"served: ${stub.served}")
    } finally stub.stop()
  }

  test("a new batch read sees a page appended after the previous read") {
    val dir = writeFixtures()
    val df = spark.read.format("cts").option("pages", dir.toString).load()
    assert(df.count() === 8L)
    appendPage(dir)
    assert(spark.read.format("cts").option("pages", dir.toString).load().count() === 9L)
    assert(df.count() === 9L, "a new action on the same frame plans a new scan")
  }

  test("http: a running ProcessingTime stream picks up an appended page via the tail page") {
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    val name = "cts_live_out"
    val q = spark.readStream.format("cts").option("pages", stub.url).load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", graft.streaming.StreamingOps.tmp("cts-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def ids = spark.table(name).collect().map(_.getString(0)).sorted.toSeq
    try {
      q.processAllAvailable()
      assert(ids === (0 to 7).map(i => s"t$i"))
      appendPage(dir)
      // a trigger that probed before the append may end the first wait
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ids.contains("t8") && System.nanoTime() < deadline) q.processAllAvailable()
      assert(ids === (0 to 8).map(i => s"t$i"))
    } finally { q.stop(); stub.stop() }
    // the head page is fetched by the first walk and by its read, never
    // again: later triggers re-fetch only the tail
    val head = stub.served.toArray.map(_.toString).count(!_.contains("next="))
    assert(head === 2, s"served: ${stub.served}")
  }

  test("http: an offset probe with nothing appended costs exactly one request") {
    val dir = writeFixtures()
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      val stream = new graft.sources.CtsMicroBatchStream(stub.url, 50, None, None, None)
      assert(stream.latestOffset() === graft.sources.CtsOffset(3))
      assert(stub.served.size() === 3, "the first probe walks the chain from its head")
      assert(stream.latestOffset() === graft.sources.CtsOffset(3))
      assert(stub.served.size() === 4, "an idle probe re-fetches only the tail page")
      assert(stub.served.toArray.last.toString.contains("next=002"))
      appendPage(dir)
      assert(stream.latestOffset() === graft.sources.CtsOffset(4))
      assert(stub.served.size() === 6, "tail page plus the one appended page")
      stream.planInputPartitions(graft.sources.CtsOffset(0), graft.sources.CtsOffset(4))
      assert(stub.served.size() === 6, "planning slices the seen markers")
    } finally stub.stop()
  }

  test("offset deserialization parses the envelope field and rejects garbage") {
    assert(CtsSource.parseOffsetJson("""{"pages":7}""") === 7)
    assert(intercept[IllegalArgumentException] {
      CtsSource.parseOffsetJson("""{"pages":"x"}""")
    }.getMessage.contains("malformed"))
    intercept[IllegalArgumentException] { CtsSource.parseOffsetJson("""{"v":2}""") }
    intercept[IllegalArgumentException] { CtsSource.parseOffsetJson("not json 123") }
    intercept[IllegalArgumentException] { CtsSource.parseOffsetJson("""{"pages":-1}""") }
  }

  /** Drain a partition reader, returning the trace ids in the order read. */
  private def readIds(r: org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow]): Seq[String] = {
    val ids = Seq.newBuilder[String]
    while (r.next()) ids += r.get().getUTF8String(0).toString
    ids.result()
  }

  private def reader(url: String, markers: Seq[String], token: Option[String] = None) =
    graft.sources.CtsReaderFactory.createReader(graft.sources.CtsInputPartition(
      url, markers.toVector, 50, None, None, token))

  test("http: a 9-page chain at local[4] reads as 4 runs of pages with 2N requests") {
    val dir = writeChain(9)
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      val runs = graft.sources.CtsScan.partitions((0 until 9).map(marker), 4,
        stub.url, 50, None, None, None).map(_.asInstanceOf[graft.sources.CtsInputPartition].markers)
      assert(runs.map(_.size).toSeq === Seq(2, 2, 2, 3))
      assert(runs.flatten.toSeq === (0 until 9).map(marker), "contiguous runs in chain order")
      assert(spark.read.format("cts").option("pages", stub.url).load()
        .rdd.getNumPartitions === 4)
      stub.served.clear()
      val http = spark.read.format("cts").option("pages", stub.url).load().collect()
      assert(stub.served.size() === 18, s"served: ${stub.served}")
      val file = spark.read.format("cts").option("pages", dir.toString).load().collect()
      assert(http.length === 27)
      assert(http.toSeq === file.toSeq, "both read the chain in marker order")
    } finally stub.stop()
  }

  test("http: a reader of 20 pages keeps at most READ_AHEAD fetches in flight, rows in order") {
    val dir = writeChain(20)
    val stub = new graft.sources.CtsRestStub(dir.toString)
    stub.delayMs.set(30)
    val r = reader(stub.url, (0 until 20).map(marker))
    try {
      assert(readIds(r) === (0 until 60).map(i => s"t$i"))
      assert(stub.served.size() === 20)
      assert(stub.maxInFlight.get <= CtsSource.READ_AHEAD,
        s"${stub.maxInFlight.get} fetches in flight")
      assert(stub.maxInFlight.get > 1, "page fetches must overlap")
    } finally { r.close(); stub.stop() }
  }

  test("http: a page that answers 500 forever fails its run after PAGE_RETRIES + 1 attempts") {
    val dir = writeChain(9)
    val stub = new graft.sources.CtsRestStub(dir.toString)
    stub.failMarkers.add("004")
    val r = reader(stub.url, (0 until 9).map(marker))
    try {
      val err = intercept[java.io.IOException](readIds(r))
      assert(err.getMessage.contains("attempts") && err.getMessage.contains("next=004"),
        err.getMessage)
      assert(stub.served.toArray.count(_.toString.contains("next=004")) ===
        CtsSource.PAGE_RETRIES + 1)
    } finally { r.close(); stub.stop() }
  }

  test("http: a 401 inside a run fails the read, never as a short result") {
    val dir = writeChain(9)
    val stub = new graft.sources.CtsRestStub(dir.toString, Some("tok-1"))
    val r = reader(stub.url, (0 until 9).map(marker), Some("wrong"))
    try {
      val err = intercept[graft.sources.CtsClientError](readIds(r))
      assert(err.getMessage.contains("401"), err.getMessage)
    } finally { r.close(); stub.stop() }
  }

  test("http: a page deleted between planning and read fails with the vanished error") {
    val dir = writeChain(9)
    val stub = new graft.sources.CtsRestStub(dir.toString)
    try {
      val parts = new graft.sources.CtsScan(stub.url, 50, None, None, None, 4)
        .planInputPartitions().map(_.asInstanceOf[graft.sources.CtsInputPartition])
      val holder = parts.find(_.markers.contains("004")).get
      Files.delete(dir.resolve("page-004.json"))
      val r = graft.sources.CtsReaderFactory.createReader(holder)
      try {
        val err = intercept[java.io.IOException](readIds(r))
        assert(err.getMessage.contains("'004' vanished"), err.getMessage)
      } finally r.close()
    } finally stub.stop()
  }

  test("http: close() stops a reader's pending fetches; no request follows it") {
    val dir = writeChain(20)
    val stub = new graft.sources.CtsRestStub(dir.toString)
    (1 until 20).foreach(i => stub.failMarkers.add(marker(i)))
    val r = reader(stub.url, (0 until 20).map(marker))
    try {
      // page 000 answers; its neighbours in the window are retrying 500s
      assert(r.next())
      r.close()
      Thread.sleep(200) // let a request already on the wire reach the stub
      val atClose = stub.served.size()
      Thread.sleep(1000) // longer than a page's whole retry schedule
      assert(stub.served.size() === atClose, s"served: ${stub.served}")
    } finally stub.stop()
  }
}
