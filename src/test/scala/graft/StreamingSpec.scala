package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Streaming semantics under controlled micro-batches (SURVEY §5.4):
  * MemoryStream lets us replay the reference's window-overlap redelivery
  * (adapter.go:93-102) batch by batch and watch the dedup state work
  * ACROSS batches — something the batch oracle can't observe. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // base aligned to a 30-minute boundary — tumbling windows align to the
  // epoch, so an unaligned base puts "minute 0" mid-window
  private def ts(min: Int) = new Timestamp(1700001000000L + min * 60000L)

  test("dropDuplicates state dedups redelivered ids across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = input.toDF().toDF("event_id", "ts", "event_type")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_mem").outputMode("append").start()
    try {
      input.addData((1L, ts(0), "click"), (2L, ts(1), "view"))
      q.processAllAvailable()
      // batch 2 redelivers id 2 (window overlap) and adds id 3
      input.addData((2L, ts(1), "view"), (3L, ts(2), "click"))
      q.processAllAvailable()
      val ids = spark.table("dedup_mem").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L), "cross-batch redelivery must collapse")
    } finally q.stop()
  }

  test("tumbling window aggregate emits finalized windows under watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val agg = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .format("memory").queryName("tumb_mem").outputMode("append").start()
    try {
      input.addData((1L, ts(0)), (2L, ts(5)), (3L, ts(31)))
      q.processAllAvailable()
      // watermark = 31 - 10 = 21min: window [0,30) not yet closed
      assert(spark.table("tumb_mem").count() === 0L)
      input.addData((4L, ts(75)))
      q.processAllAvailable()
      // watermark = 65min: [0,30) (2 events) and [30,60) (1 event) finalized
      val rows = spark.table("tumb_mem").select("n").as[Long].collect().sorted
      assert(rows.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState: custom per-key running state across micro-batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // custom state the built-in windows can't express: emit an update only
    // when a user's cumulative value crosses an alert threshold
    val input = MemoryStream[(Long, Double)]
    val alerts = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[Double]) =>
          val total = state.getOption.getOrElse(0.0) + rows.map(_._2).sum
          val crossed = state.getOption.getOrElse(0.0) < 100.0 && total >= 100.0
          state.update(total)
          if (crossed) Iterator((user, total)) else Iterator.empty
      }.toDF("user_id", "total_at_alert")
    val q = alerts.writeStream
      .format("memory").queryName("fmgws_mem").outputMode("append").start()
    try {
      input.addData((1L, 60.0), (2L, 30.0))
      q.processAllAvailable()
      assert(spark.table("fmgws_mem").count() === 0L) // nobody crossed yet
      input.addData((1L, 50.0), (2L, 20.0))           // user 1 crosses at 110
      q.processAllAvailable()
      val rows = spark.table("fmgws_mem").as[(Long, Double)].collect()
      assert(rows.toSeq === Seq((1L, 110.0)), "state must carry across batches")
      input.addData((1L, 5.0))                        // already crossed: no re-alert
      q.processAllAvailable()
      assert(spark.table("fmgws_mem").count() === 1L)
    } finally q.stop()
  }

  test("C1 ticker loop: ProcessingTime trigger drives repeated timed cycles") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    // the reference's ticker (cmd/cts_exporter/main.go:118-150): a timed
    // poll loop — here a real ProcessingTime trigger, not AvailableNow
    val q = input.toDF().toDF("event_id", "ts").writeStream
      .format("memory").queryName("pt_mem").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def awaitCount(n: Long): Unit = {
      // generous deadline: the shared box suffers multi-minute load bursts
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("pt_mem").count() < n && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(spark.table("pt_mem").count() === n)
    }
    try {
      input.addData((1L, ts(0)), (2L, ts(1)))
      awaitCount(2) // a timed cycle picked up the first feed window
      input.addData((3L, ts(2)))
      awaitCount(3) // a LATER timed cycle picked up the next window
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 2, "two separate timed cycles must have processed data")
    } finally q.stop()
  }

  test("streaming doc dedup collapses redelivered content by fingerprint") {
    val rows = StreamingOps.docDedup(spark, TestSpark.sfDir).collect()
    val distinctTexts = Tables.documents(spark, TestSpark.sfDir)
      .select(lower(trim(col("text")))).distinct().count()
    assert(rows.length.toLong === distinctTexts, "one row per distinct content fingerprint")
    assert(rows.map(_.getString(0)).distinct.length === rows.length)
  }

  test("streaming dedup answer equals the batch answer on the same feed") {
    val streamed = StreamingOps.dedup(spark, TestSpark.sfDir).collect()
    val batch = Parity.queries("p_dedup_merge")(spark, TestSpark.sfDir).collect()
    assert(streamed.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      batch.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("streaming CDC: 3-batch incremental merge equals the one-shot batch apply") {
    val e = Tables.events(spark, TestSpark.sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("event_type"))
    val feedDir = StreamingOps.tmp("cdc-feed-")
    e.repartition(3).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val stateDir = StreamingOps.tmp("cdc-state-")
    val current = StreamingOps.cdcApplyInto(stream, stateDir)
    // the feed really split into multiple micro-batches (else this test
    // proves nothing about cross-batch merging)
    val versions = new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    assert(versions >= 3, s"expected >=3 state versions, got $versions")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime, r.getLong(4))
    val got = spark.read.parquet(current)
      .filter(col("last_op") =!= "D")
      .select(col("user_id"), col("last_op"), col("last_value"),
        col("last_ts"), col("n_changes"))
      .orderBy(col("user_id")).collect().map(key)
    val want = Analytic.queries("w_cdc_apply")(spark, TestSpark.sfDir)
      .collect().map(key)
    assert(got.toSeq === want.toSeq,
      "incrementally merged state must equal the batch materialization")
  }

  test("streaming CDC: redelivering a batch rewrites its state version identically") {
    val e = Tables.events(spark, TestSpark.sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("event_type"))
    val (b0, b1) = (e.filter(col("event_id") % 2 === 0), e.filter(col("event_id") % 2 === 1))
    val stateDir = StreamingOps.tmp("cdc-redeliver-")
    StreamingOps.cdcMergeBatch(b0, 0L, stateDir)
    StreamingOps.cdcMergeBatch(b1, 1L, stateDir)
    val before = spark.read.parquet(s"$stateDir/v1")
      .orderBy(col("user_id")).collect().toSeq
    // crash-after-commit replay: batch 1 is delivered again
    StreamingOps.cdcMergeBatch(b1, 1L, stateDir)
    val after = spark.read.parquet(s"$stateDir/v1")
      .orderBy(col("user_id")).collect().toSeq
    assert(after === before, "a replayed batch must not double-apply")
    // and the merged split equals the one-shot batch materialization
    val got = spark.read.parquet(s"$stateDir/v1")
      .filter(col("last_op") =!= "D")
      .select(col("user_id"), col("last_op"), col("last_value"),
        col("last_ts"), col("n_changes"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime, r.getLong(4)))
    val want = Analytic.queries("w_cdc_apply")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime, r.getLong(4)))
    assert(got.toSeq === want.toSeq, "even/odd split must merge to the batch answer")
  }

  test("streaming CDC: restart from checkpoint resumes versioned state exactly-once") {
    val e = Tables.events(spark, TestSpark.sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("event_type"))
    val feedDir = StreamingOps.tmp("cdc-restart-feed-")
    val ckptDir = StreamingOps.tmp("cdc-restart-ckpt-")
    val stateDir = StreamingOps.tmp("cdc-restart-state-")
    def stream() = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    // run 1: first half of the feed, then the query terminates (the
    // "kill": AvailableNow drains what exists and stops)
    e.filter(col("event_id") % 2 === 0).repartition(2)
      .write.mode("overwrite").parquet(feedDir)
    StreamingOps.cdcApplyInto(stream(), stateDir, ckptDir)
    val versionsAfterRun1 = new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    assert(versionsAfterRun1 >= 2, "run 1 must have produced versioned state")
    // run 2: the rest of the feed lands; a NEW query starts from the SAME
    // checkpoint — committed offsets recover, so only the new files are
    // processed and the version counter continues
    e.filter(col("event_id") % 2 === 1).repartition(2)
      .write.mode("append").parquet(feedDir)
    val current = StreamingOps.cdcApplyInto(stream(), stateDir, ckptDir)
    val versionsAfterRun2 = new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    assert(versionsAfterRun2 > versionsAfterRun1,
      "the restarted query must continue versioning, not restart from v0")
    // exactly-once across the restart: the final state equals the one-shot
    // batch materialization (reprocessing run 1's files would double
    // n_changes; skipping them would lose keys)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime, r.getLong(4))
    val got = spark.read.parquet(current)
      .filter(col("last_op") =!= "D")
      .select(col("user_id"), col("last_op"), col("last_value"),
        col("last_ts"), col("n_changes"))
      .orderBy(col("user_id")).collect().map(key)
    val want = Analytic.queries("w_cdc_apply")(spark, TestSpark.sfDir)
      .collect().map(key)
    assert(got.toSeq === want.toSeq,
      "state after checkpoint restart must equal the batch materialization")
  }

  test("streaming LSH admission: a doc admitted in batch N is caught in batch N+1") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val docSchema = Tables.documents(spark, TestSpark.sfDir).schema
    val feedDir = java.nio.file.Paths.get(StreamingOps.tmp("admit-feed-"))
    def writeDocFile(name: String, mtime: Long,
                     rows: Seq[(Long, String)]): Unit = {
      val staging = java.nio.file.Paths.get(StreamingOps.tmp("admit-stage-"))
      rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = feedDir.resolve(name).toFile
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtime))
    }
    // batch 0: doc 1 (fresh) + doc 5 (unrelated); batch 1: doc 2, a
    // near-dup of doc 1 ONLY — catching it requires the index to have
    // grown by batch 0's admissions (the initial index is EMPTY)
    writeDocFile("a.parquet", 1700000000000L, Seq(
      1L -> (base + " alpha"),
      5L -> "completely different text about spark structured streaming state stores tonight"))
    writeDocFile("b.parquet", 1700000100000L, Seq(2L -> (base + " beta")))
    val indexDir = StreamingOps.tmp("admit-index-")
    val admitDir = StreamingOps.tmp("admit-log-")
    val ckptDir = StreamingOps.tmp("admit-ckpt-")
    def docs() = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir.toString)
    LlmOps.streamNearDupMaintained(docs(), indexDir, admitDir, ckptDir)
    def verdicts(b: Int) = spark.read.parquet(s"$admitDir/b$b")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val b0 = verdicts(0)
    assert(b0 === Map(1L -> (true, -1L), 5L -> (true, -1L)),
      s"batch 0 must admit both docs against the empty index, got $b0")
    val b1 = verdicts(1)
    assert(b1 === Map(2L -> (false, 1L)),
      s"batch 1 must reject doc 2 as a dup of batch-0-admitted doc 1, got $b1")
    // the index grew by exactly the admitted docs
    val indexed = spark.read.option("recursiveFileLookup", "true")
      .parquet(indexDir).select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(1L, 5L))
    // redelivery of batch 1 (crash-after-commit replay) reproduces the
    // SAME decision: the index-so-far read excludes b1-and-later dirs
    val batch1 = spark.read.parquet(feedDir.resolve("b.parquet").toString)
    LlmOps.admitBatch(batch1, 1L, indexDir, admitDir)
    assert(verdicts(1) === b1, "replayed batch must rewrite its verdict identically")
    // a stray non-batch directory in the index must be ignored, not parsed
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(indexDir).resolve("b"))
    LlmOps.admitBatch(batch1, 1L, indexDir, admitDir)
    assert(verdicts(1) === b1, "a foreign 'b' directory must not break admission")
    // RESTART: a new doc lands, a NEW query resumes from the SAME
    // checkpoint — batch ids continue (no b0 overwrite) and the new doc
    // is checked against the full grown index (dups doc 5 from batch 0)
    writeDocFile("c.parquet", 1700000200000L, Seq(
      7L -> "completely different text about spark structured streaming state stores today"))
    LlmOps.streamNearDupMaintained(docs(), indexDir, admitDir, ckptDir)
    assert(verdicts(0) === b0, "restart must not renumber batches over b0")
    val b2 = verdicts(2)
    assert(b2 === Map(7L -> (false, 5L)),
      s"restarted batch 2 must reject doc 7 against batch-0-admitted doc 5, got $b2")
  }

  test("streaming graph MERGE: 3-batch deltas materialize the batch node table") {
    import graft.operators.CtsParity
    val e = Tables.events(spark, TestSpark.sfDir)
    def nodesOf(b: org.apache.spark.sql.DataFrame) =
      CtsParity.nodes(CtsParity.toCloudEvents(CtsParity.eventsAsTraces(b)))
    val stateDir = StreamingOps.tmp("graph-state-")
    // deterministic micro-batches: later slices re-fan-out dim identities
    // (REGION/STATUS appear from every event) already upserted by batch 0,
    // so the anti-join must do real work
    val slices = (0 to 2).map(i => e.filter(pmod(col("event_id"), lit(3)) === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      StreamingOps.graphUpsertBatch(b, i.toLong, stateDir,
        nodesOf, Seq("kind", "key"))
    }
    def materialized = spark.read.option("recursiveFileLookup", "true")
      .parquet(stateDir)
    def keyRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val want = keyRows(Parity.queries("k3_graph_nodes")(spark, TestSpark.sfDir))
    assert(keyRows(materialized) === want,
      "union of per-batch deltas must equal the batch graph node table")
    // deltas are DISJOINT on identity: no key appears in two batches
    val dupKeys = materialized.groupBy(col("kind"), col("key"))
      .count().filter(col("count") > 1).count()
    assert(dupKeys === 0L, "a node identity landed in two delta dirs")
    // the anti-join actually fired: every REGION identity fans out of
    // batch 0 (sf0.001 slice 0 covers user_id % 3 ∈ {0,1,2}), so batch
    // 1's delta must add none
    assert(spark.read.parquet(s"$stateDir/b1")
      .filter(col("kind") === "REGION").count() === 0L,
      "batch 1 re-added a REGION identity the anti-join should have dropped")
    // at-least-once redelivery: replaying batch 1 rewrites its delta
    // identically and the materialized table is unchanged
    StreamingOps.graphUpsertBatch(slices(1), 1L, stateDir,
      nodesOf, Seq("kind", "key"))
    assert(keyRows(materialized) === want,
      "replaying a batch must not change the materialized graph")
    // r17 verdict task 3: an ALL-DUPLICATE micro-batch legitimately
    // writes a ZERO-ROW delta; the NEXT batch then reads that schema-less
    // dir among its priors — with schema inference that aborts the
    // stream, with the explicit-schema read it must sail through
    StreamingOps.graphUpsertBatch(slices(0), 3L, stateDir,
      nodesOf, Seq("kind", "key"))
    assert(spark.read.schema(nodesOf(e).schema)
      .parquet(s"$stateDir/b3").count() === 0L,
      "an all-duplicate batch must write an empty delta, not re-add rows")
    StreamingOps.graphUpsertBatch(slices(1), 4L, stateDir,
      nodesOf, Seq("kind", "key"))
    assert(keyRows(materialized) === want,
      "a batch after a zero-row delta must neither fail nor change the graph")
  }

  test("streaming graph tables equal the batch k3 rows end-to-end") {
    for ((sName, bName) <- Seq("s_graph_nodes" -> "k3_graph_nodes",
                               "s_graph_edges" -> "k3_graph_edges")) {
      val got = StreamingOps.queries(sName)(spark, TestSpark.sfDir)
        .collect().map(_.toSeq).toSeq
      val want = Parity.queries(bName)(spark, TestSpark.sfDir)
        .collect().map(_.toSeq).toSeq
      assert(got === want,
        s"$sName diverged from $bName: stream ${got.size}, batch ${want.size}")
      assert(want.nonEmpty, s"$bName fixture empty — the equality proved nothing")
    }
  }

  test("RocksDB state store: state-bearing rows equal the default-provider answers") {
    // The 100 TB story's state-store swap (SURVEY §8.6): the provider is
    // a STORAGE choice, never a semantics choice — the heaviest
    // state-bearing shapes (stream-stream join state, fMGWS custom
    // state, watermarked dedup state) must produce bit-identical answers
    // under RocksDB. Runs the three cheapest representatives of those
    // shapes; the sf1/sf10 A/B timings live in the bench artifacts.
    val rows = Seq("s_dedup", "s_stateful", "s_stream_join")
    val want = rows.map(n =>
      n -> StreamingOps.queries(n)(spark, TestSpark.sfDir)
        .collect().map(_.toSeq).toSeq).toMap
    // the provider is a plain Spark conf, read per query at `.start()`
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      for (n <- rows) {
        val got = StreamingOps.queries(n)(spark, TestSpark.sfDir)
          .collect().map(_.toSeq).toSeq
        assert(got === want(n),
          s"$n diverged under RocksDBStateStoreProvider (${got.size} vs ${want(n).size} rows)")
        assert(want(n).nonEmpty, s"$n fixture empty — the equality proved nothing")
      }
      // the conf actually bound — otherwise this test silently compared
      // the default provider to itself
      assert(spark.conf.get(key).contains("RocksDBStateStoreProvider"))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming Cypher emission equals the batch k3_cypher rows") {
    val got = StreamingOps.queries("s_cypher")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val want = Parity.queries("k3_cypher")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got === want,
      s"s_cypher diverged from k3_cypher: stream ${got.size}, batch ${want.size}")
    assert(want.nonEmpty, "k3_cypher fixture empty — the equality proved nothing")
  }

  test("streaming semantic dedup equals the batch l_semdedup verdict row-for-row") {
    val spark = TestSpark.spark
    val got = LlmOps.streamSemDedup(spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_semdedup")(spark, TestSpark.sfDir).collect().toSeq
    assert(got == want,
      s"stream/batch semdedup diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.exists(_.getLong(3) == 0L),
      "fixture produced no duplicate verdicts — the equality proved nothing")
  }

  test("streaming dup-spans: maintained gram index over 3 batches equals the corpus scan") {
    val spark = TestSpark.spark
    val d = TestSpark.sfDir
    val docs = Tables.documents(spark, d)
    val idxDir = StreamingOps.tmp("dupspan-idx-")
    val covDir = StreamingOps.tmp("dupspan-cov-")
    // three deterministic slices ingested as separate micro-batches; the
    // planted mirror docs (id + 100000, and 100000 % 3 == 1) land in a
    // DIFFERENT slice than their originals, so cross-batch duplication is
    // guaranteed and the maintained index must do real work
    val slices = (0 to 2).map(i => docs.filter(pmod(col("doc_id"), lit(3)) === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      LlmOps.dupSpanBatch(b, i.toLong, idxDir, covDir)
    }
    def covered = spark.read.option("recursiveFileLookup", "true").parquet(covDir)
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = covered
    val want = LlmOps.dupSpanCovered(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want,
      s"streamed covered set diverged: ${(got -- want).size} extra, ${(want -- got).size} missing")
    // the index side of the symmetric rule actually fired: a batch-0 doc's
    // positions were re-emitted by a LATER batch's arrival
    val later = (1 to 2).flatMap(i => spark.read.parquet(s"$covDir/b$i").collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b0docs = slices(0).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(later.exists { case (doc, _) => b0docs(doc) },
      "no batch-0 position was covered by a later arrival — the maintained index went unexercised")
    // at-least-once redelivery: replaying a batch rewrites its own dirs
    // identically, the drained union is unchanged
    LlmOps.dupSpanBatch(slices(1), 1L, idxDir, covDir)
    assert(covered === want, "redelivering batch 1 changed the covered set")
  }

  test("streaming dup-spans stats equal the batch l_dup_spans row-for-row") {
    val spark = TestSpark.spark
    val got = LlmOps.streamDupSpans(spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_dup_spans")(spark, TestSpark.sfDir).collect().toSeq
    assert(got == want,
      s"stream/batch dup-spans diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.exists(_.getLong(2) > 0L),
      "fixture produced no covered spans — the equality proved nothing")
  }

  test("streaming heavy hitters from additive partials equal the batch row") {
    val spark = TestSpark.spark
    val got = graft.streaming.StreamingOps.queries("s_heavy_hitters")(
      spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_heavy_hitters")(spark, TestSpark.sfDir).collect().toSeq
    assert(got == want,
      s"stream/batch heavy hitters diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.nonEmpty, "the fixture must contain frequent tokens")
  }

  test("streaming BM25 scoring against the persisted model equals the batch row") {
    val spark = TestSpark.spark
    val got = graft.streaming.StreamingOps.queries("s_bm25")(
      spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_bm25")(spark, TestSpark.sfDir).collect().toSeq
    assert(got == want,
      s"stream/batch BM25 diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.size == 10, "the fixture must fill the top-10")
  }

  test("streaming URL-dedup admission equals the batch l_url_dedup row-for-row") {
    val spark = TestSpark.spark
    val got = graft.streaming.StreamingOps.queries("s_url_dedup")(
      spark, TestSpark.sfDir).collect().map(_.toSeq).toSeq
    val want = LlmOps.queries("l_url_dedup")(
      spark, TestSpark.sfDir).collect().map(_.toSeq).toSeq
    assert(got == want,
      s"stream/batch url dedup diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.nonEmpty, "the fixture must contain URL duplicate groups")
  }

  test("streaming URL admission: a URL admitted in batch N rejects its batch-N+1 re-crawl") {
    import spark.implicits._
    // docs 1 and 401 share the canonical identity (doc_id % 400 = 1, same
    // source, and every noise axis — scheme case, www., port, utm, slash,
    // fragment — cancels under canonicalization); docs 5 and 7 are fresh
    def batchOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "source")
    val indexDir = StreamingOps.tmp("url-index-")
    val admitDir = StreamingOps.tmp("url-log-")
    LlmOps.urlAdmitBatch(batchOf(1L -> "web", 5L -> "web"), 0L, indexDir, admitDir)
    LlmOps.urlAdmitBatch(batchOf(401L -> "web", 7L -> "web"), 1L, indexDir, admitDir)
    def verdicts(b: Int) = spark.read.parquet(s"$admitDir/b$b")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(verdicts(0) === Map(1L -> (true, -1L), 5L -> (true, -1L)),
      "batch 0 must admit both URLs against the empty index")
    assert(verdicts(1) === Map(401L -> (false, 1L), 7L -> (true, -1L)),
      "batch 1 must reject the re-crawl of batch-0-admitted doc 1 and admit the fresh URL")
    // in-batch first-come-wins + cross-batch index in ONE batch: 801 and
    // 1201 both re-crawl doc 1's URL — both reject straight to the
    // batch-0 anchor (min over the index hit and the in-batch smaller id)
    LlmOps.urlAdmitBatch(batchOf(801L -> "web", 1201L -> "web"), 2L, indexDir, admitDir)
    assert(verdicts(2) === Map(801L -> (false, 1L), 1201L -> (false, 1L)),
      "batch 2 must reject both re-crawls with the batch-0 anchor as dup_of")
    // at-least-once redelivery: a replayed batch reads only the index
    // STRICTLY BEFORE it, so it recomputes its original decision
    val b1 = verdicts(1)
    LlmOps.urlAdmitBatch(batchOf(401L -> "web", 7L -> "web"), 1L, indexDir, admitDir)
    assert(verdicts(1) === b1, "replayed batch must rewrite its verdict identically")
    // the index grew by exactly the admitted URLs
    val indexed = spark.read.option("recursiveFileLookup", "true")
      .parquet(indexDir).select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(indexed.toSeq === Seq(1L, 5L, 7L))
  }

  test("urlAdmitDecision (linear aggregate) equals the retired pair-join semantics on a hot-URL batch") {
    // r21: the in-batch duplicate detector became a per-URL min aggregate
    // + join-back (linear) instead of a canon⋈canon self-join (g(g-1)/2
    // rows for a URL appearing g times). This pins the equality on the
    // exact shape the rewrite exists for — one URL re-crawled g=60 times
    // in ONE micro-batch, plus a fresh URL and an index hit — against
    // the retired spelling reconstructed verbatim below.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc_ids ≡ 3 (mod 400), same source ⇒ one canonical URL, 60 copies;
    // 6 is a fresh URL; the prior index already holds the canon of 2
    // (doc_id = -398 ≡ 2 mod 400 is not constructible — index rows are
    // (doc_id, url_canon) pairs, so plant the canon of doc 2 directly)
    val hot = (0 until 60).map(i => (3L + 400L * i, "web"))
    val batch = (hot :+ (6L -> "web") :+ (2L -> "web"))
      .toDF("doc_id", "source")
    val canon = LlmOps.urlCanonFrame(batch)
    // routed through StreamingOps.tmp so the dir is registered for
    // JVM-exit deletion (r21 ADVICE: createTempDirectory here leaked one
    // url-prior-* dir per test run)
    val priorDir = graft.streaming.StreamingOps.tmp("url-prior-")
    // prior index: doc 2's URL was admitted earlier under id -7 (smaller
    // than every batch id, so the index verdict must win the min)
    LlmOps.urlCanonFrame(Seq(2L -> "web").toDF("doc_id", "source"))
      .withColumn("doc_id", lit(-7L))
      .select(col("doc_id"), col("url_canon"))
      .write.mode("overwrite").parquet(priorDir)
    val got = LlmOps.urlAdmitDecision(canon, Seq(priorDir))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // retired r20 spelling: self-join pair enumeration + min reduction
    val s = spark
    val vsIndex = canon.join(
        s.read.schema(canon.schema).parquet(priorDir)
          .select(col("url_canon"), col("doc_id").as("i_id")),
        Seq("url_canon"))
      .select(col("doc_id"), col("i_id").as("dup_of"))
    val inBatch = canon.join(
        canon.select(col("url_canon"), col("doc_id").as("o_id")),
        Seq("url_canon"))
      .filter(col("doc_id") > col("o_id"))
      .select(col("doc_id"), col("o_id").as("dup_of"))
    val rejected = vsIndex.unionByName(inBatch)
      .groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
    val want = canon.join(rejected, Seq("doc_id"), "left")
      .select(col("doc_id"), col("url_canon"),
        col("dup_of").isNull.as("admitted"), col("dup_of"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got === want, "linear decision diverged from the pair-join semantics")
    // and the semantics themselves: min-id hot doc admitted, 59 re-crawls
    // reject to it, fresh URL admitted, index hit rejects to the prior id
    assert(got(3L) === (true, -1L) && got(6L) === (true, -1L))
    assert(got(2L) === (false, -7L))
    assert(hot.drop(1).forall { case (id, _) => got(id) === (false, 3L) })
  }

  test("streaming per-domain cap equals the batch l_domain_cap row-for-row") {
    val spark = TestSpark.spark
    val got = graft.streaming.StreamingOps.queries("s_domain_cap")(
      spark, TestSpark.sfDir).collect().map(_.toSeq).toSeq
    val want = LlmOps.queries("l_domain_cap")(
      spark, TestSpark.sfDir).collect().map(_.toSeq).toSeq
    assert(got == want,
      s"stream/batch domain cap diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.nonEmpty, "the fixture must cap at least one domain")
  }

  test("streaming LM scoring against the persisted model equals the batch row") {
    val spark = TestSpark.spark
    def byDoc(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = byDoc(graft.streaming.StreamingOps.queries("s_lm_score")(
      spark, TestSpark.sfDir).collect().toSeq)
    val want = byDoc(LlmOps.queries("l_lm_score")(spark, TestSpark.sfDir)
      .collect().toSeq)
    assert(got.keySet === want.keySet,
      s"stream/batch LM score doc sets diverged: ${got.size} vs ${want.size}")
    // n_bigrams exact; avg_logprob to float tolerance — the model join
    // scatters a doc's bigrams, so the per-doc avg's partial-sum ORDER
    // may differ between the one-shot and micro-batched plans (the
    // oracle compare carries the same 1e-9 rel tolerance)
    got.foreach { case (id, (n, lp)) =>
      val (wn, wlp) = want(id)
      assert(n == wn, s"doc $id n_bigrams $n vs $wn")
      assert(math.abs(lp - wlp) <= 1e-9 * math.max(math.abs(wlp), 1e-300),
        s"doc $id avg_logprob $lp vs $wlp")
    }
    assert(want.nonEmpty, "fixture produced no scored docs")
  }

  test("streaming similarity retrieval equals the batch l_cosine_topk row-for-row") {
    val spark = TestSpark.spark
    val got = graft.streaming.StreamingOps.queries("s_cosine_topk")(
      spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_cosine_topk")(spark, TestSpark.sfDir).collect().toSeq
    assert(got == want,
      s"stream/batch cosine top-k diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.size == 15, "5 queries x top-3 expected from the fixture")
  }

  test("streaming BPE encoding against the trained model equals the batch row") {
    val spark = TestSpark.spark
    val got = StreamingOps.queries("s_bpe_encode")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val want = LlmOps.queries("l_bpe_encode")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got === want,
      s"stream/batch BPE encode diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.nonEmpty, "fixture produced no encoded docs — proves nothing")
  }

  test("streaming IVF+PQ serving over the persisted index equals the batch row") {
    val spark = TestSpark.spark
    val got = graft.streaming.StreamingOps.queries("s_ivfpq_topk")(
      spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_ivfpq_ann")(spark, TestSpark.sfDir).collect().toSeq
    assert(got == want,
      s"served/batch IVF+PQ diverged: served ${got.size} rows, batch ${want.size}")
    assert(want.size == 15, "5 queries x top-3 expected from the fixture")
  }

  test("streaming media decode equals the batch l_media_decode row-for-row") {
    val spark = TestSpark.spark
    val got = StreamingOps.queries("s_media_decode")(
      spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_media_decode")(spark, TestSpark.sfDir)
      .collect().toSeq
    assert(got == want,
      s"stream/batch media decode diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.exists(r => !r.isNullAt(3)) && want.exists(r => !r.isNullAt(5)),
      "fixture must decode both image dims and audio metadata")
  }

  test("streaming decontamination equals the batch l_decontaminate row-for-row") {
    val spark = TestSpark.spark
    val got = graft.streaming.StreamingOps.queries("s_decontaminate")(
      spark, TestSpark.sfDir).collect().toSeq
    val want = LlmOps.queries("l_decontaminate")(spark, TestSpark.sfDir).collect().toSeq
    assert(got == want,
      s"stream/batch decontaminate diverged: stream ${got.size} rows, batch ${want.size}")
    assert(want.nonEmpty,
      "fixture produced no contaminated docs — the equality proved nothing")
  }

  test("every streaming row declares its bench source table (and nothing extra)") {
    assert(StreamingOps.sourceTables.keySet === StreamingOps.queries.keySet,
      "StreamingOps.sourceTables must stay key-identical with queries — " +
        "a missing entry shows up as a -1 rate in the bench artifact")
    assert(StreamingOps.sourceTables.values.toSet
      .subsetOf(Set("events", "documents", "embeddings")))
  }

  test("late row beyond the watermark is dropped, finalized window unchanged") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val agg = input.toDF().toDF("id", "ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .select(col("w.start").as("ws"), col("n"), col("s"))
    val q = agg.writeStream
      .format("memory").queryName("late_mem").outputMode("append").start()
    try {
      input.addData((1L, ts(0), 1.0), (2L, ts(5), 2.0))
      q.processAllAvailable()
      // jump event time far ahead: watermark passes the first window, it
      // finalizes and emits
      input.addData((3L, ts(120), 4.0))
      q.processAllAvailable()
      val emitted = spark.table("late_mem")
        .select(col("n"), col("s")).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(emitted.toSeq === Seq((2L, 3.0)), "first window finalizes with its 2 rows")
      // a row for the already-finalized window arrives AFTER the
      // watermark passed it: it must be dropped, not re-emitted
      input.addData((4L, ts(1), 100.0))
      q.processAllAvailable()
      val after = spark.table("late_mem")
        .select(col("n"), col("s")).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(after.toSeq === Seq((2L, 3.0)),
        "late data beyond the watermark must not resurrect a finalized window")
    } finally q.stop()
  }

  test("drainPartitions derives state-partition count from feed bytes, capped by session parallelism") {
    val T = StreamingOps.DrainTargetBytesPerPartition
    // tiny feed → 1 partition regardless of core count (the sf0.1 regime:
    // per-partition state-store commit cost dominates kilobyte state)
    assert(StreamingOps.drainPartitions(32, 2L << 20) === 1)
    assert(StreamingOps.drainPartitions(32, 0L) === 1)
    // ceil at the boundary
    assert(StreamingOps.drainPartitions(32, T) === 1)
    assert(StreamingOps.drainPartitions(32, T + 1) === 2)
    // big feed → clamp to session parallelism: at production scale the
    // helper is the identity on the configured partition count
    assert(StreamingOps.drainPartitions(32, 100L * T) === 32)
    assert(StreamingOps.drainPartitions(512, 100L * T) === 100)
  }

  test("a file source's path counts once when it rides in both paths and options") {
    assert(StreamingOps.sourcePaths(Seq("/feed"), Map("path" -> "/feed")) === Seq("/feed"))
    assert(StreamingOps.sourcePaths(Seq.empty, Map("path" -> "/feed")) === Seq("/feed"))
    assert(StreamingOps.sourcePaths(Seq("/a", "/b"), Map("path" -> "/a")) === Seq("/a", "/b"))
  }

  test("drain runs the stream at the derived partition count and leaves the caller's conf alone") {
    val spark = TestSpark.spark
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // a stateful feed over the shared sf dir: feedBytes resolves through
    // the glob-filtered source, and the tiny feed derives 1 partition
    val counts = StreamingOps.readEventsStream(spark, TestSpark.sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).count()
    val ckpt = StreamingOps.tmp("drain-ckpt-")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    StreamingOps.drain(counts, checkpoint = ckpt) { (batch, _) =>
      seen.add((batch.sparkSession.conf.get(key), spark.conf.get(key)))
      batch.count() // every state partition must commit
    }
    assert(!seen.isEmpty, "the drain ran no batch")
    seen.forEach { case (inBatch, caller) =>
      assert(inBatch === "1", s"tiny feed must drain at 1 partition, got $inBatch")
      assert(caller === before, "the caller's session changed while the drain ran")
    }
    assert(spark.conf.get(key) === before, "the caller's session changed after the drain")
    val parts = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(parts.length === 1, s"state partitions: ${parts.map(_.getName).toSeq}")
  }
}
