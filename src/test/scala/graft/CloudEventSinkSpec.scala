package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CloudEventSink, CtsParity}
import graft.operators.CloudEventSink.EventTransport

/** NACKs every 7th event, throws on every 13th — neither kills the job.
  * Top-level so the task closure doesn't capture the (non-serializable)
  * suite instance. */
private class FlakyTransport extends EventTransport {
  override def send(eventJson: String): Boolean = {
    val id = """"id":"(\d+)"""".r.findFirstMatchIn(eventJson).map(_.group(1).toLong).getOrElse(0L)
    if (id % 13 == 0) throw new RuntimeException(s"boom $id")
    id % 7 != 0
  }
}

/** K1/K2 delivery semantics: ACK counting (F4) and per-event error
  * isolation (C4) — the reference's SendEvents multierror contract
  * (adapter.go:140-156) as accumulators. */
class CloudEventSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ce() = CtsParity.toCloudEvents(
    CtsParity.eventsAsTraces(Tables.events(spark, TestSpark.sfDir))).limit(200)

  test("K1 batch delivery counts ACKs and isolates per-event failures") {
    val events = ce().cache()
    val n = events.count()
    val d = CloudEventSink.deliver(events, new FlakyTransport, deliveryId = 0L)
    assert(d.sent + d.failed === n, "every event must be accounted exactly once")
    assert(d.failed > 0, "flaky transport must produce failures")
    assert(d.sent > d.failed, "most deliveries succeed")
    events.unpersist()
  }

  test("K1 file transport delivers every event exactly once per run") {
    val out = graft.streaming.StreamingOps.tmp("ce-sink-")
    val events = ce()
    val n = events.count()
    val d = CloudEventSink.deliver(events, new CloudEventSink.NdjsonDirTransport(out),
      deliveryId = 0L)
    assert(d === CloudEventSink.Delivery(n, 0))
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toVector
    assert(lines.size.toLong === n)
    assert(lines.forall(_.startsWith("""{"id":""")), "envelope serialization")
  }

  test("K1 redelivery of the same batch overwrites — no duplicate events") {
    val out = graft.streaming.StreamingOps.tmp("ce-sink-redeliver-")
    val events = ce().cache()
    val n = events.count()
    val t = new CloudEventSink.NdjsonDirTransport(out)
    CloudEventSink.deliver(events, t, deliveryId = 7L)
    // at-least-once retry of the SAME batch: deterministic
    // (batchId, partitionId) file naming + truncate ⇒ replaced, not added
    CloudEventSink.deliver(events, t, deliveryId = 7L)
    events.unpersist()
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(p => Files.readAllLines(p).asScala).toVector
    assert(lines.size.toLong === n, "redelivered batch must replace its previous attempt")
  }

  test("K1 successive DISTINCT deliveries accumulate — no silent overwrite") {
    val out = graft.streaming.StreamingOps.tmp("ce-sink-cycles-")
    val events = ce().cache()
    val n = events.count()
    val t = new CloudEventSink.NdjsonDirTransport(out)
    // two poll cycles of the reference ticker loop (main.go:118-150) into
    // one sink dir: distinct delivery ids must keep both batches
    CloudEventSink.deliver(events, t, deliveryId = 0L)
    CloudEventSink.deliver(events, t, deliveryId = 1L)
    events.unpersist()
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(p => Files.readAllLines(p).asScala).toVector
    assert(lines.size.toLong === 2 * n, "distinct deliveries must not collide")
  }

  test("K1 narrower redelivery leaves no stale part files or temp files") {
    val out = graft.streaming.StreamingOps.tmp("ce-sink-narrow-")
    val events = ce().cache()
    val n = events.count()
    val t = new CloudEventSink.NdjsonDirTransport(out)
    // first attempt fans out over 8 partitions, the retry over 2: the
    // 6 extra part files of attempt 1 must be cleared by beginDelivery
    CloudEventSink.deliver(events.repartition(8), t, deliveryId = 3L)
    CloudEventSink.deliver(events.repartition(2), t, deliveryId = 3L)
    events.unpersist()
    val files = Files.list(Paths.get(out)).iterator().asScala.toVector
    val parts = files.filter(_.toString.endsWith(".ndjson"))
    assert(parts.size === 2, "only the retry's partitions may remain")
    assert(!files.exists(_.toString.endsWith(".tmp")), "temp files are renamed away")
    val lines = parts.flatMap(p => Files.readAllLines(p).asScala)
    assert(lines.size.toLong === n, "no events duplicated by the stale wide attempt")
  }

  test("K2 streaming delivery ships the same events as batch (at-least-once)") {
    val out = graft.streaming.StreamingOps.tmp("ce-sink-stream-")
    val stream = graft.streaming.StreamingOps.readEventsStream(spark, TestSpark.sfDir)
    val ceStream = CtsParity.toCloudEvents(CtsParity.eventsAsTraces(stream))
    val transport = new CloudEventSink.NdjsonDirTransport(out)
    val d = CloudEventSink.deliverStream(ceStream, cycle = 0L)(
      CloudEventSink.deliver(_, transport, _))
    val delivered = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(p => Files.readAllLines(p).asScala).size
    val expected = Tables.events(spark, TestSpark.sfDir).count()
    assert(delivered.toLong === expected)
    assert(d === CloudEventSink.Delivery(expected, 0),
      "streaming accounting must report the full tally after termination")
  }
}
