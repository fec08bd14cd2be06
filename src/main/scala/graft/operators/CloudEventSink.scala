package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** CloudEvent delivery stage — the reference's K1/K2 HTTP sink re-expressed
  * Spark-natively (pkg/adapter/adapter.go:140-156 batch SendEvents,
  * adapter.go:212-218 stream SendEventsStream).
  *
  * Shape: events serialize to their JSON envelope in the plan (codegen'd
  * to_json Project), then `foreachPartition` drives a pluggable transport —
  * one transport instance per partition (where the Go code POSTs per event
  * on one goroutine: batching by partition is the scale fix for the
  * reference's main perf flaw, SURVEY §4). Per-event failures are isolated
  * and COUNTED, never thrown — the multierror accumulation + IsACK
  * sent-count of adapter.go:146-151 (F4) becomes a per-partition tally
  * that the task adds to a pair of Spark accumulators (C4), readable on
  * the driver after the job. Delivery is at-least-once; the receiving side
  * is idempotent (MERGE semantics, §2.5), matching the reference's
  * contract.
  */
object CloudEventSink {

  /** One delivery channel. `open` is called once per partition per batch
    * (connection setup) with the (deliveryId, partitionId) identity of the
    * delivery attempt — an idempotent transport keys its effect on that
    * pair, so an at-least-once redelivery REPLACES the previous attempt
    * instead of duplicating it; `send` returns the ACK (F4);
    * `sendPartition` delivers a partition's events; `close` flushes. */
  trait EventTransport extends Serializable {
    /** Driver-side hook, called once per delivery attempt BEFORE any
      * partition task runs: an idempotent transport clears leftovers of a
      * previous attempt of the SAME delivery here (a redelivery that plans
      * fewer partitions must not leave the old attempt's extra part files
      * behind). */
    def beginDelivery(deliveryId: Long): Unit = ()
    def open(partitionId: Int, deliveryId: Long): Unit = ()
    def send(eventJson: String): Boolean
    /** Deliver one partition's events between `open` and `close` and
      * return the partition's tally, counted on the calling (task)
      * thread. A NACK or an exception fails that one event, and the rest
      * go on (C4). The default sends them one by one. */
    def sendPartition(events: Iterator[String]): Delivery = {
      var sent, failed = 0L
      events.foreach { e =>
        try { if (send(e)) sent += 1 else failed += 1 }
        catch { case scala.util.control.NonFatal(_) => failed += 1 }
      }
      Delivery(sent, failed)
    }
    def close(): Unit = ()
  }

  /** Offline stand-in for the HTTP POST: NDJSON in one file per
    * (delivery, partition) (K_SINK ≙ a directory). The final file name is
    * DETERMINISTIC per (deliveryId, partitionId), so a redelivery of the
    * same delivery replaces its previous attempt — delivery-side
    * idempotency to match the receiver's MERGE idempotency (the reference
    * leans on Neo4j MERGE alone; an at-least-once retry there duplicates
    * in-flight sends and relies on the receiver to collapse them).
    *
    * Two robustness rules (a file-commit protocol in miniature, the same
    * shape Spark's own FileCommitProtocol uses):
    *  - each ATTEMPT writes a unique temp file and atomically renames it
    *    to the final name on close — two concurrent attempts of one
    *    partition (speculation, zombie task during retry) can never
    *    interleave bytes; last rename wins whole;
    *  - `beginDelivery` (driver-side, before tasks launch) deletes the
    *    delivery's previous part files, so a redelivered batch that plans
    *    FEWER partitions leaves no stale parts from the wider attempt. */
  class NdjsonDirTransport(dir: String) extends EventTransport {
    @transient private var out: java.io.BufferedWriter = _
    @transient private var tmp: java.nio.file.Path = _
    @transient private var dst: java.nio.file.Path = _
    override def beginDelivery(deliveryId: Long): Unit = {
      val d = Paths.get(dir)
      if (Files.isDirectory(d)) {
        val prefix = f"part-b$deliveryId%05d-"
        val it = Files.list(d)
        try it.iterator().forEachRemaining { p =>
          val n = p.getFileName.toString
          // also sweep temp files a crashed attempt left behind (".<part>.…tmp")
          if (n.startsWith(prefix) || n.startsWith(s".$prefix")) Files.deleteIfExists(p)
        } finally it.close()
      }
    }
    override def open(partitionId: Int, deliveryId: Long): Unit = {
      Files.createDirectories(Paths.get(dir))
      dst = Paths.get(dir, f"part-b$deliveryId%05d-p$partitionId%05d.ndjson")
      tmp = Files.createTempFile(Paths.get(dir), s".${dst.getFileName}.", ".tmp")
      out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    override def send(eventJson: String): Boolean = { out.write(eventJson); out.write("\n"); true }
    override def close(): Unit = if (out != null) {
      out.close()
      try Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    }
  }

  /** Delivery outcome — `sent` is the ACK count the reference returns from
    * SendEvents; `failed` is the multierror cardinality. */
  case class Delivery(sent: Long, failed: Long) {
    def +(o: Delivery): Delivery = Delivery(sent + o.sent, failed + o.failed)
  }

  /** Serialize every column into the CE JSON envelope once, in the plan. */
  private def toEnvelope(ce: DataFrame): DataFrame =
    ce.select(to_json(struct(ce.columns.map(col).toIndexedSeq: _*)).as("event_json"))

  /** K1 — batch delivery with per-event error isolation: one
    * `foreachPartition` job in which each task opens the transport, sends
    * its partition, adds the tally to a pair of accumulators and closes.
    * A transport failure marks the event failed and moves on; the job
    * never dies for one bad event (C4). `deliveryId` identifies the
    * LOGICAL batch for transport idempotency — a rerun with the SAME id
    * replaces its previous attempt; distinct deliveries (successive poll
    * cycles, main.go:118-150) MUST carry distinct ids or they overwrite
    * each other, which is why there is no default: the caller owns the
    * cycle counter. */
  def deliver(ce: DataFrame, transport: EventTransport,
              deliveryId: Long): Delivery = {
    val sc = ce.sparkSession.sparkContext
    val sent = sc.longAccumulator("ce_sent")
    val failed = sc.longAccumulator("ce_failed")
    transport.beginDelivery(deliveryId)
    toEnvelope(ce).foreachPartition { (rows: Iterator[Row]) =>
      transport.open(org.apache.spark.TaskContext.getPartitionId(), deliveryId)
      try {
        val d = transport.sendPartition(rows.map(_.getString(0)))
        sent.add(d.sent)
        failed.add(d.failed)
      } finally transport.close()
    }
    Delivery(sent.value, failed.value)
  }

  /** The delivery id of micro-batch `batchId` of poll cycle `cycle`; a
    * batch-mode cycle is its cycle's batch 0. Distinct cycles never share
    * an id, whatever their mode, while a rerun of a cycle — whose fresh
    * checkpoint restarts `batchId` at 0 — replaces its own attempt. */
  def deliveryId(cycle: Long, batchId: Long): Long = {
    require(batchId < 100000L, s"cycle $cycle ran more than 100000 micro-batches")
    cycle * 100000L + batchId
  }

  /** K2 — streaming delivery: `ce` drains through [[StreamingOps.drain]]
    * and `sink` — K1 [[deliver]] over a transport, at-least-once into an
    * idempotent receiver — runs on each micro-batch, on the driver, under
    * the micro-batch's [[deliveryId]] in poll cycle `cycle`. Returns the
    * tallies summed across micro-batches. */
  def deliverStream(ce: DataFrame, cycle: Long)
                   (sink: (DataFrame, Long) => Delivery): Delivery = {
    var total = Delivery(0, 0)
    StreamingOps.drain(ce) { (batch, batchId) =>
      total += sink(batch, deliveryId(cycle, batchId))
    }
    total
  }
}
