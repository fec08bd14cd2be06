package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts gathered at one layer boundary while one operation runs. */
final class Counts {
  var jobs = 0L; var buildJobs = 0L; var tasks = 0L
  var taskMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var microbatches = 0L; var emptyBatches = 0L
  var addBatchMs = 0L; var queryPlanningMs = 0L; var walCommitMs = 0L
  var offsetCommitMs = 0L; var latestOffsetMs = 0L
  var stateRows = 0L; var stateCommitMs = 0L; var stateMemBytes = 0L
  val triggerMs = ArrayBuffer.empty[Long]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "tasks" -> tasks,
    "task_s" -> taskMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_mb" -> shuffleBytes / 1048576.0, "spill_mb" -> spillBytes / 1048576.0,
    "microbatches" -> microbatches, "empty_batches" -> emptyBatches,
    "add_batch_ms" -> addBatchMs, "query_planning_ms" -> queryPlanningMs,
    "wal_commit_ms" -> walCommitMs, "offset_commit_ms" -> offsetCommitMs,
    "latest_offset_ms" -> latestOffsetMs, "state_rows" -> stateRows,
    "state_commit_ms" -> stateCommitMs, "state_mem_mb" -> stateMemBytes / 1048576.0,
    "trigger_ms" -> triggerMs.toList)
}

/** Scheduler and streaming-progress listener. Events land in `current`,
  * which the harness swaps per operation and drains the bus before
  * reading, so every event counts against the operation that caused it.
  * A job whose `perfbench.phase` local property is `build` was started
  * while the query function was still constructing its DataFrame. */
final class Recorder extends SparkListener {
  @volatile var current: Counts = new Counts

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = current
    c.jobs += 1
    if (Option(e.properties).exists(_.getProperty("perfbench.phase") == "build")) c.buildJobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = current
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = current
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      c.microbatches += 1
      if (p.numInputRows == 0) c.emptyBatches += 1
      c.addBatchMs += d("addBatch"); c.queryPlanningMs += d("queryPlanning")
      c.walCommitMs += d("walCommit"); c.offsetCommitMs += d("commitOffsets")
      c.latestOffsetMs += d("latestOffset")
      c.triggerMs += d("triggerExecution")
      p.stateOperators.foreach { s =>
        c.stateRows += s.numRowsTotal; c.stateCommitMs += s.commitTimeMs
        c.stateMemBytes += s.memoryUsedBytes
      }
    }
  }

  /** Run `f` with fresh counts; returns them once the bus is drained. */
  def measure[T](sc: SparkContext)(f: => T): (T, Counts) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val c = new Counts
    current = c
    val r = f
    org.apache.spark.PerfbenchBus.drain(sc)
    current = new Counts
    (r, c)
  }
}

/** In-memory span log: name, start, end and parent of every timed call
  * the benchmark makes into the program, under one run id. Written out
  * once, when the run ends. Disabled, it only runs the body. */
final class Tracer(val runId: String, var enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  private val t0 = System.nanoTime()

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, s - t0, System.nanoTime() - t0)
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000, "run" -> runId))
}
