package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Exporter, SparkEntry}
import graft.sources.CtsSource

/** Benchmark harness: runs one workload closed-loop (one client, the next
  * operation starts when the previous one ends) for a fixed time and
  * writes every raw sample as JSON. `perfbench/run.py` builds this,
  * launches it, and turns the samples into metrics.
  *
  *   Main --workload exporter|queries --seed N --seconds S
  *        --trace 0|1 --out raw.json --work DIR [--record]
  */
object Main {

  /** The `queries` workload's rows by family: batch rows run through
    * `noop`; `s_*` rows drain a stream under AvailableNow. */
  val queryRows: Seq[(String, String)] =
    Seq("q1_pricing_summary", "q3_revenue_topn", "w_window_funcs").map(_ -> "relational") ++
    Seq("p_ce_transform", "k3_graph_edges").map(_ -> "parity") ++
    Seq("l_dedup_apply").map(_ -> "llmops") ++
    Seq("s_stream_join", "s_tumbling").map(_ -> "stateful") ++
    Seq("s_cdc", "s_pii").map(_ -> "stateless")
  /** The generated tables those rows read. */
  val queryTables = Set("lineitem", "orders", "customer", "events", "documents")

  /** Generated table scale (TPC-H style: lineitem = 6M x sf) and seed. */
  val TableSf = 0.01
  val TableSeed = 42L
  /** Exporter input: one poll reads 40 pages of 50 traces (the CTS
    * default `limit`), a tenth of a 400 x 50 `Exporter.run` probe (16 s a
    * batch cycle at local[4], too long for a run's time limit), over the
    * reference exporter's default `CTS_FROM` window of 5 minutes.
    * perfbench/README.md gives the per-page share of a cycle at this size. */
  val Pages = 40
  val PerPage = 50
  val FromMinutes = 5
  /** Page-chain generations per run; `setup_s` uses their median. The
    * tables are generated once: a repeat runs warm, so it would time a
    * different (cheaper) thing, and it costs seconds of every run. */
  val SetupRepeats = 3
  /** Timed passes per run, whatever `--seconds` says: an exporter pass is
    * short, so its median is taken over three, which also keeps one slow
    * pass out of it. A traced run needs three: its first, still warming,
    * pass is left out, and of the rest one is traced and one is not. */
  val MinPasses = Map("exporter" -> 3, "queries" -> 1)
  val MinTracedPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: String, work: String, record: Boolean)

  private def parse(a: Array[String]): Args = {
    def opt(k: String) = { val i = a.indexOf(k); if (i >= 0 && i + 1 < a.length) Some(a(i + 1)) else None }
    Args(opt("--workload").getOrElse(sys.error("--workload required")),
      opt("--seed").map(_.toLong).getOrElse(1L),
      opt("--seconds").map(_.toDouble).getOrElse(10.0),
      opt("--trace").contains("1"),
      opt("--out").getOrElse(sys.error("--out required")),
      opt("--work").getOrElse(sys.error("--work required")),
      a.contains("--record"))
  }

  def now(): Double = System.nanoTime() / 1e9

  private val started = now()
  /** Progress line in the run's jvm.log, so a stuck or killed run shows
    * where it was. */
  def log(msg: String): Unit = println(f"[perfbench ${now() - started}%8.2f] $msg")

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = new Run(a)
    val result = try w.run() finally w.close()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(Paths.get(a.out).toFile, result)
    if (a.trace) mapper.writeValue(Paths.get(a.out).resolveSibling("spans.json").toFile, w.tracer.toJson)
  }

  // ---- output checks --------------------------------------------------------

  /** Order-insensitive digest of a result frame: row count plus the sum and
    * xor of per-row `xxhash64`. Floating-point columns hash their value
    * rounded to 9 significant digits, so summation order does not show;
    * map columns hash their JSON text. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.8e", col(f.name))
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    (r.getLong(0), s"${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}")
  }

  /** Expected (count, hash) per row, recorded from HEAD; a `null` hash
    * means the row's digest is not reproducible and only its count is
    * checked. */
  def expected(path: String): Map[String, (Long, Option[String])] = {
    val node = new ObjectMapper().readTree(Paths.get(path).toFile).path("rows")
    node.properties().asScala.map { e =>
      val h = e.getValue.path("hash")
      e.getKey -> (e.getValue.path("count").asLong(-1L),
        if (h.isTextual) Some(h.asText) else None)
    }.toMap
  }
}

/** One benchmark run: session, inputs, warm-up, timed loop, traced probes. */
final class Run(a: Main.Args) {
  import Main._

  private val work = a.work
  /** The run directory's name: `work` is `<run dir>/tmp/work`. */
  private val runId = Paths.get(work).toAbsolutePath.getParent.getParent.getFileName.toString
  val tracer = new Tracer(runId, a.trace)
  private val recorder = new Recorder
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** JVM start to this harness taking control. */
  private val jvmStartS = (System.currentTimeMillis() - startMs) / 1e3
  private var spark: SparkSession = _
  private var endpoint: CtsEndpoint = _
  private var receiver: CeReceiver = _

  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val layers = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val setup = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def close(): Unit = {
    Option(endpoint).foreach(_.stop())
    Option(receiver).foreach(_.stop())
    Option(spark).foreach(s => try s.stop() catch { case _: Throwable => () })
  }

  private def timed[T](f: => T): (T, Double) = { val t = now(); val r = f; (r, now() - t) }

  // ---- calibration kernels: graft.Bench's cpu / scan / write kernels, with
  // the write kernel at 500k rows instead of 2M to keep runs short ----------

  private def calibration(): Map[String, Double] = {
    var h = 2654435761L
    var i = 0L
    val t0 = now()
    while (i < 200000000L) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= h >>> 33
      i += 1
    }
    val cpu = now() - t0
    if (h == 42L) print("")
    val dir = Files.createTempDirectory("perfbench-cal-")
    val (_, write) = timed(spark.range(0, 500000L, 1, 32).write.mode("overwrite").parquet(dir.resolve("w").toString))
    val (_, scan) = timed(spark.read.parquet(dir.resolve("w").toString)
      .agg(sum("id"), count(lit(1))).collect())
    Map("host_cpu_sec" -> cpu, "host_write_sec" -> write, "host_scan_sec" -> scan)
  }

  private def jvm(): Map[String, Double] = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Map("heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0, "gc_ms" -> gc.toDouble)
  }

  private def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def run(): Map[String, Any] = {
    val (s, sessionS) = timed(session(cores, work))
    spark = s
    val setupStart = now()
    val prep: () => (() => Double) = a.workload match {
      case "exporter" => prepareExporter
      case "queries" => () => prepareRows(queryRows, queryTables)
      case other => sys.error(s"unknown workload $other")
    }
    val timedPass = prep()
    log("set-up done")
    val toFirstOp = (System.currentTimeMillis() - startMs) / 1e3
    setup("jvm_start_s") = jvmStartS
    setup("session_s") = sessionS
    setup("process_to_first_op_s") = toFirstOp
    setup("setup_s") = jvmStartS + sessionS + (now() - setupStart) -
      setup("input_s").asInstanceOf[Seq[Double]].sum +
      median(setup("input_s").asInstanceOf[Seq[Double]])

    // calibration kernels run warm, after set-up: context only, not in setup_s
    val calBefore = calibration()
    if (a.trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.streams.addListener(recorder.streaming)
    }
    resetHeapPeak()
    val gc0 = jvm()("gc_ms")
    val loopStart = now()
    val minPasses = if (a.trace) MinTracedPasses else MinPasses(a.workload)
    var pass = 0
    while (pass < minPasses || now() - loopStart < a.seconds) {
      tracer.enabled = passTraced
      timedPass()
      pass += 1
    }
    tracer.enabled = a.trace
    val loopS = now() - loopStart
    val j = jvm()
    layers("jvm.heap_peak_mb") = j("heap_peak_mb")
    layers("jvm.gc_s") = (j("gc_ms") - gc0) / 1e3
    layers("loop_s") = loopS
    if (a.trace) {
      tracer("probes")(probes())
      scaling()
    }
    val calAfter = calibration()
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> (if (a.trace) 1 else 0),
      "seconds" -> a.seconds, "nproc" -> cores, "run_id" -> runId,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "calibration" -> Map("before" -> calBefore, "after" -> calAfter),
      "setup" -> setup.toMap, "ops" -> ops.toList, "layers" -> layers.toMap)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Traced passes alternate with untraced ones (odd passes traced), so
    * one run yields both sides of the tracing overhead. */
  private var passNo = 0
  private def passTraced: Boolean = a.trace && passNo % 2 == 1

  private def withCounts[T](f: => T): (T, Option[Counts]) =
    if (passTraced) { val (r, c) = recorder.measure(spark.sparkContext)(f); (r, Some(c)) }
    else (f, None)

  private def counted(c: Option[Counts]): Map[String, Any] =
    c.fold(Map.empty[String, Any])(_.toMap)

  // ---- exporter ---------------------------------------------------------------

  private var pages: Gen.Pages = _
  private var cycle = 0L

  private def exporterCfg(streams: Boolean, push: Boolean = true): Exporter.Config = {
    cycle += 1
    Exporter.Config(pages = endpoint.url, outDir = receiver.url, streams = streams,
      pushAndPull = push, limit = PerPage, cycle = cycle,
      fromMinutes = Some(FromMinutes), nowMs = Some(pages.to))
  }

  /** One poll cycle against the loopback endpoint, checked: every POST a
    * well-formed binary-mode CE, the received ids exactly the in-window
    * generated ids once each, and `Delivery.sent` equal to that count. */
  private def exporterCycle(streams: Boolean): Map[String, Any] = {
    val want = pages.inWindow.sorted
    receiver.reset()
    endpoint.requests.set(0)
    val name = if (streams) "stream_cycle" else "cycle"
    val t = now()
    val (res, c) = withCounts(tracer(name)(
      scala.util.Try(Exporter.run(spark, exporterCfg(streams)))))
    val wall = now() - t
    log(f"$name pass=$passNo wall=$wall%.3f ok=${res.isSuccess}")
    val got = receiver.ids.asScala.toVector.sorted
    val d = res.toOption.flatten
    val ok = d.exists(x => x.sent == want.size && x.failed == 0) &&
      receiver.malformed.get == 0 && got == want
    Map("kind" -> name, "pass" -> passNo, "traced" -> passTraced, "wall_s" -> wall,
      "ok" -> ok, "events" -> d.map(_.sent).getOrElse(0L), "expected" -> want.size,
      "failed_events" -> d.map(_.failed).getOrElse(-1L), "requests" -> endpoint.requests.get,
      "pages" -> pages.markers.size, "posts" -> receiver.posts.get,
      "error" -> res.failed.toOption.map(_.toString).orNull) ++ counted(c)
  }

  private def prepareExporter(): () => Double = {
    val inputs = (1 to SetupRepeats).map { _ =>
      val (p, t) = timed(Gen.pages(a.seed, Pages, PerPage, fromMinutes = FromMinutes))
      pages = p; t
    }
    setup("input_s") = inputs
    endpoint = new CtsEndpoint(pages, cores)
    receiver = new CeReceiver(cores)
    // walk requests carry only the marker; reads add the pushed-down window
    val window = s"limit=$PerPage&from=${pages.from}&to=${pages.to + 1}"
    endpoint.prerender(pages.markers.zipWithIndex.flatMap { case (m, i) =>
      val next = if (i == 0) None else Some(s"next=$m")
      Seq(next.getOrElse(""), (next.toSeq :+ window).mkString("&"))
    })
    // warm-up: one cycle per mode, checked like the timed ones
    val warm = Seq(exporterCycle(false), exporterCycle(true))
    warm.foreach(m => ops += (m + ("kind" -> s"warmup_${m("kind")}")))
    () => {
      val t = now()
      tracer("pass") {
        ops += exporterCycle(false)
        ops += exporterCycle(true)
      }
      passNo += 1
      now() - t
    }
  }

  // ---- batch_mix / drains -----------------------------------------------------

  private var dataDir: String = _
  private var rowOrder = 0L

  /** Size of every regular file under the run's java.io.tmpdir. */
  private def tmpFiles(): Map[Path, Long] = {
    val st = Files.walk(Paths.get(System.getProperty("java.io.tmpdir")))
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> (try Files.size(p) catch { case _: Exception => 0L })).toMap
    finally st.close()
  }

  private def prepareRows(rows: Seq[(String, String)], tables: Set[String]): () => Double = {
    dataDir = s"$work/data"
    setup("input_s") = Seq(timed(Gen.tables(spark, dataDir, TableSeed, TableSf, tables))._2)
    val want = expected("perfbench/expected.json")
    // warm-up pass: every row once, its output digested and checked
    rows.foreach { case (name, family) =>
      val t = now()
      val r = scala.util.Try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        digest(df)
      }
      spark.catalog.clearCache()
      val (cnt, hash) = r.getOrElse((-1L, ""))
      val ok = r.isSuccess && (a.record || want.get(name).exists { case (c, h) =>
        c == cnt && h.forall(_ == hash) })
      log(f"check $name ok=$ok wall=${now() - t}%.3f")
      ops += Map("kind" -> "check", "name" -> name, "family" -> family, "pass" -> -1,
        "wall_s" -> (now() - t), "ok" -> ok, "count" -> cnt, "hash" -> hash,
        "error" -> r.failed.toOption.map(_.toString).orNull)
    }
    () => {
      val order = new scala.util.Random(a.seed * 7919L + rowOrder).shuffle(rows)
      rowOrder += 1
      val t = now()
      tracer("pass") {
        order.foreach { case (name, family) => ops += timeRow(name, family) }
      }
      passNo += 1
      now() - t
    }
  }

  /** Time one row in three phases: build (the query function call, which
    * runs any eager driver jobs, and for `s_*` rows the whole drain), plan
    * (physical planning) and execute (all rows through `noop`). */
  private def timeRow(name: String, family: String): Map[String, Any] = {
    val isDrain = name.startsWith("s_")
    val sc = spark.sparkContext
    val files0 = if (passTraced && isDrain) tmpFiles() else Map.empty[Path, Long]
    var build, plan, exec = 0.0
    val t = now()
    val (res, c) = withCounts(tracer(name)(scala.util.Try {
      sc.setLocalProperty("perfbench.phase", "build")
      val (df, b) = timed(tracer("build")(SparkEntry.queries(name)(spark, dataDir)))
      sc.setLocalProperty("perfbench.phase", "plan")
      val (_, p) = timed(tracer("plan")(df.queryExecution.executedPlan))
      sc.setLocalProperty("perfbench.phase", "execute")
      val (_, e) = timed(tracer("execute")(df.write.format("noop").mode("overwrite").save()))
      build = b; plan = p; exec = e
    }))
    val wall = now() - t
    log(f"$name pass=$passNo wall=$wall%.3f ok=${res.isSuccess}")
    sc.setLocalProperty("perfbench.phase", null)
    spark.catalog.clearCache()
    // files the drain left that were not there before it: checkpoints,
    // state and sink output
    val written = if (passTraced && isDrain) tmpFiles() -- files0.keySet else Map.empty[Path, Long]
    Map("kind" -> "row", "name" -> name, "family" -> family, "pass" -> passNo,
      "traced" -> passTraced, "wall_s" -> wall, "ok" -> res.isSuccess,
      "build_s" -> build, "plan_s" -> plan, "execute_s" -> exec,
      "files_written" -> written.size, "mb_written" -> written.values.sum / 1048576.0,
      "error" -> res.failed.toOption.map(_.toString).orNull) ++ counted(c)
  }

  // ---- traced-only probes -----------------------------------------------------

  private def probes(): Unit = a.workload match {
    case "exporter" =>
      val sc = spark.sparkContext
      val window = (Some(pages.from), Some(pages.to + 1))
      val fetch = (1 to 3).flatMap(_ => pages.markers.map { m =>
        timed(tracer("fetchPage")(CtsSource.fetchPage(endpoint.url, m, None,
          Some(PerPage), window._1, window._2)))._2 * 1e3
      })
      layers("sources.fetch_ms") = median(fetch)
      layers("sources.walk_s") = median((1 to 3).map(_ =>
        timed(tracer("walkMarkers")(CtsSource.walkMarkers(endpoint.url)))._2))
      layers("sources.scan_s") = median((1 to 3).map(_ => timed(tracer("scan")(
        spark.read.format("cts").option("pages", endpoint.url).option("limit", PerPage).load()
          .write.format("noop").mode("overwrite").save()))._2))
      // the pull alone, with the scheduler's counts, so that the sink's
      // share of a cycle's tasks is the full cycle's minus these
      val pulls = (1 to 3).map(_ => timed(recorder.measure(sc)(tracer("pull")(
        Exporter.run(spark, exporterCfg(streams = false, push = false))))))
      layers("operators.ce_pull_s") = median(pulls.map(_._2))
      layers("operators.pull_tasks") = median(pulls.map(_._1._2.tasks.toDouble))
    case _ => ()
  }

  /** Wall time of one pass at local[1] against the untraced passes at
    * local[nproc] after the first, still warming, one. The JVM stays warm;
    * only the session restarts. */
  private def scaling(): Unit = {
    val passes = ops.filter(o => o("kind") == "row" || o("kind") == "cycle" || o("kind") == "stream_cycle")
      .filter(o => o("traced") == false && o("pass").asInstanceOf[Int] > 0)
      .groupBy(_("pass")).values.map(_.map(_("wall_s").asInstanceOf[Double]).sum).toSeq
    passNo = 0 // the local[1] pass runs untraced
    spark.stop()
    spark = session(1, work)
    val one = a.workload match {
      case "exporter" =>
        val t = now(); exporterCycle(false); exporterCycle(true); now() - t
      case _ => queryRows.map { case (n, f) => timeRow(n, f)("wall_s").asInstanceOf[Double] }.sum
    }
    layers("scaling.local1_pass_s") = one
    layers("scaling.localN_pass_s") = median(passes)
    layers("scaling.local1_ratio") = one / median(passes)
  }
}
