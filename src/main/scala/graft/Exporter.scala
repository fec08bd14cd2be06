package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CloudEventSink, CtsParity}

/** The reference exporter's entry point re-expressed as one Spark job
  * (cmd/cts_exporter/main.go:67-208): CTS source → trace→CloudEvent
  * transform → optional delivery, with the reference's two runtime toggles:
  *
  *  - `streams`  ≙ CTS_STREAMS (main.go:27): batch `spark.read` vs
  *    `spark.readStream` over the SAME logical transform (C6) — the toggle
  *    swaps the source/sink verbs, never the plan;
  *  - `pushAndPull` ≙ CTS_X_PNP (main.go:26): collect-only vs
  *    collect+deliver (C5) — presence/absence of the sink stage.
  *
  * The reference's ticker loop (main.go:118-150) is the streaming trigger;
  * batch mode is one poll cycle. Returns the delivery accounting (F4/C4)
  * when delivery ran.
  */
object Exporter {

  /** `overrides` ≙ K_CE_OVERRIDES (adapter.go:57-65,256-261): extension
    * keys merged right-biased into every delivered envelope — an existing
    * extension key is overwritten, a new key is added.
    *
    * `cycle` ≙ the poll-cycle counter of the reference's ticker loop
    * (main.go:118-150): it becomes the delivery id, so a RETRY of the same
    * cycle replaces its previous attempt while successive cycles never
    * collide in the sink. Callers running repeated cycles against one
    * outDir must increment it. */
  case class Config(pages: String, outDir: String,
                    streams: Boolean = false, pushAndPull: Boolean = true,
                    limit: Int = 50, overrides: Map[String, String] = Map.empty,
                    cycle: Long = 0L,
                    fromMinutes: Option[Int] = None, nowMs: Option[Long] = None)

  /** Config-bounds parity (main.go:42-43,210-216 + querier.go:15-16):
    * the reference fail-fasts (exit code 78) on a poll window outside
    * [1, 10800] minutes, and the CTS API caps page size at 200. A
    * mis-configured job must die at config time, before any Spark job is
    * planned — not proceed silently on a window the live API would
    * reject. `fromMinutes=None` is the fixture-replay mode (our source
    * reads recorded pages, not the live API, so "no wall-clock window"
    * is meaningful here where it isn't for the reference). */
  private def validate(cfg: Config): Unit = {
    cfg.fromMinutes.foreach { f =>
      require(f >= 1 && f <= 10800,
        s"'from' out of range: 1 and 10800 (got $f)")
    }
    require(cfg.limit >= 1 && cfg.limit <= 200,
      s"'limit' out of range: 1 and 200 (got ${cfg.limit})")
  }

  /** CTS_FROM window semantics (adapter.go:93-100): the poll queries
    * [now - from minutes, now]. The predicate lands on the source as an
    * F1 pushdown (the server evaluates From/To), so the window prunes
    * pages before they are parsed — same shape as the live API call. */
  private def windowed(traces: DataFrame, cfg: Config): DataFrame =
    cfg.fromMinutes.fold(traces) { f =>
      val to = cfg.nowMs.getOrElse(System.currentTimeMillis())
      traces.filter(col("time") >= to - f * 60000L && col("time") <= to)
    }

  /** The six extension attributes the reference sets on every envelope
    * (adapter.go:249-254) — all FLAT at the top level of the CE JSON, the
    * layout the CE SDK's JSON event format serializes. */
  private val baseExtensionKeys =
    Seq("status", "code", "resourceid", "region", "domain", "tenant")

  private def toCloudEvents(traces: DataFrame,
                            overrides: Map[String, String]): DataFrame = {
    val base = CtsParity.toCloudEvents(traces
      .withColumn("ts", timestamp_millis(col("time")))
      .withColumn("trace_status", coalesce(col("trace_status"), lit("normal")))
      .withColumn("code", coalesce(col("code"), lit("")))
      // context columns the Go adapter takes from the auth client
      // (adapter.go:252-254); deterministic stand-ins here
      .withColumn("region", lit("eu-de"))
      .withColumn("domain", lit("dom-0"))
      .withColumn("tenant", lit("ten-0")))
    // K_CE_OVERRIDES merge (adapter.go:256-261): SetExtension overwrites
    // an existing attribute in place and adds unknown keys — flat on the
    // envelope, never nested. The override map is driver-side config, so
    // the merge is a pure column substitution (still one codegen Project);
    // the map-typed merge (CloudEventFns.mergeExtensions, P6) remains the
    // row-varying path and is oracle-checked in p_ce_payload.
    // CloudEvents reserves the core attribute names — the SDK's
    // SetExtension cannot touch them (adapter.go:256-261 only ever sets
    // extension attributes), so an override named like one is a config
    // error, not a merge: silently replacing e.g. `id` with one literal
    // would collapse every event under the receiver's MERGE identity.
    // The full CE core set, not just the five columns in this frame:
    // specversion/datacontenttype/dataschema (+ the data payload itself)
    // are equally reserved by the spec, and an override named after one
    // must be rejected, not appended as a bogus top-level envelope field.
    val reserved = Set("id", "source", "type", "subject", "time",
      "specversion", "datacontenttype", "dataschema", "data")
    val bad = overrides.keySet.intersect(reserved)
    require(bad.isEmpty,
      s"K_CE_OVERRIDES cannot override core CE attributes: ${bad.mkString(", ")}")
    // CE attribute names are lowercase [a-z0-9] (the SDK's SetExtension
    // validates the same way). Enforcing it HERE keeps every transport
    // equivalent: binary mode carries attributes as ce-* HTTP headers,
    // where an uppercase key would be case-folded by header normalization
    // and a non-token key (space, control char) would fail per-event at
    // send time — a config error must fail at config time, identically
    // across NDJSON / structured / binary delivery.
    val malformed = overrides.keySet.filterNot(_.matches("[a-z0-9]{1,20}"))
    require(malformed.isEmpty,
      s"CE extension attribute names must match [a-z0-9]{1,20}: ${malformed.mkString(", ")}")
    val overridden = baseExtensionKeys.foldLeft(base) { (df, k) =>
      overrides.get(k).fold(df)(v => df.withColumn(k, lit(v)))
    }
    overrides.keys.filterNot(baseExtensionKeys.contains).toSeq.sorted
      .foldLeft(overridden)((df, k) => df.withColumn(k, lit(overrides(k))))
  }

  /** One poll cycle (batch) or a drain-available run (streams=true).
    * Returns Some(delivery) when pushAndPull enabled. */
  def run(spark: SparkSession, cfg: Config): Option[CloudEventSink.Delivery] = {
    validate(cfg)
    // K_SINK parity: the reference's sink target is a URL and delivery is
    // a per-event CE POST (adapter.go:146). An http(s) outDir selects the
    // real HTTP transport (binary content mode, the Go SDK default); a
    // plain path keeps the offline NDJSON stand-in.
    val transport: CloudEventSink.EventTransport =
      if (cfg.outDir.startsWith("http://") || cfg.outDir.startsWith("https://"))
        new operators.HttpCloudEventTransport(cfg.outDir)
      else new CloudEventSink.NdjsonDirTransport(cfg.outDir)
    if (!cfg.streams) {
      val traces = spark.read.format("cts")
        .option("pages", cfg.pages).option("limit", cfg.limit).load()
      val ce = toCloudEvents(windowed(traces, cfg), cfg.overrides)
      if (cfg.pushAndPull) Some(CloudEventSink.deliver(ce, transport, cfg.cycle))
      else { ce.write.format("noop").mode("overwrite").save(); None }
    } else {
      val traces = spark.readStream.format("cts")
        .option("pages", cfg.pages).option("limit", cfg.limit).load()
      val ce = toCloudEvents(windowed(traces, cfg), cfg.overrides)
      // each cycle drains from the head into its own checkpoint, deleted
      // once the query has terminated so a looping exporter leaves none
      val ckpt = java.nio.file.Files.createTempDirectory("exporter-ckpt-")
      try {
        if (cfg.pushAndPull) {
          val sd = CloudEventSink.deliverStream(ce, transport, ckpt.toString)
          sd.query.awaitTermination()
          Some(sd.delivery)
        } else {
          val q = ce.writeStream.format("console")
            .option("checkpointLocation", ckpt.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          None
        }
      } finally graft.streaming.StreamingOps.deleteTree(ckpt)
    }
  }

  /** K_CE_OVERRIDES deployment parity (adapter.go:57-65): the reference
    * reads its override map as a JSON object from an env var at startup.
    * Same contract here: a flat JSON object of string values. Non-object
    * or non-string shapes are config errors (the Go side's
    * json.Unmarshal into map[string]string fails the same way), and
    * reserved core attributes are rejected downstream by toCloudEvents. */
  private[graft] def parseOverrides(json: String): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(node != null && node.isObject,
      s"overrides must be a JSON object of string values, got: $json")
    val it = node.properties().iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      require(e.getValue.isTextual,
        s"override '${e.getKey}' must be a JSON string, got: ${e.getValue}")
      b += e.getKey -> e.getValue.asText()
    }
    b.result()
  }

  /** Arg/env → Config, factored out of main so the spec can drive the
    * exact config path main uses without main's session lifecycle.
    * `--overrides '{...}'` wins over the GRAFT_CE_OVERRIDES env var —
    * CLI-explicit beats ambient, the usual precedence. Exactly two
    * positional arguments; a missing one, an unknown option or a
    * non-integer `--from` fails with a usage error naming it. */
  private[graft] def parseArgs(args: Array[String],
                               env: Map[String, String] = sys.env): Config = {
    val usage = "usage: Exporter <pagesDir> <outDir> [--streams] [--pull-only]" +
      " [--from <minutes>] [--overrides '{\"k\":\"v\"}']"
    val opts = collection.mutable.Map.empty[String, String]
    val positional = Vector.newBuilder[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case f @ ("--streams" | "--pull-only") => opts(f) = ""
        case f @ ("--from" | "--overrides") =>
          require(i + 1 < args.length, s"$f needs a value; $usage")
          i += 1
          opts(f) = args(i)
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown option $f; $usage")
        case p => positional += p
      }
      i += 1
    }
    val pos = positional.result()
    require(pos.length == 2, (pos.length match {
      case 0 => "missing <pagesDir> and <outDir>"
      case 1 => "missing <outDir>"
      case _ => s"unexpected argument ${pos(2)}"
    }) + s"; $usage")
    // CTS_FROM precedence parity (main.go:87-94): a nonzero --from flag
    // wins over the env var; the flag path is range-checked at config
    // time exactly as fromInRange does (main.go:210-216). The env path
    // is checked too — stricter than the reference, which validates only
    // the flag (an env-injected 0 would make its ticker panic anyway).
    val fromMinutes = opts.get("--from").map(v => (v, "--from"))
      .orElse(env.get("GRAFT_CTS_FROM").map(v => (v, "GRAFT_CTS_FROM")))
      .map { case (v, src) =>
        v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"$src must be an integer number of minutes, got '$v'; $usage"))
      }
    Config(pos(0), pos(1),
      streams = opts.contains("--streams"),
      pushAndPull = !opts.contains("--pull-only"),
      overrides = opts.get("--overrides").orElse(env.get("GRAFT_CE_OVERRIDES"))
        .fold(Map.empty[String, String])(parseOverrides),
      fromMinutes = fromMinutes)
  }

  /** CLI: Exporter <pagesDir> <outDir> [--streams] [--pull-only]
    *            [--from <minutes>]       (or GRAFT_CTS_FROM env)
    *            [--overrides '{"k":"v"}']  (or GRAFT_CE_OVERRIDES env) */
  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = GraftSession(defaultCpus = 4, logLevel = "WARN")
    run(spark, cfg).foreach(d => println(s"delivered sent=${d.sent} failed=${d.failed}"))
    spark.stop()
  }
}
