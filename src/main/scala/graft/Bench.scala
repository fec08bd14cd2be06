package graft

/** Benchmark main (driver contract): every batch query from
  * SparkEntry.queries against SPARK_GRAFT_SF_DIR, one JSON line out.
  *
  * Methodology: each query executes to completion through the `noop`
  * DataSource — all rows materialized, nothing pruned under a count, no
  * disk write in the measurement (the r01/r02 `.count()` harness measured
  * pruned scans and swung 20× run-to-run).
  *
  * Iteration layout: one warm-up PASS over every query (JIT, codegen and
  * file-index caches), then 3 further full passes, reporting each query's
  * MINIMUM across passes. Passes are interleaved rather than per-query
  * back-to-back because this box suffers multi-minute external load
  * bursts: back-to-back iterations all land inside a burst (median
  * included), while interleaving separates a query's samples by minutes
  * so the min reflects the machine, not the neighbor (observed: identical
  * binaries, 0.4 s → 34 s swings on back-to-back medians).
  *
  * Streaming (`s_*`) queries are excluded from the min-of-passes loop
  * and from "value"/"total" (they time trigger machinery + sink I/O on
  * top of operator cost, and the batch series must stay comparable
  * round-over-round) — but each is timed ONCE and reported in the
  * `streaming` / `streaming_rows_per_sec` fields, so a streaming
  * regression is measurable too (rates are source-table rows per drain
  * second; rows that read the feed twice — the redelivery unions — are
  * normalized to single-feed rows, a consistent relative metric).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(defaultCpus = 32, logLevel = "ERROR")

    // Host calibration: two FIXED kernels timed before the query loop, so
    // cross-round/cross-box comparisons divide by a measured factor
    // instead of reconstructed "the box was ~1.3× slower that day"
    // arguments (SURVEY §8.4). (1) hostCpuSec: a single-threaded 2·10^8
    // step multiply-xor hash loop — pure ALU, no allocation, no I/O;
    // tracks per-core speed and neighbor-load steal. (2) hostScanSec: a
    // full scan+aggregate of the CONSTANT sf0.01 lineitem file (driver
    // testdata, identical bytes every round) through the same Spark
    // session — tracks the parallel scan path (I/O, decompression,
    // codegen). Both min-of-3 after one warm-up, same policy as queries.
    def cpuKernel(): Double = {
      var h = 2654435761L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < 200000000L) {
        h = h * 6364136223846793005L + 1442695040888963407L
        h ^= h >>> 33
        i += 1
      }
      val t = (System.nanoTime() - t0) / 1e9
      if (h == 42L) print("") // keep the loop observable (no DCE)
      t
    }
    def scanKernel(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    // (3) hostWriteSec: a fixed 2M-row long-frame parquet write to a
    // fresh temp dir — tracks the WRITE path (filesystem, page-cache
    // flush, parquet encode) the cpu/scan kernels miss. Round 18 made
    // the need measurable: streaming drain walls (state checkpoints +
    // append sinks) swung ±25% between adjacent idle windows while q1
    // and the scan kernel sat flat, so write-heavy rows flagged against
    // cpu/scan calibration isolate clean. Same min-of-3 policy; compare
    // drain-wall series against THIS factor first (SURVEY §8.4).
    def writeKernel(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-wcal-")
      // try/finally, not success-path cleanup: a failed write maps to
      // -1.0 upstream but must still delete its graft-wcal-* dir (r18
      // ADVICE — up to 4 leaked dirs per run otherwise)
      try {
        val t0 = System.nanoTime()
        spark.range(0, 2000000L, 1, 32)
          .write.mode("overwrite").parquet(dir.resolve("w").toString)
        (System.nanoTime() - t0) / 1e9
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    val hostCpuSec = { cpuKernel(); (1 to 3).map(_ => cpuKernel()).min }
    val hostScanSec =
      try { scanKernel(); (1 to 3).map(_ => scanKernel()).min }
      catch { case _: Throwable => -1.0 }
    val hostWriteSec =
      try { writeKernel(); (1 to 3).map(_ => writeKernel()).min }
      catch { case _: Throwable => -1.0 }

    def runOnce(fn: SparkEntry.Q): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      // cache lifecycle: queries persist intermediates (shingle/signature
      // frames) for intra-query reuse; drop them between queries so
      // CacheManager entries don't accumulate across the whole suite —
      // each sample pays its own materialization and nothing else's
      spark.catalog.clearCache()
      t
    }

    val batchQueries = SparkEntry.queries.filterNot(_._1.startsWith("s_")).toSeq
    // pass 0 = warm-up (discarded), passes 1..SPARK_GRAFT_PASSES recorded
    // (default 3; large-SF stress runs set 1 — at 10× data each pass is
    // ~10 min and run-to-run JIT variance is amortized by query length)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val samples = collection.mutable.Map.empty[String, List[Double]]
    for (pass <- 0 to passes; (name, fn) <- batchQueries) {
      val t = try runOnce(fn) catch { case _: Throwable => -1.0 }
      if (pass > 0) samples(name) = t :: samples.getOrElse(name, Nil)
    }
    val results = batchQueries.map { case (name, _) =>
      val xs = samples.getOrElse(name, List(-1.0))
      name -> (if (xs.forall(_ < 0)) -1.0 else xs.filter(_ >= 0).min)
    }
    // 3-digit seconds everywhere (r18 verdict task 7): millisecond
    // precision loses nothing at query granularity. Locale-pinned (r19
    // ADVICE): the f"" interpolator uses the JVM default locale, and a
    // comma-decimal locale (de_DE) would emit "0,874" — invalid JSON,
    // silently recreating the parse failure this formatting exists to fix.
    def j3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + j3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum

    // Streaming throughput (r15 verdict task 5): the s_* rows had
    // correctness coverage but ZERO perf coverage — a streaming
    // regression was invisible round-over-round. Each row is timed ONCE
    // (drain wall through the same noop methodology; one pass, because a
    // drain re-runs trigger machinery + sink I/O and is seconds-long —
    // variance amortizes over row length) and normalized to rows/sec of
    // its SOURCE table. Reported in separate fields; "value"/"total"
    // stay batch-only so the round-over-round batch series remains
    // comparable. Disable with SPARK_GRAFT_STREAM_BENCH=0.
    val streamOn = sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH", "1") == "1"
    // row → source table lives NEXT TO the query definitions
    // (StreamingOps.sourceTables); a row missing there surfaces as a
    // visible -1 rate, never a wrong-table denominator. Rates are a
    // PER-ROW round-over-round series only — rows that stream a filtered
    // subset (s_cosine_topk) or re-read the feed (redelivery unions)
    // keep the full-table denominator by contract (see sourceTables)
    val sourceTable = graft.streaming.StreamingOps.sourceTables
    val streamResults: Seq[(String, Double, Double)] =
      if (!streamOn) Seq.empty
      else {
        val srcRows = Seq("documents", "embeddings", "events").map { t =>
          t -> (try spark.read.parquet(s"$sfDir/$t.parquet").count().toDouble
                catch { case _: Throwable => -1.0 })
        }.toMap
        SparkEntry.queries.keys.filter(_.startsWith("s_")).toSeq.sorted
          .map { name =>
            val t = try runOnce(SparkEntry.queries(name))
                    catch { case _: Throwable => -1.0 }
            val n = sourceTable.get(name).map(srcRows).getOrElse(-1.0)
            (name, t, if (t > 0 && n > 0) n / t else -1.0)
          }
      }
    val sq = streamResults.map { case (k, v, _) => "\"" + k + "\":" + j3(v) }
      .mkString("{", ",", "}")
    val sr = streamResults.map { case (k, _, r) => "\"" + k + "\":" + j3(r) }
      .mkString("{", ",", "}")
    val streamTotal = streamResults.map(_._2).filter(_ >= 0).sum
    val streamFields =
      if (!streamOn) ""
      else s""""streaming_total_sec":${j3(streamTotal)},"streaming":$sq,"streaming_rows_per_sec":$sr,"""
    // POST-loop calibration re-run (r13 verdict): the pre-loop host_cpu
    // fields only bracket the window BEFORE the queries — r13's uniform
    // 1.27× inflation at identical pre-loop calibration read as
    // contention arriving DURING the loop, but the artifact couldn't
    // show it. host_cpu_sec_post makes a mid-run burst land in the
    // artifact itself: pre ≈ post ⇒ the whole run sat in one host
    // window; post ≫ pre ⇒ the totals carry neighbor load.
    val hostCpuSecPost = (1 to 3).map(_ => cpuKernel()).min
    // JSON-escape the free-text note (r14 ADVICE: a quote or backslash in
    // the env var produced a malformed artifact line)
    val note = sys.env.getOrElse("SPARK_GRAFT_BENCH_NOTE", "")
      .flatMap {
        case '"'           => "\\\""
        case '\\'          => "\\\\"
        case c if c < ' '  => f"\\u${c.toInt}%04x"
        case c             => c.toString
      }
    val noteField = if (note.isEmpty) "" else s""""note":"$note","""
    // git SHA stamp (r18 verdict task 3): two rounds running, committed
    // "final" artifacts predated late commits — the stamp makes the
    // artifact↔code binding checkable instead of argued from mtimes.
    // Read .git directly (loose ref, then packed-refs) — no subprocess.
    def gitSha(): String = try {
      val git = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"), ".git")
      def slurp(p: java.nio.file.Path) = new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val head = slurp(git.resolve("HEAD"))
      if (!head.startsWith("ref: ")) head
      else {
        val ref = head.drop(5)
        val loose = git.resolve(ref)
        if (java.nio.file.Files.exists(loose)) slurp(loose)
        else slurp(git.resolve("packed-refs")).linesIterator
          .find(_.endsWith(" " + ref)).map(_.split(" ")(0))
          .getOrElse("unknown")
      }
    } catch { case _: Exception => "unknown" }
    // Dirty-tree indicator (r19 ADVICE): the sha alone can lie — an
    // artifact built from uncommitted changes stamps a clean-looking
    // commit. tools/run.sh exports SPARK_GRAFT_DIRTY from
    // `git status --porcelain` before every run; a set value suffixes
    // the stamp so the artifact↔code binding is checkable either way.
    val sha = gitSha() +
      (if (sys.env.get("SPARK_GRAFT_DIRTY").exists(_.nonEmpty)) "-dirty" else "")
    val calib = s""""host_cpu_sec":${j3(hostCpuSec)},"host_cpu_sec_post":${j3(hostCpuSecPost)},"host_scan_sec":${j3(hostScanSec)},"host_write_sec":${j3(hostWriteSec)}"""
    val line = s"""{"metric":"total","value":${j3(total)},"unit":"sec","sha":"$sha",$noteField$streamFields$calib,"queries":$qs,"sf":"$sfDir"}"""
    // The full per-query map goes to a FILE, never to stdout: the
    // driver's stdout capture clips long lines from the HEAD (r19: only
    // 90 of 95 entries and no opening brace survived — "parsed": null
    // seven rounds running, r13–r19). The file is the canonical
    // artifact; stdout carries only a short summary object that always
    // fits the capture window and parses (r19 verdict task 2).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val outAbs = java.nio.file.Paths.get(out).toAbsolutePath
    java.nio.file.Files.write(outAbs,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val streamSummary =
      if (!streamOn) ""
      else s""""streaming_total_sec":${j3(streamTotal)},"n_streaming":${streamResults.size},"""
    // stop() BEFORE the summary println: the driver parses the LAST stdout
    // line, and in a merged 2>&1 capture anything Spark's shutdown path
    // writes after the summary would displace it. Paired with build.sbt's
    // StdoutOutput + showSuccess := false (r20 verdict task 1), the line
    // below is the final, unprefixed stdout line of the sbt invocation.
    // a shutdown-path failure must not suppress the driver-contract line
    // (r21 ADVICE): the summary is the whole point of the run
    try spark.stop() catch { case _: Throwable => () }
    println(s"""{"metric":"total","value":${j3(total)},"unit":"sec","sha":"$sha",$noteField$streamSummary$calib,"n_batch":${results.size},"queries_path":"$outAbs","sf":"$sfDir"}""")
    System.out.flush()
  }
}
