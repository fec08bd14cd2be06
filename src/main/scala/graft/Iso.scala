package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

/** Diagnostic main (not part of the driver contract), three modes:
  *  - `Iso <sfDir> <passes> <query...>`: isolated timer — min-of-N per
  *    query through the same noop-write methodology as Bench. Runs
  *    passes + 1 executions per query; the first is a WARM pass, reported
  *    separately and excluded from the min. Duplicate names re-run, so
  *    `k3_pagerank d_pr_noaqe k3_pagerank d_pr_noaqe` alternates the two
  *    rows' samples inside one session and one host window.
  *  - `Iso plan <sfDir> <outDir> <tag> <query...>`: writes each query's
  *    `.explain("formatted")` to `<outDir>/<query>_<tag>.txt` — the
  *    before/after plan evidence committed under plans/. Building a
  *    DataFrame may run jobs (model training, CC loops); nothing is timed.
  *  - `Iso recall <sfDir> [row...]`: recall@3 of the approximate ANN rows
  *    against the exact cosine top-3 (l_cosine_topk) on the same corpus.
  *    The oracle pins each row's deterministic output; this pins how much
  *    of the exact answer the approximation retains, which only a
  *    cross-row comparison can say.
  *
  * Every mode resolves a name through [[extras]], else SparkEntry.queries.
  */
object Iso {

  /** Diagnostic frames that are not driver rows. */
  private val extras: Map[String, SparkEntry.Q] = Map(
    // k3_pagerank probes (ROADMAP's sf10 k3_pagerank decision reads
    // them): the shared link/vertex build alone, and the committed
    // spelling with AQE off
    "d_pr_build" -> ((s, d) =>
      operators.CtsParity.pageRank(operators.CtsParity.linkPairs(
        operators.CtsParity.toCloudEvents(
          operators.CtsParity.eventsAsTraces(Tables.events(s, d)))), iters = 0)),
    "d_pr_noaqe" -> ((s, d) => {
      val k = "spark.sql.adaptive.enabled"
      val old = s.conf.get(k)
      s.conf.set(k, "false")
      try Parity.queries("k3_pagerank")(s, d)
        .write.format("noop").mode("overwrite").save()
      finally s.conf.set(k, old)
      s.emptyDataFrame
    }),
    // the urlAdmitBatch decision frame every s_url_dedup trigger executes
    // (its plan lives inside foreachBatch, which no declared query's
    // explain can show): the documents table as one arriving batch
    // against a 50-row prior index, so the index-probe join is planned
    "url_admit_decision" -> ((s, d) => {
      val canon = LlmOps.urlCanonFrame(Tables.documents(s, d))
      val seed = graft.streaming.StreamingOps.tmp("graft-iso-idx-")
      canon.limit(50).write.mode("overwrite").parquet(seed)
      LlmOps.urlAdmitDecision(canon, Seq(seed))
    }))

  private def query(name: String): SparkEntry.Q =
    extras.getOrElse(name, SparkEntry.queries(name))

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case "plan" :: sfDir :: outDir :: tag :: names =>
        plan(_, sfDir, outDir, tag, names)
      case "plan" :: _ =>
        throw new IllegalArgumentException(
          "usage: Iso plan <sfDir> <outDir> <tag> <query...>")
      case "recall" :: sfDir :: rows =>
        recall(_, sfDir,
          if (rows.nonEmpty) rows else Seq("l_ann_lsh", "l_ivf_ann", "l_ivfpq_ann"))
      case sfDir :: passes :: names =>
        require(passes.toInt >= 1,
          s"Iso needs passes >= 1 (got $passes): the first run is a discarded warm pass")
        time(_, sfDir, passes.toInt, names)
      case _ =>
        throw new IllegalArgumentException(
          "usage: Iso <sfDir> <passes> <query...> | Iso plan <sfDir> <outDir> " +
            "<tag> <query...> | Iso recall <sfDir> [row...]")
    }
    val spark = GraftSession(defaultCpus = 32, logLevel = "ERROR")
    try mode(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, passes: Int,
                   names: Seq[String]): Unit =
    for (n <- names) {
      val fn = query(n)
      val ts = (0 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"ISO $n min=${ts.tail.min}%.3f warm=${ts.head}%.3f all=${ts.tail.map(x => f"$x%.2f").mkString(",")}")
    }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
                   tag: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      val txt = query(n)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(s"$outDir/${n}_$tag.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"PLAN $n -> $outDir/${n}_$tag.txt")
      spark.catalog.clearCache()
    }
  }

  /** Prints one `RECALL <row> hits/total = r` line per approximate row. */
  private def recall(spark: SparkSession, sfDir: String,
                     rows: Seq[String]): Unit = {
    def pairs(name: String): Set[(Long, Long)] = {
      val p = query(name)(spark, sfDir)
        .select(col("q_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache()
      p
    }
    val exact = pairs("l_cosine_topk")
    for (name <- rows) {
      val approx = pairs(name)
      val hit = exact.count(approx.contains)
      println(f"RECALL $name%-14s $hit/${exact.size} = ${hit.toDouble / exact.size}%.3f")
    }
  }
}
