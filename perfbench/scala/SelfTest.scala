package perfbench

import org.apache.spark.sql.functions.col

import graft.sources.CtsRestStub

/** The harness's own checks, run by `perfbench/run.py --selftest`:
  *  1. the page generator is deterministic for a seed, and the seed matters;
  *  2. the in-memory CTS endpoint yields the same rows through
  *     `spark.read.format("cts")` as `CtsRestStub` over the same pages,
  *     with and without a pushed-down time window;
  *  3. the table generator writes the same digests twice for one seed.
  * Exits non-zero on the first failed check. */
object SelfTest {
  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) sys.exit(1)
  }

  def main(argv: Array[String]): Unit = {
    val work = argv(argv.indexOf("--work") + 1)
    val p1 = Gen.pages(7L, 12)
    val p2 = Gen.pages(7L, 12)
    check("page generator is deterministic for a seed", p1 == p2)
    check("page generator depends on the seed", p1 != Gen.pages(8L, 12))
    check("pages hold 50 traces each", p1.pages.forall(_.size == 50))
    val out = p1.pages.flatten.count(t => t.time < p1.from)
    check(s"some traces fall outside the poll window ($out of ${p1.pages.flatten.size})",
      out > 0 && out < p1.pages.flatten.size / 2)

    val spark = Main.session(2, work)
    val dir = s"$work/pages"
    Gen.writePages(p1, dir)
    val stub = new CtsRestStub(dir)
    val mem = new CtsEndpoint(p1, 2)
    try {
      def rows(url: String, window: Boolean) = {
        val df = spark.read.format("cts").option("pages", url).option("limit", 50).load()
        val w = if (window) df.filter(col("time") >= p1.from && col("time") <= p1.to) else df
        w.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
      }
      for (window <- Seq(false, true)) {
        val a = rows(stub.url, window)
        val b = rows(mem.url, window)
        check(s"endpoint rows equal CtsRestStub rows (window=$window, ${a.size} rows)",
          a.nonEmpty && a == b)
      }
      check("windowed read returns exactly the in-window ids",
        rows(mem.url, window = true).map(_.takeWhile(_ != '\u0001')).sorted ==
          p1.inWindow.sorted)

      Gen.tables(spark, s"$work/t1", 42L, 0.0005)
      Gen.tables(spark, s"$work/t2", 42L, 0.0005)
      val same = Gen.rowCounts(0.0005).keys.forall { t =>
        Main.digest(spark.read.parquet(s"$work/t1/$t.parquet")) ==
          Main.digest(spark.read.parquet(s"$work/t2/$t.parquet"))
      }
      check("table generator is deterministic for a seed", same)
    } finally {
      stub.stop(); mem.stop(); spark.stop()
    }
  }
}
