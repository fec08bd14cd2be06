package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), computed with `xxhash64`, so the same seed gives the same bytes
  * whatever the partitioning or core count. */
object Gen {

  /** Uniform [0, 1) from (seed, row id, salt). */
  private def u(seed: Long, id: Column, salt: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(1000000007L)).cast(DoubleType) / 1000000007.0

  private def pick(seed: Long, id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (floor(u(seed, id, salt) * xs.size) + 1).cast(IntegerType))

  private def ntz(daysFrom: String, days: Column): Column =
    date_add(lit(daysFrom).cast(DateType), days.cast(IntegerType)).cast(TimestampNTZType)

  private val vocab = Seq("spark", "stream", "batch", "scan", "filter", "join", "sort",
    "group", "agg", "window", "hash", "key", "value", "row", "column", "table",
    "query", "data", "line", "part", "order", "customer", "vector", "merge",
    "fast", "slow", "big", "small", "the", "a")

  /** Row counts of the generated tables at scale factor `sf`, shaped like
    * the TPC-H-style star schema plus the events / documents / embeddings
    * tables the `SparkEntry.queries` rows read. */
  def rowCounts(sf: Double): Map[String, Long] = Map(
    "customer" -> 150000, "supplier" -> 10000, "part" -> 200000,
    "orders" -> 1500000, "lineitem" -> 6000000, "events" -> 1000000,
    "documents" -> 50000, "embeddings" -> 20000
  ).map { case (k, v) => k -> math.max(20L, (v * sf).round) } ++
    Map("region" -> 5L, "nation" -> 25L)

  /** Write the tables named in `only` (default: all) as
    * `<dir>/<name>.parquet`. */
  def tables(spark: SparkSession, dir: String, seed: Long, sf: Double,
             only: Set[String] = Set.empty): Unit = {
    val n = rowCounts(sf)
    def ids(t: String) = spark.range(0, n(t), 1, 4).toDF("id")
    val id = col("id")
    def write(name: String, df: => DataFrame): Unit =
      if (only.isEmpty || only(name)) df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", ids("region").select(id.cast(IntegerType).as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast(IntegerType)).as("r_name")))
    write("nation", ids("nation").select(id.cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), id.cast(StringType)).as("n_name"),
      pmod(id, lit(5L)).cast(IntegerType).as("n_regionkey")))
    write("customer", ids("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(seed, id, 1) * 25).cast(IntegerType).as("c_nationkey"),
      round(u(seed, id, 2) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(seed, id, 3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))
        .as("c_mktsegment")))
    write("supplier", ids("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      floor(u(seed, id, 4) * 25).cast(IntegerType).as("s_nationkey"),
      round(u(seed, id, 5) * 10999.99 - 999.99, 2).as("s_acctbal")))
    write("part", ids("part").select(id.as("p_partkey"),
      concat_ws(" ", pick(seed, id, 6, Seq("large", "hot", "cold", "small", "bright", "dark")),
        pick(seed, id, 7, Seq("ring", "bolt", "nut", "gear", "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), (floor(u(seed, id, 8) * 25) + 1).cast(StringType)).as("p_brand"),
      pick(seed, id, 9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (floor(u(seed, id, 10) * 50) + 1).cast(IntegerType).as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)).cast(DoubleType) / 10.0).as("p_retailprice")))
    write("orders", ids("orders").select(id.as("o_orderkey"),
      floor(u(seed, id, 11) * n("customer")).cast(LongType).as("o_custkey"),
      pick(seed, id, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(seed, id, 13) * 500000.0 + 850.0, 2).as("o_totalprice"),
      ntz("1995-01-01", floor(u(seed, id, 14) * 2404)).as("o_orderdate"),
      pick(seed, id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    val qty = floor(u(seed, id, 18) * 50) + 1
    val partkey = floor(u(seed, id, 17) * n("part")).cast(LongType)
    write("lineitem", ids("lineitem").select(
      floor(u(seed, id, 16) * n("orders")).cast(LongType).as("l_orderkey"),
      partkey.as("l_partkey"),
      floor(u(seed, id, 19) * n("supplier")).cast(LongType).as("l_suppkey"),
      (floor(u(seed, id, 20) * 7) + 1).cast(IntegerType).as("l_linenumber"),
      qty.cast(DoubleType).as("l_quantity"),
      round(qty * (lit(900.0) + pmod(partkey, lit(1000L)) / 10.0), 2).as("l_extendedprice"),
      (floor(u(seed, id, 21) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, id, 22) * 9) / 100.0).as("l_tax"),
      pick(seed, id, 23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, id, 24, Seq("O", "F")).as("l_linestatus"),
      ntz("1995-01-02", floor(u(seed, id, 25) * 2498)).as("l_shipdate")))
    // events: ids in time order across a 30-day window, Zipf-free uniform
    // users (one tenth of the customer keys, so the stream-static join hits)
    val nEv = n("events")
    val users = math.max(10L, n("customer") / 10)
    val spanUs = 30L * 86400L * 1000000L
    write("events", ids("events").select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + (id * spanUs / nEv).cast(LongType) +
        floor(u(seed, id, 26) * (spanUs / nEv)).cast(LongType))
        .cast(TimestampNTZType).as("ts"),
      floor(u(seed, id, 27) * users).cast(LongType).as("user_id"),
      pick(seed, id, 28, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log(lit(1.0) - u(seed, id, 29)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(seed, id, 30) * 100).cast(StringType), lit("}")).as("props")))
    // documents: a fifth are near-duplicates of an earlier doc (same words
    // from the base doc, one position replaced), so dedup / LSH rows find
    // real clusters
    val base = when(u(seed, id, 31) < 0.2, floor(u(seed, id, 32) * id).cast(LongType)).otherwise(id)
    val nWords = (floor(u(seed, base, 33) * 90) + 10).cast(IntegerType)
    val swapAt = (floor(u(seed, id, 34) * nWords) + 1).cast(IntegerType)
    val vocabArr = array(vocab.map(lit): _*)
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(vocabArr, (pmod(xxhash64(lit(seed), base, i, when(i === swapAt, id).otherwise(lit(-1L))),
        lit(vocab.size.toLong)) + 1).cast(IntegerType)))
    write("documents", ids("documents")
      .select(id.as("doc_id"), array_join(words, " ").as("text"),
        pick(seed, id, 35, Seq("en", "en", "en", "es", "zh", "de", "fr")).as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType)))
    // embeddings: 64-d float vectors around one of 10 seeded centroids
    val label = floor(u(seed, id, 36) * 10).cast(IntegerType)
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(xxhash64(lit(seed), label, j, lit(37)), lit(1000003L)).cast(DoubleType) / 1000003.0 - 0.5) * 0.6 +
        (pmod(xxhash64(lit(seed), id, j, lit(38)), lit(1000003L)).cast(DoubleType) / 1000003.0 - 0.5) * 0.2)
        .cast(FloatType))
    write("embeddings", ids("embeddings").select(id.as("vec_id"), emb.as("embedding"), label.as("label")))
  }

  // ---- CTS v2 trace pages ------------------------------------------------

  /** One generated trace: its id, epoch-ms time, and JSON object text. */
  final case class Trace(id: String, time: Long, json: String)

  /** A seeded marker chain of CTS v2 list pages. `window` is the fixed
    * CTS_FROM poll window [from, to]; `inWindow` lists the ids a windowed
    * poll must deliver, in chain order. */
  final case class Pages(markers: Vector[String], pages: Vector[Vector[Trace]],
                         nextMarker: Vector[String], from: Long, to: Long) {
    def inWindow: Vector[String] =
      pages.flatten.filter(t => t.time >= from && t.time <= to).map(_.id)
  }

  /** Zipf(s=1.1) rank sampler over `n` items. */
  private final class Zipf(n: Int, r: java.util.SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val x = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, x)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  }

  /** `nPages` pages of `perPage` traces each. About 5% of traces carry a
    * `warning` or `incident` status; `outShare` of them fall outside the
    * poll window (before `from`), so a pushed-down `from`/`to` prunes
    * them server-side. */
  def pages(seed: Long, nPages: Int, perPage: Int = 50, outShare: Double = 0.1,
            to: Long = 1755000000000L, fromMinutes: Int = 60): Pages = {
    val r = new java.util.SplittableRandom(seed)
    val from = to - fromMinutes * 60000L
    val users = new Zipf(200, r.split())
    val resources = new Zipf(1000, r.split())
    val services = Vector("ECS", "EVS", "VPC", "OBS", "IAM", "RDS", "CCE", "DNS")
    val names = Vector("createServer", "deleteServer", "updateServer", "attachVolume",
      "createBucket", "deleteObject", "login", "createUser", "updatePolicy")
    val markers = (0 until nPages).map(i => if (i == 0) "000" else f"m$seed%x-$i%05d").toVector
    val pages = (0 until nPages).map { p =>
      (0 until perPage).map { k =>
        val n = p.toLong * perPage + k
        val id = f"$seed%08x-${n >> 16}%04x-4${n & 0xfff}%03x-b${(n >> 12) & 0xfff}%03x-${n}%012x"
        val time = if (r.nextDouble() < outShare) from - 1 - r.nextLong(86400000L)
                   else from + r.nextLong(to - from + 1)
        val st = r.nextDouble()
        val status = if (st < 0.03) "warning" else if (st < 0.05) "incident" else "normal"
        val svc = services(r.nextInt(services.size))
        val res = resources.next()
        val user = users.next()
        val name = names(r.nextInt(names.size))
        val userJson = s"""{"name":"user_$user","domain":{"name":"OTC00000000001000$user"}}"""
        val json =
          s"""{"trace_id":"$id","time":$time,"service_type":"$svc","trace_type":"ConsoleAction",""" +
            s""""resource_type":"${svc.toLowerCase}","trace_name":"$name",""" +
            s""""resource_id":"res-$res","resource_name":"${svc.toLowerCase}-$res",""" +
            s""""trace_status":"$status","code":"${if (status == "normal") 200 else 500}",""" +
            s""""source_ip":"10.${user % 256}.${res % 256}.${k % 256}","user":"${esc(userJson)}",""" +
            s""""request":"","response":"","api_version":"v2"}"""
        Trace(id, time, json)
      }.toVector
    }.toVector
    Pages(markers, pages, markers.drop(1) :+ "", from, to)
  }

  /** The `{"traces":[...],"meta_data":{...}}` envelope for one page after
    * the server-side limit and [from, to) filter. */
  def envelope(traces: Seq[Trace], marker: String, limit: Int,
               from: Option[Long], to: Option[Long]): String = {
    val kept = traces.take(limit).filter(t => !from.exists(t.time < _) && !to.exists(t.time >= _))
    kept.map(_.json).mkString("{\"traces\":[", ",",
      s"""],"meta_data":{"count":${kept.size},"marker":"$marker"}}""")
  }

  /** Write the chain as `page-<marker>.json` fixtures, the layout the
    * file path of the `cts` source and `CtsRestStub` read. */
  def writePages(p: Pages, dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    p.markers.indices.foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(graft.sources.CtsSource.pagePath(dir, p.markers(i))),
        envelope(p.pages(i), p.nextMarker(i), Int.MaxValue, None, None)
          .getBytes(StandardCharsets.UTF_8))
    }
  }
}
