package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scale

/** The shuffle-shaping utilities: correctness (same answers) AND plan
  * shape (the shuffle really disappears / spreads). */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("saltedAgg equals the direct aggregation on a skewed key") {
    val events = Tables.events(spark, d)
    // event_type is highly skewed (5 values over 10k rows)
    val direct = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toSet
    val salted = Scale.saltedAgg(events,
      key = col("event_type"), saltSource = col("event_id"), buckets = 8,
      aggs = Seq(
        ("n", count(lit(1)), sum(_)),
        ("sv", sum(col("value")), sum(_))))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toSet
    assert(salted === direct)
  }

  test("saltedAgg's first shuffle spreads the hot key over salt buckets") {
    val events = Tables.events(spark, d)
    val plan = Scale.saltedAgg(events, col("event_type"), col("event_id"), 8,
      Seq(("n", count(lit(1)), sum(_))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "salt column must be part of the partial grouping")
  }

  test("saltedAgg survives caller columns named like its temp/output columns") {
    val events = Tables.events(spark, d)
      .withColumn("__salt", lit("caller-owned"))
      .withColumn("__key", lit(9))
    val out = Scale.saltedAgg(events,
      key = col("event_type"), saltSource = col("event_id"), buckets = 4,
      aggs = Seq(("n", count(lit(1)), sum(_))), keyName = "etype")
    assert(out.columns.toSeq === Seq("etype", "n"))
    val direct = Tables.events(spark, d).groupBy(col("event_type")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet === direct)
    // keyName colliding with an aggregate output is rejected loudly
    intercept[IllegalArgumentException] {
      Scale.saltedAgg(Tables.events(spark, d), col("event_type"), col("event_id"), 4,
        Seq(("n", count(lit(1)), sum(_))), keyName = "n")
    }
  }

  test("saltedJoin equals the plain join and salts both sides") {
    val fact = Tables.lineitem(spark, d).select(col("l_partkey"), col("l_quantity"))
    val dim = Tables.part(spark, d).select(col("p_partkey"), col("p_brand"))
    val direct = fact.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = Scale.saltedJoin(fact, dim,
        col("l_partkey"), col("p_partkey"),
        saltSource = col("l_quantity"), buckets = 8)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted === direct, "salting must not change the join answer")
    // replica mechanics: dim side fans out exactly buckets-fold
    val joined = Scale.saltedJoin(fact, dim,
      col("l_partkey"), col("p_partkey"), col("l_quantity"), 8)
    assert(!joined.columns.contains("__salt"), "salt column must not leak")
    // a crafted fact whose salt sources spray across every bucket: each
    // row must find EXACTLY its one replica (64 in → 64 out); a missing
    // replica loses rows, a broadcast-all dim would multiply them
    import spark.implicits._
    val factS = (0 until 64).map(i => (1L, i.toDouble)).toDF("k", "src")
    val dimS = Seq((1L, "d")).toDF("dk", "name")
    val oneToOne = Scale.saltedJoin(factS, dimS,
      col("k"), col("dk"), saltSource = col("src"), buckets = 8)
    assert(oneToOne.count() === 64L,
      "every fact row must meet exactly one dim replica")
    // forced-hot (hotFactor = 0): every key salts — the replica
    // mechanics of the pre-split spelling, still one replica per row
    val forcedHot = Scale.saltedJoin(factS, dimS,
      col("k"), col("dk"), saltSource = col("src"), buckets = 8, hotFactor = 0.0)
    assert(forcedHot.count() === 64L,
      "forced-hot path must still meet exactly one dim replica per row")
  }

  test("saltedJoin hot-key split: identical answer whether keys fall hot, cold, or mixed") {
    import spark.implicits._
    // one genuinely hot key (0: 1000 rows) over a uniform cold tail
    // (1..100: 5 rows each) — avg ≈ 14.9, so factor 4 isolates key 0
    val fact = ((0 until 1000).map(i => (0L, i.toDouble)) ++
      (1 to 100).flatMap(k => (0 until 5).map(i => (k.toLong, (k * 31 + i).toDouble))))
      .toDF("k", "src")
    val dim = (0 to 100).map(k => (k.toLong, s"d$k")).toDF("dk", "name")
    val direct = fact.join(dim, col("k") === col("dk"))
      .groupBy(col("name")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    for (factor <- Seq(0.0, 4.0, 1e9)) { // all-hot / split / all-cold
      val got = Scale.saltedJoin(fact, dim, col("k"), col("dk"),
          saltSource = col("src"), buckets = 8, hotFactor = factor)
        .groupBy(col("name")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === direct, s"hotFactor=$factor changed the join answer")
    }
  }

  test("bloomPrune keeps every true match, drops most non-matches, and preserves the join answer") {
    val fact = Tables.lineitem(spark, d)
      .select(col("l_suppkey"), col("l_quantity"))
    val dim = Tables.supplier(spark, d)
      .filter(col("s_nationkey") === 3)
      .select(col("s_suppkey"))
    val pruned = Scale.bloomPrune(fact, col("l_suppkey"),
      dim, col("s_suppkey"), expectedItems = 1000L)
    val dimKeys = dim.collect().map(_.getLong(0)).toSet
    val total = fact.count()
    val trueMatches = fact.filter(col("l_suppkey").isin(dimKeys.toSeq: _*)).count()
    val kept = pruned.count()
    // no false negatives; pruning actually bites (fpp=1% of non-matches)
    assert(kept >= trueMatches, "bloom filter dropped a true match")
    assert(kept < total / 2, s"bloom pruned too little: $kept of $total")
    // the join answer is exactly the plain join's
    val direct = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_suppkey")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val viaBloom = pruned.join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_suppkey")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(viaBloom === direct)
  }

  test("bloomPrune probes via a native expression inside whole-stage codegen") {
    val fact = Tables.lineitem(spark, d)
      .select(col("l_suppkey"), col("l_quantity"))
    val dim = Tables.supplier(spark, d)
      .filter(col("s_nationkey") === 3)
      .select(col("s_suppkey"))
    val pruned = Scale.bloomPrune(fact, col("l_suppkey"),
      dim, col("s_suppkey"), expectedItems = 1000L)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"),
      s"native probe expression missing from the plan:\n${plan.take(2000)}")
    // codegen'd spans print with the "*(stageId)" prefix; the boxed-udf
    // version this replaced printed a bare Filter and broke codegen for
    // the whole fact-scan stage
    assert("\\*\\(\\d+\\) Filter".r.findFirstIn(plan).isDefined,
      s"bloom probe fell out of whole-stage codegen:\n${plan.take(2000)}")
    // NULL keys are pruned (same observable semantics as the old udf's
    // `k != null && mightContain(k)`)
    import spark.implicits._
    val withNull = Seq[java.lang.Long](1L, null, 999999L).toDF("k")
    val keptRows = Scale.bloomPrune(withNull, col("k"),
      Seq(1L).toDF("dk"), col("dk"), expectedItems = 10L)
      .collect().map(_.getLong(0)).toSeq
    assert(keptRows === Seq(1L), s"expected only the true match, got $keptRows")
  }

  test("bloomPrune of an empty dim prunes everything (and does not crash)") {
    val fact = Tables.lineitem(spark, d).select(col("l_suppkey"))
    val dim = Tables.supplier(spark, d)
      .filter(col("s_nationkey") === -42) // matches nothing
      .select(col("s_suppkey"))
    val pruned = Scale.bloomPrune(fact, col("l_suppkey"),
      dim, col("s_suppkey"), expectedItems = 10L)
    assert(pruned.count() === 0L, "empty key set must mean prune-all")
  }

  test("zValue interleave round-trips: de-interleaving recovers both scaled codes") {
    import spark.implicits._
    // 16-bit codes fed as raw values with identity normalization
    // (min=0, max=65535): zValue's scaled code IS the input, so
    // de-interleaving z must recover (u, v) exactly
    val rows = (0 until 500).map(i => ((i * 131) % 65536L, (i * 7919) % 65536L))
    val df = rows.toDF("u", "v")
    val z = Scale.zValue(Seq(
      (col("u"), lit(0L), lit(65535L)),
      (col("v"), lit(0L), lit(65535L))), bits = 16)
    val dec = df.select(col("u"), col("v"), z.as("z")).collect().map { r =>
      val zz = r.getLong(2)
      var (du, dv) = (0L, 0L)
      for (i <- 0 until 16) {
        du |= ((zz >> (2 * i)) & 1L) << i
        dv |= ((zz >> (2 * i + 1)) & 1L) << i
      }
      (r.getLong(0), r.getLong(1), du, dv)
    }
    dec.foreach { case (u, v, du, dv) =>
      assert(du === u && dv === v, s"z round-trip broke: ($u,$v) -> ($du,$dv)")
    }
  }

  test("z-order layout skips files on the SECOND dimension where a linear sort cannot") {
    import spark.implicits._
    // uniform 100×100 grid: min-max bit codes spread evenly, so file
    // extents reflect the LAYOUT, not the data distribution (on skewed
    // columns min-max z-order degrades — see Scale.zValue doc)
    val e = (0 until 10000)
      .map(i => ((i % 100).toLong, (i / 100).toDouble))
      .toDF("user_id", "value")
    val zdir = graft.streaming.StreamingOps.tmp("zord-")
    val ldir = graft.streaming.StreamingOps.tmp("linear-")
    Scale.writeZOrdered(e, Seq("user_id", "value"), zdir, nFiles = 16)
    e.repartitionByRange(16, col("user_id")).sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(ldir)

    // per-file [min,max] extent of a column = what parquet footer pruning
    // sees; a file can be skipped for [lo,hi] iff its extent misses it
    def overlapping(dir: String, c: String, lo: Double, hi: Double): (Int, Int) = {
      val fs = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
      val n = fs.count { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).collect()(0)
        r.getDouble(0) <= hi && r.getDouble(1) >= lo
      }
      (n, fs.length)
    }
    val st = e.agg(min(col("value")).cast("double"), max(col("value")).cast("double"),
      min(col("user_id")).cast("double"), max(col("user_id")).cast("double")).collect()(0)
    val (vLo, vHi) = (st.getDouble(0), st.getDouble(0) + 0.05 * (st.getDouble(1) - st.getDouble(0)))
    val (uLo, uHi) = (st.getDouble(2), st.getDouble(2) + 0.05 * (st.getDouble(3) - st.getDouble(2)))

    // narrow band on the SECOND dim: linear-by-user_id layout overlaps
    // (nearly) everywhere; z-order confines it to a minority of files
    val (zv, zn) = overlapping(zdir, "value", vLo, vHi)
    val (lv, ln) = overlapping(ldir, "value", vLo, vHi)
    assert(lv >= ln - 1, "linear layout should be useless for the second dim")
    assert(zv < lv && zv <= zn / 2, s"z-order should skip most files: $zv of $zn overlap")
    // the FIRST dim still prunes under z-order (weaker than a pure sort, but real)
    val (zu, _) = overlapping(zdir, "user_id", uLo, uHi)
    assert(zu < zn, "z-order should skip at least some files on dim 1")
    // layout only — content unchanged
    assert(spark.read.parquet(zdir).count() === e.count())
  }

  test("compact rewrites a fragmented directory into size-targeted files") {
    val frag = graft.streaming.StreamingOps.tmp("frag-")
    val out = graft.streaming.StreamingOps.tmp("compacted-")
    // fragment: 64 tiny files, the streaming-sink accretion shape
    Tables.events(spark, d).repartition(64).write.mode("overwrite").parquet(frag)
    val fragFiles = new java.io.File(frag).listFiles.count(_.getName.endsWith(".parquet"))
    assert(fragFiles === 64)
    val onDisk = new java.io.File(frag).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n = Scale.compact(spark, frag, out, targetBytes = onDisk / 4)
    assert(n >= 4 && n <= 6, s"expected ~4 compacted files, got $n")
    // content survives byte-for-byte (same rows, nothing dropped)
    assert(spark.read.parquet(out).count() === Tables.events(spark, d).count())
    val sumOut = spark.read.parquet(out).agg(sum(col("value"))).head.getDouble(0)
    val sumIn = Tables.events(spark, d).agg(sum(col("value"))).head.getDouble(0)
    assert(math.abs(sumOut - sumIn) < 1e-6, "compaction must preserve content")
  }

  test("date-partitioned writes prune partitions at the scan") {
    val out = graft.streaming.StreamingOps.tmp("events-part-")
    Tables.events(spark, d)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("day") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("isnotnull(day"),
      s"day filter must prune partitions:\n$plan")
    // the pruned scan reads one day's directory, not the whole table
    val allDays = spark.read.parquet(out).select(col("day")).distinct().count()
    assert(allDays > 1)
    val expected = Tables.events(spark, d)
      .filter(to_date(col("ts")) === "2024-01-05").count()
    assert(pruned.count() === expected)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      Scale.writeBucketed(Tables.customer(spark, d), "c_bkt", "c_custkey", 4)
      Scale.writeBucketed(
        Tables.orders(spark, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("n")),
        "o_bkt", "o_custkey", 4)
      val joined = spark.table("c_bkt")
        .join(spark.table("o_bkt"), col("c_custkey") === col("o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // and it still computes the right thing
      val n = joined.count()
      val expected = Tables.customer(spark, d)
        .join(Tables.orders(spark, d).select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey")).count()
      assert(n === expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS c_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }
}
