package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits: the properties that matter at 100 TB and that a
  * hash-matching ANSWER cannot prove — filters reach the parquet scan,
  * projections prune the read schema, small dims broadcast, top-k avoids
  * global sorts, hot paths stay inside whole-stage codegen. A regression
  * in any of these keeps every oracle row green while making the plan
  * disqualifying at scale; this spec is the tripwire. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("q6: predicates reach the scan as PushedFilters, read schema is pruned") {
    val plan = planOf("q6_revenue_filter")
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"),
      s"shipdate filter not pushed to the scan:\n${plan.take(1500)}")
    // the scan reads the 4 referenced columns, not the 11-column table
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("l_extendedprice") && !read.contains("l_orderkey") &&
      !read.contains("l_returnflag"),
      s"read schema not pruned to referenced columns: $read")
  }

  test("p_window_scan: the ts window predicate reaches the events scan") {
    // the incremental poll window (S4/F1) is THE filter that must prune
    // row groups at 100 TB. The events read path types ts as Timestamp AT
    // THE SCAN (Tables.eventsReadConfs disables NTZ inference) precisely
    // so this predicate pushes down — a cast between filter and scan
    // would silently turn every poll into a full-history read.
    // an int64-nanos file CANNOT push a timestamp predicate (the ns->us
    // restore expression necessarily sits above the scan) — the pin
    // applies to timestamp-encoded data, the driver shape since round 8
    Tables.eventsReadConfs(spark)
    val raw = spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
    assume(raw != org.apache.spark.sql.types.LongType,
      "int64-nanos encoding cannot push a timestamp predicate")
    val plan = planOf("p_window_scan")
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("ts"),
      s"ts window predicate not pushed to the events scan: $pushed\n${plan.take(1500)}")
  }

  test("q3: the filtered dim side broadcasts; top-10 is TakeOrdered, not a global sort") {
    val plan = planOf("q3_revenue_topn")
    assert(plan.contains("BroadcastHashJoin"),
      s"customer dim must broadcast:\n${plan.take(1500)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"limit+orderBy must plan as top-k, not a global Sort+Limit:\n${plan.take(1500)}")
  }

  test("q1: aggregate runs partial (map-side combine) before the exchange") {
    val plan = planOf("q1_pricing_summary")
    // two HashAggregate nodes around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2 &&
      plan.contains("Exchange hashpartitioning"),
      s"expected partial+final aggregate around one exchange:\n${plan.take(1500)}")
  }

  test("LLM scan-shaped ops stay inside whole-stage codegen (no interpreted hot path)") {
    for (q <- Seq("l_text_stats", "l_quality_filter", "l_repetition")) {
      // AQE prints codegen markers only on the FINAL plan — execute
      // first, then drop the "== Initial Plan ==" section AQE appends
      // (its nodes print without codegen markers by construction)
      val df = SparkEntry.queries(q)(spark, d)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
        s"$q has no codegen span:\n${plan.take(1200)}")
      // a single CodegenFallback expression (e.g. a higher-order-function
      // lambda) knocks its whole Project out of codegen: the Project would
      // print bare, with no *(n) prefix. Prefix class covers every tree
      // glyph (indent, '+-', and the ':-'/':  +-' left-join branches).
      assert("(?m)^[\\s:+-]*Project ".r.findFirstIn(plan).isEmpty,
        s"$q has a non-codegen Project on the hot path:\n${plan.take(1200)}")
    }
  }

  test("l_importance: the bucket model broadcasts; top-50 is TakeOrdered") {
    val plan = planOf("l_importance")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤2^16-row score table must broadcast back to the corpus " +
        s"(a shuffled join would exchange the corpus for a kilobyte model):\n${plan.take(1500)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 must plan as top-k, not a global Sort+Limit:\n${plan.take(1500)}")
  }

  test("l_pii_scrub: detection + redaction is one scan-speed codegen Project") {
    val df = SparkEntry.queries("l_pii_scrub")(spark, d)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"l_pii_scrub has no codegen span:\n${plan.take(1200)}")
    assert("(?m)^[\\s:+-]*Project ".r.findFirstIn(plan).isEmpty,
      s"l_pii_scrub has a non-codegen Project on the hot path:\n${plan.take(1200)}")
    // exactly the oracle sort's exchange and the spread() widen — a regex
    // redaction that introduced any other shuffle would be a plan bug
    assert("Exchange".r.findAllIn(plan).size <= 2,
      s"unexpected exchanges in a per-row regex pipeline:\n${plan.take(1500)}")
  }

  test("l_winnow_lsh: candidates come from band buckets, never a fingerprint self-join") {
    // the exact row (l_winnow) joins kept-fingerprint rows on f — df² work
    // per fingerprint, its documented ground-truth cost. The LSH row must
    // NOT: its only self-join is on (band, bucket). A join keyed on the
    // fingerprint column would silently reintroduce the quadratic term
    // while every oracle row stayed green.
    val plan = planOf("l_winnow_lsh")
    val joinKeys = "(SortMergeJoin|ShuffledHashJoin) \\[[^\\]]*\\]".r
      .findAllIn(plan).toList
    val onFingerprint = joinKeys.filter(k => k.contains("[f#") || k.contains("f2#"))
    assert(onFingerprint.isEmpty,
      s"l_winnow_lsh joins on the raw fingerprint column: $onFingerprint")
    assert(plan.contains("band") && plan.contains("bucket"),
      s"expected a band/bucket candidate join:\n${plan.take(1500)}")
  }

  test("l_url_dedup: canonicalization is one codegen Project, dedup one aggregate exchange") {
    // URL dedup at 100 TB = regex ladder at scan speed + ONE hash
    // aggregate where only the canonical key shuffles. More than the
    // aggregate exchange + the oracle sort means the ladder planned a
    // shuffle it must not have.
    val plan = planOf("l_url_dedup")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"url dedup must combine map-side before the exchange:\n${plan.take(1500)}")
    // exactly one hash exchange (the dedup aggregate) + the oracle sort;
    // the spread() RoundRobin widening of the one-file testdata scan is
    // the identity on production multi-part data and is not counted
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1 &&
      "Exchange rangepartitioning".r.findAllIn(plan).size == 1,
      s"unexpected exchanges in the url-dedup plan:\n${plan.take(1500)}")
  }

  test("l_html_extract: construct+extract is one codegen Project, no shuffle but the sort") {
    // main-content extraction at 100 TB is a per-row regex ladder that
    // must run at scan speed: zero hash exchanges (no aggregate, no
    // join), only the oracle sort's range exchange, and every stage
    // inside whole-stage codegen.
    val df = SparkEntry.queries("l_html_extract")(spark, d)
    df.collect() // finalize the AQE plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"l_html_extract has no codegen span:\n${plan.take(1200)}")
    assert("(?m)^[\\s:+-]*Project ".r.findFirstIn(plan).isEmpty,
      s"l_html_extract has a non-codegen Project on the hot path:\n${plan.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"unexpected hash exchange in a per-row extraction pipeline:\n${plan.take(1500)}")
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly the oracle sort exchange:\n${plan.take(1500)}")
  }

  test("l_domain_cap: the per-domain top-N is two-phase (salted shard rank first)") {
    // a hot domain at 100 TB is the skew case: the corpus must never
    // shuffle on the bare domain key. Phase 1 ranks inside (domain,
    // salt) shards — the plan carries TWO Window nodes, and the first
    // exchange below the scan partitions on two expressions (domain +
    // the pmod salt), not one.
    val plan = planOf("l_domain_cap")
    assert("(?m)^[\\s:+-]*Window ".r.findAllIn(plan).size == 2,
      s"expected the two-phase window pair:\n${plan.take(2000)}")
    val parts = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.exists(p => p.contains("domain") && p.split(",").length >= 3),
      s"phase 1 must shard the domain key with a salt: $parts")
  }

  test("ivfpq serving probe partition-prunes the persisted index to its cells") {
    // §8.3's layout claim, pinned (r17 verdict task 4): ivfPqTrainAndServe
    // writes the index PARTITIONED BY cell, and the serving scorer turns
    // the batch's probed cells into a literal IN filter — the index scan
    // must carry a non-empty PartitionFilters entry (file-level pruning,
    // 2/K of a 100 TB index read) and scan fewer partition dirs than the
    // index has cells.
    val dir = graft.streaming.StreamingOps.tmp("audit-ivfpq-")
    val score = LlmOps.ivfPqTrainAndServe(spark, d, dir)
    val nCells = spark.read.parquet(dir).select("cell").distinct().count()
    val queries = Tables.embeddings(spark, d)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 2)
      .select("vec_id", "embedding")
    val served = score(queries)
    val plan = served.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.nonEmpty, s"no cell partition filter on the index scan:\n${plan.take(2000)}")
    assert(pf.get.contains("IN") || pf.get.contains("isin") || pf.get.contains("in("),
      s"partition filter is not the probed-cell IN list: ${pf.get}")
    // with 2 queries × nprobe=2 the probed-cell union is < the cell count
    val scanned = "PartitionCount: (\\d+)".r.findFirstMatchIn(plan).map(_.group(1).toInt)
    scanned.foreach(n => assert(n < nCells,
      s"index scan read $n of $nCells cells — pruning did not engage"))
    assert(served.count() > 0, "served frame empty — the audit proved nothing")
  }

  test("no oracle query plans a CartesianProduct at sf0.001") {
    // BroadcastNestedLoopJoin is NOT banned here: the suite's crossJoins
    // broadcast 1-row stats frames, which legitimately plan as BNLJ — the
    // unbounded shape is CartesianProduct. A query that fails to PLAN is
    // a failure of this audit too, never silently skipped.
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("s_")) // streaming rows drain real queries; audited by their own specs
      .flatMap { q =>
        val plan = try planOf(q) catch {
          case e: Throwable => s"PLANNING FAILED: ${e.getMessage}"
        }
        if (plan.contains("CartesianProduct") || plan.startsWith("PLANNING FAILED"))
          Some(q -> plan.linesIterator.next())
        else None
      }
    assert(offenders.isEmpty, s"cartesian products / planning failures: $offenders")
  }
}
