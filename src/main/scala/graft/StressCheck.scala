package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-side validation for the rows whose DuckDB oracle is
  * disk-infeasible at stress scale (sf10: the recursive transitive
  * closure and the 4-pass unrolled PageRank CTEs each spill >60 GB).
  * The oracle stays the cross-engine referee at sf0.001–sf1; here the
  * same rows are pinned by invariants the engine output must satisfy
  * GIVEN inputs that ARE cross-engine verified at sf10:
  *
  *  - `l_dedup_clusters` / `l_dedup_apply`: the near-dup pair set
  *    (`l_minhash_lsh`) is hash-verified against DuckDB at sf10; a
  *    labeling is THE connected-components answer over those pairs iff
  *    (a) both endpoints of every pair carry the same cluster_id —
  *    labels are constant on components and no pair bridges two
  *    clusters, i.e. components are maximal; (b) each cluster_id is the
  *    min member doc_id; (c) the labeled set is exactly the paired set.
  *    Those three properties admit one labeling: the oracle's.
  *  - `k3_pagerank`: the DAG-depth argument (kind graph is 3 hops deep,
  *    so depth+1 = 4 passes reach the fixed point) is proven AT the
  *    stress SF by running pass 5 and requiring bit-identical ranks.
  *
  * Usage: StressCheck <sfDir>  → one PASS/FAIL line per invariant,
  * nonzero exit on any FAIL.
  */
object StressCheck {

  def run(spark: SparkSession, d: String,
          only: Set[String] = Set.empty): Seq[(String, Boolean, String)] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def check(name: String)(body: => (Boolean, String)): Unit = {
      if (only.nonEmpty && !only(name)) return
      val (ok, detail) =
        try body
        catch { case e: Exception => (false, s"exception: ${e.getMessage}") }
      results += ((name, ok, detail))
    }

    val pairs = SparkEntry.queries("l_minhash_lsh")(spark, d)
      .select(col("d1"), col("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clusters = SparkEntry.queries("l_dedup_clusters")(spark, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = clusters.select(col("doc_id"), col("cluster_id"))

    check("cc_edge_consistency") {
      val l1 = labels.select(col("doc_id").as("d1"), col("cluster_id").as("c1"))
      val l2 = labels.select(col("doc_id").as("d2"), col("cluster_id").as("c2"))
      val bad = pairs.join(l1, Seq("d1"), "left").join(l2, Seq("d2"), "left")
        .filter(col("c1").isNull || col("c2").isNull || col("c1") =!= col("c2"))
        .count()
      (bad == 0L, s"pairs with missing/mismatched cluster: $bad")
    }

    check("cc_min_representative") {
      val bad = clusters.groupBy(col("cluster_id"))
        .agg(min(col("doc_id")).as("mn"), count(lit(1)).as("n"),
          max(col("n_members")).as("nm_max"), min(col("n_members")).as("nm_min"))
        .filter(col("cluster_id") =!= col("mn") ||
          col("n") =!= col("nm_max") || col("n") =!= col("nm_min"))
        .count()
      (bad == 0L, s"clusters with non-min id or wrong n_members: $bad")
    }

    check("cc_covers_paired_set_exactly") {
      val paired = pairs.select(col("d1").as("doc_id"))
        .unionAll(pairs.select(col("d2").as("doc_id"))).distinct()
      val missing = paired.join(labels, Seq("doc_id"), "left_anti").count()
      val extra = labels.join(paired, Seq("doc_id"), "left_anti").count()
      (missing == 0L && extra == 0L, s"missing=$missing extra=$extra")
    }

    check("apply_consistent_with_clusters") {
      val applied = SparkEntry.queries("l_dedup_apply")(spark, d)
      val nDocs = Tables.documents(spark, d).count()
      val joined = applied.join(labels.withColumnRenamed("cluster_id", "cl"),
        Seq("doc_id"), "left")
      val bad = joined.filter(
        !(col("cluster_id") <=> col("cl")) ||
          col("keep") =!= (col("cluster_id").isNull || col("cluster_id") === col("doc_id")) ||
          col("reason") =!= when(col("cluster_id").isNotNull &&
            col("cluster_id") =!= col("doc_id"), lit("near_dup")).otherwise(lit("ok")))
        .count()
      val n = applied.count()
      (bad == 0L && n == nDocs, s"inconsistent=$bad rows=$n corpus=$nDocs")
    }

    // l_pipeline embeds the CC closure in its oracle, so at stress SFs it
    // inherits the same DuckDB infeasibility as the cluster rows. Pinned
    // by: (a) kept ids unique and a strict subset of the cross-engine-
    // verified quality-keep set (no stage may resurrect a rejected doc);
    // (b) the mixture budget arithmetic — all 15-weight languages take
    // EQUALLY and the en take matches T·40 div 100 for the T implied by
    // the 15-weight take; (c) pack bookkeeping — per (bucket, doc_id
    // order), tokens_before is exactly the running sum of n_tokens and
    // bin = tokens_before div 256, recomputed independently via a window
    // over the emitted frame.
    check("pipeline_invariants") {
      val pipe = SparkEntry.queries("l_pipeline")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = pipe.count()
      val nIds = pipe.select(col("doc_id")).distinct().count()
      val qualityOk = SparkEntry.queries("l_quality_filter")(spark, d)
        .filter(col("keep")).select(col("doc_id"))
      val leaked = pipe.select(col("doc_id"))
        .join(qualityOk, Seq("doc_id"), "left_anti").count()
      val takes = pipe.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val others = Seq("de", "es", "fr", "zh").map(takes.getOrElse(_, -1L))
      val mixOk = others.distinct.size == 1 && others.head >= 0 && {
        // smallest T with T*15 div 100 = take15 → en take determined ±1
        val t = (others.head * 100L + 99L) / 15L
        math.abs(takes.getOrElse("en", -1L) - t * 40L / 100L) <= 1L
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val packBad = pipe
        .withColumn("tb2", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .filter(col("tokens_before") =!= col("tb2") ||
          col("bin") =!= (col("tokens_before") / lit(256L)).cast("long"))
        .count()
      pipe.unpersist()
      (n > 0 && nIds == n && leaked == 0L && mixOk && packBad == 0L,
        s"rows=$n distinct=$nIds quality_leaks=$leaked takes=$takes pack_bad=$packBad")
    }

    check("semdedup_invariants") {
      // l_semdedup's DuckDB oracle pays an N×K cross-join of 64-float
      // list_reduce dots — feasible to sf1, slow beyond. Engine-side, the
      // verdict frame is THE greedy-by-id in-cell dedup iff: one row per
      // vector; keep ⟺ dup_of = -1; every dropped row names an EARLIER
      // SAME-CELL vector; each cell's min id is kept; and (cross-checked
      // against the hash-verified l_embed_neardup pairs) no same-cell
      // exact-cosine near-dup's later member survives.
      val sd = SparkEntry.queries("l_semdedup")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = Tables.embeddings(spark, d).count()
      val rows = sd.count()
      val partnerCells = sd.select(col("vec_id").as("p"), col("cell").as("pcell"))
      val bad = sd.join(partnerCells, col("dup_of") === col("p"), "left")
        .filter(
          (col("keep") === 1L && col("dup_of") =!= -1L) ||
          // null-safe compare: a dup_of naming a NONEXISTENT vec_id leaves
          // pcell NULL after the left join, and plain =!= would evaluate
          // NULL → row not counted — the dangling-reference case this
          // check exists to catch (r11 ADVICE)
          (col("keep") === 0L && (col("dup_of") < 0L ||
            col("dup_of") >= col("vec_id") || !(col("pcell") <=> col("cell")))))
        .count()
      val anchorBad = sd.groupBy(col("cell")).agg(min(col("vec_id")).as("vec_id"))
        .join(sd, Seq("vec_id")).filter(col("keep") =!= 1L).count()
      val lshKept = SparkEntry.queries("l_embed_neardup")(spark, d)
        .select(col("v1"), col("v2"))
        .join(sd.select(col("vec_id").as("v1"), col("cell").as("c1")), Seq("v1"))
        .join(sd.select(col("vec_id").as("v2"), col("cell").as("c2"),
          col("keep").as("k2")), Seq("v2"))
        .filter(col("c1") === col("c2") && col("k2") =!= 0L).count()
      sd.unpersist()
      (rows == n && bad == 0L && anchorBad == 0L && lshKept == 0L,
        s"rows=$rows n=$n bad=$bad anchor_bad=$anchorBad same_cell_lsh_kept=$lshKept")
    }

    check("semdedup_p2_recall") {
      // probe-2's pair graph is a SUPERSET of single-probe's (sharing the
      // primary cell implies sharing a probed cell), so every p1 drop
      // must stay dropped with a dup_of no larger — asserted. The recall
      // question the r11 verdict posed — how many near-dups does the
      // single-probe design miss at cell boundaries, and how many does
      // probe-2 recover — is MEASURED against the hash-verified
      // l_embed_neardup pair set (same 0.45 cosine bar): cross_cell
      // counts LSH pairs whose endpoints land in different primary
      // cells (invisible to p1 by construction), recovered counts those
      // whose later member probe-2 drops.
      val p1 = SparkEntry.queries("l_semdedup")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p2 = SparkEntry.queries("l_semdedup_p2")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val regress = p1.filter(col("keep") === 0L)
        .select(col("vec_id"), col("dup_of").as("d1"))
        .join(p2.select(col("vec_id"), col("dup_of").as("d2"),
          col("keep").as("k2")), Seq("vec_id"))
        .filter(col("k2") =!= 0L || col("d2") > col("d1")).count()
      val drops1 = p1.filter(col("keep") === 0L).count()
      val drops2 = p2.filter(col("keep") === 0L).count()
      val lshPairs = SparkEntry.queries("l_embed_neardup")(spark, d)
        .select(col("v1"), col("v2"))
        .join(p1.select(col("vec_id").as("v1"), col("cell").as("c1")), Seq("v1"))
        .join(p1.select(col("vec_id").as("v2"), col("cell").as("c2")), Seq("v2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val crossCell = lshPairs.filter(col("c1") =!= col("c2"))
        .join(p2.select(col("vec_id").as("v2"), col("keep").as("k2")), Seq("v2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nCross = crossCell.count()
      val nRecovered = crossCell.filter(col("k2") === 0L).count()
      p1.unpersist(); p2.unpersist(); lshPairs.unpersist(); crossCell.unpersist()
      (regress == 0L && drops2 >= drops1,
        s"p1_drops=$drops1 p2_drops=$drops2 regress=$regress " +
          s"lsh_cross_cell=$nCross p2_recovered=$nRecovered")
    }

    check("winnow_lsh_recall") {
      // l_winnow_lsh shares winnowKept with l_winnow, so it must be an
      // exact SUBSET (same containment values on every surfaced pair) —
      // asserted; and the subset's size IS the banding recall, which the
      // row's docstring predicts (~85% at equal sizes near the threshold,
      // falling with size asymmetry) — measured and reported, not
      // asserted: recall is the documented LSH trade, drift in the
      // subset property is a bug.
      val exact = SparkEntry.queries("l_winnow")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lsh = SparkEntry.queries("l_winnow_lsh")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nExact = exact.count()
      val nLsh = lsh.count()
      // subset + value equality: anti-join on ALL columns
      val notSubset = lsh.join(exact,
        Seq("d1", "d2", "n_shared", "n1", "n2", "containment"), "left_anti").count()
      exact.unpersist(); lsh.unpersist()
      val recall = if (nExact == 0) 1.0 else nLsh.toDouble / nExact
      // the subset property is the INVARIANT; recall is the documented
      // probabilistic banding trade and only gates when the exact pair
      // set is large enough that catching ZERO of them is implausible
      // rather than unlucky (r12 ADVICE: at recall 0.5 the all-missed
      // probability at 20 pairs is 2^-20; below that, report-only —
      // small asymmetric corpora legitimately land near 0, which the
      // WBANDS docstring's J-vs-asymmetry curve predicts)
      (notSubset == 0L && (nExact < 20L || nLsh > 0L),
        f"lsh_pairs=$nLsh exact_pairs=$nExact recall=$recall%.3f not_subset=$notSubset")
    }

    check("dup_spans_apply_consistency") {
      // the apply row's DuckDB oracle (position-ordered string_agg over
      // the whole corpus) OOMs at sf10 — the detect row stays
      // oracle-feasible there, so pin apply AGAINST detect: every doc
      // flows through apply, kept tokens = n_tokens − covered tokens,
      // and the two rows agree doc-for-doc. Text equality for untouched
      // docs is asserted by LlmOpsSpec at test SF (string compare over
      // the full corpus is exactly the cost this invariant avoids).
      val det = SparkEntry.queries("l_dup_spans")(spark, d)
        .select(col("doc_id"), col("n_tokens").as("dn"), col("n_dup_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val app = SparkEntry.queries("l_dup_spans_apply")(spark, d)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpus = graft.Tables.documents(spark, d).count()
      val nApp = app.count()
      val bad = app.join(det, Seq("doc_id"), "left")
        .filter(
          // gramless docs (absent from detect) must pass through uncut;
          // everyone else keeps exactly the uncovered tokens
          when(col("dn").isNull, col("n_kept") =!= col("n_tokens"))
            .otherwise(col("dn") =!= col("n_tokens") ||
              col("n_kept") =!= col("n_tokens") - col("n_dup_tokens")))
        .count()
      // keep1's covered set must be a per-doc SUBSET of the aggressive
      // set (canonical exemption only removes coverage), and the corpus
      // total must be strictly smaller whenever duplication exists —
      // keep1's own sf10 oracle (an h-partitioned window in DuckDB) is
      // the expensive replay this pins instead
      val k1 = SparkEntry.queries("l_dup_spans_keep1")(spark, d)
        .select(col("doc_id"), col("n_dup_tokens").as("k1_dup"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val j = det.join(k1, Seq("doc_id"))
        .agg(sum(when(col("k1_dup") > col("n_dup_tokens"), 1L).otherwise(0L)).as("over"),
          sum(col("n_dup_tokens")).as("agg_tot"), sum(col("k1_dup")).as("k1_tot"))
        .head()
      val (over, aggTot, k1Tot) = (j.getLong(0), j.getLong(1), j.getLong(2))
      // the keep1 CUT: every doc flows through, kept = n_tokens − keep1's
      // covered count doc-for-doc, and (since keep1 covers a subset)
      // kept_keep1 >= kept_aggressive doc-for-doc — the sf10/sf30 stand-in
      // for the keep1_apply row's own OOM-class DuckDB replay
      // persisted: consumed by the row count AND the consistency join —
      // the keep1 apply plan (gram explode + canon aggregate + covered
      // distinct + survivor rebuild) must not run twice at stress SF
      val k1app = SparkEntry.queries("l_dup_spans_keep1_apply")(spark, d)
        .select(col("doc_id"), col("n_tokens").as("ka_n"), col("n_kept").as("ka_kept"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val k1appRows = k1app.count()
      val k1Bad = k1app
        .join(k1, Seq("doc_id"), "left")
        .join(app.withColumnRenamed("n_kept", "agg_kept"), Seq("doc_id"), "left")
        .filter(col("ka_n") =!= col("n_tokens") ||
          when(col("k1_dup").isNull, col("ka_kept") =!= col("ka_n"))
            .otherwise(col("ka_kept") =!= col("ka_n") - col("k1_dup")) ||
          col("ka_kept") < col("agg_kept"))
        .count()
      // canonical survival, MEASURED corpus-wide and REPORTED, not gated:
      // a canonical copy survives unless another non-canonical occurrence
      // overlaps it (the Lee-et-al boundary clip), and even survived = 0
      // is reachable on a legal corpus (period-1 self-repetition clips
      // every canonical window with the SAME gram's next occurrence) —
      // gating would fail a correct implementation on a corpus property
      val (nDupGrams, survived) = graft.LlmOps.dupSpanKeep1Survival(spark, d)
      app.unpersist(); det.unpersist(); k1.unpersist(); k1app.unpersist()
      (nApp == corpus && bad == 0L && over == 0L &&
        (aggTot == 0L || k1Tot < aggTot) &&
        k1appRows == corpus && k1Bad == 0L,
        s"apply_rows=$nApp corpus=$corpus inconsistent=$bad " +
          s"keep1_over_aggressive=$over covered_agg=$aggTot covered_keep1=$k1Tot " +
          s"keep1_apply_rows=$k1appRows keep1_apply_bad=$k1Bad " +
          s"dup_grams=$nDupGrams canonical_survived=$survived")
    }

    check("dup_spans_k_sensitivity") {
      // Lee et al.'s result is K-sensitive; a future DUPSPAN_K retune
      // must not silently flip the spelling's semantics. The containment
      // THEOREM: equal (K+2)-grams imply equal K-sub-grams, so every
      // position covered at K+2 is covered at K. Checked under the
      // collision-free 64-bit probe hash (LlmOps.dupSpanCoveredAt) — the
      // production poly-mod hash's birthday collisions at stress-SF gram
      // counts would fabricate K+2 coverage with no K counterpart and
      // turn the theorem probabilistic.
      val k = graft.LlmOps.DUPSPAN_K
      val atK = graft.LlmOps.dupSpanCoveredAt(spark, d, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val atK2 = graft.LlmOps.dupSpanCoveredAt(spark, d, k + 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nK = atK.count()
      val nK2 = atK2.count()
      val escaped = atK2.join(atK, Seq("doc_id", "p"), "left_anti").count()
      atK.unpersist(); atK2.unpersist()
      (escaped == 0L && nK2 <= nK,
        s"covered@$k=$nK covered@${k + 2}=$nK2 escaped_containment=$escaped")
    }

    check("source_curation_invariants") {
      // The round-19 source-level family at stress SF (the sf0.01/sf1
      // oracle gate is cheap for these rows, but the skew/shuffle shapes
      // only bite at corpus scale). (a) l_url_dedup has a CLOSED FORM on
      // ScaleUp-derived data: canonical identity is exactly
      // doc_id % 400 (scheme parity, source and the id param are all
      // functions of the key; doc_ids are dense), so the group table
      // must equal an independently recomputed groupBy(doc_id % 400) —
      // canon_id = the key itself. (b) l_domain_cap must equal an
      // independent ONE-PHASE window top-N computed here (the two-phase
      // plan is a pure optimization). (c) l_pack_tokens bookkeeping:
      // tokens_before re-derived by an independent window, bin = its
      // 4096 quotient, row count = every doc with >= 1 word.
      val urls = SparkEntry.queries("l_url_dedup")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nGroups = urls.count()
      val nCanon = urls.select(col("url_canon")).distinct().count()
      val nExpected = Tables.documents(spark, d)
        .groupBy(pmod(col("doc_id"), lit(400L))).count()
        .filter(col("count") > 1).count()
      val expected = Tables.documents(spark, d)
        .groupBy(pmod(col("doc_id"), lit(400L)).as("canon_id"))
        .agg(count(lit(1)).as("n_copies_e"), min(col("doc_id")).as("mn"))
        .filter(col("n_copies_e") > 1)
      val urlBad = urls.select(col("canon_id"), col("n_copies"))
        .join(expected, Seq("canon_id"), "full")
        .filter(col("n_copies").isNull || col("n_copies_e").isNull ||
          col("canon_id") =!= col("mn") ||
          col("n_copies") =!= col("n_copies_e"))
        .count()
      urls.unpersist()
      val cap = SparkEntry.queries("l_domain_cap")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("domain")).orderBy(col("quality").desc, col("doc_id"))
      val ref = graft.LlmOps.domainQuality(Tables.documents(spark, d))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("domain"), col("rk"), col("doc_id"), col("quality"))
      val capDiff = cap.exceptAll(ref).count() + ref.exceptAll(cap).count()
      val nCap = cap.count()
      cap.unpersist()
      val pk = SparkEntry.queries("l_pack_tokens")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val packBad = pk
        .withColumn("tb2", coalesce(sum(col("n_bpe_tokens")).over(wp), lit(0L)))
        .filter(col("tokens_before") =!= col("tb2") ||
          col("bin") =!= (col("tokens_before") / lit(4096L)).cast("long"))
        .count()
      val nPack = pk.count()
      pk.unpersist()
      // docs with ≥1 non-empty space-split token, matching the pack row's
      // filter(length(w) > 0) — an empty-text document legitimately drops
      // out of l_pack_tokens and must not fail the gate (r19 ADVICE)
      val nDocs = Tables.documents(spark, d)
        .filter(exists(split(lower(col("text")), " "), w => length(w) > 0))
        .count()
      (nGroups == nExpected && nCanon == nGroups && nGroups > 0L && urlBad == 0L &&
        capDiff == 0L && nCap > 0L && packBad == 0L && nPack == nDocs,
        s"url_groups=$nGroups expected=$nExpected distinct_canon=$nCanon url_bad=$urlBad " +
          s"cap_rows=$nCap cap_diff=$capDiff pack_rows=$nPack pack_bad=$packBad")
    }

    check("html_extract_roundtrip") {
      // l_html_extract has a CLOSED FORM on any corpus: the planted page
      // wraps the document's own text, so extraction must return exactly
      // the whitespace-normalized text + the planted tagline (entity
      // decode is load-bearing: the tagline's & and <now> arrive
      // encoded), the title must be "Doc <id>", and the link count the
      // planted doc_id%4+1 — independently recomputed from the raw
      // documents table, never from the extractor's own code path.
      val got = SparkEntry.queries("l_html_extract")(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = got.count()
      val docsN = Tables.documents(spark, d).count()
      val expected = Tables.documents(spark, d).select(col("doc_id"),
        trim(concat(trim(regexp_replace(col("text"), "\\s+", " ")),
          lit(" Read more & subscribe <now>"))).as("want_main"),
        concat(lit("Doc "), col("doc_id").cast("string")).as("want_title"),
        (pmod(col("doc_id"), lit(4L)) + 1L).as("want_links"))
      val bad = got.join(expected, Seq("doc_id"))
        .filter(col("main_text") =!= col("want_main") ||
          col("title") =!= col("want_title") ||
          col("n_links") =!= col("want_links"))
        .count()
      got.unpersist()
      (n == docsN && bad == 0L, s"rows=$n docs=$docsN roundtrip_bad=$bad")
    }

    check("streaming_twins_equal_batch") {
      // The index-carrying streaming twins at stress SF (r15 verdict
      // task 3): the sf1 oracle gate covers all streaming rows, but the
      // per-batch index I/O of the maintained/static-index twins has
      // constants that GROW with corpus size — validate drained ≡ batch
      // where the index is real-corpus-sized. Full-frame symmetric diff,
      // not just counts: every column is either a long or a double from
      // identical integer arithmetic, so bit-equality is the contract.
      def frameDiff(a: DataFrame, b: DataFrame): Long =
        a.exceptAll(b).count() + b.exceptAll(a).count()
      // maintained gram index, driven as THREE deterministic
      // micro-batches so cross-batch index probes do real work at scale
      // (the one-file AvailableNow drain of the s_dup_spans row would
      // fold the whole corpus into a single batch here)
      val idxDir = graft.streaming.StreamingOps.tmp("stress-dupspan-idx-")
      val covDir = graft.streaming.StreamingOps.tmp("stress-dupspan-cov-")
      val docsT = Tables.documents(spark, d)
      (0 to 2).foreach { i =>
        LlmOps.dupSpanBatch(docsT.filter(pmod(col("doc_id"), lit(3)) === i),
          i.toLong, idxDir, covDir)
      }
      val covered = spark.read.schema("doc_id long, p long")
        .option("recursiveFileLookup", "true").parquet(covDir).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nCov = covered.count()
      val dupDiff = frameDiff(covered, LlmOps.dupSpanCovered(spark, d))
      covered.unpersist()
      // maintained canonical-URL index (r19 verdict task 1), driven as
      // THREE doc_id-ORDERED micro-batches — contiguous ranges, not pmod
      // slices: arrival order IS id order for a crawl feed, and the
      // first-come-wins admission anchors the min id only under ordered
      // delivery (which is what makes the verdict-derived group table
      // equal the batch row). Cross-batch probes do real work: every
      // batch-1/2 re-crawl of a batch-0 URL must reject via the index.
      val urlIdx = graft.streaming.StreamingOps.tmp("stress-url-idx-")
      val urlAdm = graft.streaming.StreamingOps.tmp("stress-url-admit-")
      val idsEnd = docsT.agg(max(col("doc_id"))).head().getLong(0) + 1L
      (0 to 2).foreach { i =>
        LlmOps.urlAdmitBatch(
          docsT.filter(col("doc_id") >= lit(i * idsEnd / 3) &&
            col("doc_id") < lit((i + 1) * idsEnd / 3)),
          i.toLong, urlIdx, urlAdm)
      }
      val urlDiff = frameDiff(LlmOps.urlAdmitGroups(spark, urlAdm),
        SparkEntry.queries("l_url_dedup")(spark, d))
      // every admission verdict independently recomputed: admitted ⟺ the
      // group's min doc_id, and every rejection names that min as dup_of
      val urlLogs = spark.read
        .schema("doc_id long, url_canon string, admitted boolean, dup_of long")
        .option("recursiveFileLookup", "true").parquet(urlAdm)
      val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("url_canon"))
      val urlVerdictBad = urlLogs
        .withColumn("mn", min(col("doc_id")).over(wU))
        .filter(col("admitted") =!= (col("doc_id") === col("mn")) ||
          (!col("admitted") && col("dup_of") =!= col("mn")))
        .count()
      // static-index twins end-to-end (one-batch drains at this scale —
      // what they stress is the index-sized broadcast/persist + scoring)
      val ndDiff = frameDiff(SparkEntry.queries("s_neardup")(spark, d),
        SparkEntry.queries("l_minhash_lsh")(spark, d))
      val sdDiff = frameDiff(SparkEntry.queries("s_semdedup")(spark, d),
        SparkEntry.queries("l_semdedup")(spark, d))
      (dupDiff == 0L && urlDiff == 0L && urlVerdictBad == 0L &&
        ndDiff == 0L && sdDiff == 0L,
        s"covered=$nCov dup_spans_diff=$dupDiff url_diff=$urlDiff " +
          s"url_verdict_bad=$urlVerdictBad neardup_diff=$ndDiff " +
          s"semdedup_diff=$sdDiff")
    }

    check("serving_twins_equal_batch") {
      // The r17 serving twins (verdict task 6): the index/model-carrying
      // ONLINE paths — ANN over the PERSISTED cell-partitioned IVF+PQ
      // index, and BPE encode against the trained merge model — drained
      // as streams and full-frame-diffed against their batch rows at
      // stress SF, where the index parquet round-trip and the K-round
      // trained model are real-corpus-sized. Bit-equality is the
      // contract: the ivfpq re-rank cosine derives from identical double
      // arithmetic on both paths, and the BPE counts are longs.
      def frameDiff(a: DataFrame, b: DataFrame): Long =
        a.exceptAll(b).count() + b.exceptAll(a).count()
      val ivfDiff = frameDiff(SparkEntry.queries("s_ivfpq_topk")(spark, d),
        SparkEntry.queries("l_ivfpq_ann")(spark, d))
      val bpeDiff = frameDiff(SparkEntry.queries("s_bpe_encode")(spark, d),
        SparkEntry.queries("l_bpe_encode")(spark, d))
      (ivfDiff == 0L && bpeDiff == 0L,
        s"ivfpq_serve_diff=$ivfDiff bpe_encode_diff=$bpeDiff")
    }

    // The sweep accumulates cached frames across 11 invariants (the
    // memoized positional-gram frame alone is corpus-gram-sized at
    // stress SF, plus the streaming twins' index residue). PageRank's
    // per-pass shuffle_hash builds then could not acquire execution
    // memory at sf10 (hash-relation OOM in the full sweep; green in
    // isolation) — drop the caches here: everything before this point
    // has unpersisted or finished with its frames, and pageRank
    // re-materializes its own.
    spark.catalog.clearCache()

    check("pagerank_fixed_point_at_4") {
      val ce = operators.CtsParity.eventsAsTraces(Tables.events(spark, d))
      val links = operators.CtsParity.linkPairs(
        operators.CtsParity.toCloudEvents(ce))
      val r4 = operators.CtsParity.pageRank(links, iters = 4)
        .select(col("node"), col("pr_fixed").as("pr4"))
      val r5 = operators.CtsParity.pageRank(links, iters = 5)
        .select(col("node"), col("pr_fixed").as("pr5"))
      val diff = r4.join(r5, Seq("node"), "full")
        .filter(!(col("pr4") <=> col("pr5"))).count()
      (diff == 0L, s"nodes where pass 5 changed the rank: $diff")
    }

    pairs.unpersist(); clusters.unpersist()
    results.toSeq
  }

  /** Usage: StressCheck <sfDir> [invariantName...] — extra args restrict
    * to named invariants (dev iteration; the full run is the gate). */
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    // SPARK_GRAFT_SHUFFLE: per-task state (non-spillable shuffle-hash
    // builds, e.g. pageRank's hinted join over the sf30 link table) must
    // FIT memory — sizing shuffle partitions to the SF is the standard
    // scale knob (32 is right through sf10; sf30 runs use 128). Driver
    // heap is the launcher's -Xmx (tools/run.sh: SPARK_DRIVER_MEM).
    val spark = GraftSession(defaultCpus = 32, logLevel = "WARN")
    val rs = run(spark, d, args.drop(1).toSet)
    // a misspelled filter name must not read as a green gate ("0/0 pass",
    // exit 0, zero invariants executed)
    require(rs.nonEmpty,
      s"no invariant matched filter ${args.drop(1).mkString(",")}")
    rs.foreach { case (n, ok, detail) =>
      println(s"${if (ok) "PASS" else "FAIL"} $n ($detail)")
    }
    val failed = rs.count(!_._2)
    println(s"STRESSCHECK ${rs.size - failed}/${rs.size} pass")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
