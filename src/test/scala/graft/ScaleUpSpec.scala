package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ScaleUp integrity: the sf1 stress claims rest on the derived data
  * actually scaling the WORKLOAD linearly — row counts ×N, foreign keys
  * intact per copy, no cross-copy near-dups, intra-copy vector geometry
  * exactly preserved. A silent violation here would quietly invalidate
  * every §8.6 scaling ratio. */
class ScaleUpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val src = TestSpark.sfDir

  private lazy val dst: String = {
    val d = graft.streaming.StreamingOps.tmp("scaleup-test-")
    ScaleUp.run(spark, src, d, 2)
    d
  }
  private def s(t: String) = spark.read.parquet(s"$dst/$t.parquet")
  private def o(t: String) = spark.read.parquet(s"$src/$t.parquet")

  test("row counts: fact tables scale exactly xN, fixed dims do not") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "embeddings"))
      assert(s(t).count() === 2 * o(t).count(), t)
    // documents additionally carry the vocabulary long-tail
    assert(s("documents").count() ===
      2 * o("documents").count() + ScaleUp.tailDocCount(2))
    for (t <- Seq("region", "nation"))
      assert(s(t).count() === o(t).count(), t)
  }

  test("vocabulary long-tail: sf-scaled width, gramless docs, residue-true source") {
    val docStride = o("documents").agg(max(col("doc_id"))).head().getLong(0) + 1
    val tail = s("documents").filter(col("doc_id") >= docStride * 2)
      .cache()
    assert(tail.count() === ScaleUp.tailDocCount(2))
    val words = tail.select(explode(split(col("text"), " ")).as("w")).cache()
    // every tail word is fresh and frequency-1: vocabulary grows by
    // exactly TAIL_WORDS_PER_COPY per factor unit
    assert(words.count() === ScaleUp.TAIL_WORDS_PER_COPY * 2)
    assert(words.distinct().count() === ScaleUp.TAIL_WORDS_PER_COPY * 2)
    val stacked = s("documents").filter(col("doc_id") < docStride * 2)
      .select(explode(split(lower(col("text")), " ")).as("w")).distinct()
    assert(words.join(stacked, "w").count() === 0L,
      "tail words must not collide with the stacked corpus vocabulary")
    // gramless by construction: below the dup-span K, so the carried
    // coverage counters stay bit-identical across fixture regenerations
    assert(ScaleUp.TAIL_DOC_WORDS < LlmOps.DUPSPAN_K)
    assert(tail.filter(size(split(col("text"), " ")) >= LlmOps.DUPSPAN_K)
      .count() === 0L)
    // source follows the corpus's src(doc_id % 20) closed form — the url
    // and domain-cap stress invariants' doc_id % 400 identity depends on it
    assert(tail.filter(col("source") =!=
      concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")))
      .count() === 0L)
    assert(tail.filter(col("n_chars") =!= length(col("text"))).count() === 0L)
    words.unpersist(); tail.unpersist()
  }

  test("foreign keys hold inside every copy: no join loses rows") {
    // orders -> customer
    val orders = s("orders")
    assert(orders.join(s("customer"),
      orders("o_custkey") === col("c_custkey")).count() === orders.count())
    // lineitem -> orders/part/supplier
    val li = s("lineitem")
    assert(li.join(s("orders"), li("l_orderkey") === col("o_orderkey"))
      .count() === li.count())
    assert(li.join(s("part"), li("l_partkey") === col("p_partkey"))
      .count() === li.count())
    assert(li.join(s("supplier"), li("l_suppkey") === col("s_suppkey"))
      .count() === li.count())
    // events.user_id rides the CUSTOMER offset (stream-static join contract)
    val ev = s("events")
    assert(ev.join(s("customer"), ev("user_id") === col("c_custkey"))
      .count() === ev.count())
    // and keys never collide across copies: still unique
    assert(orders.select("o_orderkey").distinct().count() === orders.count())
  }

  test("copies never join to each other: every FK resolves within its own copy") {
    val custStride = o("customer").agg(max(col("c_custkey"))).head().getLong(0) + 1
    val ordStride = o("orders").agg(max(col("o_orderkey"))).head().getLong(0) + 1
    val crossCopy = s("orders").filter(
      (col("o_orderkey") / ordStride).cast("long") =!=
        (col("o_custkey") / custStride).cast("long")).count()
    assert(crossCopy === 0L, "an order must reference its own copy's customer range")
  }

  test("documents: near-dup structure replicates per copy, zero cross-copy pairs") {
    val docStride = o("documents").agg(max(col("doc_id"))).head().getLong(0) + 1
    val origPairs = LlmOps.queries("l_minhash_lsh")(spark, src)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val scaledPairs = LlmOps.queries("l_minhash_lsh")(spark, dst)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(scaledPairs.length === 2 * origPairs.length,
      s"pair count must scale x2: ${origPairs.length} -> ${scaledPairs.length}")
    assert(scaledPairs.forall { case (a, b) => a / docStride === b / docStride },
      "per-token copy tags must prevent every cross-copy near-dup pair")
    // copy 0 is byte-identical to the source: its pairs are exactly the originals
    assert(scaledPairs.filter(_._1 < docStride).toSet === origPairs.toSet)
  }

  test("lineitem: cross-copy clones are never value-ties (deterministic top-k)") {
    // A copy's clone of an order would have bit-identical revenue, and a
    // global top-k over exact float ties ranks on whichever engine's
    // summation lands an ulp higher — a stress-data artifact real corpora
    // don't have. The +i µ¢ perturbation must break every such tie while
    // leaving copy 0 byte-identical to the source.
    val ordStride = o("orders").agg(max(col("o_orderkey"))).head().getLong(0) + 1
    val li = s("lineitem")
    val h0 = li.filter(col("l_orderkey") < ordStride)
      .groupBy(col("l_extendedprice").as("p")).count()
    val h1 = li.filter(col("l_orderkey") >= ordStride)
      .groupBy(col("l_extendedprice").as("p")).count()
    // a two-decimal price can never bit-equal a two-decimal price + 1 µ¢:
    // the copies' price SETS must be fully disjoint (no cross-copy tie)
    assert(h0.join(h1, "p").count() === 0L,
      "no cross-copy price may tie bit-for-bit")
    // copy 1's price histogram is EXACTLY copy 0's shifted by the same
    // double addition ScaleUp performed (1 * 1e-6) — bit-exact both ways
    val shifted = h0.select((col("p") + lit(1e-6)).as("p"), col("count"))
    assert(shifted.exceptAll(h1).count() === 0L &&
      h1.exceptAll(shifted).count() === 0L,
      "copy 1 prices must be copy 0 prices + exactly 1 µ¢")
    // copy 0 remains byte-identical to the source table
    val hsrc = o("lineitem").groupBy(col("l_extendedprice").as("p")).count()
    assert(h0.exceptAll(hsrc).count() === 0L && hsrc.exceptAll(h0).count() === 0L)
  }

  test("embeddings: no copy repeats another past the rotation period (factor > 64)") {
    // rotation alone cycles at copy 64 (i*7 mod 64 = 0 → identity): copy 64
    // would byte-clone copy 0, planting exact cross-copy duplicate vectors.
    // The sign-flip composition must keep every copy distinct while staying
    // orthogonal (self-dot preserved to the ulp).
    val d = graft.streaming.StreamingOps.tmp("scaleup-period-")
    ScaleUp.run(spark, src, d, 66)
    val vecStride = o("embeddings").agg(max(col("vec_id"))).head().getLong(0) + 1
    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val c0 = e.filter(col("vec_id") < vecStride)
      .select(col("vec_id").as("v"), col("embedding").as("e0"))
    val c64 = e.filter(col("vec_id") >= vecStride * 64 && col("vec_id") < vecStride * 65)
      .select((col("vec_id") - vecStride * 64).as("v"), col("embedding").as("e64"))
    val j = c0.join(c64, "v").cache()
    assert(j.count() === c0.count())
    assert(j.filter(col("e0") === col("e64")).count() === 0L,
      "copy 64 must not clone copy 0's vectors")
    import graft.functions.HashExprs.vecDot
    val drift = j.select(abs(vecDot(col("e0"), col("e0")) -
      vecDot(col("e64"), col("e64"))).as("d")).agg(max(col("d"))).head().getDouble(0)
    assert(drift < 1e-12, s"sign-flipped rotation must stay orthogonal, drift=$drift")
    j.unpersist()
  }

  test("embeddings: rotation is orthogonal — intra-copy norms and dots exact") {
    val vecStride = o("embeddings").agg(max(col("vec_id"))).head().getLong(0) + 1
    val e = s("embeddings")
    val base = e.filter(col("vec_id") < vecStride)
      .select(col("vec_id").as("v"), col("embedding").as("eb"))
    val copy = e.filter(col("vec_id") >= vecStride)
      .select((col("vec_id") - vecStride).as("v"), col("embedding").as("ec"))
    import graft.functions.HashExprs.vecDot
    val drift = base.join(copy, "v")
      .select(abs(vecDot(col("eb"), col("eb")) - vecDot(col("ec"), col("ec"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    // rotation preserves the component MULTISET exactly; the left-to-right
    // double fold visits it in permuted order, so the sum agrees to the
    // ulp (non-associativity), not bit-for-bit
    assert(drift < 1e-12, s"rotation must preserve self-dot to the ulp, drift=$drift")
    // and the copy really is rotated, not duplicated
    val identical = base.join(copy, "v")
      .filter(col("eb") === col("ec")).count()
    assert(identical === 0L, "copy vectors must differ from their originals")
  }
}
