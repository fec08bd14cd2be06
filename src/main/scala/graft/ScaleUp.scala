package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stress-data derivation: scale a driver testdata dir by N× for scale
  * runs beyond the shipped sf0.1 (the driver generates sf ≤ 0.1 only;
  * /root/testdata is read-only). Usage:
  *
  *   ScaleUp <srcSfDir> <dstDir> <factor>
  *
  * Each table becomes N stacked copies with per-copy key offsets of
  * (max key + 1), so every foreign-key relationship of the source holds
  * inside each copy and copies never collide: orders of copy i reference
  * customers of copy i, lineitems reference copy-i orders/parts/
  * suppliers, events' user_id rides the CUSTOMER offset (it joins
  * c_custkey in the stream-static join). region/nation stay fixed —
  * TPC-H scales fact tables, never the 25-nation dimension — and
  * nationkey columns are left untouched accordingly.
  *
  * Content transforms keep derived workloads LINEAR in N instead of
  * degenerate:
  *  - documents: copy i > 0 gets a per-TOKEN copy tag (every word w →
  *    w + "c<i>"), so each copy's shingle universe is disjoint from every
  *    other's — near-dup structure replicates within each copy (the tag
  *    is position-uniform, preserving n-gram overlap patterns exactly)
  *    and NO cross-copy near-dups appear. Tagging the whole doc instead
  *    (or copying verbatim) would turn every doc into an N-way near-dup
  *    cluster and inflate the LSH pair count quadratically.
  *  - embeddings: copy i's vectors are circularly component-rotated by
  *    i·7 positions and, past copy 63 (where rotation alone would cycle
  *    back to the identity), sign-flipped by a per-64-block hash mask —
  *    both exactly orthogonal transforms, so every intra-copy
  *    cosine/distance is EXACTLY preserved (ANN/k-means/PQ workloads
  *    replicate) while cross-copy cosine decorrelates to the vectors'
  *    autocorrelation, far below any near-dup threshold.
  *  - events keep their timestamps: N× events across the same 30-day
  *    window is how a stream actually scales (denser days, not a longer
  *    history).
  */
object ScaleUp {

  /** Vocabulary long-tail sizing (r19 verdict task 3): the stacked-copy
    * tagging scales document COUNT with the factor but vocabulary only
    * linearly in the tag (sf10 = 500k docs yet 3,100 words), so the
    * vocab-bounded operators — the BPE learner's driver collect, the
    * heavy-hitters partials, the LM bigram-model join — were never
    * exercised at realistic width. Each factor unit plants
    * TAIL_WORDS_PER_COPY fresh words (sf1 ⇒ 30k, sf10 ⇒ 300k, sf30 ⇒
    * 900k distinct) as APPENDED documents of TAIL_DOC_WORDS globally
    * unique words each. The tail is constructed to leave every carried
    * stress counter bit-identical: TAIL_DOC_WORDS < LlmOps.DUPSPAN_K, so
    * tail docs produce ZERO positional grams (no coverage change and no
    * poly-mod birthday collisions against existing grams — P ≈ 2^30, a
    * gram-bearing tail WOULD collide at sf30 gram counts); every word is
    * frequency-1 (no heavy-hitter, no near-dup shingle overlap); and
    * `source` follows the corpus's src(doc_id % 20) closed form, so the
    * url/domain invariants' doc_id % 400 identity stays exact. */
  private[graft] val TAIL_WORDS_PER_COPY = 3000L
  private[graft] val TAIL_DOC_WORDS = 4
  private[graft] def tailDocCount(n: Int): Long =
    TAIL_WORDS_PER_COPY * n / TAIL_DOC_WORDS

  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1); val n = args(2).toInt
    val spark = GraftSession(defaultCpus = 32, logLevel = "WARN")
    run(spark, src, dst, n)
    println(s"""{"scaled": "$src -> $dst", "factor": $n}""")
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, n: Int): Unit = {
    require(n >= 1, s"factor must be >= 1, got $n")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // Each table lands as `<dst>/<t>.parquet` — a Spark PART DIRECTORY,
    // the production shape: multi-part tables scan in parallel (a single
    // flattened file is one Spark partition = one scan task, which
    // serializes every scan-shaped query and is exactly what a 10× stress
    // run must not measure). All consumers take either layout: batch
    // reads and the streaming sources point at the table path, and
    // tools/check.py globs part directories. NOTE: events.ts round-trips
    // in whatever encoding the source ships — int64-nanos source reads as
    // BIGINT (nanosAsLong) and rewrites as BIGINT; timestamp[us] NTZ
    // source (current driver shape) rewrites as timestamp[us] NTZ. All
    // consumers are encoding-adaptive (Tables.normalizeEventTs, the
    // footer-derived streaming schema, check.py's BIGINT view branch).
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    /** max(key)+1 — the per-copy id stride for a dense 0-based key. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key)).cast("long")).collect()(0).getLong(0) + 1L

    /** N stacked copies, each transformed by `f(df, i)`. */
    def stack(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(df, i)).reduce(_ unionAll _)

    val (cust, supp, part, ord, li, ev, docs, emb) =
      (read("customer"), read("supplier"), read("part"), read("orders"),
        read("lineitem"), read("events"), read("documents"), read("embeddings"))
    val (cs, ss, ps, os, es, ds, vs) =
      (stride(cust, "c_custkey"), stride(supp, "s_suppkey"),
        stride(part, "p_partkey"), stride(ord, "o_orderkey"),
        stride(ev, "event_id"), stride(docs, "doc_id"), stride(emb, "vec_id"))

    // fixed dimensions: copied verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(stack(cust)((d, i) => d
      .withColumn("c_custkey", col("c_custkey") + lit(cs * i))), "customer")
    write(stack(supp)((d, i) => d
      .withColumn("s_suppkey", col("s_suppkey") + lit(ss * i))), "supplier")
    write(stack(part)((d, i) => d
      .withColumn("p_partkey", col("p_partkey") + lit(ps * i))), "part")
    write(stack(ord)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(os * i))
      .withColumn("o_custkey", col("o_custkey") + lit(cs * i))), "orders")
    write(stack(li)((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(os * i))
      .withColumn("l_partkey", col("l_partkey") + lit(ps * i))
      .withColumn("l_suppkey", col("l_suppkey") + lit(ss * i))
      // break cross-copy value ties BY DATA: copy i's clone of an order
      // would otherwise have bit-identical revenue, and a global top-k
      // over exact float ties ranks on whichever engine's summation
      // lands an ulp higher — a stress-data artifact real corpora don't
      // have. +i µ¢ per item keeps the economics identical and makes
      // every engine agree on the order deterministically.
      .withColumn("l_extendedprice", col("l_extendedprice") + lit(i * 1e-6))),
      "lineitem")
    write(stack(ev)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(es * i))
      .withColumn("user_id", col("user_id") + lit(cs * i))), "events")
    val stackedDocs = stack(docs)((d, i) => {
      val tagged =
        if (i == 0) d
        else d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1c" + i))
      tagged
        .withColumn("doc_id", col("doc_id") + lit(ds * i))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    // the vocabulary long-tail (see the sizing note above): doc_ids
    // continue densely past the stacked copies; words "qz<g>" are
    // globally unique (base vocab carries no qz-prefixed words and copy
    // tags only append to existing words); source/lang follow the
    // corpus's deterministic residue maps
    val tail = spark.range(0, tailDocCount(n), 1, 32)
      .select((col("id") + lit(ds * n)).as("doc_id"), col("id").as("t"))
      .withColumn("text", concat_ws(" ",
        (0 until TAIL_DOC_WORDS).map(j => concat(lit("qz"),
          (col("t") * TAIL_DOC_WORDS + j).cast("string"))): _*))
      .withColumn("lang", element_at(
        lit(Array("en", "de", "es", "fr", "zh")),
        (pmod(col("doc_id"), lit(5L)) + 1).cast("int")))
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    write(stackedDocs.unionByName(tail), "documents")
    write(stack(emb)((d, i) => {
      // Circular rotation alone has PERIOD dim in i (i·7 mod 64 cycles):
      // copy 64 would be bit-identical to copy 0, silently planting exact
      // cross-copy duplicates — the precise failure this transform exists
      // to prevent. Compose it with a per-64-block sign-flip mask
      // (diagonal ±1 = still exactly orthogonal, applied uniformly within
      // a copy so intra-copy geometry stays bit-preserved): the (rotation,
      // mask) pair is distinct for every copy in practice. Copies 0-63
      // keep the pure rotation, so sf1-scale artifacts are unchanged.
      val g = i / 64
      val rotated = s"element_at(embedding, " +
        s"CAST((j + ${i * 7}) % size(embedding) AS INT) + 1)"
      val signed =
        if (g == 0) rotated
        else s"IF(pmod(hash(j, $g), 2) = 0, $rotated, -$rotated)"
      val transformed =
        if (i == 0) d
        else d.withColumn("embedding",
          expr(s"transform(embedding, (x, j) -> $signed)"))
      transformed.withColumn("vec_id", col("vec_id") + lit(vs * i))
    }), "embeddings")
  }
}
