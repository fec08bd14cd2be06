package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Proactive twin of [[EventsEncodingSpec]] for the OTHER
  * encoding-sensitive testdata column: `embeddings.embedding`. The driver
  * currently writes `list<float>`, but pandas/pyarrow default to float64
  * for Python floats — the exact kind of regeneration flip that broke
  * events in round 8. Every embedding operator's native kernel
  * type-checks ARRAY<FLOAT>, so an unnormalized float64 file would kill
  * all embedding oracle rows at analysis.
  *
  * `Tables.normalizeEmbedding` makes the load adaptive (float passes,
  * double narrows with IEEE round-to-nearest — identical to DuckDB's
  * CAST(x AS REAL), which the oracle SQL applies through `EMB_SRC`, so
  * both engines compute on the same float32 values under either
  * encoding). This spec writes the SAME vectors both ways and asserts
  * value-identical loads and an identical end-to-end operator answer.
  */
class EmbeddingsEncodingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val canonical: DataFrame =
    Tables.embeddings(spark, TestSpark.sfDir).cache()

  private def tmpDir(): String =
    StreamingOps.tmp("graft-emb-")

  private def writeEmbeddings(df: DataFrame): String = {
    val dir = tmpDir()
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def collectVecs(df: DataFrame): Seq[(Long, Seq[Float])] =
    df.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)

  test("float32 encoding (current driver shape) passes through untouched") {
    val dir = writeEmbeddings(canonical)
    val got = Tables.embeddings(spark, dir)
    assert(got.schema("embedding").dataType === ArrayType(FloatType, containsNull = true))
    assert(collectVecs(got) === collectVecs(canonical))
  }

  test("float64 encoding loads value-identically after the canonical narrowing") {
    // widen float→double is exact, so narrowing back must round-trip to
    // the identical float bits — the two dirs must be indistinguishable
    val dir = writeEmbeddings(canonical
      .withColumn("embedding", col("embedding").cast("array<double>")))
    val got = Tables.embeddings(spark, dir)
    assert(got.schema("embedding").dataType === ArrayType(FloatType, containsNull = true))
    assert(collectVecs(got) === collectVecs(canonical))
  }

  test("a float64 file produces the identical operator answer end-to-end") {
    val f32 = writeEmbeddings(canonical)
    val f64 = writeEmbeddings(canonical
      .withColumn("embedding", col("embedding").cast("array<double>")))
    def run(dir: String): Seq[Row3] =
      SparkEntry.queries("l_cosine_topk")(spark, dir)
        .select(col("q_id"), col("neighbor_id"), col("cosine"))
        .as[Row3].collect().toSeq
    assert(run(f64) === run(f32))
  }

  test("the embeddings STREAM loads both encodings identically to batch") {
    def drainVecs(dir: String): Seq[(Long, Seq[Float])] = {
      val out = StreamingOps.tmp("graft-emb-sink-")
      StreamingOps.readEmbeddingsStream(spark, dir).writeStream
        .option("checkpointLocation", StreamingOps.tmp("graft-emb-ck-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append")
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$out/b$id")
        }
        .start().awaitTermination()
      collectVecs(spark.read.option("recursiveFileLookup", "true").parquet(out))
    }
    val f32 = writeEmbeddings(canonical)
    val f64 = writeEmbeddings(canonical
      .withColumn("embedding", col("embedding").cast("array<double>")))
    assert(drainVecs(f32) === collectVecs(canonical))
    assert(drainVecs(f64) === collectVecs(canonical))
  }

  test("a double value that is not float-representable narrows like CAST AS REAL") {
    // 0.1 is inexact in both widths; the narrowed float must be
    // Float round-to-nearest of the double — i.e. 0.1f's bits exactly
    val dir = tmpDir()
    Seq((1L, Seq(0.1, 1.0e-45, 3.4e38)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Tables.embeddings(spark, dir)
      .select(col("embedding")).as[Seq[Float]].head()
    assert(got === Seq(0.1f, 1.0e-45f, 3.4e38f))
  }

  test("an unsupported element type fails loud at plan time") {
    val dir = tmpDir()
    Seq((1L, Seq("not", "a", "vector")))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    intercept[IllegalStateException] { Tables.embeddings(spark, dir) }
  }
}

/** (q_id, neighbor_id, cosine) row for the end-to-end compare. */
case class Row3(q_id: Long, neighbor_id: Long, cosine: Double)
