package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for graft's native expressions, so
  * `spark.sql("SELECT graft_poly_hash(text) ...")` works like a built-in.
  *
  * Every graft main gets it from [[graft.GraftSession]] (the standard
  * `withExtensions` injection point at session build); an existing
  * session registers post-hoc via
  * [[org.apache.spark.sql.GraftSqlBridge.registerFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("graft_poly_hash"),
      info("graft_poly_hash", "graft_poly_hash(str) - polynomial code-point hash mod 1e9+7"),
      (es: Seq[Expression]) => PolyHash(es.head)),
    (FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot", "graft_vec_dot(a, b) - float-vector dot with double accumulation"),
      (es: Seq[Expression]) => FloatVecDot(es.head, es(1))),
    (FunctionIdentifier("graft_ngram_array"),
      info("graft_ngram_array", "graft_ngram_array(str, n) - array of word n-grams"),
      (es: Seq[Expression]) => WordNGramArray(es.head, Generators.literalN(es(1)))),
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(str, n) - UDTF: one row per word n-gram"),
      (es: Seq[Expression]) => WordNGrams(es.head, Generators.literalN(es(1)))),
    (FunctionIdentifier("graft_bloom_might_contain"),
      info("graft_bloom_might_contain",
        "graft_bloom_might_contain(sketch, key) - bloom probe of a BIGINT key against a constant serialized sketch"),
      (es: Seq[Expression]) => BloomMightContainLong(es.head, es(1))),
    (FunctionIdentifier("graft_text_quality"),
      info("graft_text_quality",
        "graft_text_quality(str) - struct(n_tokens, stop_hits, n_symbols, n_subtokens) in one pass"),
      (es: Seq[Expression]) => TextQualityStats(es.head)))
}
