package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, CountTokensIn, HammingBits, LexiconScore, MinHashSig, MinMd5, ScaledDot, ShingleJoin, SimHashSig, TopKStruct, ZOrderBits}

/** Registers graft's native expressions as SQL functions so both the
  * Column API and `spark.sql("... graft_cosine(a,b) ...")` can use them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Wraps a builder with an arity check so a SQL caller passing the
    * wrong number of arguments gets an analysis-time error naming the
    * function and the expected count rather than an
    * IndexOutOfBoundsException out of `children(i)` — r16 ADVICE,
    * surfaced when graft_lexicon_score grew a 7th argument. Thrown as a
    * plain IllegalArgumentException (r17 ADVICE): the error-class
    * AnalysisException constructor and its parameter map are not a
    * stable public API across Spark versions, and function-builder
    * exceptions surface at analysis time either way.
    */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children =>
      if (children.length == n) build(children)
      else throw new IllegalArgumentException(
        s"Function `$name` requires $n argument(s) but got ${children.length}.")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      arity("graft_cosine", 2)(c => CosineSimilarity(c(0), c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[HammingBits].getName, "graft_hamming"),
      arity("graft_hamming", 2)(c => HammingBits(c(0), c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_lexicon_score"),
      new ExpressionInfo(classOf[LexiconScore].getName, "graft_lexicon_score"),
      arity("graft_lexicon_score", 7)(c => LexiconScore(
        c(0), c(1), c(2), c(3), c(4), c(5), c(6)))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleJoin].getName, "graft_shingles"),
      arity("graft_shingles", 2)(c => ShingleJoin(c(0), c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashSig].getName, "graft_simhash"),
      arity("graft_simhash", 1)(c => SimHashSig(c(0)))))
    ext.injectFunction((
      FunctionIdentifier("graft_count_in"),
      new ExpressionInfo(classOf[CountTokensIn].getName, "graft_count_in"),
      arity("graft_count_in", 2)(c => CountTokensIn(c(0), c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_min_md5"),
      new ExpressionInfo(classOf[MinMd5].getName, "graft_min_md5"),
      arity("graft_min_md5", 1)(c => MinMd5(c(0)))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      arity("graft_minhash", 3)(c => MinHashSig(c(0), c(1), c(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_sdot"),
      new ExpressionInfo(classOf[ScaledDot].getName, "graft_sdot"),
      arity("graft_sdot", 3)(c => ScaledDot(c(0), c(1), c(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKStruct].getName, "graft_topk"),
      arity("graft_topk", 2)(c => TopKStruct(c(0), c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderBits].getName, "graft_zorder"),
      arity("graft_zorder", 2)(c => ZOrderBits(c(0), c(1)))))
  }
}
