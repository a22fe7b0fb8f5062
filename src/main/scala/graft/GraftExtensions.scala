package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CosineSim, MinHashSig, SigMatchFraction, SimHash64, SortedIdPairs, WordShingles}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so any session built by
  * [[graft.GraftSession]] (or with `--conf
  * spark.sql.extensions=graft.GraftExtensions` on a cluster) can call
  * them from SQL:
  *
  * {{{
  * SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  * SELECT word_shingles(split(text, ' '), 3) FROM documents
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens, n) => WordShingles(tokens, intArg(n, "shingle size n"))
        case _ => throw new IllegalArgumentException(
          "word_shingles(tokens_array, n) takes exactly 2 arguments")
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(elems, k) => MinHashSig(elems, intArg(k, "signature size k"))
        case _ => throw new IllegalArgumentException(
          "minhash_sig(elems_array, k) takes exactly 2 arguments")
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens) => SimHash64(tokens)
        case _ => throw new IllegalArgumentException(
          "simhash64(tokens_array) takes exactly 1 argument")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => CosineSim(a, b)
        case _ => throw new IllegalArgumentException(
          "cosine_sim(a, b) takes exactly 2 arguments")
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_id_pairs"),
      new ExpressionInfo(classOf[SortedIdPairs].getName, "sorted_id_pairs"),
      (args: Seq[Expression]) => args match {
        case Seq(ids) => SortedIdPairs(ids)
        case _ => throw new IllegalArgumentException(
          "sorted_id_pairs(ids_array) takes exactly 1 argument")
      }))
    ext.injectFunction((
      new FunctionIdentifier("sig_match_frac"),
      new ExpressionInfo(classOf[SigMatchFraction].getName, "sig_match_frac"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => SigMatchFraction(a, b)
        case _ => throw new IllegalArgumentException(
          "sig_match_frac(a, b) takes exactly 2 arguments")
      }))
  }
}
