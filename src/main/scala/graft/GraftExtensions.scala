package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{CosineSimilarity, MinKDistinctLongs, NfcNormalize,
  TopKDoubles}

/** SparkSessionExtensions entry point: exposes the engine's native
  * expressions to SQL users.
  *
  * Install with either `.withExtensions(new GraftExtensions)` on the
  * session builder or `--conf spark.sql.extensions=graft.GraftExtensions`. The DataFrame API
  * ([[graft.expressions.VectorExpressions]]) works without installation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Builder-time arity check: the standard WRONG_NUM_ARGS AnalysisException
    * the built-in function builders raise (checkInputDataTypes never runs if
    * an out-of-bounds exprs(i) throws first — ADVICE r10). */
  private def requireArity(fn: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> s"`$fn`", "expectedNum" -> n.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** Parameter args of the signature expressions (hash count, shingle size)
    * shape the generated code itself, so they must be literal ints — the
    * same restriction Spark's own parameterized builders impose. */
  private def intLit(fn: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new org.apache.spark.sql.AnalysisException(
      "NON_FOLDABLE_ARGUMENT",
      Map("funcName" -> s"`$fn`", "paramName" -> s"`${other.sql}`",
        "paramType" -> "\"INT\""))
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        requireArity("cosine_sim", exprs, 2)
        CosineSimilarity(exprs.head, exprs(1))
      }))
    // SQL surface for the dedup primitives (r10 verdict stretch task 9):
    // minhash_sig(text, numHashes, shingleSize) and
    // word_grams(text, shingleSize) give SQL-only users the same codegen'd
    // kernels d2/d4/d16 run — a signature table is one INSERT…SELECT away.
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(
        classOf[graft.expressions.MinHashSignature].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        requireArity("minhash_sig", exprs, 3)
        graft.expressions.MinHashSignature(exprs.head,
          intLit("minhash_sig", exprs(1)), intLit("minhash_sig", exprs(2)))
      }))
    e.injectFunction((
      FunctionIdentifier("word_grams"),
      new ExpressionInfo(
        classOf[graft.expressions.WordGrams].getName, "word_grams"),
      (exprs: Seq[Expression]) => {
        requireArity("word_grams", exprs, 2)
        graft.expressions.WordGrams(exprs.head,
          intLit("word_grams", exprs(1)))
      }))
    e.injectFunction((
      FunctionIdentifier("topk_vals"),
      new ExpressionInfo(classOf[TopKDoubles].getName, "topk_vals"),
      (exprs: Seq[Expression]) =>
        TopKDoubles(exprs.head, exprs(1)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("mink_distinct"),
      new ExpressionInfo(classOf[MinKDistinctLongs].getName, "mink_distinct"),
      (exprs: Seq[Expression]) =>
        MinKDistinctLongs(exprs.head, exprs(1)).toAggregateExpression()))
    // simhash32(text) / hamming_dist(a, b): the d3/d12 kernels for SQL
    // users (completes the r10 stretch — every dedup primitive now has a
    // SQL spelling). simhash32 is a builtin-HOF composition, so the
    // builder registers the composed expression tree, not a new Expression
    // class — it codegens exactly like the DataFrame form.
    e.injectFunction((
      FunctionIdentifier("simhash32"),
      new ExpressionInfo(graft.ops.DedupOps.getClass.getName, "simhash32"),
      (exprs: Seq[Expression]) => {
        requireArity("simhash32", exprs, 1)
        org.apache.spark.sql.GraftBridge.expressionTree(
          graft.ops.DedupOps.simhash32(
            org.apache.spark.sql.GraftBridge.column(exprs.head)))
      }))
    e.injectFunction((
      FunctionIdentifier("hamming_dist"),
      new ExpressionInfo(graft.ops.DedupOps.getClass.getName, "hamming_dist"),
      (exprs: Seq[Expression]) => {
        requireArity("hamming_dist", exprs, 2)
        org.apache.spark.sql.GraftBridge.expressionTree(
          graft.ops.DedupOps.hamming(
            org.apache.spark.sql.GraftBridge.column(exprs.head),
            org.apache.spark.sql.GraftBridge.column(exprs(1))))
      }))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.expressions.JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => {
        requireArity("jaro_winkler", exprs, 2)
        graft.expressions.JaroWinkler(exprs.head, exprs(1))
      }))
  }
}
