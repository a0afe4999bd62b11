package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, FunctionBuilders, MinHashSig, ShingleHash64, SimHash32}

/** SparkSessionExtensions entry point: registers the library's native
  * Catalyst expressions for SQL use.
  *
  * [[graft.GraftSession.builder]] injects it; elsewhere pass it to a
  * session builder's `withExtensions` or set
  * `spark.sql.extensions=graft.plans.GraftExtensions`; after that
  * `SELECT dot_f64(a, b)`, `SELECT minhash_sig(shingles, 32)`,
  * `SELECT simhash32(tokens)`, and `SELECT shingle_hash64(tokens, 5)`
  * resolve to the native expressions.
  * Builders (incl. arity checks) live in
  * [[graft.functions.FunctionBuilders]], shared with
  * `GraftSession.registerFunctions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_f64"),
      FunctionBuilders.dotF64,
    ))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      FunctionBuilders.minhashSig,
    ))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      FunctionBuilders.simhash32,
    ))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("shingle_hash64"),
      new ExpressionInfo(classOf[ShingleHash64].getName, "shingle_hash64"),
      FunctionBuilders.shingleHash64,
    ))
  }
}
