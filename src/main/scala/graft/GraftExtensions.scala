package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftfns.{DotProduct, MinHashes, ParseHours, ShingleHashes, SimHash64, TokenBigrams, TokenHashes, TokenNgrams}
import org.apache.spark.sql.types.IntegerType

/** Session extension wiring: exposes the engine's custom Catalyst
  * expressions to SQL users.
  *
  * Register with a session builder's `.withExtensions(new
  * GraftExtensions)` (as [[GraftSession]] does) or
  * `spark.sql.extensions=graft.GraftExtensions`; afterwards
  * `SELECT dot_product(a, b)` resolves like a built-in (parsed,
  * analyzed, codegen'd — no UDF registry indirection), and the whole
  * MinHash/SimHash near-dup pipeline is writable in pure SQL — with
  * `token_hashes` replacing the interpreted per-token lambda:
  * `minhashes(shingle_hashes(token_hashes(split(text, ' ')), 3), 64)`,
  * `simhash64(token_hashes(split(text, ' ')))`; `token_bigrams` exposes
  * the compiled co-occurrence unit the same way, and `parse_hours` the
  * opening-hours parser.
  * No custom optimizer rules or strategies are injected: the operator
  * inventory is expressible in declarative plans Catalyst already
  * optimizes (SURVEY.md §4.1). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Static int parameter of a hash-family expression: these size the
    * generated code (loop bounds), so they must be literals at analysis
    * time — reject anything else as an analysis-side error naming the
    * function, not a ClassCastException at codegen. */
  private def litInt(fn: String, e: Expression, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an INT literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    // arity-checked here: raw args(i) indexing would surface as an
    // IndexOutOfBoundsException during resolution instead of an
    // analysis error naming the function
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn requires exactly $n arguments, got ${args.length}")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        arity("dot_product", args, 2)
        DotProduct(args(0), args(1))
      }))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        arity("simhash64", args, 1)
        SimHash64(args(0))
      }))
    e.injectFunction((
      FunctionIdentifier("minhashes"),
      new ExpressionInfo(classOf[MinHashes].getName, "minhashes"),
      (args: Seq[Expression]) => {
        arity("minhashes", args, 2)
        MinHashes(args(0), litInt("minhashes", args(1), 1))
      }))
    e.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) => {
        arity("shingle_hashes", args, 2)
        ShingleHashes(args(0), litInt("shingle_hashes", args(1), 1))
      }))
    e.injectFunction((
      FunctionIdentifier("token_hashes"),
      new ExpressionInfo(classOf[TokenHashes].getName, "token_hashes"),
      (args: Seq[Expression]) => {
        arity("token_hashes", args, 1)
        TokenHashes(args(0))
      }))
    e.injectFunction((
      FunctionIdentifier("token_bigrams"),
      new ExpressionInfo(classOf[TokenBigrams].getName, "token_bigrams"),
      (args: Seq[Expression]) => {
        arity("token_bigrams", args, 1)
        TokenBigrams(args(0))
      }))
    e.injectFunction((
      FunctionIdentifier("token_ngrams"),
      new ExpressionInfo(classOf[TokenNgrams].getName, "token_ngrams"),
      (args: Seq[Expression]) => {
        arity("token_ngrams", args, 2)
        TokenNgrams(args(0), litInt("token_ngrams", args(1), 1))
      }))
    e.injectFunction((
      FunctionIdentifier("parse_hours"),
      new ExpressionInfo(classOf[ParseHours].getName, "parse_hours"),
      (args: Seq[Expression]) => {
        arity("parse_hours", args, 1)
        ParseHours(args(0))
      }))
  }
}
