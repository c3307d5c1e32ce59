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

  /** One SQL function: its name, expression class, argument count, the
    * argument positions that must be INT literals ([[litInt]]) and the
    * constructor, which gets those positions as `Int`s and the others
    * as expressions. */
  private case class Fn(name: String, cls: Class[_ <: Expression],
                        arity: Int, intLits: Set[Int],
                        make: Seq[Any] => Expression)

  private val functions = Seq(
    Fn("dot_product", classOf[DotProduct], 2, Set.empty,
      { case Seq(a: Expression, b: Expression) => DotProduct(a, b) }),
    Fn("simhash64", classOf[SimHash64], 1, Set.empty,
      { case Seq(a: Expression) => SimHash64(a) }),
    Fn("minhashes", classOf[MinHashes], 2, Set(1),
      { case Seq(a: Expression, n: Int) => MinHashes(a, n) }),
    Fn("shingle_hashes", classOf[ShingleHashes], 2, Set(1),
      { case Seq(a: Expression, n: Int) => ShingleHashes(a, n) }),
    Fn("token_hashes", classOf[TokenHashes], 1, Set.empty,
      { case Seq(a: Expression) => TokenHashes(a) }),
    Fn("token_bigrams", classOf[TokenBigrams], 1, Set.empty,
      { case Seq(a: Expression) => TokenBigrams(a) }),
    Fn("token_ngrams", classOf[TokenNgrams], 2, Set(1),
      { case Seq(a: Expression, n: Int) => TokenNgrams(a, n) }),
    Fn("parse_hours", classOf[ParseHours], 1, Set.empty,
      { case Seq(a: Expression) => ParseHours(a) }))

  override def apply(e: SparkSessionExtensions): Unit =
    functions.foreach { f =>
      e.injectFunction((
        FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        (args: Seq[Expression]) => {
          arity(f.name, args, f.arity)
          f.make(args.zipWithIndex.map { case (a, i) =>
            if (f.intLits(i)) litInt(f.name, a, i) else a })
        }))
    }
}
