package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.engine._
import graft.plans.NanosRangePushdown

/** Session-extension entry point for cluster deployments:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects the engine's Catalyst additions into every session built on
  * the cluster without any imperative setup call:
  *
  *  - the `NanosRangePushdown` optimizer rule (restores parquet row-group
  *    pruning for range predicates written against converted
  *    TIMESTAMP(NANOS) columns — plans/NanosRangePushdown.scala);
  *  - one SQL function per entry of `GraftExtensions.functions`: every
  *    `NativeUnary` kernel (`simhash64`, `tokens`, ...), the vector
  *    kernels, and `json_string_cast` (the StringCast SMT's scalar).
  *
  * Local/programmatic sessions get the same behavior lazily —
  * `Tables.load` installs the rule idempotently, and the queries build
  * every kernel, `json_string_cast` included, through its Column helper
  * — so the extension is additive, not required.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NanosRangePushdown)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** Every SQL-callable kernel as (identifier, info, arity-checked
    * builder). Each is named by the `prettyName` of the expression it
    * builds (built once here over null literals), so a kernel states its
    * SQL name once, in its own declaration. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    Seq[Expression => Expression](
      SimHash64(_), ShingleHashes(_), Tokens(_), MinHashBands(_),
      MinHashBandsSweep(_), TokenCounts(_), RollingFingerprint(_),
      RepetitionStats(_), PiiScrub(_), XorShiftMix(_), SortableDoubleBits(_),
      QuantizeU8(_), JsonStringCast(_)
    ).map(f => describe(f(Literal(null)), unary(_)(f))) ++
      Seq[(Expression, Expression) => Expression](FloatDotProduct(_, _), IntSqDist(_, _))
        .map(f => describe(f(Literal(null), Literal(null)), binary(_)(f)))

  private def describe(e: Expression,
      build: String => Builder): (FunctionIdentifier, ExpressionInfo, Builder) = {
    val name = e.prettyName
    (new FunctionIdentifier(name), new ExpressionInfo(e.getClass.getName, name), build(name))
  }

  /** Arity-checked function builders: a wrong argument count raises the
    * same WRONG_NUM_ARGS AnalysisException Spark's builtin registry
    * raises, instead of an IndexOutOfBoundsException escaping from
    * `exprs.head` / `exprs(1)` mid-analysis. */
  private def wrongNumArgs(name: String, expected: Int,
      actual: Int): org.apache.spark.sql.AnalysisException =
    new org.apache.spark.sql.AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  private[graft] def unary(name: String)(f: Expression => Expression): Builder = {
    case Seq(e) => f(e)
    case exprs => throw wrongNumArgs(name, 1, exprs.size)
  }

  private[graft] def binary(name: String)(
      f: (Expression, Expression) => Expression): Builder = {
    case Seq(a, b) => f(a, b)
    case exprs => throw wrongNumArgs(name, 2, exprs.size)
  }
}
