package graft.engine

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** The template every parameter-free native kernel shares: a unary
  * Catalyst expression named `sqlName`, returning `outType`, over a child
  * whose type equals `accepts` up to nullability.
  *
  * A kernel is a case class `K(child)` over this base whose companion's
  * `K.compute(arg)` is the static entry of both paths: `nullSafeEval`
  * calls it, and the generated code is the one static call
  * `graft.engine.K.compute(arg)`, with no reference object and no boxing.
  * `GraftExtensions.functions` reads the SQL name from `prettyName`.
  * Tasks ship kernels by Java serialization, which needs this base (no
  * no-arg constructor) to be `Serializable` so its fields travel too. */
abstract class NativeUnary(sqlName: String, outType: DataType, accepts: DataType)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = outType

  final override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, accepts, ignoreNullability = true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$sqlName needs ${accepts.simpleString}, got ${child.dataType}")

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ${getClass.getName}.compute($a);")

  final override def prettyName: String = sqlName
}
