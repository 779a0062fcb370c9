package graft.functions

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** A graft SQL function whose body is SQL text over typed parameters,
  * as in a SQL function `name(params) RETURNS returns RETURN body`,
  * declared as an expression builder. A call builds its expression in
  * place, so it works inside lambdas too, and installing it runs no SQL
  * statement.
  *
  * The body is parsed once per JVM, on first use, under default SQL
  * settings. Each argument is cast to its parameter type and bound once
  * through Catalyst's `With`, so an argument the body names twice (a
  * nondeterministic one included) is evaluated once; the result is
  * cast to `returns`. A call with the wrong number of arguments raises
  * Spark's `WRONG_NUM_ARGS`.
  */
final case class SqlBodied(name: String, params: Seq[(String, DataType)],
                           returns: DataType, body: String) {
  private lazy val parsed =
    SQLConf.withExistingConf(new SQLConf)(CatalystSqlParser.parseExpression(body))

  def build(args: Seq[Expression]): Expression = {
    if (args.length != params.length)
      throw GraftBridge.wrongNumArgs(name, params.length, args.length)
    val bound = With(args.zip(params).map { case (a, (_, t)) => Cast(a, t) }: _*) { refs =>
      val byName = params.map(_._1).zip(refs).toMap
      Cast(parsed.transform {
        case UnresolvedAttribute(Seq(p)) if byName.contains(p) => byName(p)
      }, returns)
    }
    SqlBodiedCall(name, args, bound)
  }
}

/** A call of a [[SqlBodied]] function: shown (and named as a column)
  * as `name(args)`, and replaced by its bound body when optimized.
  */
case class SqlBodiedCall(name: String, parameters: Seq[Expression], replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}
