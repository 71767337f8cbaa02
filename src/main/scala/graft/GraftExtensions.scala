package graft

import graft.functions.expr.{LuhnValid, Mod97Digits}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql("... graft_luhn(x) ...")`
  * and `expr("graft_mod97(x)")` work in any session configured with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`, as [[GraftSession]]
  * does). The Scala column API in [[graft.functions.Identifiers]] does
  * not require registration. The TopKPerGroup planner strategy is not
  * injected here: `TopK.topKPerGroup` installs it lazily, which also
  * covers sessions built without these extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_mod97"),
      new ExpressionInfo(classOf[Mod97Digits].getName, "graft_mod97"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Mod97Digits(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_luhn"),
      new ExpressionInfo(classOf[LuhnValid].getName, "graft_luhn"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        LuhnValid(children.head)))
  }
}
