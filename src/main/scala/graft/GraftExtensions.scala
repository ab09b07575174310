package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Session-extensions entry point: activates every graft SQL function on
  * session construction via
  * `--conf spark.sql.extensions=graft.GraftExtensions`. The idiomatic way
  * to ship the function surface to a shared cluster (reference exposes its
  * kernels as an importable module, `winnow/feature_extraction/model.py`;
  * on Spark the analogous "import" is an extensions injection). Lives in
  * package `graft` so the conf string matches the other spark-submit
  * entry points (`graft.DedupJob`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functionTable.foreach { case (name, arity, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Expressions", name),
        GraftFunctions.checked(name, arity, builder)))
    }
  }
}
