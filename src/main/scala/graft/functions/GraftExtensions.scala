package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark-native plugin entry point: registers graft's Catalyst expressions
  * into every session built with
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * so plain-SQL users (thriftserver, spark-sql, notebooks) get every
  * `HashExpressions.sqlFunctions` entry (`simhash64`, `minhash_sig`, …)
  * without any imperative `register` call. Both this and
  * `HashExpressions.register` serve SQL text only and read the same table;
  * Column code calls the typed constructors (`HashExpressions.minhashSig`,
  * …), which need neither.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // planner strategy for the native as-of join node (plans.AsOfJoinPlan);
    // sessions built without the extension get it lazily from
    // plans.AsOfJoin.asOf via experimental.extraStrategies.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinPruning)
    HashExpressions.sqlFunctions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), build))
    }
  }
}
