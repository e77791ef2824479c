package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook — the injection path for clusters where the
  * session is built by infrastructure, not application code:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * registers every custom expression in the catalog at session build time
  * (the configuration-owned equivalent of `functions.registerAll`, which
  * remains for sessions the library creates itself — GraftSession). Both
  * read the one list `functions.sqlFunctions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // ExpressionInfo's 3-arg constructor is (className, db, name) — passing
  // usage text there garbles DESCRIBE FUNCTION output; the 2-arg
  // (className, name) form keeps catalog metadata truthful
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.sqlFunctions.foreach { case (name, clazz, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), build))
    }
}
