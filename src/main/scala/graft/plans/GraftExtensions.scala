package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ExactDotProduct, Md5Hash64, NfcNormalize}

/** Session extensions registering the engine's native expressions with
  * the SQL function registry, so `spark.sql("SELECT exact_dot(a, b)")`
  * works next to the Column API, and the [[SmallFinalSort]] query-stage
  * prep rule. `graft.Session.build` installs them; elsewhere set
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(_ => SmallFinalSort)
    ext.injectFunction((
      new FunctionIdentifier("exact_dot"),
      new ExpressionInfo(classOf[ExactDotProduct].getName, "exact_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "exact_dot(arrayA, arrayB)")
        ExactDotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5hash64"),
      new ExpressionInfo(classOf[Md5Hash64].getName, "md5hash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "md5hash64(binary)")
        Md5Hash64(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "nfc(string)")
        NfcNormalize(children.head)
      }))
  }
}
