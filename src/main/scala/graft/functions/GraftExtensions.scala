package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Registers the public rows of [[Kernels]] as SQL functions via
  * `SparkSessionExtensions` — usable from `spark.sql(...)`, `expr(...)`, and
  * `functions.call_function`. Install with
  * `SparkSession.builder.withExtensions(GraftExtensions.install)` (done by
  * [[graft.Tables.builder]]) or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.install(ext)
}

object GraftExtensions {

  val install: SparkSessionExtensions => Unit = { ext =>
    for (k <- Kernels.all if k.public)
      ext.injectFunction(
        (FunctionIdentifier(k.name),
         new ExpressionInfo(classOf[KernelCall].getName, k.name),
         k.call(_)))

    // the Rule[LogicalPlan] tier of the extension surface: collapse
    // defensively-stacked normalize_text calls at plan time (sound by
    // the kernel's suite-pinned idempotence — see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.CollapseIdempotentNormalize)
  }
}
