package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.bridge

/** Registration surface for the engine's native expressions.
  *
  * Two entry points, matching how Spark ships extensions:
  *  - `GraftExtensions` for
  *    `spark.sql.extensions=graft.functions.GraftExtensions` (config-time
  *    injection via SparkSessionExtensions);
  *  - `GraftFunctions.register(spark)` for an already-built session
  *    (the driver owns session construction in this harness).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectFunction(GraftFunctions.quantDotDescriptor)
}

object GraftFunctions {

  private[functions] val quantDotDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("quant_dot"),
    new ExpressionInfo(classOf[QuantDot].getName, "quant_dot"),
    (children: Seq[Expression]) => QuantDot(children(0), children(1))
  )

  /** Idempotent runtime registration into the session's function
    * registry: afterwards `expr("quant_dot(a, b)")` and SQL text both
    * resolve to the codegen'd expression. */
  def register(spark: SparkSession): Unit = {
    val (id, info, builder) = quantDotDescriptor
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  /** Column-level API: `quantDot($"a", $"b")`. */
  def quantDot(a: Column, b: Column): Column =
    bridge.column(QuantDot(bridge.expression(a), bridge.expression(b)))

  /** Column-level API: `minhashSlots($"text")`, a `struct<h0..h7>`. */
  def minhashSlots(text: Column): Column =
    bridge.column(MinhashSlots(bridge.expression(text)))
}
