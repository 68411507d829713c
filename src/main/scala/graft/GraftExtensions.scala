package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector for the engine's native Catalyst
  * functions — load with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`, or register
  * on a live session via [[GraftExtensions.register]].
  * Currently (doGenCode expressions — whole-stage-codegen'd, no UDF
  * closure on the hot path):
  *  - `graft_rolling_fingerprint(text, k)`;
  *  - `graft_dot(a, b)`, the dot product every `ops.Similarity` score uses.
  * `ops.Similarity` builds its expressions directly, so it needs no
  * registration; the nearest-codeword kernel it uses carries a driver-built
  * codebook and has no SQL form. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_rolling_fingerprint"),
      graft.functions.RollingFingerprint.info, graft.functions.RollingFingerprint.builder _),
    (FunctionIdentifier("graft_dot"), graft.functions.Dot.info, graft.functions.Dot.builder _))

  /** Idempotent live-session registration (for sessions built without the
    * spark.sql.extensions config — e.g. the driver's Verify/Bench mains). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder) }
}
