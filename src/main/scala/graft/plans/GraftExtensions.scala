package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

import graft.functions.{ArrayDotProduct, ArrayLongDot, ArrayLongL2, MinHash16, NfcNormalizeExpr, SimHash32}

/** Everything graft adds to a Spark session, in one list: the as-of
  * planner strategy, the four optimizer rules, the `asof_match` /
  * `asof_next` markers and the six `graft_*` SQL functions.
  *
  * `graft.GraftSession.builder` applies it to every session it builds,
  * and Spark hands it on to each `newSession()` child. A session built
  * elsewhere takes it with
  * `spark.sql.extensions=graft.plans.GraftExtensions`. The rules are
  * always present; each one acts only while its conf key is set on the
  * session (see [[RangeJoinRule]], [[JoinReorderRule]],
  * [[MvRewriteRule]]), and [[AsOfJoinRule]] only on marked joins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(RangeJoinRule(_))
    e.injectOptimizerRule(JoinReorderRule(_))
    e.injectOptimizerRule(MvRewriteRule(_))
    e.injectOptimizerRule(AsOfJoinRule(_))
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  private def fn(name: String, cls: Class[_])(b: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)

  // Casting to array<float> up front makes graft_dot usable on
  // array<double> SQL literals (a float→float cast is simplified away);
  // non-castable inputs still fail analysis with a cast error.
  private def toFloatArray(e: Expression): Expression = Cast(e, ArrayType(FloatType))
  private def toLongArray(e: Expression): Expression = Cast(e, ArrayType(LongType))

  /** The SQL functions: the as-of markers ([[AsOfSqlSurface]]) and the
    * engine's codegen'd expressions:
    *   - `graft_dot(a, b)` — float-array dot product;
    *   - `graft_dot_q(a, b)` — exact long-array dot product;
    *   - `graft_l2_q(a, b)` — exact long-array squared-L2 distance;
    *   - `graft_simhash32(tokens)` — 32-bit SimHash signature string;
    *   - `graft_minhash16(shingles)` — 16 MinHash chunk-minima;
    *   - `graft_nfc(text)` — Unicode NFC normalization.
    */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("asof_match", classOf[AsOfMark])(AsOfSqlSurface.marker(forward = false)),
    fn("asof_next", classOf[AsOfMark])(AsOfSqlSurface.marker(forward = true)),
    fn("graft_dot", classOf[ArrayDotProduct])(
      es => ArrayDotProduct(toFloatArray(es(0)), toFloatArray(es(1)))),
    fn("graft_dot_q", classOf[ArrayLongDot])(
      es => ArrayLongDot(toLongArray(es(0)), toLongArray(es(1)))),
    fn("graft_l2_q", classOf[ArrayLongL2])(
      es => ArrayLongL2(toLongArray(es(0)), toLongArray(es(1)))),
    fn("graft_simhash32", classOf[SimHash32])(es => SimHash32(es.head)),
    fn("graft_minhash16", classOf[MinHash16])(es => MinHash16(es.head)),
    fn("graft_nfc", classOf[NfcNormalizeExpr])(es => NfcNormalizeExpr(es.head)))
}
