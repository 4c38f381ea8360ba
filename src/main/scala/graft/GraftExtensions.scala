package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ArrayOps, BloomProbeExpr, LongDot, MinHashSigExpr, PHash64Expr, RollingHash, SimHashExpr, WordShinglesExpr}

/** Session extension registering the graft-native Catalyst expressions —
  * activate with `spark.sql.extensions=graft.GraftExtensions` at session
  * build (every session [[jobs.Jobs.buildSession]] makes does). This is
  * the supported public injection point for custom expressions: the
  * function resolves through the registry like a built-in and
  * participates in whole-stage codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // analysis-time guardrail (opt-in via spark.graft.strictPlans)
    ext.injectCheckRule(session => graft.plans.StrictPlanCheck(session))
    // scan pushdown for range predicates on the normalized events ts
    // (runs in the operator-optimization fixpoint, cooperating with
    // PushDownPredicates + the file-source filter translation)
    ext.injectOptimizerRule(session => graft.plans.TsPushdown(session))
  }
}

object GraftExtensions {
  /** (SQL name, expression class, builder) of every injected function. */
  val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (ArrayOps.LongDotName, classOf[LongDot], c => LongDot(c(0), c(1))),
    (RollingHash.Name, classOf[RollingHash], c => RollingHash(c(0), c(1))),
    (ArrayOps.MinHashSigName, classOf[MinHashSigExpr], c => MinHashSigExpr(c(0))),
    (WordShinglesExpr.Name, classOf[WordShinglesExpr], c => WordShinglesExpr(c(0), c(1))),
    (SimHashExpr.Name, classOf[SimHashExpr], c => SimHashExpr(c(0))),
    (PHash64Expr.Name, classOf[PHash64Expr], c => PHash64Expr(c(0), c(1))),
    (BloomProbeExpr.Name, classOf[BloomProbeExpr], c => BloomProbeExpr(c(0), c(1), c(2), c(3))))
}
