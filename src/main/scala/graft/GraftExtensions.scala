package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.operators.Par

/** Config-time entry point: makes the library's native function surface
  * available to pure-SQL deployments with nothing but
  *
  * {{{ --conf spark.sql.extensions=graft.GraftExtensions }}}
  *
  * (e.g. Thrift server / SQL gateway clusters where no Scala code runs).
  * Injects the same builders the programmatic `register` paths use —
  * `word_shingles`, `minhash_sig`, `simhash_signs`, `jaro_winkler`
  * ([[graft.functions.TextExpressions]]) and `cosine_similarity`,
  * `dot_product` ([[graft.functions.VectorExpressions]]) — so SQL-only
  * callers get the identical codegen'd expressions, not UDF fallbacks.
  *
  * One physical rule is injected: the width policy
  * ([[graft.operators.Par.WidenHeavyStages]]), which widens a heavy
  * per-row stage whose input has fewer partitions than the session's
  * default parallelism. It is registered as an AQE query-stage
  * preparation rule (it runs after `EnsureRequirements`, so it sees the
  * exchanges) and, for the map-only plans AQE does not wrap, as a
  * pre-columnar-transition rule; both run the same rule. No optimizer
  * rules or strategies are injected: the relational surface lowers onto
  * Catalyst built-ins (see [[graft.plans]]). [[GraftSession.builder]]
  * applies this extension, so every session it builds has the rule; a
  * session built elsewhere without it loses width only, never
  * correctness.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (functions.TextExpressions.builders ++ functions.VectorExpressions.builders)
      .foreach { case (name, builder) =>
        ext.injectFunction((
          FunctionIdentifier(name),
          new ExpressionInfo("graft.GraftExtensions", name),
          builder))
      }
    ext.injectQueryStagePrepRule(Par.WidenHeavyStages)
    ext.injectColumnar(s => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        Par.WidenHeavyStages(s)
    })
  }
}
