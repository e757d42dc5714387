package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Library packaging for every graft custom function: a
  * `SparkSessionExtensions` hook so a deployment turns the whole
  * function surface on with configuration alone —
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * — no `register(spark)` calls in user code, and the functions exist
  * in EVERY session of the application (including `newSession()` forks
  * the replay scheduler creates). The per-module `register` entry
  * points remain for programmatic use; both paths install the same
  * expression builders, so behavior is identical.
  *
  * This is the extension-injection route SURVEY.md §7.4 reserves for
  * when built-ins can't express semantics: the function surface plus
  * ONE optimizer rule — [[graft.plans.RangeJoinRewrite]], which turns a
  * naive interval-overlap theta join into the bucketized equi-join
  * (conf-gated; a no-op until `spark.graft.rangeJoin.bucketWidth` is
  * set). No custom Strategy/physical operator exists because Catalyst's
  * physical planning needed no override anywhere in this engine.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.installInto(ext)
}

object GraftExtensions {
  /** The registrars double as the injection list: each module's
    * `register(SparkSession)` uses createOrReplaceTempFunction, which
    * `injectFunction` cannot reuse directly — instead we register on
    * session START via an injected check rule (a no-op rule whose only
    * effect is idempotent function registration the first time a
    * session analyzes a plan). */
  private def installInto(ext: SparkSessionExtensions): Unit = {
    installRules(ext)
    ext.injectCheckRule { session =>
      graft.functions.VectorExprs.register(session)
      graft.functions.MinHashSignatureExpr.register(session)
      graft.functions.WinnowingExpr.register(session)
      graft.functions.BitmapExprs.register(session)
      graft.functions.TopKAgg.register(session)
      graft.functions.FunnelAggs.register(session)
      graft.functions.SequenceMatch.register(session)
      graft.functions.DorisCompat.register(session)
      graft.functions.NormalizeExprs.register(session)
      graft.functions.VecSumAgg.register(session)
      graft.functions.ShingleHashesExpr.register(session)
      graft.functions.CompressRatioExpr.register(session)
      graft.functions.KllAgg.register(session)
      graft.functions.CdcBoundariesExpr.register(session)
      graft.functions.KmvAgg.register(session)
      _ => () // the check itself never fails
    }
  }

  private def installRules(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
}
