package graft

import org.apache.spark.sql.catalyst.expressions.{Expression,
  HigherOrderFunction, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide plan guard (SURVEY §4 / the 100 TB mandate): EVERY declared
  * query's settled physical plan is checked for the failure modes that
  * sink large-scale jobs — an accidental cartesian product, or a
  * nested-loop join that wasn't an explicit, bounded-side decision —
  * and, in the optimized plan, for a higher-order function re-run per
  * element of an enclosing lambda although it reads none of that
  * lambda's variables (see [[loopInvariantHofs]]).
  * Individual plan-shape assertions live in PlanShapeSpec; this is the
  * regression net that catches a future query (or a Catalyst behavior
  * change) silently degenerating.
  */
class PlanGuardSpec extends AnyFunSuite with SparkFixture {

  /** Queries whose BroadcastNestedLoopJoin is deliberate: a 1-row probe
    * or tiny centroid/pair side broadcast against a big scan — the
    * bounded O(n²) baselines and probe patterns documented in SURVEY
    * §2.8. */
  private val intentionalBnlj = Set(
    "q_sim_topk",     // 1-row probe vector broadcast
    "q_search_rerank", // 1-row query-embedding broadcast (rerank stage)
    "q_sim_batch_topk", // KB probe-batch broadcast (the serving shape)
    "q_multimodal_ann", // 1-row probe feature broadcast (q_sim_topk shape)
    "q_ann_ivf",      // tiny centroid table crossJoin(broadcast)
    "q_tfidf",        // 1-row corpus-size scalar broadcast (cross)
    "q_text_bm25",    // 1-row corpus-stats broadcast (cross)
    "q_text_ngram_lm", // 1-row vocab-size scalar broadcast (cross)
    "q_dedup_ngram",  // 1-row doc-count + KB hot-array broadcasts (df-cut)
    "q_text_pmi",     // 1-row token/bigram total broadcasts (cross)
    "q_mix_temperature", // 1-row (N, Σ√n) scalar broadcast (cross)
    "q_select_dsir",  // 1-row (T, R) totals broadcast (cross)
    "q_basket_pairs", // 1-row basket-count scalar broadcast (cross)
    "q_vocab_build",  // 1-row token-total scalar broadcast (cross)
    "q_share_hierarchy", // 1-row corpus-total scalar broadcast (cross)
    "q_dq_freshness", // 1-row corpus-max scalar broadcast (cross)
    "q_sql_recursive", // date-spine join on a derived non-equi condition
    "q_search_rrf",   // 1-row probe-embedding + corpus-stats broadcasts
    "q_embed_cov",    // 1-row moment vector × 2080-row literal slot dim
    "q_event_dau",    // 1-row (min, max) day-bounds broadcast (cross)
    "q_agg_heavy_hitters", // 1-row token-total scalar broadcast (cross)
    "q_embed_pca_power", // 1-row norm/λ/trace scalar broadcasts (cross)
    "q_eval_ndcg",    // 4-row probe-vector broadcast (q_sim_topk shape)
    "q_embed_kmeans", // k-row centroid broadcast per Lloyd iteration
    "q_dq_tcloseness", // 5-row segment-distribution broadcast cross
    "q_agg_theil_u",  // 1-row entropy-sum scalar broadcasts (cross)
    "q_feature_target_encode", // 1-row global-prior broadcast (cross)
    "q_select_kcenter", // <=4-row center-table broadcast crosses
    "q_ts_var",       // 1-row VaR-threshold/tail-stat broadcasts (cross)
    "q_survival_km",  // 1-row corpus-max-day broadcast (cross)
    "q_ts_theilsen",  // bounded day-frame pair scan (O(days²) by
                      // declared contract) + 1-row median broadcasts
    "q_eval_kappa",   // 1-row expected-agreement broadcast (cross)
    "q_bpe_apply",    // 1-row merge-table broadcast (cross)
    "q_embed_mmr",    // 1-row probe broadcast + 16-row candidate
                      // self-join (tiny-frame nested loop by design)
    "q_select_maxcover", // 1-row covered-total broadcast (cross)
    "q_mix_epochs",   // 1-row (T, Σ√t) scalar broadcast (cross, the
                      // q_mix_temperature pattern)
    "q_sample_negatives", // KB probe-batch broadcast (q_sim_batch_topk
                      // shape, label-gated)
    "q_ann_recall",   // KB probe-batch broadcast (exact side) + the
                      // q_ann_ivf centroid cross
    "q_shard_balance", // 1-row token-total scalar broadcast (cross)
    "q_eval_mrr",     // KB probe-batch broadcast (q_sim_batch_topk
                      // shape) + 4-row best-relevant broadcast
    "q_eval_bleu",    // 1-row match-pivot × length-scalar cross
    "q_eval_chrf",    // 1-row per-n pivot × 1-row pair-meta scalar
                      // cross (the q_eval_bleu plan tree at char grain)
    "q_contamination_embed", // ≤50-row benchmark broadcast (bounded by
                      // vec_id uniqueness at every scale factor)
    "q_filter_waterfall", // 1-row doc-total broadcast cross onto the
                      // ≤6-row stage frame
    "q_eval_rbo",     // ≤100-element non-equi depth join + 1-row probe
                      // broadcast (the q_ts_theilsen bounded precedent)
    "q_dedup_sweep",  // 1-row corpus-count broadcast cross onto the
                      // ≤6-row threshold frame
    "q_graph_assortativity", // 1-row node-count broadcast cross onto
                      // the 1-row moment frame
    "q_sample_replicate", // 1-row (T, Σ√t) scalar broadcast cross (the
                      // q_mix_epochs plan tree)
    "q_eval_cluster_purity", // 1-row total/MI/entropy scalar broadcasts
                      // onto the ≤8-row cluster frame
    "q_sample_balanced", // 1-row minority-count broadcast cross (the
                      // q_mix_epochs scalar pattern)
    "q_text_burstiness", // 1-row corpus-count broadcast cross onto the
                      // 20-row top-df frame
    "q_vocab_growth", // 1-row max-id broadcast cross (slice arithmetic)
    "q_align_margin", // ≤50-row probe broadcast (q_sim_batch_topk
                      // shape) + |probes|-row forward-average broadcast
    "q_split_temporal" // 1-row (min, max) ts-bounds broadcast (cross,
                      // the q_event_dau pattern)
  )

  /** Higher-order functions nested inside a lambda that read no lambda
    * variable bound outside themselves: loop-invariant folds and
    * transforms. HOF lambdas run interpreted, with no subexpression
    * elimination, so each such HOF re-runs for every element the
    * enclosing HOF visits (an O(span) fold inside a per-hour lambda is
    * O(span²) per row). Hoist it into a column of its own, referenced
    * more than once so CollapseProject does not inline it back. */
  private def loopInvariantHofs(plan: LogicalPlan): Seq[Expression] = {
    def free(h: Expression) =
      h.collect { case v: NamedLambdaVariable => v.exprId }.toSet --
        h.collect { case l: LambdaFunction => l.arguments.map(_.exprId) }
          .flatten
    plan.collectWithSubqueries { case p => p.expressions }.flatten
      .flatMap(_.collect { case l: LambdaFunction => l.function })
      .flatMap(_.collect {
        case h: HigherOrderFunction if free(h).isEmpty => h
      })
      .distinct
  }

  // q_dedup_embed / q_dedup_cc are intentionally ABSENT: since the blocked
  // pair-join rewrite their exact pair scan is a gid equi-join and must
  // never regress to a nested loop.

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name plans without accidental cartesian/nested-loop joins") {
      val df = fn(spark, sfDir)
      df.collect() // let AQE settle on the final plan
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product:\n$plan")
      if (!intentionalBnlj(name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name picked a nested-loop join (not on the allowlist):\n$plan")
      }
      val invariant = loopInvariantHofs(df.queryExecution.optimizedPlan)
      assert(invariant.isEmpty,
        s"$name re-runs loop-invariant higher-order functions inside a " +
          s"lambda:\n${invariant.map(_.sql.take(300)).mkString("\n")}")
    }
  }
}
