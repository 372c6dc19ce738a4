package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Statistical / conditional aggregation surface (SURVEY §2.4 extension
  * rows): moment statistics, FILTER-style conditional aggregates, ordered
  * string aggregation, approximate quantiles, and deterministic hash
  * sampling.
  *
  * Extension surface — the reference's only aggregation-shaped act is the
  * bounded `max_num_records=3` read (/root/reference/main.py:106); all of
  * this is the BASELINE.json relational mandate.
  *
  * Scale notes (100 TB):
  *   - every aggregate here is algebraic (partial + final hash agg,
  *     map-side combine) — one shuffle keyed by the group column;
  *   - `q_sample_hash` is THE pattern for reproducible sampling at scale:
  *     a pure row-local predicate on a stable key hash — no shuffle, no
  *     coordination, the filter runs inside the scan stage, and every
  *     engine that implements md5 draws the identical sample;
  *   - `q_approx_quantile` (exact two-phase range-partitioned rank since
  *     round 14) never concentrates a group in one task; its GK-sketch
  *     sibling [[approxQuantileSketch]] stays the bounded-memory
  *     single-shuffle path when rank error 1e-4 is acceptable.
  */
object StatsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_stats"       -> aggStats _,
    "q_cond_agg"        -> condAgg _,
    "q_agg_strings"     -> aggStrings _,
    "q_approx_quantile" -> approxQuantile _,
    "q_sample_hash"     -> sampleHash _,
    "q_sample_stratified" -> sampleStratified _,
    "q_agg_sketch"      -> aggSketch _,
    "q_agg_mode"        -> aggMode _,
    "q_event_funnel"    -> eventFunnel _,
    "q_agg_linreg"      -> aggLinreg _,
    "q_agg_weighted"    -> aggWeighted _,
    "q_feature_scale"   -> featureScale _,
    "q_agg_corr_pairs"  -> aggCorrPairs _,
    "q_agg_skewkurt"    -> aggSkewKurt _,
    "q_agg_chisq"       -> aggChisq _,
    "q_agg_ks"          -> aggKs _,
    "q_agg_mannwhitney" -> aggMannWhitney _,
    "q_agg_gini"        -> aggGini _,
    "q_agg_mad"         -> aggMad _,
    "q_agg_argmax"      -> aggArgmax _,
    "q_agg_hist"        -> aggHist _,
    "q_cohort_retention" -> cohortRetention _,
    "q_session_stats"   -> sessionStats _,
    "q_rfm"             -> rfm _,
    "q_basket_pairs"    -> basketPairs _,
    "q_agg_winsor"      -> aggWinsor _,
    "q_attribution"     -> attribution _,
    "q_growth_accounting" -> growthAccounting _,
    "q_audience_overlap" -> audienceOverlap _,
    "q_transition_matrix" -> transitionMatrix _,
    "q_funnel_timing"   -> funnelTiming _,
    "q_agg_spearman"    -> aggSpearman _,
    "q_agg_ttest"       -> aggTtest _,
    "q_agg_benford"     -> aggBenford _,
    "q_agg_cramer_v"    -> aggCramerV _,
    "q_event_dau"       -> eventDau _,
    "q_agg_bootstrap_ci" -> aggBootstrapCi _,
    "q_event_paths"     -> eventPaths _,
    "q_ab_test"         -> abTest _,
    "q_revenue_concentration" -> revenueConcentration _,
    "q_agg_hhi"         -> aggHhi _,
    "q_agg_anova"       -> aggAnova _,
    "q_agg_kendall"     -> aggKendall _,
    "q_agg_theil_u"     -> aggTheilU _,
    "q_survival_km"     -> survivalKm _,
    "q_agg_effectsize"  -> aggEffectSize _,
    "q_agg_ratio_delta" -> aggRatioDelta _,
    "q_sample_balanced" -> sampleBalanced _
  )

  val oracle: Map[String, String] = Map(
    // Per-customer dollar/count moments exact BIGINT; ratios/SEs/z one
    // shared tree with the SAME branchless denominator floors as the
    // Spark side; degenerate arms NULL via identical guards.
    "q_agg_ratio_delta" ->
      """WITH pc AS (
        |  SELECT CASE WHEN substr(md5(o_custkey::VARCHAR), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7')
        |    THEN 'A' ELSE 'B' END AS variant,
        |    CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
        |      AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM orders GROUP BY o_custkey),
        |m AS (
        |  SELECT
        |    CAST(count(CASE WHEN variant = 'A' THEN 1 END) AS BIGINT)
        |      AS n_a,
        |    CAST(coalesce(sum(CASE WHEN variant = 'A' THEN x END), 0)
        |      AS BIGINT) AS sx_a,
        |    CAST(coalesce(sum(CASE WHEN variant = 'A' THEN y END), 0)
        |      AS BIGINT) AS sy_a,
        |    CAST(coalesce(sum(CASE WHEN variant = 'A' THEN x * x END), 0)
        |      AS BIGINT) AS sxx_a,
        |    CAST(coalesce(sum(CASE WHEN variant = 'A' THEN y * y END), 0)
        |      AS BIGINT) AS syy_a,
        |    CAST(coalesce(sum(CASE WHEN variant = 'A' THEN x * y END), 0)
        |      AS BIGINT) AS sxy_a,
        |    CAST(count(CASE WHEN variant = 'B' THEN 1 END) AS BIGINT)
        |      AS n_b,
        |    CAST(coalesce(sum(CASE WHEN variant = 'B' THEN x END), 0)
        |      AS BIGINT) AS sx_b,
        |    CAST(coalesce(sum(CASE WHEN variant = 'B' THEN y END), 0)
        |      AS BIGINT) AS sy_b,
        |    CAST(coalesce(sum(CASE WHEN variant = 'B' THEN x * x END), 0)
        |      AS BIGINT) AS sxx_b,
        |    CAST(coalesce(sum(CASE WHEN variant = 'B' THEN y * y END), 0)
        |      AS BIGINT) AS syy_b,
        |    CAST(coalesce(sum(CASE WHEN variant = 'B' THEN x * y END), 0)
        |      AS BIGINT) AS sxy_b
        |  FROM pc),
        |t AS (
        |  SELECT *,
        |    CAST(sx_a AS DOUBLE) / (CASE WHEN CAST(sy_a AS DOUBLE) > 0
        |      THEN CAST(sy_a AS DOUBLE) ELSE 1.0 END) AS r_a,
        |    CAST(sx_b AS DOUBLE) / (CASE WHEN CAST(sy_b AS DOUBLE) > 0
        |      THEN CAST(sy_b AS DOUBLE) ELSE 1.0 END) AS r_b,
        |    CASE WHEN n_a > 1 THEN CAST(n_a AS DOUBLE) ELSE 2.0 END
        |      AS dn_a,
        |    CASE WHEN n_b > 1 THEN CAST(n_b AS DOUBLE) ELSE 2.0 END
        |      AS dn_b
        |  FROM m),
        |v AS (
        |  SELECT *,
        |    ((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE)
        |        * CAST(sx_a AS DOUBLE) / dn_a)
        |      - 2.0 * r_a * (CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE)
        |        * CAST(sy_a AS DOUBLE) / dn_a)
        |      + r_a * r_a * (CAST(syy_a AS DOUBLE)
        |        - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE) / dn_a))
        |    / ((dn_a - 1.0) * dn_a * (CASE WHEN
        |        (CAST(sy_a AS DOUBLE) / dn_a) * (CAST(sy_a AS DOUBLE)
        |          / dn_a) > 0
        |        THEN (CAST(sy_a AS DOUBLE) / dn_a)
        |          * (CAST(sy_a AS DOUBLE) / dn_a) ELSE 1.0 END))
        |      AS se2_a,
        |    ((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE)
        |        * CAST(sx_b AS DOUBLE) / dn_b)
        |      - 2.0 * r_b * (CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE)
        |        * CAST(sy_b AS DOUBLE) / dn_b)
        |      + r_b * r_b * (CAST(syy_b AS DOUBLE)
        |        - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE) / dn_b))
        |    / ((dn_b - 1.0) * dn_b * (CASE WHEN
        |        (CAST(sy_b AS DOUBLE) / dn_b) * (CAST(sy_b AS DOUBLE)
        |          / dn_b) > 0
        |        THEN (CAST(sy_b AS DOUBLE) / dn_b)
        |          * (CAST(sy_b AS DOUBLE) / dn_b) ELSE 1.0 END))
        |      AS se2_b
        |  FROM t)
        |SELECT n_a, n_b, sy_a AS orders_a, sy_b AS orders_b,
        |  CASE WHEN n_a > 1 AND sy_a > 0 THEN round(r_a, 4) END
        |    AS ratio_a,
        |  CASE WHEN n_b > 1 AND sy_b > 0 THEN round(r_b, 4) END
        |    AS ratio_b,
        |  CASE WHEN n_a > 1 AND sy_a > 0 THEN round(sqrt(se2_a), 6) END
        |    AS se_a,
        |  CASE WHEN n_b > 1 AND sy_b > 0 THEN round(sqrt(se2_b), 6) END
        |    AS se_b,
        |  CASE WHEN n_a > 1 AND sy_a > 0 AND n_b > 1 AND sy_b > 0
        |    THEN round(r_a - r_b, 4) END AS diff,
        |  CASE WHEN n_a > 1 AND sy_a > 0 AND n_b > 1 AND sy_b > 0
        |      AND se2_a + se2_b > 0
        |    THEN round((r_a - r_b) / (CASE WHEN sqrt(se2_a + se2_b) > 0
        |      THEN sqrt(se2_a + se2_b) ELSE 1.0 END), 4) END AS z
        |FROM v""".stripMargin,
    // Both groups' moments exact BIGINT dollars from one conditional
    // scan; pooled sd / d / g one shared IEEE tree; degenerate variance
    // declared NULL via the exact HUGEINT compare.
    "q_agg_effectsize" ->
      """WITH m AS (
        |  SELECT
        |    CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
        |      AS BIGINT) AS n1,
        |    CAST(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS s1,
        |    CAST(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT)
        |        * CAST(round(o_totalprice, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS q1,
        |    CAST(count(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1
        |      END) AS BIGINT) AS n2,
        |    CAST(coalesce(sum(CASE WHEN o_orderpriority <> '1-URGENT'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS s2,
        |    CAST(coalesce(sum(CASE WHEN o_orderpriority <> '1-URGENT'
        |      THEN CAST(round(o_totalprice, 0) AS BIGINT)
        |        * CAST(round(o_totalprice, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS q2
        |  FROM orders)
        |SELECT n1, n2,
        |  CASE WHEN n1 > 0 THEN
        |    round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 4)
        |    END AS mean_urgent,
        |  CASE WHEN n2 > 0 THEN
        |    round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 4)
        |    END AS mean_other,
        |  CASE WHEN CAST(n1 AS HUGEINT) * q1 > CAST(s1 AS HUGEINT) * s1
        |      OR CAST(n2 AS HUGEINT) * q2 > CAST(s2 AS HUGEINT) * s2 THEN
        |    round(sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
        |        * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
        |      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)), 4)
        |    END AS pooled_sd,
        |  CASE WHEN CAST(n1 AS HUGEINT) * q1 > CAST(s1 AS HUGEINT) * s1
        |      OR CAST(n2 AS HUGEINT) * q2 > CAST(s2 AS HUGEINT) * s2 THEN
        |    round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |      / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |          * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |        + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
        |          * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
        |        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)), 6)
        |    END AS cohens_d,
        |  CASE WHEN CAST(n1 AS HUGEINT) * q1 > CAST(s1 AS HUGEINT) * s1
        |      OR CAST(n2 AS HUGEINT) * q2 > CAST(s2 AS HUGEINT) * s2 THEN
        |    round(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |      / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |          * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |        + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
        |          * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
        |        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)))
        |      * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE)
        |        + CAST(n2 AS DOUBLE)) - 9.0)), 6)
        |    END AS hedges_g
        |FROM m""".stripMargin,
    // Risk sets and event counts are exact integers under the duration
    // total order; each hazard term ln((n-d)/n) is quantized to 1e-6-nat
    // BIGINT units BEFORE the cumulative sum (the q_select_dsir
    // discipline: the running log-survival is an exact integer, ORDER-
    // INDEPENDENT), exp applied once per row to the identical double.
    "q_survival_km" ->
      """WITH day AS (
        |  SELECT o_custkey,
        |    min(epoch_us(o_orderdate) // 86400000000) AS f,
        |    max(epoch_us(o_orderdate) // 86400000000) AS l
        |  FROM orders GROUP BY 1),
        |md AS (SELECT max(l) AS maxd FROM day),
        |obs AS (
        |  SELECT CASE WHEN d.l < m.maxd - 60 THEN d.l - d.f
        |              ELSE m.maxd - d.f END AS dur,
        |    CASE WHEN d.l < m.maxd - 60 THEN 1 ELSE 0 END AS evt
        |  FROM day d, md m),
        |bydur AS (
        |  SELECT dur, CAST(sum(evt) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS nt
        |  FROM obs GROUP BY 1),
        |risk AS (
        |  SELECT dur, d, nt,
        |    CAST(sum(nt) OVER () - sum(nt) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + nt
        |      AS BIGINT) AS n_risk
        |  FROM bydur),
        |terms AS (
        |  SELECT dur, d, nt, n_risk,
        |    CASE WHEN d < n_risk THEN
        |      CAST(round(1000000.0 * ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)), 0) AS BIGINT) END AS units,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
        |  FROM risk),
        |cum AS (
        |  SELECT dur, d, nt, n_risk,
        |    CAST(sum(units) OVER w AS BIGINT) AS cum_units,
        |    CAST(max(dead) OVER w AS INT) AS all_dead
        |  FROM terms
        |  WINDOW w AS (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT dur AS dur_days, n_risk, d AS d_events,
        |  CAST(nt - d AS BIGINT) AS n_censored,
        |  CASE WHEN all_dead = 0
        |    THEN round(CAST(cum_units AS DOUBLE) / 1000000.0, 6)
        |    END AS log_surv,
        |  CASE WHEN all_dead = 0
        |    THEN round(exp(CAST(cum_units AS DOUBLE) / 1000000.0), 6)
        |    ELSE 0.0 END AS surv
        |FROM cum WHERE d > 0 ORDER BY dur_days""".stripMargin,
    // Moment statistics agree to well past 4 dp between engines (both
    // accumulate in double; merge-order differences are ~1e-9 relative).
    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // events.value has thousands of duplicate values — the argmax carries
    // event_id in the comparison struct so ties break deterministically.
    "q_cond_agg" ->
      """SELECT event_type,
        |  count(*) FILTER (WHERE value > 0.5) AS n_high,
        |  bool_or(value > 0.9) AS any_vhigh,
        |  bool_and(value >= 0) AS all_nonneg,
        |  (max(struct_pack(value := value, event_id := event_id))).event_id
        |    AS top_event_id
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_agg_strings" ->
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,
    // Mode with a DETERMINISTIC tiebreak: min over (-count, value)
    // structs picks highest count, then lexicographically smallest value
    // — both engines' bare mode() is tie-arbitrary and unusable under
    // hash comparison.
    "q_agg_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id,
        |  (min(struct_pack(nn := -n, et := event_type))).et AS top_type,
        |  max(n) AS top_n
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Exact interpolated quantiles since round 14 (the GK sketch moved
    // to the spec-only approxQuantileSketch variant): quantile_cont is
    // the identical h=(n−1)p lerp, so the hash matches.
    "q_approx_quantile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sample_hash" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE substr(md5(l_orderkey::VARCHAR || '_' ||
        |        l_linenumber::VARCHAR), 1, 1) IN ('0', '1')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Same hash, same per-stratum hex-prefix rates: en docs keep 1/16,
    // every other language 1/2 — the rebalancing downsample.
    "q_sample_stratified" ->
      """WITH flagged AS (
        |  SELECT lang,
        |    CASE WHEN lang = 'en'
        |         THEN substr(md5(doc_id::VARCHAR), 1, 1) = '0'
        |         ELSE substr(md5(doc_id::VARCHAR), 1, 1)
        |              IN ('0','1','2','3','4','5','6','7')
        |    END AS keep
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_sampled,
        |  round(CAST(count(*) FILTER (WHERE keep) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 4) AS realized_rate
        |FROM flagged GROUP BY lang ORDER BY lang""".stripMargin,
    // Funnel stage per user: first view, first click AT OR AFTER that
    // view, first purchase at or after that click. Timestamps in the
    // testdata carry no sub-microsecond precision (Tables.scala), so the
    // µs-truncated Spark comparisons agree with DuckDB's ns ones.
    "q_event_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.v_ts
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        |  GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CASE WHEN p.user_id IS NOT NULL THEN '3_purchase'
        |            WHEN c.user_id IS NOT NULL THEN '2_click'
        |            WHEN v.user_id IS NOT NULL THEN '1_view'
        |            ELSE '0_none' END AS stage,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id)
        |GROUP BY stage ORDER BY stage""".stripMargin,
    // Same exact-integer moments + identical double expression tree as
    // the Spark side (see [[aggLinreg]]): sums are exact (HUGEINT here,
    // DECIMAL(38,0) there), doubles correctly rounded from the same
    // integers through the same ops — the match is IEEE-exact.
    "q_agg_linreg" ->
      """WITH xy AS (
        |  SELECT o_orderpriority AS prio,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS x,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
        |  FROM orders),
        |g AS (
        |  SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) AS DOUBLE) AS cd,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM xy GROUP BY prio),
        |m AS (
        |  SELECT prio, n, cd, sx, sy,
        |    cd * sxy - sx * sy AS covn,
        |    cd * sxx - sx * sx AS varx,
        |    cd * syy - sy * sy AS vary
        |  FROM g),
        |fit AS (SELECT prio, n, cd, sx, sy, covn, varx, vary,
        |    covn / varx AS slope FROM m)
        |SELECT prio AS o_orderpriority, n,
        |  round(slope, 6) AS slope_cents_day,
        |  round((sy - slope * sx) / cd, 2) AS intercept_cents,
        |  round((covn * covn) / (varx * vary), 6) AS r2
        |FROM fit ORDER BY o_orderpriority""".stripMargin,
    // Exact-integer weighted moments (see [[aggWeighted]]); HUGEINT sums
    // here mirror the Spark side's DECIMAL(38,0).
    "q_agg_weighted" ->
      """WITH wp AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS w,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS sum_qty,
        |    CAST(sum(w) AS DOUBLE) AS sw,
        |    CAST(sum(w * p) AS DOUBLE) AS swp,
        |    CAST(sum(w * p * p) AS DOUBLE) AS swpp
        |  FROM wp GROUP BY l_returnflag)
        |SELECT l_returnflag, sum_qty,
        |  round(swp / sw, 4) AS wavg_cents,
        |  round(sqrt((sw * swpp - swp * swp) / (sw * sw)), 4)
        |    AS wsd_cents
        |FROM g ORDER BY l_returnflag""".stripMargin,
    // min/max are exact selections (no accumulation); the per-row scale
    // arithmetic is a single IEEE expression on identical inputs.
    "q_feature_scale" ->
      """WITH mm AS (
        |  SELECT event_type, min(value) AS vmin, max(value) AS vmax
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |  CASE WHEN m.vmax > m.vmin THEN
        |    round((e.value - m.vmin) / (m.vmax - m.vmin), 6)
        |  END AS value_scaled
        |FROM events e JOIN mm m USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    // Same exact-integer moment matrix as the Spark side (q_agg_linreg's
    // recipe applied pairwise); corr() itself would be accumulation-
    // order-dependent.
    "q_agg_corr_pairs" ->
      """WITH v AS (
        |  SELECT l_returnflag AS f,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS dd
        |  FROM lineitem),
        |g AS (
        |  SELECT f, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) AS DOUBLE) AS c,
        |    CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
        |    CAST(sum(dd) AS DOUBLE) AS sd,
        |    CAST(sum(q * q) AS DOUBLE) AS sqq,
        |    CAST(sum(p * p) AS DOUBLE) AS spp,
        |    CAST(sum(dd * dd) AS DOUBLE) AS sdd,
        |    CAST(sum(q * p) AS DOUBLE) AS sqp,
        |    CAST(sum(q * dd) AS DOUBLE) AS sqd,
        |    CAST(sum(p * dd) AS DOUBLE) AS spd
        |  FROM v GROUP BY f)
        |SELECT f AS l_returnflag, n,
        |  round((c * sqp - sq * sp)
        |    / (sqrt(c * sqq - sq * sq) * sqrt(c * spp - sp * sp)), 6)
        |    AS corr_qty_price,
        |  round((c * sqd - sq * sd)
        |    / (sqrt(c * sqq - sq * sq) * sqrt(c * sdd - sd * sd)), 6)
        |    AS corr_qty_disc,
        |  round((c * spd - sp * sd)
        |    / (sqrt(c * spp - sp * sp) * sqrt(c * sdd - sd * sd)), 6)
        |    AS corr_price_disc
        |FROM g ORDER BY l_returnflag""".stripMargin,
    // The deterministic argmax: row_number over (balance DESC, suppkey
    // ASC) = the same total order as Spark's max(struct(bal, −key)) —
    // ties cannot diverge the engines because the key breaks them.
    "q_agg_argmax" ->
      """WITH r AS (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |    row_number() OVER (PARTITION BY s_nationkey
        |      ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
        |  FROM supplier)
        |SELECT s_nationkey AS nationkey,
        |  s_suppkey AS best_suppkey, s_acctbal AS best_acctbal
        |FROM r WHERE rn = 1 ORDER BY nationkey""".stripMargin,
    // Same exact-integer-moment recipe as q_agg_corr_pairs, extended to
    // 3rd/4th powers. pow() is deliberately absent — libm pow differs in
    // last ulps between engines; every term uses only * / sqrt (IEEE
    // correctly-rounded in both), with identical parenthesization.
    "q_agg_skewkurt" ->
      """WITH v AS (
        |  SELECT l_returnflag AS f,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q
        |  FROM lineitem),
        |g AS (
        |  SELECT f, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) AS DOUBLE) AS c,
        |    CAST(sum(q) AS DOUBLE) AS s1,
        |    CAST(sum(q * q) AS DOUBLE) AS s2,
        |    CAST(sum(q * q * q) AS DOUBLE) AS s3,
        |    CAST(sum(q * q * q * q) AS DOUBLE) AS s4
        |  FROM v GROUP BY f),
        |m AS (
        |  SELECT f, n,
        |    s1 / c AS mean,
        |    s2 / c - (s1 / c) * (s1 / c) AS m2,
        |    s3 / c - 3 * (s1 / c) * (s2 / c)
        |      + 2 * (s1 / c) * (s1 / c) * (s1 / c) AS m3,
        |    s4 / c - 4 * (s1 / c) * (s3 / c)
        |      + 6 * (s1 / c) * (s1 / c) * (s2 / c)
        |      - 3 * (s1 / c) * (s1 / c) * (s1 / c) * (s1 / c) AS m4
        |  FROM g)
        |SELECT f AS l_returnflag, n,
        |  round(mean, 4) AS mean_qty,
        |  round(m3 / (m2 * sqrt(m2)), 4) AS skew_qty,
        |  round(m4 / (m2 * m2) - 3, 4) AS kurt_qty
        |FROM m ORDER BY l_returnflag""".stripMargin,
    // Exact BIGINT contingency counts; expected/contrib emitted
    // UNROUNDED (one shared * - / tree → bit-identical); only the
    // 15-term χ² window sum is rounded (accumulation order differs).
    // r is CAST to DOUBLE before the product so no engine computes an
    // integer r*c (BIGINT overflow at 100 TB marginals in one engine,
    // HUGEINT in the other).
    "q_agg_chisq" ->
      """WITH cells AS (
        |  SELECT o_orderstatus AS status, o_orderpriority AS pri,
        |    CAST(count(*) AS BIGINT) AS obs
        |  FROM orders GROUP BY 1, 2),
        |tot AS (
        |  SELECT status, pri, obs,
        |    CAST(sum(obs) OVER (PARTITION BY status) AS BIGINT) AS r,
        |    CAST(sum(obs) OVER (PARTITION BY pri) AS BIGINT) AS c,
        |    CAST(sum(obs) OVER () AS BIGINT) AS n
        |  FROM cells),
        |ex AS (
        |  SELECT *, CAST(r AS DOUBLE) * c / n AS expected FROM tot),
        |ct AS (
        |  SELECT *,
        |    (obs - expected) * (obs - expected) / expected AS contrib
        |  FROM ex)
        |SELECT status, pri, obs, r, c, expected, contrib,
        |  round(sum(contrib) OVER (), 4) AS chi2
        |FROM ct ORDER BY status, pri""".stripMargin,
    // Exact-integer KS: D's numerator |cum1·n2 − cum2·n1| stays in
    // HUGEINT (decimal(38,0) on the Spark side) so nothing rounds
    // before the single final division of exact operands — which is
    // correctly rounded IEEE in both engines, hence bit-identical
    // UNROUNDED. Argmax value via the deterministic (diff DESC, q ASC)
    // rank.
    "q_agg_ks" ->
      """WITH v AS (
        |  SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in1,
        |    CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in2
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |c AS (
        |  SELECT q, CAST(sum(in1) AS BIGINT) AS c1,
        |    CAST(sum(in2) AS BIGINT) AS c2
        |  FROM v GROUP BY q),
        |e AS (
        |  SELECT q,
        |    CAST(sum(c1) OVER (ORDER BY q) AS BIGINT) AS cum1,
        |    CAST(sum(c2) OVER (ORDER BY q) AS BIGINT) AS cum2,
        |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(c2) OVER () AS BIGINT) AS n2
        |  FROM c),
        |d AS (
        |  SELECT q, n1, n2,
        |    abs(CAST(cum1 AS HUGEINT) * n2
        |      - CAST(cum2 AS HUGEINT) * n1) AS diff
        |  FROM e),
        |m AS (
        |  SELECT q, n1, n2, diff,
        |    row_number() OVER (ORDER BY diff DESC, q ASC) AS rn
        |  FROM d)
        |SELECT n1, n2, q AS ks_at,
        |  CAST(diff AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) AS ks
        |FROM m WHERE rn = 1""".stripMargin,
    // Exact-integer Mann–Whitney: tie-averaged ranks carried in HALF-
    // UNITS (2·cumlt + ct + 1 is always integral), rank sum / U₁ / tie
    // term Σ(t³−t) all HUGEINT; the closed form uses only ÷ and sqrt on
    // exact operands — bit-identical, emitted unrounded.
    "q_agg_mannwhitney" ->
      """WITH v AS (
        |  SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in1,
        |    CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in2
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |c AS (
        |  SELECT q, CAST(sum(in1) AS BIGINT) AS c1,
        |    CAST(sum(in2) AS BIGINT) AS c2,
        |    CAST(sum(in1) + sum(in2) AS BIGINT) AS ct
        |  FROM v GROUP BY q),
        |r AS (
        |  SELECT q, c1, c2, ct,
        |    2 * CAST(coalesce(sum(ct) OVER (ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) + ct + 1 AS avgrank2
        |  FROM c),
        |m AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2,
        |    CAST(sum(CAST(c1 AS HUGEINT) * avgrank2) AS HUGEINT) AS r1two,
        |    CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) AS t3
        |  FROM r),
        |u AS (
        |  SELECT n1, n2,
        |    r1two - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1two,
        |    CAST(n1 AS HUGEINT) * n2 AS a,
        |    CAST(n1 + n2 AS HUGEINT) AS n, t3
        |  FROM m)
        |SELECT n1, n2,
        |  CAST(u1two AS DOUBLE) / 2 AS u1,
        |  CAST(a - u1two AS DOUBLE) / CAST(a AS DOUBLE) AS r_rb,
        |  (CAST(u1two - a AS DOUBLE) / 2)
        |    / sqrt(CAST(a AS DOUBLE)
        |      * (CAST((n + 1) * n * (n - 1) - t3 AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE)) / 12) AS z
        |FROM u""".stripMargin,
    // Exact-integer Gini via the mean-difference identity over cents;
    // row_number positions among equal cents are interchangeable (equal
    // x makes Σ i·xᵢ invariant), so the per-group sort is deterministic
    // in value. One double division per output column.
    "q_agg_gini" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    o_orderkey AS k
        |  FROM orders),
        |r AS (
        |  SELECT pri, cents,
        |    row_number() OVER (PARTITION BY pri
        |      ORDER BY cents ASC, k ASC) AS i,
        |    row_number() OVER (PARTITION BY pri
        |      ORDER BY cents DESC, k DESC) AS j,
        |    count(*) OVER (PARTITION BY pri) AS cnt
        |  FROM o),
        |g AS (
        |  SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS HUGEINT) AS s,
        |    CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS w,
        |    CAST(sum(CASE WHEN j <= cnt // 10 THEN cents ELSE 0 END)
        |      AS HUGEINT) AS t10
        |  FROM r GROUP BY pri)
        |SELECT pri, n, CAST(s AS BIGINT) AS total_cents,
        |  CAST(2 * w - (n + 1) * s AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * s AS DOUBLE) AS gini,
        |  CAST(t10 AS DOUBLE) / CAST(s AS DOUBLE) AS top10_share
        |FROM g ORDER BY pri""".stripMargin,
    // Exact-interpolation robust stats: integer cents make every
    // quantile position a quarter fraction and every interpolated value
    // a dyadic rational below 2^53 — bit-identical unrounded across
    // engines (quantile_cont and Spark's percentile share the linear-
    // interpolation definition).
    "q_agg_mad" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |med AS (
        |  SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |    quantile_cont(cents, 0.50) AS median_cents,
        |    quantile_cont(cents, 0.75) - quantile_cont(cents, 0.25)
        |      AS iqr_cents
        |  FROM o GROUP BY pri),
        |dev AS (
        |  SELECT o.pri, abs(o.cents - m.median_cents) AS adev
        |  FROM o JOIN med m ON o.pri = m.pri)
        |SELECT m.pri, m.n, m.median_cents, d.mad_cents, m.iqr_cents
        |FROM med m JOIN (
        |  SELECT pri, quantile_cont(adev, 0.50) AS mad_cents
        |  FROM dev GROUP BY pri) d ON m.pri = d.pri
        |ORDER BY m.pri""".stripMargin,
    // Integer bin arithmetic end-to-end — no width_bucket (absent in
    // one engine, float-boundary-risky in both).
    "q_agg_hist" ->
      """WITH b AS (
        |  SELECT o_orderpriority,
        |    least(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |      // 5000000, 11) AS bin
        |  FROM orders)
        |SELECT o_orderpriority, bin, bin * 5000000 AS bin_lo_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY o_orderpriority, bin
        |ORDER BY o_orderpriority, bin""".stripMargin,
    // Integer epoch-weeks (no calendar), exact distinct counts, one
    // final exact-integer division.
    "q_cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |first AS (
        |  SELECT user_id, min(week) AS w0 FROM uw GROUP BY user_id),
        |sizes AS (
        |  SELECT w0, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM first GROUP BY w0),
        |act AS (
        |  SELECT f.w0, uw.week - f.w0 AS off,
        |    CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_active
        |  FROM uw JOIN first f USING (user_id)
        |  GROUP BY f.w0, uw.week - f.w0)
        |SELECT a.w0 AS cohort_week, a.off AS week_offset, a.n_active,
        |  s.cohort_size,
        |  round(CAST(a.n_active AS DOUBLE)
        |    / CAST(s.cohort_size AS DOUBLE), 4) AS retention
        |FROM act a JOIN sizes s USING (w0)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // Same gaps-and-islands session derivation as q_batch_session's
    // twin (30-min gap), aggregated to per-user summaries; every
    // numerator/denominator is an exact integer before the one
    // division.
    "q_session_stats" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts)
        |        - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                  ORDER BY epoch_us(ts))
        |        > 1800000000 THEN 1
        |      WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                   ORDER BY epoch_us(ts))
        |        IS NULL THEN 1
        |      ELSE 0 END AS brk
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us) AS sid
        |  FROM o),
        |per AS (
        |  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_ev,
        |    max(ts_us) - min(ts_us) AS dur_us
        |  FROM sess GROUP BY user_id, sid)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events,
        |  round(CAST(sum(n_ev) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
        |    AS avg_events,
        |  round(CAST(sum(dur_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000, 4) AS avg_dur_sec
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Same quintile construction: both engines' ntile is the SQL-standard
    // one (first n mod 5 buckets take the extra row) over the identical
    // total order (metric, custkey) — no tie ambiguity, no float compare.
    // Cents stay BIGINT until the final /100 (HUGEINT cast back); the
    // 2dp round of an exact-cents quotient is boundary-free.
    "q_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey AS c_custkey,
        |    max(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |rec AS (
        |  SELECT c_custkey,
        |    max(last_day) OVER () - last_day AS recency_days,
        |    frequency, cents
        |  FROM per),
        |sc AS (
        |  SELECT c_custkey, recency_days, frequency, cents,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey)
        |         AS INT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, c_custkey)
        |         AS INT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY cents, c_custkey)
        |         AS INT) AS m_score
        |  FROM rec)
        |SELECT c_custkey, recency_days, frequency,
        |  round(CAST(cents AS DOUBLE) / 100, 2) AS monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'loyal'
        |       WHEN r_score >= 4 AND f_score <= 2 THEN 'recent'
        |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
        |       WHEN r_score <= 2 AND f_score <= 2 THEN 'lapsed'
        |       ELSE 'regular' END AS segment
        |FROM sc ORDER BY c_custkey""".stripMargin,

    // Same basket → distinct-item → within-basket pair derivation; all
    // counts exact BIGINT, lift/support one shared IEEE expression each.
    "q_basket_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |n AS (
        |  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets
        |  FROM items),
        |cnt AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS cnt
        |  FROM items GROUP BY pk),
        |pairs AS (
        |  SELECT a.pk AS item_a, b.pk AS item_b,
        |    CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM items a JOIN items b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, p.pair_cnt,
        |  ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  round(CAST(p.pair_cnt AS DOUBLE) / CAST(n.n_baskets AS DOUBLE),
        |        6) AS support,
        |  round(CAST(p.pair_cnt AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)
        |    / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)), 4)
        |    AS lift
        |FROM pairs p
        |CROSS JOIN n
        |JOIN cnt ca ON p.item_a = ca.pk
        |JOIN cnt cb ON p.item_b = cb.pk
        |WHERE p.pair_cnt >= 2
        |ORDER BY p.pair_cnt DESC, p.item_a, p.item_b""".stripMargin,

    // Same dyadic ⅛-tail bounds (quantile_cont ≡ Spark percentile on
    // 1/8-fraction positions — exact dyadic rationals, like q_agg_mad's
    // quarter fractions), same exact mid-sum/count decomposition, one
    // shared IEEE expression for each mean.
    "q_agg_winsor" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |q AS (
        |  SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS tot_sum,
        |    quantile_cont(cents, 0.125) AS p_lo_cents,
        |    quantile_cont(cents, 0.875) AS p_hi_cents
        |  FROM o GROUP BY pri),
        |cl AS (
        |  SELECT o.pri,
        |    CAST(sum(CASE WHEN cents >= p_lo_cents
        |                   AND cents <= p_hi_cents
        |                  THEN cents ELSE 0 END) AS BIGINT) AS mid_sum,
        |    CAST(count(*) FILTER (WHERE cents < p_lo_cents) AS BIGINT)
        |      AS n_low,
        |    CAST(count(*) FILTER (WHERE cents > p_hi_cents) AS BIGINT)
        |      AS n_high
        |  FROM o JOIN q ON o.pri = q.pri GROUP BY o.pri)
        |SELECT q.pri, q.n, q.p_lo_cents, q.p_hi_cents,
        |  cl.n_low, cl.n_high,
        |  round(CAST(q.tot_sum AS DOUBLE) / q.n, 4) AS raw_mean_cents,
        |  round((CAST(cl.mid_sum AS DOUBLE)
        |      + cl.n_low * q.p_lo_cents + cl.n_high * q.p_hi_cents)
        |    / q.n, 4) AS winsor_mean_cents
        |FROM q JOIN cl ON q.pri = cl.pri
        |ORDER BY q.pri""".stripMargin,

    // Same single-sort derivation: per-user (ts, event_id) order, the
    // last preceding touch via IGNORE NULLS windows over the 1-PRECEDING
    // frame; all comparisons exact integers (epoch-µs, ids).
    "q_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |    event_type IN ('click', 'view') AS is_touch
        |  FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')),
        |lt AS (
        |  SELECT event_id, ts_us, user_id, event_type,
        |    last_value(CASE WHEN is_touch THEN ts_us END IGNORE NULLS)
        |      OVER w AS t_ts_us,
        |    last_value(CASE WHEN is_touch THEN event_id END IGNORE NULLS)
        |      OVER w AS touch_id,
        |    last_value(CASE WHEN is_touch THEN event_type END
        |      IGNORE NULLS) OVER w AS touch_type
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS purchase_id, user_id, ts_us AS purchase_ts_us,
        |  CASE WHEN ts_us - t_ts_us <= 604800000000
        |       THEN touch_id END AS touch_id,
        |  CASE WHEN ts_us - t_ts_us <= 604800000000
        |       THEN touch_type END AS touch_type,
        |  CASE WHEN ts_us - t_ts_us <= 604800000000
        |       THEN ts_us - t_ts_us END AS gap_us,
        |  coalesce(ts_us - t_ts_us <= 604800000000, FALSE) AS attributed
        |FROM lt WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    // Same per-user lag/lead classification over the distinct (user,
    // week) frame, same prev-week self-join for the retention rate; all
    // counts exact, one rounded division.
    "q_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |cls AS (
        |  SELECT user_id, week,
        |    lag(week) OVER w AS lagw, lead(week) OVER w AS leadw
        |  FROM uw
        |  WINDOW w AS (PARTITION BY user_id ORDER BY week)),
        |wk AS (
        |  SELECT week,
        |    CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(count(*) FILTER (WHERE lagw IS NULL) AS BIGINT)
        |      AS n_new,
        |    CAST(count(*) FILTER (WHERE lagw = week - 1) AS BIGINT)
        |      AS n_retained,
        |    CAST(count(*) FILTER (WHERE lagw IS NOT NULL
        |      AND lagw < week - 1) AS BIGINT) AS n_resurrected,
        |    CAST(count(*) FILTER (WHERE leadw IS NULL
        |      OR leadw > week + 1) AS BIGINT) AS n_inactive_next
        |  FROM cls GROUP BY week)
        |SELECT c.week, c.n_active, c.n_new, c.n_retained,
        |  c.n_resurrected, c.n_inactive_next,
        |  round(CAST(c.n_retained AS DOUBLE)
        |    / CAST(p.n_active AS DOUBLE), 4) AS retention_rate
        |FROM wk c LEFT JOIN wk p ON p.week = c.week - 1
        |ORDER BY c.week""".stripMargin,

    // Same distinct (type, user) reduce, same user-keyed pair join; all
    // set cardinalities exact BIGINT, one rounded division per measure.
    "q_audience_overlap" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM tu GROUP BY event_type),
        |inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
        |  round(CAST(i.n_both AS DOUBLE)
        |    / CAST(sa.n + sb.n - i.n_both AS DOUBLE), 6) AS jaccard,
        |  round(CAST(i.n_both AS DOUBLE)
        |    / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
        |FROM inter i
        |JOIN sz sa ON i.type_a = sa.event_type
        |JOIN sz sb ON i.type_b = sb.event_type
        |ORDER BY i.type_a, i.type_b""".stripMargin,

    // Same per-customer (date, key) lag sequencing, same row-normalized
    // probabilities from exact counts.
    "q_transition_matrix" ->
      """WITH seq AS (
        |  SELECT o_custkey, o_orderpriority AS cur,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |cnt AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur),
        |rowtot AS (
        |  SELECT prev, CAST(sum(n) AS BIGINT) AS row_n
        |  FROM cnt GROUP BY prev)
        |SELECT c.prev, c.cur, c.n, r.row_n,
        |  round(CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE), 6) AS p
        |FROM cnt c JOIN rowtot r ON c.prev = r.prev
        |ORDER BY c.prev, c.cur""".stripMargin,

    // Same first-view / first-purchase-after derivation; quartiles of
    // integer µs gaps on quarter-dyadic positions (exact), mean through
    // the identical division tree.
    "q_funnel_timing" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |v AS (
        |  SELECT user_id, min(ts_us) AS t_view
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, min(e.ts_us) - min(v.t_view) AS gap_us
        |  FROM ev e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > v.t_view
        |  GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  quantile_cont(gap_us, 0.25) AS p25_gap_us,
        |  quantile_cont(gap_us, 0.50) AS median_gap_us,
        |  quantile_cont(gap_us, 0.75) AS p75_gap_us,
        |  round(CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000, 4) AS mean_gap_sec
        |FROM conv""".stripMargin,
    // Tie-averaged ranks in integer HALF-UNITS (2·rank + ct − 1 is
    // always integral — the q_agg_mannwhitney trick), then the exact
    // Pearson moment recipe over the doubled ranks (the factor 2
    // cancels in the correlation). HUGEINT sums ↔ decimal(38,0).
    "q_agg_spearman" ->
      """WITH v AS (
        |  SELECT l_returnflag AS f,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
        |  FROM lineitem),
        |r AS (
        |  SELECT f,
        |    2 * CAST(rank() OVER (PARTITION BY f ORDER BY q) AS BIGINT)
        |      + count(*) OVER (PARTITION BY f, q) - 1 AS rx,
        |    2 * CAST(rank() OVER (PARTITION BY f ORDER BY p) AS BIGINT)
        |      + count(*) OVER (PARTITION BY f, p) - 1 AS ry
        |  FROM v),
        |g AS (
        |  SELECT f, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) AS DOUBLE) AS c,
        |    CAST(sum(CAST(rx AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ry AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(rx AS HUGEINT) * rx) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(ry AS HUGEINT) * ry) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(rx AS HUGEINT) * ry) AS DOUBLE) AS sxy
        |  FROM r GROUP BY f)
        |SELECT f AS l_returnflag, n,
        |  CASE WHEN c * sxx > sx * sx AND c * syy > sy * sy THEN
        |    round((c * sxy - sx * sy)
        |      / (sqrt(c * sxx - sx * sx) * sqrt(c * syy - sy * sy)), 6)
        |  END AS spearman_qty_price
        |FROM g ORDER BY l_returnflag""".stripMargin,
    // One conditional-moment pass; Welch t and dof from a shared
    // closed-form IEEE tree (÷, sqrt, no pow) on exact operands —
    // emitted unrounded, bit-identical.
    "q_agg_ttest" ->
      """WITH v AS (
        |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in1,
        |    CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS in2,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |g AS (
        |  SELECT CAST(sum(in1) AS BIGINT) AS n1,
        |    CAST(sum(in2) AS BIGINT) AS n2,
        |    CAST(sum(in1) AS DOUBLE) AS c1,
        |    CAST(sum(in2) AS DOUBLE) AS c2,
        |    CAST(sum(CAST(in1 * p AS HUGEINT)) AS DOUBLE) AS s1a,
        |    CAST(sum(CAST(in2 * p AS HUGEINT)) AS DOUBLE) AS s1b,
        |    CAST(sum(CAST(in1 * p AS HUGEINT) * p) AS DOUBLE) AS s2a,
        |    CAST(sum(CAST(in2 * p AS HUGEINT) * p) AS DOUBLE) AS s2b
        |  FROM v),
        |w AS (
        |  SELECT n1, n2, c1, c2, s1a, s1b,
        |    ((c1 * s2a - s1a * s1a) / (c1 * (c1 - 1))) / c1 AS sea,
        |    ((c2 * s2b - s1b * s1b) / (c2 * (c2 - 1))) / c2 AS seb
        |  FROM g)
        |SELECT n1, n2,
        |  s1a / c1 - s1b / c2 AS mean_diff,
        |  CASE WHEN sea + seb > 0 THEN
        |    (s1a / c1 - s1b / c2) / sqrt(sea + seb) END AS t,
        |  CASE WHEN sea + seb > 0 THEN
        |    (sea + seb) * (sea + seb)
        |      / (sea * sea / (c1 - 1) + seb * seb / (c2 - 1)) END AS dof
        |FROM w""".stripMargin,
    // Leading digit by integer string-head extraction on exact cents —
    // no float log in the digit path; expected shares touch libm log10
    // → rounded 6; observed shares one exact IEEE division, unrounded.
    "q_agg_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |cells AS (
        |  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM dg GROUP BY digit),
        |t AS (
        |  SELECT digit, n_obs,
        |    CAST(sum(n_obs) OVER () AS BIGINT) AS n
        |  FROM cells),
        |f AS (
        |  SELECT digit, n_obs,
        |    CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) AS obs_share,
        |    round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
        |      AS exp_share
        |  FROM t)
        |SELECT digit, n_obs, obs_share, exp_share,
        |  round((obs_share - exp_share) * (obs_share - exp_share)
        |    / exp_share, 6) AS benford_dev
        |FROM f ORDER BY digit""".stripMargin,
    // The q_agg_chisq contingency tree over the lang × source cell
    // frame; χ² rounded 4 before the V closed form (window-sum order
    // differs), level counts as exact distinct aggregates.
    "q_agg_cramer_v" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
        |  FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT lang, source, obs,
        |    CAST(sum(obs) OVER (PARTITION BY lang) AS BIGINT) AS r,
        |    CAST(sum(obs) OVER (PARTITION BY source) AS BIGINT) AS c,
        |    CAST(sum(obs) OVER () AS BIGINT) AS n
        |  FROM cells),
        |ct AS (
        |  SELECT *,
        |    (obs - CAST(r AS DOUBLE) * c / n)
        |      * (obs - CAST(r AS DOUBLE) * c / n)
        |      / (CAST(r AS DOUBLE) * c / n) AS contrib
        |  FROM t),
        |g AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS r_levels,
        |    CAST(count(DISTINCT source) AS BIGINT) AS c_levels,
        |    round(sum(contrib), 4) AS chi2
        |  FROM ct)
        |SELECT n, r_levels, c_levels, chi2,
        |  CASE WHEN least(r_levels, c_levels) > 1 THEN
        |    round(sqrt(chi2 / (CAST(n AS DOUBLE)
        |      * CAST(least(r_levels, c_levels) - 1 AS DOUBLE))), 4)
        |  END AS cramer_v
        |FROM g""".stripMargin,
    // Bounded 7× day-window fan-out of the distinct (user, day) frame —
    // never a range self-join; integer epoch days end to end; windows
    // clipped to [min+6, max] so every emitted window is fully formed.
    "q_event_dau" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS dn
        |  FROM events),
        |b AS (SELECT min(dn) AS mind, max(dn) AS maxd FROM act),
        |wd AS (
        |  SELECT a.user_id, a.dn + o.g AS w
        |  FROM act a CROSS JOIN
        |    (SELECT unnest(range(0, 7)) AS g) o),
        |wau AS (
        |  SELECT w, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
        |  FROM wd GROUP BY w),
        |dau AS (
        |  SELECT dn AS w, CAST(count(*) AS BIGINT) AS dau
        |  FROM act GROUP BY dn)
        |SELECT DATE '1970-01-01' + CAST(wau.w AS INTEGER) AS day,
        |  coalesce(dau.dau, 0) AS dau, wau.wau7,
        |  round(CAST(coalesce(dau.dau, 0) AS DOUBLE)
        |    / CAST(wau.wau7 AS DOUBLE), 4) AS stickiness
        |FROM wau CROSS JOIN b LEFT JOIN dau ON wau.w = dau.w
        |WHERE wau.w >= b.mind + 6 AND wau.w <= b.maxd
        |ORDER BY day""".stripMargin,
    // Same (orderkey, replicate) integer-hash membership; exact decimal
    // sums → exact-operand replicate means; CI endpoints rounded 4
    // (interpolation shape may differ by an ulp), mean-of-means rounded
    // 6 (32-term float accumulation order).
    "q_agg_bootstrap_ci" ->
      """WITH v AS (
        |  SELECT o_orderkey AS id,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT v.id, v.cents, o.rep
        |  FROM v CROSS JOIN (SELECT unnest(range(0, 32)) AS rep) o
        |  WHERE ((v.id * 2654435761 + o.rep * 40503) % 2147483647) % 2
        |    = 0),
        |m AS (
        |  SELECT rep, CAST(count(*) AS BIGINT) AS n_r,
        |    CAST(sum(cents) AS DOUBLE) AS s_r
        |  FROM r GROUP BY rep),
        |mm AS (SELECT rep, s_r / CAST(n_r AS DOUBLE) AS mean_cents
        |       FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_reps,
        |  round(avg(mean_cents), 6) AS boot_mean_cents,
        |  round(quantile_cont(mean_cents, 0.025), 4) AS ci_lo_cents,
        |  round(quantile_cont(mean_cents, 0.975), 4) AS ci_hi_cents
        |FROM mm""".stripMargin,
    // (ts, event_id) is a total order, so both engines see identical
    // triples; top-20 on (n DESC, path) is deterministic.
    "q_event_paths" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // Counts exact integers; the rate/lift/z tree is token-identical
    // on both sides (no cross-row float sum), so values are emitted
    // unrounded. Zero-denominator guards never fire on the fixture but
    // are mirrored so the trees stay identical.
    "q_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |v AS (
        |  SELECT CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) IN
        |      ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
        |    AS variant, conv
        |  FROM u),
        |g AS (
        |  SELECT
        |    CAST(count(*) FILTER (variant = 'A') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (variant = 'A' AND conv = 1) AS BIGINT)
        |      AS conv_a,
        |    CAST(count(*) FILTER (variant = 'B') AS BIGINT) AS n_b,
        |    CAST(count(*) FILTER (variant = 'B' AND conv = 1) AS BIGINT)
        |      AS conv_b
        |  FROM v),
        |t AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |    CASE WHEN n_a > 0
        |      THEN conv_a::DOUBLE / n_a::DOUBLE ELSE 0.0 END AS rate_a,
        |    CASE WHEN n_b > 0
        |      THEN conv_b::DOUBLE / n_b::DOUBLE ELSE 0.0 END AS rate_b,
        |    (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE AS pool
        |  FROM g),
        |z AS (
        |  SELECT *,
        |    sqrt(pool * (1.0 - pool)
        |      * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) AS se
        |  FROM t)
        |SELECT n_a, conv_a, n_b, conv_b, rate_a, rate_b,
        |  rate_a - rate_b AS lift,
        |  CASE WHEN se > 0 THEN (rate_a - rate_b) / se ELSE 0.0 END
        |    AS z,
        |  abs(CASE WHEN se > 0 THEN (rate_a - rate_b) / se
        |           ELSE 0.0 END) > 1.96 AS significant
        |FROM z""".stripMargin,
    // Exact BIGINT cents make every band total order-independent;
    // ntile on the (rev DESC, custkey) total order buckets identical
    // rows in both engines (same n%10-first-groups-larger rule).
    "q_revenue_concentration" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY o_custkey),
        |band AS (
        |  SELECT rev,
        |    ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
        |  FROM rev),
        |b AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(rev) AS BIGINT) AS band_cents
        |  FROM band GROUP BY decile)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        |  band_cents,
        |  round(band_cents::DOUBLE
        |    / (sum(band_cents) OVER ())::DOUBLE, 6) AS share,
        |  round((sum(band_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
        |    / (sum(band_cents) OVER ())::DOUBLE, 6) AS cum_share
        |FROM b ORDER BY decile""".stripMargin,
    // Exact cents keyed agg; shares are exact-operand divisions; the
    // cross-row share-squared sum is rounded 4 and the verdict bands
    // read the rounded value, so banding is engine-identical.
    "q_agg_hhi" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS sc
        |  FROM lineitem GROUP BY l_suppkey),
        |shares AS (
        |  SELECT s.s_nationkey,
        |    rev.sc::DOUBLE / (sum(rev.sc)
        |      OVER (PARTITION BY s.s_nationkey))::DOUBLE AS share
        |  FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey),
        |agg AS (
        |  SELECT s_nationkey,
        |    CAST(count(*) AS BIGINT) AS n_suppliers,
        |    round(sum(share * share) * 10000, 4) AS hhi,
        |    round(max(share), 6) AS top_share
        |  FROM shares GROUP BY s_nationkey)
        |SELECT s_nationkey, n_suppliers, hhi, top_share,
        |  CASE WHEN hhi > 2500 THEN 'concentrated'
        |       WHEN hhi > 1500 THEN 'moderate'
        |       ELSE 'competitive' END AS verdict
        |FROM agg ORDER BY s_nationkey""".stripMargin,
    // All moments exact BIGINT; A = Σ s1²/n per group is a sum of ≤3
    // exact-operand divisions, so SSB/SSW/F are one shared IEEE tree on
    // both engines, rounded 4 before the verdict reads them.
    "q_agg_anova" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(s1) AS BIGINT) AS s1t,
        |    CAST(sum(s2) AS BIGINT) AS s2t,
        |    sum(CAST(s1 * s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS a
        |  FROM g),
        |f AS (
        |  SELECT k, n,
        |    round(a - CAST(s1t * s1t AS DOUBLE) / CAST(n AS DOUBLE), 4)
        |      AS ssb,
        |    round(CAST(s2t AS DOUBLE) - a, 4) AS ssw
        |  FROM t)
        |SELECT k AS k_groups, n AS n_rows, ssb, ssw,
        |  CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        |    round((ssb / CAST(k - 1 AS DOUBLE))
        |      / (ssw / CAST(n - k AS DOUBLE)), 4) END AS f_stat,
        |  CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN 'degenerate'
        |       WHEN round((ssb / CAST(k - 1 AS DOUBLE))
        |         / (ssw / CAST(n - k AS DOUBLE)), 4) > 3.0
        |         THEN 'significant'
        |       ELSE 'not_significant' END AS verdict
        |FROM f""".stripMargin,
    // Pair counts are exact integers from the nation-local self-join of
    // the already-reduced supplier frame; τ-b is one closed-form
    // sqrt/divide on exact operands, rounded 6.
    "q_agg_kendall" ->
      """WITH supp AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS sc,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem GROUP BY l_suppkey),
        |sn AS (
        |  SELECT n.n_regionkey, supp.l_suppkey, supp.sc, supp.sq
        |  FROM supp
        |  JOIN supplier s ON s.s_suppkey = supp.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey),
        |pairs AS (
        |  SELECT a.n_regionkey,
        |    sign(a.sc - b.sc) * sign(a.sq - b.sq) AS prod,
        |    CASE WHEN a.sc = b.sc THEN 1 ELSE 0 END AS tx,
        |    CASE WHEN a.sq = b.sq THEN 1 ELSE 0 END AS ty
        |  FROM sn a JOIN sn b
        |    ON a.n_regionkey = b.n_regionkey
        |    AND a.l_suppkey < b.l_suppkey),
        |cnt AS (
        |  SELECT n_regionkey,
        |    CAST(count(*) AS BIGINT) AS n0,
        |    CAST(count(*) FILTER (WHERE prod > 0) AS BIGINT) AS nc,
        |    CAST(count(*) FILTER (WHERE prod < 0) AS BIGINT) AS nd,
        |    CAST(sum(tx) AS BIGINT) AS ntx,
        |    CAST(sum(ty) AS BIGINT) AS nty
        |  FROM pairs GROUP BY n_regionkey)
        |SELECT n_regionkey, n0 AS n_pairs, nc, nd,
        |  CASE WHEN n0 > ntx AND n0 > nty THEN
        |    round(CAST(nc - nd AS DOUBLE)
        |      / sqrt(CAST(n0 - ntx AS DOUBLE)
        |        * CAST(n0 - nty AS DOUBLE)), 6) END AS tau_b
        |FROM cnt ORDER BY n_regionkey""".stripMargin,
    // q_agg_entropy's exact-count decomposition: every ln input is an
    // exact integer count; the final U is one closed-form divide over
    // the ≤(nations×segments)-row frame, rounded 6.
    "q_agg_theil_u" ->
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |mx AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nseg
        |  FROM cells GROUP BY c_mktsegment),
        |my AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nnat
        |  FROM cells GROUP BY c_nationkey),
        |s AS (
        |  SELECT
        |    (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS n,
        |    (SELECT sum(CAST(nseg AS DOUBLE) * ln(CAST(nseg AS DOUBLE)))
        |       FROM mx) AS sx,
        |    (SELECT sum(CAST(nnat AS DOUBLE) * ln(CAST(nnat AS DOUBLE)))
        |       FROM my) AS sy,
        |    (SELECT sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
        |       FROM cells) AS sxy),
        |h AS (
        |  SELECT n,
        |    ln(CAST(n AS DOUBLE)) - sx / CAST(n AS DOUBLE) AS hx,
        |    (sy - sxy) / CAST(n AS DOUBLE) AS hxy
        |  FROM s WHERE n > 0)
        |SELECT n AS n_customers, round(hx, 6) AS h_x,
        |  round(hxy, 6) AS h_x_given_y,
        |  CASE WHEN hx > 0 THEN round((hx - hxy) / hx, 6) END AS theil_u
        |FROM h""".stripMargin,
    // Rates are exact-integer rationals (min-count / class-count — the
    // same double both engines), the draw the exact md5 uniform; per
    // class the realized keep count is an exact conditional sum.
    "q_sample_balanced" ->
      """WITH cls AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n_class
        |  FROM embeddings GROUP BY 1),
        |mn AS (SELECT CAST(min(n_class) AS BIGINT) AS n_min FROM cls),
        |kept AS (
        |  SELECT e.label,
        |    CASE WHEN (('0x' || substr(md5(e.vec_id::VARCHAR), 1, 8))
        |        ::BIGINT + 0.5) / 4294967296.0
        |        < CAST(mn.n_min AS DOUBLE) / CAST(c.n_class AS DOUBLE)
        |      THEN 1 ELSE 0 END AS keep
        |  FROM embeddings e
        |  JOIN cls c ON c.label = e.label
        |  CROSS JOIN mn)
        |SELECT k.label, c.n_class,
        |  round(CAST(mn.n_min AS DOUBLE) / CAST(c.n_class AS DOUBLE), 6)
        |    AS keep_rate,
        |  CAST(sum(k.keep) AS BIGINT) AS n_kept,
        |  round(CAST(sum(k.keep) AS DOUBLE) / CAST(c.n_class AS DOUBLE),
        |    6) AS realized_rate
        |FROM kept k
        |JOIN cls c ON c.label = k.label
        |CROSS JOIN mn
        |GROUP BY k.label, c.n_class, mn.n_min
        |ORDER BY k.label""".stripMargin
  )

  /** Moment statistics per return flag: stddev/variance and the
    * quantity↔price correlation/covariance. */
  def aggStats(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qp"))
      .orderBy("l_returnflag")

  /** Conditional aggregates per event type: FILTER-style count, boolean
    * any/all, and a tie-deterministic argmax (max over a (value, id)
    * struct — lexicographic, so equal values fall back to the id). */
  def condAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        count_if(col("value") > 0.5).as("n_high"),
        bool_or(col("value") > 0.9).as("any_vhigh"),
        bool_and(col("value") >= 0).as("all_nonneg"),
        max(struct(col("value"), col("event_id")))
          .getField("event_id").as("top_event_id"))
      .orderBy("event_type")

  /** Ordered string aggregation: nation names per region, sorted inside
    * the aggregate so the concatenation is deterministic. */
  def aggStrings(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .groupBy("n_regionkey")
      .agg(
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("names"),
        count(lit(1)).as("n"))
      .orderBy("n_regionkey")

  /** EXACT p50/p90 per event type via the two-phase range-partitioned
    * rank ([[RankOps.withKeyedRankAndTotal]] over (value, event_id) —
    * a total order, so the k-th order statistic is well-defined), then
    * linear interpolation at h = (n−1)·p between order statistics
    * ⌊h⌋+1 and ⌊h⌋+2 — the SQL-standard `percentile_cont` recurrence,
    * so DuckDB's `quantile_cont` hash-matches it (round 14: this
    * replaced the GK `percentile_approx` sketch, whose merge-order-
    * dependent register state was one of the four declared rows-only
    * barriers; the sketch survives as [[approxQuantileSketch]],
    * StatsGraphSpec-bounded against this exact answer).
    *
    * Scale shape: ONE range exchange over events + the bounded
    * per-(partition, key) census; each group then keeps at most 4 rows
    * (the two bracketing order statistics per percentile) before the
    * final tiny agg — nothing ever concentrates a key in one task,
    * unlike `percentile()`'s per-group value map. At 100 TB this is
    * the same plan q_window_ntile_range runs; the sketch variant
    * remains the cheaper one-shuffle path when rank error 1e-4 is
    * acceptable. */
  def approxQuantile(s: SparkSession, d: String): DataFrame = {
    val ranked = RankOps.withKeyedRankAndTotal(
      events(s, d).select(col("event_type"), col("value"), col("event_id")),
      "event_type", "rk", "n", col("value"), col("event_id"))
    // 1-based bracketing ranks of percentile p: lo = ⌊(n−1)p⌋+1 and
    // lo+1 (capped at n — when h is integral both brackets coincide
    // and the interpolation weight on the upper one is 0).
    def lo(p: Double): Column =
      floor((col("n") - lit(1L)).cast("double") * lit(p)).cast("long") +
        lit(1L)
    def hi(p: Double): Column = least(lo(p) + lit(1L), col("n"))
    val keep = ranked.filter(
      col("rk") === lo(0.5) || col("rk") === hi(0.5) ||
        col("rk") === lo(0.9) || col("rk") === hi(0.9))
    val brackets = keep.groupBy("event_type").agg(
      first(col("n")).as("n"),
      max(when(col("rk") === lo(0.5), col("value"))).as("v50l"),
      max(when(col("rk") === hi(0.5), col("value"))).as("v50h"),
      max(when(col("rk") === lo(0.9), col("value"))).as("v90l"),
      max(when(col("rk") === hi(0.9), col("value"))).as("v90h"))
    // v_lo + (h−⌊h⌋)·(v_hi − v_lo): identical double expression to
    // DuckDB's quantile_cont interpolator, so round 4 is cosmetic, not
    // drift absorption.
    def interp(p: Double, vl: String, vh: String): Column = {
      val h = (col("n") - lit(1L)).cast("double") * lit(p)
      round(col(vl) + (h - floor(h)) * (col(vh) - col(vl)), 4)
    }
    brackets.select(col("event_type"),
      interp(0.5, "v50l", "v50h").as("p50"),
      interp(0.9, "v90l", "v90h").as("p90"))
      .orderBy("event_type")
  }

  /** The mergeable GK-sketch variant of [[approxQuantile]] (accuracy
    * 10000 ⇒ rank error ≤ 1e-4) — the bounded-memory single-shuffle
    * path for when exactness is not required; not a declared query
    * (its register state is merge-order-dependent, so no engine-
    * independent oracle exists), StatsGraphSpec bounds it against the
    * exact answer. */
  def approxQuantileSketch(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9)),
        lit(10000)).as("q"))
      .select(col("event_type"),
        round(element_at(col("q"), 1), 4).as("p50"),
        round(element_at(col("q"), 2), 4).as("p90"))
      .orderBy("event_type")

  /** Per-user modal event type with a deterministic tiebreak: min over
    * (-count, value) — highest count first, then smallest value — because
    * bare `mode()` resolves ties arbitrarily in both engines. Two
    * algebraic aggregations, both map-side combined. */
  def aggMode(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(
        min(struct((-col("n")).as("nn"), col("event_type").as("et")))
          .getField("et").as("top_type"),
        max("n").as("top_n"))
      .orderBy("user_id")

  /** Mergeable distinct-count sketches (DataSketches HLL): per-type user
    * sketches, re-aggregated by sketch UNION into a global estimate —
    * THE pattern for distinct counts at 100 TB (sketches are partial
    * aggregates: build once per partition/day, merge at any rollup level
    * without touching raw data again; state is order-independent, so the
    * estimate is deterministic). No SQL oracle (implementation-specific
    * estimates); StatsGraphSpec bounds both levels against exact. */
  def aggSketch(s: SparkSession, d: String): DataFrame = {
    val perType = events(s, d)
      .groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val global = perType
      .agg(hll_union_agg(col("sk"), lit(true)).as("sk"))
      .select(lit("__all__").as("event_type"),
        hll_sketch_estimate(col("sk")).as("approx_users"))
    perType
      .select(col("event_type"), hll_sketch_estimate(col("sk"))
        .as("approx_users"))
      .unionByName(global)
      .orderBy("event_type")
  }

  /** Ordered-event funnel per user — view → first click at-or-after it →
    * first purchase at-or-after that click — with users counted by the
    * deepest stage reached. Three aggregations and two joins, ALL keyed on
    * user_id: one hash partitioning serves every stage (Catalyst reuses
    * the exchange), and no per-user sort ever happens — the "first event
    * after X" is a conditional min, not a window over ordered rows, which
    * is what keeps the funnel linear at 100 TB event volumes. */
  def eventFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("user_id", "event_type", "ts")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("v_ts"))
      .groupBy("user_id").agg(min("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") >= col("c_ts"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    ev.select("user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(
        when(col("p_ts").isNotNull, "3_purchase")
          .when(col("c_ts").isNotNull, "2_click")
          .when(col("v_ts").isNotNull, "1_view")
          .otherwise("0_none").as("stage"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  /** Deterministic ~1/8 sample of lineitem: keep rows whose md5 of the
    * stable row key starts with '0' or '1', then aggregate. Row-local,
    * shuffle-free, reproducible on any engine/cluster layout. */
  def sampleHash(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(substring(
        md5(concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")).cast("binary")), 1, 1)
        .isin("0", "1"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")

  /** Deterministic STRATIFIED sampling — the corpus-rebalancing pass of a
    * training-data pipeline (downsample the dominant language, keep the
    * rest): per-stratum rates expressed as hex-prefix sets over the same
    * stable md5 key as q_sample_hash (en 1/16, others 1/2). Still a pure
    * row-local predicate — no shuffle, no per-stratum coordination, and
    * any engine with md5 draws the identical sample; the realized rate
    * per stratum is surfaced for the oracle to pin. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val hex = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    val keep = when(col("lang") === "en", hex === "0")
      .otherwise(hex.isin("0", "1", "2", "3", "4", "5", "6", "7"))
    documents(s, d)
      .select(col("lang"), keep.as("keep"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("keep")).as("n_sampled"),
        round(count_if(col("keep")).cast("double") /
          count(lit(1)).cast("double"), 4).as("realized_rate"))
      .orderBy("lang")
  }

  /** Per-priority OLS regression of order value on time (trend fitting:
    * slope, intercept, R² of price-in-cents vs days-since-epoch) — the
    * drift/trend primitive behind data-freshness and seasonality audits.
    *
    * Why not `regr_slope`/`regr_r2` (both engines have them): their
    * streaming-covariance accumulators sum DOUBLES in partition order, so
    * two engines (or two cluster layouts!) disagree in the low bits and
    * the oracle would hold only to a tolerance. Instead: one map-side-
    * combined agg of the EXACT integer moments (x = epoch days, y = price
    * in cents via round(p·100); Σy² exceeds BIGINT at warehouse scale, so
    * per-row BIGINT products are summed as DECIMAL(38,0) — exact), then
    * the closed-form fit as an identical IEEE double expression tree on
    * both engines. Also layout-independent: the answer cannot change
    * under repartitioning, which floating accumulators do not guarantee.
    * One shuffle (5 groups), all moments map-side combined. */
  def aggLinreg(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val xy = orders(s, d).select(
      col("o_orderpriority").as("prio"),
      datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("x"),
      round(col("o_totalprice") * 100, 0).cast("long").as("y"))
    val g = xy.groupBy("prio").agg(
      count(lit(1)).as("n"),
      count(lit(1)).cast("double").as("cd"),
      sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
      sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
      sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"),
      sum(col("x").cast(dec)).cast("double").as("sx"),
      sum(col("y").cast(dec)).cast("double").as("sy"))
    g.withColumn("covn", col("cd") * col("sxy") - col("sx") * col("sy"))
      .withColumn("varx", col("cd") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("cd") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope", col("covn") / col("varx"))
      .select(col("prio").as("o_orderpriority"), col("n"),
        round(col("slope"), 6).as("slope_cents_day"),
        round((col("sy") - col("slope") * col("sx")) / col("cd"), 2)
          .as("intercept_cents"),
        round((col("covn") * col("covn")) / (col("varx") * col("vary")), 6)
          .as("r2"))
      .orderBy("o_orderpriority")
  }

  /** Frequency-weighted price moments per return flag: quantity-weighted
    * mean and standard deviation of the unit-extended price — the
    * weighted-metric shape (every "revenue-weighted X" report) that
    * plain `avg`/`stddev` get silently wrong.
    *
    * Same discipline as [[aggLinreg]]: weights and prices become exact
    * integers (units, cents) in the scan stage; Σw·p and Σw·p² are
    * summed as DECIMAL(38,0) (the per-row w·p² BIGINT product is within
    * 2 orders of Long.MaxValue at warehouse scale — the sum must be
    * wider), and the weighted mean/variance come out of one IEEE
    * expression tree shared with the oracle. One map-side-combined
    * aggregation, closed-form select on a handful of group rows. */
  def aggWeighted(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val wp = lineitem(s, d).select(
      col("l_returnflag"),
      round(col("l_quantity"), 0).cast("long").as("w"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("p"))
    wp.groupBy("l_returnflag")
      .agg(
        sum("w").as("sum_qty"),
        sum(col("w").cast(dec)).cast("double").as("sw"),
        sum((col("w") * col("p")).cast(dec)).cast("double").as("swp"),
        sum((col("w") * col("p") * col("p")).cast(dec)).cast("double")
          .as("swpp"))
      .select(col("l_returnflag"), col("sum_qty"),
        round(col("swp") / col("sw"), 4).as("wavg_cents"),
        round(sqrt((col("sw") * col("swpp") - col("swp") * col("swp"))
          / (col("sw") * col("sw"))), 4).as("wsd_cents"))
      .orderBy("l_returnflag")
  }

  /** Per-group min-max feature scaling: every event's value mapped to
    * [0,1] within its type — the feature-normalization pass before any
    * model consumes heterogeneous signals. min/max are exact SELECTIONS
    * (unlike mean/stddev they carry no accumulation-order drift), so the
    * per-row rescale is one IEEE expression over identical inputs on
    * both engines, and z-score-style scaling is deliberately NOT used
    * here (its mean is layout-dependent; the exact-moment recipe in
    * [[aggLinreg]] is how this repo does moments when needed).
    *
    * Scale shape: the per-type (min, max) aggregate is a handful of rows
    * — it broadcasts, so the corpus-sized side is never shuffled: one
    * map-side-combined agg + a broadcast-join projection in the scan
    * stage. Degenerate groups (max = min) scale to NULL, declared. */
  def featureScale(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val mm = e.groupBy("event_type")
      .agg(min("value").as("vmin"), max("value").as("vmax"))
    e.join(broadcast(mm), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        when(col("vmax") > col("vmin"),
          round((col("value") - col("vmin"))
            / (col("vmax") - col("vmin")), 6)).as("value_scaled"))
      .orderBy("event_id")
  }

  /** Pairwise correlation matrix of the lineitem numeric features
    * (quantity, price, discount) per return flag — the feature-
    * redundancy audit before any model/weighting decision, and
    * q_agg_linreg's exact-moment recipe applied pairwise: every raw
    * value becomes an exact integer (units, cents, discount points) in
    * the scan stage, the full 10-term moment matrix comes out of ONE
    * map-side-combined aggregation (each extra pair is two more sums in
    * the same pass — no extra shuffles), and the three correlations are
    * closed-form IEEE expressions shared with the oracle. `corr()`
    * itself is accumulation-order-dependent — layout-dependent answers,
    * the thing this family exists to avoid. */
  def aggCorrPairs(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = lineitem(s, d).select(
      col("l_returnflag").as("f"),
      round(col("l_quantity"), 0).cast("long").as("q"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("p"),
      round(col("l_discount") * 100, 0).cast("long").as("dd"))
    def sd(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast(dec)).cast("double").as(n)
    val g = v.groupBy("f").agg(
      count(lit(1)).as("n"),
      count(lit(1)).cast("double").as("c"),
      sd(col("q"), "sq"), sd(col("p"), "sp"), sd(col("dd"), "sdm"),
      sd(col("q") * col("q"), "sqq"), sd(col("p") * col("p"), "spp"),
      sd(col("dd") * col("dd"), "sdd"), sd(col("q") * col("p"), "sqp"),
      sd(col("q") * col("dd"), "sqd"), sd(col("p") * col("dd"), "spd"))
    def corr(sab: String, sa: String, sb: String, saa: String,
        sbb: String) =
      round((col("c") * col(sab) - col(sa) * col(sb))
        / (sqrt(col("c") * col(saa) - col(sa) * col(sa))
          * sqrt(col("c") * col(sbb) - col(sb) * col(sb))), 6)
    g.select(col("f").as("l_returnflag"), col("n"),
        corr("sqp", "sq", "sp", "sqq", "spp").as("corr_qty_price"),
        corr("sqd", "sq", "sdm", "sqq", "sdd").as("corr_qty_disc"),
        corr("spd", "sp", "sdm", "spp", "sdd").as("corr_price_disc"))
      .orderBy("l_returnflag")
  }

  /** Deterministic per-group argmax — best-balance supplier per nation —
    * as ONE map-side-combinable aggregate, not a window: `max(struct
    * (value, −key))` is a total order (the key breaks value ties), so
    * partial maxima merge associatively and the shuffle carries one
    * struct per group per map task. The window formulation
    * (`row_number = 1`) hashes EVERY row into its group's reducer and
    * sorts; at 100 TB the aggregate form is the difference between
    * shuffling group-count rows and corpus rows. Oracle uses the window
    * form — identical answer by the shared total order. */
  def aggArgmax(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(max(struct(col("s_acctbal").as("b"),
        (-col("s_suppkey")).as("nk"))).as("m"))
      .select(col("nationkey"),
        (-col("m.nk")).as("best_suppkey"),
        col("m.b").as("best_acctbal"))
      .orderBy("nationkey")

  /** Distribution-shape statistics per return flag: mean, population
    * skewness m3/m2^1.5 and excess kurtosis m4/m2²−3 of quantity — the
    * moments a data-mix policy reads to spot lopsided or heavy-tailed
    * feature distributions (Spark's builtin `skewness`/`kurtosis` float
    * accumulators are order-dependent and can't hash-match an oracle).
    *
    * The q_agg_corr_pairs recipe extended to 3rd/4th powers: every sum
    * is an EXACT integer (decimal(38,0) power sums of the integral
    * quantity — one map-side-combined shuffle), and the closed forms
    * use only * / sqrt with parenthesization mirrored in the oracle —
    * `pow` is deliberately absent (libm pow differs in last ulps across
    * engines; sqrt is IEEE correctly-rounded in both). */
  def aggSkewKurt(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = lineitem(s, d).select(
      col("l_returnflag").as("f"),
      round(col("l_quantity"), 0).cast("long").as("q"))
    def sd(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast(dec)).cast("double").as(n)
    val q = col("q")
    val g = v.groupBy("f").agg(
      count(lit(1)).as("n"),
      count(lit(1)).cast("double").as("c"),
      sd(q, "s1"), sd(q * q, "s2"), sd(q * q * q, "s3"),
      sd(q * q * q * q, "s4"))
    val mean = col("s1") / col("c")
    val m2 = col("s2") / col("c") - mean * mean
    val m3 = col("s3") / col("c") - lit(3) * mean * (col("s2") / col("c")) +
      lit(2) * mean * mean * mean
    val m4 = col("s4") / col("c") - lit(4) * mean * (col("s3") / col("c")) +
      lit(6) * mean * mean * (col("s2") / col("c")) -
      lit(3) * mean * mean * mean * mean
    g.select(col("f").as("l_returnflag"), col("n"),
        round(mean, 4).as("mean_qty"),
        round(m3 / (m2 * sqrt(m2)), 4).as("skew_qty"),
        round(m4 / (m2 * m2) - 3, 4).as("kurt_qty"))
      .orderBy("l_returnflag")
  }

  /** χ² test of independence between two categorical columns (order
    * status × priority) — the classic feature–label association
    * statistic behind categorical feature selection and drift
    * detection. Emits the full contingency diagnostics (observed,
    * marginals, expected, per-cell contribution) plus the χ² total on
    * every row.
    *
    * Scale shape: the corpus collapses to a |status|×|priority| cell
    * table (15 rows here) in ONE map-side-combined aggregation — the
    * only pass over the data; marginal/grand totals are window sums
    * over that tiny frame, so everything after the first agg is
    * KB-sized regardless of input scale.
    *
    * Determinism (SURVEY §7.5): observed and marginal counts are exact
    * BIGINTs; expected and contrib are one shared * − / IEEE tree in
    * both engines, emitted UNROUNDED (bit-identical); only the 15-term
    * χ² window sum is rounded (accumulation order differs). r is cast
    * to double BEFORE the r·c product so neither engine computes an
    * integer product (BIGINT r·c overflows at 100 TB marginals in
    * Spark, goes HUGEINT in DuckDB). */
  def aggChisq(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy()
    val cells = orders(s, d)
      .groupBy(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("obs"))
    cells
      .withColumn("r", sum("obs").over(Window.partitionBy("status")))
      .withColumn("c", sum("obs").over(Window.partitionBy("pri")))
      .withColumn("n", sum("obs").over(wAll))
      .withColumn("expected",
        col("r").cast("double") * col("c") / col("n"))
      .withColumn("contrib",
        (col("obs") - col("expected")) * (col("obs") - col("expected"))
          / col("expected"))
      .withColumn("chi2", round(sum("contrib").over(wAll), 4))
      .select("status", "pri", "obs", "r", "c", "expected", "contrib",
        "chi2")
      .orderBy("status", "pri")
  }

  /** Two-sample Kolmogorov–Smirnov statistic (quantity distribution,
    * return flag R vs N) — THE continuous drift detector between two
    * corpus segments (yesterday-vs-today feature drift, source-A-vs-B
    * mix checks). Exact to the last bit: D = max |c₁·n₂ − c₂·n₁| /
    * (n₁·n₂) needs only integer ECDFs, so the whole computation is
    * integer until one final division of exact operands — correctly
    * rounded IEEE in both engines, emitted UNROUNDED. Also reports the
    * value attaining D (smallest such value — integer tiebreak).
    *
    * Scale shape: one map-side-combined per-value agg over the corpus
    * (the only corpus pass); the window sums and rank run over the
    * VALUE SUPPORT (distinct quantities — ~50 rows), not the data. The
    * cross-products ride in decimal(38,0) (HUGEINT in the twin) so
    * 100 TB cumulative counts cannot overflow. */
  def aggKs(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "N"))
      .select(round(col("l_quantity"), 0).cast("long").as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("in1"),
        when(col("l_returnflag") === "N", 1L).otherwise(0L).as("in2"))
    val c = v.groupBy("q").agg(sum("in1").as("c1"), sum("in2").as("c2"))
    val wOrd = Window.orderBy("q")
    val wAll = Window.partitionBy()
    val e = c.select(col("q"),
      sum("c1").over(wOrd).as("cum1"),
      sum("c2").over(wOrd).as("cum2"),
      sum("c1").over(wAll).as("n1"),
      sum("c2").over(wAll).as("n2"))
    val diff = abs(col("cum1").cast(dec) * col("n2") -
      col("cum2").cast(dec) * col("n1"))
    e.select(col("q"), col("n1"), col("n2"), diff.as("diff"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("diff").desc, col("q").asc)))
      .filter(col("rn") === 1)
      .select(col("n1"), col("n2"), col("q").as("ks_at"),
        (col("diff").cast("double") /
          (col("n1").cast("double") * col("n2"))).as("ks"))
  }

  /** Two-sample Mann–Whitney U (rank-sum) test on the same R-vs-N
    * quantity split as [[aggKs]] — the nonparametric location-shift
    * detector (KS asks "same distribution?", U asks "does one segment
    * stochastically dominate?"). Exact to the last bit: tie-averaged
    * ranks ride in INTEGER HALF-UNITS — the average rank of a tie group
    * is cumlt + (ct+1)/2, so twice it (2·cumlt + ct + 1) is always
    * integral — which keeps the rank sum, U₁, and the tie-correction
    * term Σ(t³−t) exact in decimal(38,0) (HUGEINT twin). The closed
    * form (U₁, rank-biserial r, tie-corrected z) uses only ÷ and sqrt
    * on exact operands — correctly rounded IEEE in both engines, so the
    * doubles are emitted UNROUNDED.
    *
    * Scale shape: identical to [[aggKs]] — one map-side-combined
    * per-value agg is the only corpus pass; ranks/windows run over the
    * ~50-row value support. */
  def aggMannWhitney(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "N"))
      .select(round(col("l_quantity"), 0).cast("long").as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("in1"),
        when(col("l_returnflag") === "N", 1L).otherwise(0L).as("in2"))
    val c = v.groupBy("q")
      .agg(sum("in1").as("c1"), sum("in2").as("c2"))
      .withColumn("ct", col("c1") + col("c2"))
    val wPrev = Window.orderBy("q")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = c.withColumn("avgrank2",
      lit(2L) * coalesce(sum("ct").over(wPrev), lit(0L))
        + col("ct") + lit(1L))
    val m = r.agg(
      sum("c1").as("n1"), sum("c2").as("n2"),
      sum(col("c1").cast(dec) * col("avgrank2")).as("r1two"),
      sum(col("ct").cast(dec) * col("ct") * col("ct") - col("ct"))
        .as("t3"))
    val u = m.select(col("n1"), col("n2"),
      (col("r1two") - col("n1").cast(dec) * (col("n1") + lit(1L)))
        .as("u1two"),
      (col("n1").cast(dec) * col("n2")).as("a"),
      (col("n1") + col("n2")).cast(dec).as("n"), col("t3"))
    u.select(col("n1"), col("n2"),
      (col("u1two").cast("double") / lit(2)).as("u1"),
      ((col("a") - col("u1two")).cast("double") / col("a").cast("double"))
        .as("r_rb"),
      ((col("u1two") - col("a")).cast("double") / lit(2) /
        sqrt(col("a").cast("double") *
          (((col("n") + lit(1L)) * col("n") * (col("n") - lit(1L))
            - col("t3")).cast("double") /
            (col("n") * (col("n") - lit(1L))).cast("double")) / lit(12)))
        .as("z"))
  }

  /** Gini coefficient + top-decile revenue share of order totals per
    * priority — the concentration/inequality audit behind "is 1% of the
    * corpus 90% of the tokens?" dashboards. The mean-difference identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·S) / (n·S) over sorted cents keeps the whole
    * statistic exact-integer until ONE double division per output column
    * (bit-identical, emitted unrounded). Positions among equal cents are
    * interchangeable — equal x makes Σ i·xᵢ invariant under tie
    * permutation — so the row_number tiebreak (orderkey) affects no
    * output value; the top-decile cut j ≤ n div 10 is likewise
    * tie-stable because every boundary candidate holds the same cents.
    *
    * Scale shape: the per-group window sort is order-statistics-mandated
    * (same cost class as q_percentiles' exact path — a total order per
    * group is the price of exact rank moments); everything after it is
    * one map-side-combined agg. The 100 TB alternative that avoids the
    * sort is a binned Lorenz approximation (q_agg_hist's integer bins +
    * cumulative shares) — sketch-class, deliberately not this query. */
  def aggGini(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = orders(s, d).select(
      col("o_orderpriority").as("pri"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
      col("o_orderkey").as("k"))
    val wAsc = Window.partitionBy("pri")
      .orderBy(col("cents").asc, col("k").asc)
    val wDesc = Window.partitionBy("pri")
      .orderBy(col("cents").desc, col("k").desc)
    val wPart = Window.partitionBy("pri")
    val r = o.select(col("pri"), col("cents"),
      row_number().over(wAsc).cast("long").as("i"),
      row_number().over(wDesc).cast("long").as("j"),
      count(lit(1)).over(wPart).as("cnt"))
    val g = r.groupBy("pri").agg(
      count(lit(1)).as("n"),
      sum(col("cents").cast(dec)).as("s"),
      sum(col("i").cast(dec) * col("cents")).as("w"),
      sum(when(col("j") <= expr("cnt div 10"), col("cents"))
        .otherwise(0L).cast(dec)).as("t10"))
    g.select(col("pri"), col("n"), col("s").cast("long").as("total_cents"),
      ((lit(2L) * col("w") - (col("n") + lit(1L)) * col("s"))
        .cast("double") /
        (col("n").cast(dec) * col("s")).cast("double")).as("gini"),
      (col("t10").cast("double") / col("s").cast("double"))
        .as("top10_share"))
      .orderBy("pri")
  }

  /** Robust spread per priority: median, MAD (median absolute
    * deviation), and IQR of order-total cents — the outlier-resistant
    * twin of [[aggStats]] (one fat-finger order shifts mean/stddev
    * arbitrarily; median/MAD move by at most one rank). Exact-integer
    * inputs make the linear interpolation EXACT, not merely close:
    * quantile positions land on quarter fractions and int·{0.25,0.5,
    * 0.75} products are dyadic rationals below 2⁵³, so the interpolated
    * median, the half-integral deviations, and the second-level MAD
    * median are all bit-identical across engines — emitted UNROUNDED.
    *
    * Scale shape: two chained exact-percentile aggregations (each a
    * per-group value-counts map, the honest exact path — q_approx_
    * quantile is the sketch twin); the 5-row per-group median table
    * broadcasts back for the deviation pass, so the corpus is scanned
    * twice and shuffled twice on the same group key, never sorted
    * globally. */
  def aggMad(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(
      col("o_orderpriority").as("pri"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val med = o.groupBy("pri").agg(
      count(lit(1)).as("n"),
      percentile(col("cents"), lit(0.50)).as("median_cents"),
      (percentile(col("cents"), lit(0.75)) -
        percentile(col("cents"), lit(0.25))).as("iqr_cents"))
    val dev = o.join(broadcast(med.select("pri", "median_cents")), Seq("pri"))
      .select(col("pri"),
        abs(col("cents") - col("median_cents")).as("adev"))
    val mad = dev.groupBy("pri")
      .agg(percentile(col("adev"), lit(0.50)).as("mad_cents"))
    med.join(mad, Seq("pri"))
      .select(col("pri"), col("n"), col("median_cents"),
        col("mad_cents"), col("iqr_cents"))
      .orderBy("pri")
  }

  /** Equal-width histogram of order totals per priority (12 × $50k bins,
    * top bin open) — the distribution-shape audit behind pricing/skew
    * dashboards. Binning is INTEGER arithmetic end-to-end: cents `div`
    * width, clamped — not `width_bucket`, which one engine lacks and
    * whose double boundaries can flip a value's bin between engines.
    * One map-side-combined count agg; bins are a row-local scan-stage
    * projection. */
  def aggHist(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderpriority"),
        least(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)" +
          " div 5000000"), lit(11L)).as("bin"))
      .groupBy("o_orderpriority", "bin")
      .agg(count(lit(1)).as("n"))
      .select(col("o_orderpriority"), col("bin"),
        (col("bin") * 5000000).as("bin_lo_cents"), col("n"))
      .orderBy("o_orderpriority", "bin")

  /** Weekly cohort retention: users grouped by first-activity week,
    * retention = fraction of the cohort active k weeks later — the
    * canonical cohort analysis (the warehouse query behind every
    * retention curve). Weeks are INTEGER epoch-week numbers (`epoch_us
    * div 604800e6`) — no calendar/timezone semantics to diverge on; all
    * counts exact; the single division is one IEEE op.
    *
    * Scale shape: (user, week) activity is distinct-reduced FIRST (the
    * big win — raw events collapse to at most users × weeks), the
    * first-week table is users-sized, and every join/agg after runs on
    * those reduced tables keyed by user or week. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val uw = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min("week").as("w0"))
    val sizes = first.groupBy("w0").agg(count(lit(1)).as("cohort_size"))
    val act = uw.join(first, Seq("user_id"))
      .groupBy(col("w0"), (col("week") - col("w0")).as("off"))
      .agg(countDistinct("user_id").as("n_active"))
    act.join(sizes, Seq("w0"))
      .select(col("w0").as("cohort_week"), col("off").as("week_offset"),
        col("n_active"), col("cohort_size"),
        round(col("n_active").cast("double")
          / col("cohort_size").cast("double"), 4).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Per-user session summaries (count, events/session, mean duration)
    * over 30-min-gap sessions — the engagement-metrics completion of
    * the session family: `q_batch_session`/`q_stream_session` EMIT
    * sessions, this aggregates them. Sessionization is the same
    * gaps-and-islands derivation their oracle twin uses (lag + running
    * break sum per user), so the three queries pin one another's
    * semantics. All numerators/denominators are exact integers (counts,
    * µs durations) up to the final division; per-user windows sort a
    * user's own events only — the partition key is the natural scale
    * unit. */
  def sessionStats(s: SparkSession, d: String): DataFrame = {
    val uw = Window.partitionBy("user_id").orderBy("ts_us")
    val o = events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("brk",
        when(col("ts_us") - lag("ts_us", 1).over(uw) > 1800000000L, 1)
          .when(lag("ts_us", 1).over(uw).isNull, 1)
          .otherwise(0))
      .withColumn("sid", sum("brk").over(
        Window.partitionBy("user_id").orderBy("ts_us")))
    val per = o.groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_ev"),
        (max("ts_us") - min("ts_us")).as("dur_us"))
    per.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_ev").as("n_events"),
        round(sum("n_ev").cast("double") /
          count(lit(1)).cast("double"), 4).as("avg_events"),
        round(sum("dur_us").cast("double") /
          count(lit(1)).cast("double") / 1000000, 4).as("avg_dur_sec"))
      .orderBy("user_id")
  }

  /** RFM customer segmentation — recency / frequency / monetary quintile
    * scores plus a rule-based segment label, the warehouse marketing
    * staple.
    *
    * Scale shape: the orders fact is reduced to ONE row per customer in
    * a single map-side-combined keyed shuffle FIRST; everything after
    * runs on the customer-DIMENSION frame, never the fact table. That
    * frame still scales with the corpus (customers grow with data), so
    * no stage single-partitions it either: the max-day scalar is a
    * 1-row aggregate attached by broadcast, and the three quintiles
    * ride ONE two-phase keyed rank ([[RankOps.withKeyedRankAndTotal]],
    * round 12): each customer row explodes into three (metric-tag,
    * sort-value) rows — a row-level explode, never a re-scan of the
    * fact — ranked in a single range exchange + census keyed by the
    * tag, fed through integer [[RankOps.ntileFromRank]] arithmetic,
    * and pivoted back to one row per customer by a map-side-combinable
    * keyed aggregation. Replaces round 7's three single-partition
    * `ntile(5)` window sorts and round 11's three separate
    * checkpoint + census passes (the round-11 verdict named rfm the
    * template for this trim — 3× the fixed two-phase overhead for the
    * price of one).
    *
    * Cross-engine discipline: monetary is carried as exact BIGINT cents
    * (`round(price*100)` — the testdata's totals are 2dp); quintiles
    * reproduce SQL-standard `ntile(5)` over the total order (metric,
    * custkey) exactly — the rank is the same total-order position the
    * oracle's window computes and the bucket formula (first n mod 5
    * buckets get the extra row) is pure integer arithmetic — so scores
    * never hinge on a float comparison and the DuckDB twin keeps its
    * plain `ntile`. */
  def rfm(s: SparkSession, d: String): DataFrame = {
    val per = orders(s, d)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        max(expr("unix_micros(o_orderdate) div 86400000000"))
          .as("last_day"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val withRec = per.crossJoin(
        broadcast(per.agg(max("last_day").as("__max_day"))))
      .withColumn("recency_days", col("__max_day") - col("last_day"))
      .drop("__max_day")
    // One (tag, sort-value) row per metric per customer. The shared
    // rank is ASC on `__sv`, so recency's declared DESC order
    // (recency_days DESC, custkey — stalest customer first, as in the
    // oracle's ntile) rides the negated long; frequency and cents rank
    // ascending as before. All three sort values are BIGINT, so one
    // column carries them exactly.
    val tagged = withRec.select(col("c_custkey"), col("recency_days"),
        col("frequency"), col("cents"),
        explode(array(
          struct(lit("r").as("__src"),
            (-col("recency_days")).as("__sv")),
          struct(lit("f").as("__src"), col("frequency").as("__sv")),
          struct(lit("m").as("__src"), col("cents").as("__sv"))))
          .as("__t"))
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("cents"), col("__t.__src").as("__src"),
        col("__t.__sv").as("__sv"))
    val ranked = RankOps.withKeyedRankAndTotal(tagged, "__src",
      "__rk", "__n", col("__sv"), col("c_custkey"))
    val scored = ranked
      .withColumn("__sc",
        RankOps.ntileFromRank(col("__rk"), col("__n"), 5).cast("int"))
      .groupBy("c_custkey")
      .agg(max("recency_days").as("recency_days"),
        max("frequency").as("frequency"), max("cents").as("cents"),
        max(when(col("__src") === "r", col("__sc"))).as("r_score"),
        max(when(col("__src") === "f", col("__sc"))).as("f_score"),
        max(when(col("__src") === "m", col("__sc"))).as("m_score"))
    scored.select(col("c_custkey"), col("recency_days"), col("frequency"),
        round(col("cents").cast("double") / 100, 2).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4, "loyal")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "lapsed")
          .otherwise("regular").as("segment"))
      .orderBy("c_custkey")
  }

  /** Winsorized robust mean: per priority, the order-total mean with the
    * ⅛ tails clamped to the p12.5 / p87.5 bounds — outlier-clipped
    * aggregation, the robust-metrics staple (and the curation move that
    * keeps one whale order from owning a group's average).
    *
    * The tail fraction is ⅛ BY CONSTRUCTION, not convention: 1/8-grid
    * quantile positions make the interpolated bounds exact dyadic
    * rationals (q_agg_mad's quarter-fraction trick), so the clamp
    * comparisons and the n_low·p_lo / n_high·p_hi products are
    * engine-exact, not tolerance-matched. The winsorized mean decomposes
    * into exact pieces — BIGINT mid-sum + exact tail counts × dyadic
    * bounds — with one IEEE division at the end; the raw mean rides
    * along for contrast. Two map-side-combined passes over the fact
    * (bounds, then clamp-agg), bounds broadcast back. */
  def aggWinsor(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(
      col("o_orderpriority").as("pri"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val q = o.groupBy("pri").agg(
      count(lit(1)).as("n"),
      sum("cents").as("tot_sum"),
      percentile(col("cents"), lit(0.125)).as("p_lo_cents"),
      percentile(col("cents"), lit(0.875)).as("p_hi_cents"))
    val cl = o.join(broadcast(q.select("pri", "p_lo_cents", "p_hi_cents")),
        Seq("pri"))
      .groupBy("pri").agg(
        sum(when(col("cents") >= col("p_lo_cents") &&
          col("cents") <= col("p_hi_cents"), col("cents"))
          .otherwise(0L)).as("mid_sum"),
        count_if(col("cents") < col("p_lo_cents")).as("n_low"),
        count_if(col("cents") > col("p_hi_cents")).as("n_high"))
    q.join(cl, Seq("pri"))
      .select(col("pri"), col("n"), col("p_lo_cents"), col("p_hi_cents"),
        col("n_low"), col("n_high"),
        round(col("tot_sum").cast("double") / col("n"), 4)
          .as("raw_mean_cents"),
        round((col("mid_sum").cast("double")
            + col("n_low") * col("p_lo_cents")
            + col("n_high") * col("p_hi_cents"))
          / col("n"), 4).as("winsor_mean_cents"))
      .orderBy("pri")
  }

  /** Last-touch attribution: each purchase credited to the user's most
    * recent preceding click/view within a 7-day lookback — the marketing
    * staple next to `q_event_funnel` (the funnel counts stage REACH;
    * attribution assigns each conversion to one cause).
    *
    * No touch⋈purchase join at all: touches and purchases ride ONE
    * per-user (ts, event_id) sort, and "most recent preceding touch" is
    * an IGNORE NULLS last-value window over the 1-PRECEDING frame — the
    * as-of-join-by-window trick, linear in the user's own events (the
    * natural scale unit). The lookback cut and tie order are exact
    * integer comparisons (epoch-µs, ids); same-µs touch/purchase pairs
    * resolve by the (ts, event_id) total order on both engines. */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val lookbackUs = 604800000000L // 7 days
    val ev = events(s, d)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"),
        col("event_type").isin("click", "view").as("is_touch"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("is_touch"), col("ts_us"))
    val lt = ev
      .withColumn("t_ts_us", last(touch, ignoreNulls = true).over(w))
      .withColumn("t_id", last(when(col("is_touch"), col("event_id")),
        ignoreNulls = true).over(w))
      .withColumn("t_type", last(when(col("is_touch"), col("event_type")),
        ignoreNulls = true).over(w))
    val inWindow = col("ts_us") - col("t_ts_us") <= lookbackUs
    lt.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        when(inWindow, col("t_id")).as("touch_id"),
        when(inWindow, col("t_type")).as("touch_type"),
        when(inWindow, col("ts_us") - col("t_ts_us")).as("gap_us"),
        coalesce(inWindow, lit(false)).as("attributed"))
      .orderBy("purchase_id")
  }

  /** Weekly growth accounting: every active user classified as NEW
    * (first week), RETAINED (active the previous week), or RESURRECTED
    * (returning after a gap), plus how many go inactive after each week
    * — the startup-metrics decomposition (active = new + retained +
    * resurrected) that `q_cohort_retention` summarizes from the cohort
    * side.
    *
    * One distinct (user, week) reduce — at most users × weeks rows —
    * then ONE per-user sort provides both the lag (classification) and
    * the lead (next-week inactivity); the weekly aggregate self-joins on
    * week−1 only for the retention-rate denominator. Weeks are integer
    * epoch-week numbers; every count is exact; the final week's
    * `n_inactive_next` is right-censored by the corpus end (declared —
    * both engines apply the same cut). */
  def growthAccounting(s: SparkSession, d: String): DataFrame = {
    val uw = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("week")
    val cls = uw
      .withColumn("lagw", lag("week", 1).over(w))
      .withColumn("leadw", lead("week", 1).over(w))
    val wk = cls.groupBy("week").agg(
      count(lit(1)).as("n_active"),
      count_if(col("lagw").isNull).as("n_new"),
      count_if(col("lagw") === col("week") - 1).as("n_retained"),
      count_if(col("lagw").isNotNull &&
        col("lagw") < col("week") - 1).as("n_resurrected"),
      count_if(col("leadw").isNull ||
        col("leadw") > col("week") + 1).as("n_inactive_next"))
    val prev = wk.select((col("week") + 1).as("week"),
      col("n_active").as("prev_active"))
    wk.join(prev, Seq("week"), "left")
      .select(col("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_inactive_next"),
        round(col("n_retained").cast("double")
          / col("prev_active").cast("double"), 4).as("retention_rate"))
      .orderBy("week")
  }

  /** Audience overlap between event types: Jaccard and containment of
    * the user sets behind every type pair — the segment-overlap matrix
    * (which behaviors share an audience, which are disjoint funnels).
    * `q_basket_pairs` measures co-occurrence per BASKET; this measures
    * it per USER across the whole corpus.
    *
    * The corpus reduces to the distinct (type, user) frame first (at
    * most types × users rows); the pair join is equi-keyed on the USER
    * — each user contributes only their own type pairs (≤ T² with T =
    * distinct types, a constant), never a cross of user populations.
    * Set sizes join back from a types-sized frame; all cardinalities
    * exact, one IEEE division per measure. */
  def audienceOverlap(s: SparkSession, d: String): DataFrame = {
    val tu = events(s, d).select(col("event_type"), col("user_id"))
      .distinct().transform(Materialize("audienceOverlap.typeUsers"))
    val sz = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = tu.as("a")
      .join(tu.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sz.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sz.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_both").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"), 6)
          .as("containment"))
      .orderBy("type_a", "type_b")
  }

  /** Time-to-convert distribution: per user, the gap from FIRST view to
    * the first purchase after it, summarized as exact-quartile and mean
    * latency — the velocity companion to `q_event_funnel` (the funnel
    * counts WHO converts; this measures HOW FAST) and to
    * `q_attribution` (which purchase credits which touch).
    *
    * Both aggregations key on user_id — one partitioning serves the
    * view and purchase sides (the funnel's exchange-reuse note) — and
    * the summary runs on the converted-users frame. Gaps are integer
    * µs; quartiles interpolate on quarter-dyadic positions (exact),
    * the mean is one IEEE division over exact sums. */
  def funnelTiming(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t_view"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .filter(col("ts_us") > col("t_view"))
      .groupBy("user_id")
      .agg((min("ts_us") - min("t_view")).as("gap_us"))
    conv.agg(count(lit(1)).as("n_converted"),
        percentile(col("gap_us"), lit(0.25)).as("p25_gap_us"),
        percentile(col("gap_us"), lit(0.50)).as("median_gap_us"),
        percentile(col("gap_us"), lit(0.75)).as("p75_gap_us"),
        round(sum("gap_us").cast("double")
          / count(lit(1)).cast("double") / 1000000, 4)
          .as("mean_gap_sec"))
  }

  /** First-order Markov transition matrix of order priorities: for each
    * customer's order sequence, count prev→cur priority transitions and
    * row-normalize — the behavioral sequence model behind
    * next-state prediction and anomaly scoring (a transition that never
    * occurs in the matrix is the anomaly).
    *
    * One per-customer (date, key) sort supplies the lag; the matrix
    * itself is at most S² rows (S = distinct priorities, a constant),
    * so everything after the lag window is constant-sized. Counts
    * exact; probabilities are one division against the row total. */
  def transitionMatrix(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    val seq = orders(s, d)
      .select(col("o_custkey"), col("o_orderpriority").as("cur"),
        lag("o_orderpriority", 1).over(w).as("prev"))
      .filter(col("prev").isNotNull)
    val cnt = seq.groupBy("prev", "cur").agg(count(lit(1)).as("n"))
    val rowtot = cnt.groupBy("prev").agg(sum("n").as("row_n"))
    cnt.join(broadcast(rowtot), Seq("prev"))
      .select(col("prev"), col("cur"), col("n"), col("row_n"),
        round(col("n").cast("double") / col("row_n").cast("double"), 6)
          .as("p"))
      .orderBy("prev", "cur")
  }

  /** Market-basket co-occurrence: within-order item pairs with support
    * and lift — the association-rule-mining first stage.
    *
    * Scale shape: pair GENERATION is basket-local AND map-side — ONE
    * keyed shuffle builds each basket's distinct item set (`collect_set`
    * dedups in the agg buffer; the array is bounded by order width, so
    * bytes per basket), and the ≤ k² pair rows explode from each
    * basket's own array with no join at all: item `a` against the
    * higher items of the same array (a < b once per unordered pair,
    * whatever set order the buffer produced). The pair aggregate is the
    * ONLY other corpus-scale exchange — the former distinct + self-join
    * formulation paid four (the distinct, BOTH join re-shuffles on the
    * basket key, the pair agg). Local wall-clock is join-vs-agg
    * neutral at sf0.1 (~2.2 s either way — the pair agg dominates);
    * the halved corpus shuffle count is the 100 TB argument. The
    * basket frame is materialized once (`localCheckpoint`) and feeds
    * all three consumers — pairs, item counts (one explode, dimension-
    * sized out), basket total. The item-count frame scales with the
    * ITEM dimension — catalog-sized, not corpus-sized, but open (the
    * round-10 verdict's `weak` flag) — so it joins back onto the pair
    * aggregate UNHINTED on the item key: AQE broadcasts it at fixture
    * scale from measured size, and a 100 TB catalog degrades to a
    * shuffle join instead of an executor OOM. Only the basket-count
    * scalar rides the house 1-row broadcast cross join (PlanGuard
    * allowlisted). The `pair_cnt >= 2` cut bounds
    * the emitted rule set the standard way (a pair seen once is noise,
    * and at corpus scale the singleton tail dominates the pair
    * space). */
  def basketPairs(s: SparkSession, d: String): DataFrame = {
    val baskets = lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .transform(Materialize("basketPairs.baskets"))
    val n = baskets.agg(count(lit(1)).as("n_baskets"))
    val cnt = baskets.select(explode(col("ps")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("cnt"))
    val pairs = baskets
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"),
        explode(filter(col("ps"), x => x > col("a"))).as("b"))
      .groupBy(col("a").as("item_a"), col("b").as("item_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 2)
    pairs
      .crossJoin(broadcast(n))
      .join(cnt.select(col("pk").as("item_a"),
        col("cnt").as("cnt_a")), Seq("item_a"))
      .join(cnt.select(col("pk").as("item_b"),
        col("cnt").as("cnt_b")), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"),
        round(col("pair_cnt").cast("double")
          / col("n_baskets").cast("double"), 6).as("support"),
        round(col("pair_cnt").cast("double")
          * col("n_baskets").cast("double")
          / (col("cnt_a").cast("double") * col("cnt_b").cast("double")), 4)
          .as("lift"))
      .orderBy(col("pair_cnt").desc, col("item_a"), col("item_b"))
  }

  /** Spearman rank correlation of (quantity, price) per return flag —
    * the monotone-association twin of [[aggCorrPairs]]: Pearson sees
    * lines, ranks see any monotone link and shrug off outliers/skew.
    *
    * Exactness: tie-averaged ranks ride in [[aggMannWhitney]]'s INTEGER
    * HALF-UNITS — the doubled average rank 2·#less + ct + 1 (ct = tie
    * group size) is always integral — then Pearson over the integer
    * doubled ranks (the constant factor 2 cancels in the correlation)
    * from exact integer moments, one closed-form IEEE tree, rounded 6.
    *
    * Scale shape: the corpus rows are sorted once.
    *  - x ranks come from the per-(flag, quantity) histogram, at most
    *    |flags|·|quantities| rows at any scale: a running count over it
    *    gives each cell's doubled rank, and a broadcast equi-join puts
    *    that rank on the corpus rows.
    *  - y ranks come from ONE window spec: rank() = 1 + #less and the
    *    default RANGE frame's count = #less + #ties, so their sum is the
    *    doubled average rank with no per-value count window.
    *  - the five moments are [[exactSum]]s: two long sums per row
    *    instead of a per-row decimal(38,0) buffer.
    * The y window partitions on encode(flag), an injective key that is
    * NOT the grouping column, so the per-flag moment aggregate is planned
    * partial → exchange → final. The final orderBy's range exchange runs
    * its child stage twice (once to sample bounds); with the window
    * behind that exchange the second run reads three aggregated rows
    * instead of re-sorting the corpus. */
  def aggSpearman(s: SparkSession, d: String): DataFrame = {
    val v = lineitem(s, d).select(
      col("l_returnflag").as("f"),
      round(col("l_quantity"), 0).cast("long").as("q"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("p"))
    val below = Window.partitionBy("f").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hx = v.groupBy("f", "q").agg(count(lit(1)).as("ct"))
      .select(col("f").as("hf"), col("q").as("hq"),
        (lit(2L) * coalesce(sum("ct").over(below), lit(0L))
          + col("ct") + lit(1L)).as("rx"))
    val wy = Window.partitionBy(encode(col("f"), "UTF-8")).orderBy("p")
    val r = v
      .join(broadcast(hx), col("f") <=> col("hf") && col("q") <=> col("hq"))
      .select(col("f"), col("rx"),
        (rank().over(wy) + count(lit(1)).over(wy)).as("ry"))
    def sd(c: Column, n: String) = exactSum(c).cast("double").as(n)
    val g = r.groupBy("f").agg(
      count(lit(1)).as("n"), count(lit(1)).cast("double").as("c"),
      sd(col("rx"), "sx"), sd(col("ry"), "sy"),
      sd(col("rx") * col("rx"), "sxx"),
      sd(col("ry") * col("ry"), "syy"),
      sd(col("rx") * col("ry"), "sxy"))
    // Degenerate-group guard (the q_ts_cusum lesson): a group whose x
    // or y is CONSTANT has zero rank variance — Spark's x/0.0 (NaN/Inf)
    // and DuckDB's NULL-folded division diverge, so both engines emit
    // NULL via the same exact-operand predicate. Unreachable on the
    // fixture; latent-divergence-proof regardless.
    g.select(col("f").as("l_returnflag"), col("n"),
        when(col("c") * col("sxx") > col("sx") * col("sx") &&
            col("c") * col("syy") > col("sy") * col("sy"),
          round((col("c") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("c") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("c") * col("syy") - col("sy") * col("sy"))), 6))
          .as("spearman_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Exact sum of a LONG column as decimal(38,0), equal to
    * `sum(cast(c AS decimal(38,0)))` but carried in two long partial
    * sums instead of a per-row decimal buffer: c = hi·2³¹ + lo with
    * hi = c >> 31 (arithmetic shift, so the identity holds for negatives
    * in two's complement) and lo = c & (2³¹−1) ∈ [0, 2³¹). Since
    * −2³² ≤ hi < 2³², neither long sum overflows below 2³¹ + 1 rows per
    * group, and past that ANSI mode throws rather than wraps. The limbs
    * combine once per group. A NULL row drops out of both sums, so an
    * all-NULL group sums to NULL. */
  def exactSum(c: Column): Column = {
    val dec = "decimal(38,0)"
    sum(shiftright(c, 31)).cast(dec) * lit(1L << 31) +
      sum(c.bitwiseAND(lit((1L << 31) - 1))).cast(dec)
  }

  /** Welch two-sample t-test of price cents, return flag R vs N — the
    * mean-shift significance companion to [[aggMannWhitney]] (U asks
    * about stochastic dominance; t quantifies the mean gap in noise
    * units, unequal variances allowed).
    *
    * ONE map-side-combined conditional-moment agg is the only corpus
    * pass: per-side n / Σx / Σx² as exact decimal(38,0) sums (x² up to
    * 1e14 per row rides in BIGINT before the decimal sum) cast to
    * double, then mean gap, per-side sample variances, t, and the
    * Welch–Satterthwaite dof come out of a shared closed-form IEEE tree
    * (÷, sqrt, no pow) on exact operands — emitted unrounded,
    * bit-identical across engines. */
  def aggTtest(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "N"))
      .select(
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("in1"),
        when(col("l_returnflag") === "N", 1L).otherwise(0L).as("in2"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("p"))
    def sd(c: org.apache.spark.sql.Column, n: String) =
      sum(c.cast(dec)).cast("double").as(n)
    val g = v.agg(
      sum("in1").as("n1"), sum("in2").as("n2"),
      sum("in1").cast("double").as("c1"),
      sum("in2").cast("double").as("c2"),
      sd(col("in1") * col("p"), "s1a"),
      sd(col("in2") * col("p"), "s1b"),
      sd(col("in1") * col("p") * col("p"), "s2a"),
      sd(col("in2") * col("p") * col("p"), "s2b"))
    val va = (col("c1") * col("s2a") - col("s1a") * col("s1a")) /
      (col("c1") * (col("c1") - lit(1)))
    val vb = (col("c2") * col("s2b") - col("s1b") * col("s1b")) /
      (col("c2") * (col("c2") - lit(1)))
    val sea = va / col("c1")
    val seb = vb / col("c2")
    // Degenerate guard: if both sides are constant (sea + seb = 0) the
    // t/dof divisions hit x/0 — Spark NaN/Inf vs DuckDB NULL. Both
    // engines emit NULL via the same predicate on exact operands.
    g.select(col("n1"), col("n2"),
      (col("s1a") / col("c1") - col("s1b") / col("c2")).as("mean_diff"),
      when(sea + seb > 0,
        (col("s1a") / col("c1") - col("s1b") / col("c2"))
          / sqrt(sea + seb)).as("t"),
      when(sea + seb > 0,
        (sea + seb) * (sea + seb)
          / (sea * sea / (col("c1") - lit(1))
            + seb * seb / (col("c2") - lit(1)))).as("dof"))
  }

  /** Benford first-digit audit of order totals: observed leading-digit
    * distribution vs the log₁₀(1+1/d) expectation, with a per-digit
    * χ²-style deviation — the fraud / synthetic-data smoke alarm
    * (fabricated numbers flunk Benford; organic financial data passes).
    *
    * The leading digit comes from integer string-head extraction on
    * exact cents (no float log anywhere in the digit path), so the
    * corpus collapses to ≤9 rows in ONE map-side-combined agg.
    * Determinism: observed shares are one exact IEEE division, emitted
    * unrounded; expected shares and the deviation touch libm log10 →
    * rounded 6 (the PSI precedent). */
  def aggBenford(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy()
    val digits = orders(s, d)
      .select(substring(
        round(col("o_totalprice") * 100, 0).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val t = digits.withColumn("n", sum("n_obs").over(wAll))
      .withColumn("obs_share",
        col("n_obs").cast("double") / col("n").cast("double"))
      .withColumn("exp_share",
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6))
    t.select(col("digit"), col("n_obs"), col("obs_share"), col("exp_share"),
        round((col("obs_share") - col("exp_share"))
          * (col("obs_share") - col("exp_share")) / col("exp_share"), 6)
          .as("benford_dev"))
      .orderBy("digit")
  }

  /** Cramér's V effect size between document lang × source —
    * [[aggChisq]] answers "is there association?"; V answers "how much,
    * on [0,1]?", comparable across tables of any shape (the
    * drift-severity number dashboards track).
    *
    * Scale shape: the corpus collapses to a ≤ langs × sources cell
    * frame in one map-side-combined agg; χ² comes from the shared IEEE
    * contingency tree over that frame (χ² total rounded 4 — window-sum
    * accumulation order differs), then V = √(χ² / (n·(min(r,c)−1)))
    * with the distinct level counts aggregated over the same tiny
    * frame. Everything after the one agg is KB-sized. */
  def aggCramerV(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("obs"))
    val t = cells
      .withColumn("r", sum("obs").over(Window.partitionBy("lang")))
      .withColumn("cc", sum("obs").over(Window.partitionBy("source")))
      .withColumn("n", sum("obs").over(Window.partitionBy()))
      .withColumn("expected",
        col("r").cast("double") * col("cc") / col("n"))
      .withColumn("contrib",
        (col("obs") - col("expected")) * (col("obs") - col("expected"))
          / col("expected"))
    val row = t.agg(
      max("n").as("n"),
      countDistinct("lang").as("r_levels"),
      countDistinct("source").as("c_levels"),
      round(sum("contrib"), 4).as("chi2"))
    // min(r,c) = 1 (a single-level column) makes V's denominator zero —
    // NULL on both engines via the same integer predicate.
    row.select(col("n"), col("r_levels"), col("c_levels"), col("chi2"),
      when(least(col("r_levels"), col("c_levels")) > 1,
        round(sqrt(col("chi2")
          / (col("n").cast("double")
            * (least(col("r_levels"), col("c_levels")) - lit(1L))
              .cast("double"))), 4)).as("cramer_v"))
  }

  /** Bootstrap confidence interval for the mean order value WITHOUT an
    * RNG: 32 half-sample replicates whose membership is a pure integer
    * hash of (orderkey, replicate) — reproducible on any cluster
    * layout, engine, or retry, which is what "bootstrap at 100 TB"
    * actually requires (seeded RNG state is partition-order-dependent;
    * a hash is data-dependent only).
    *
    * ONE corpus pass: the 32× replicate fan-out is a map-side explode
    * feeding a 32-group map-side-combined moment agg (exact decimal
    * cent sums; per-replicate means are exact-operand divisions —
    * bit-identical), then the CI is an exact `percentile` interpolation
    * over the 32-row replicate frame. The CI endpoints are rounded 4
    * (interpolation expression SHAPE may differ between engines by an
    * ulp); the replicate-mean average is rounded 6 (32-term float sum,
    * accumulation order differs). */
  def aggBootstrapCi(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = orders(s, d)
      .select(col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .select(col("id"), col("cents"),
        explode(sequence(lit(0L), lit(31L))).as("rep"))
      .filter(pmod(col("id") * lit(2654435761L) + col("rep") * lit(40503L),
        lit(2147483647L)) % 2 === 0)
    val reps = v.groupBy("rep").agg(
        count(lit(1)).as("n_r"),
        sum(col("cents").cast(dec)).cast("double").as("s_r"))
      .select(col("rep"),
        (col("s_r") / col("n_r").cast("double")).as("mean_cents"))
    reps.agg(
      count(lit(1)).as("n_reps"),
      round(avg("mean_cents"), 6).as("boot_mean_cents"),
      round(percentile(col("mean_cents"), lit(0.025)), 4)
        .as("ci_lo_cents"),
      round(percentile(col("mean_cents"), lit(0.975)), 4)
        .as("ci_hi_cents"))
  }

  /** Rolling engagement: per-day DAU, trailing-7-day WAU, and DAU/WAU
    * stickiness — the product-health dashboard triple, computed WITHOUT
    * a range self-join.
    *
    * Scale shape: the (user, day) distinct frame (≤ users × span rows —
    * one shuffle, the only pass over raw events) explodes each active
    * day into the ≤7 window-days it serves (`sequence(d, d+6)` — a
    * bounded 7× fan-out of the ALREADY-reduced frame, never of raw
    * events), then one count-distinct agg per window day. The rolling-
    * distinct self-join alternative re-scans the activity frame 7× and
    * cannot map-side-combine; this shape is the 100 TB formulation.
    *
    * Determinism: integer epoch-day arithmetic end to end (no calendar
    * or timezone divergence — the session is UTC-pinned), window days
    * clipped to [min+6, max] via a 1-row broadcast so every emitted
    * window is fully formed; stickiness is one IEEE division of exact
    * counts, rounded 4. */
  def eventDau(s: SparkSession, d: String): DataFrame = {
    // Three consumers (bounds, WAU explode, DAU) would each rescan the
    // corpus and repay the distinct shuffle — materialize the reduced
    // frame once (the q_ts_acf localCheckpoint rule).
    val act = events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("dn"))
      .distinct()
      .transform(Materialize("eventDau.activeDays"))
    val bounds = act.agg(min("dn").as("mind"), max("dn").as("maxd"))
    val wau = act
      .select(col("user_id"),
        explode(sequence(col("dn"), col("dn") + lit(6L))).as("w"))
      .groupBy("w").agg(countDistinct("user_id").as("wau7"))
    val dau = act.groupBy(col("dn").as("w"))
      .agg(count(lit(1)).as("dau"))
    wau.crossJoin(broadcast(bounds))
      .filter(col("w") >= col("mind") + lit(6L) && col("w") <= col("maxd"))
      .join(dau, Seq("w"), "left")
      .select(
        date_add(lit("1970-01-01").cast("date"), col("w").cast("int"))
          .as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        col("wau7"),
        round(coalesce(col("dau"), lit(0L)).cast("double")
          / col("wau7").cast("double"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** 3-step behavioral path mining: consecutive event-type triples per
    * user under the (ts, event_id) total order, counted corpus-wide,
    * top-20 — journey DISCOVERY (q_event_funnel measures a declared
    * funnel; this finds the routes users actually take, generalizing
    * q_transition_matrix's 1-step memory to 3).
    *
    * Scale shape: the lead window rides the same user-keyed sort every
    * sessionization op pays; the path agg is map-side combinable over a
    * ≤ T³ key space (T = event types, constant), and the top-20 on the
    * (n DESC, path) total order is a TakeOrdered, never a full sort. */
  def eventPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .select(col("user_id"), col("event_type"),
        lead("event_type", 1).over(w).as("e2"),
        lead("event_type", 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Two-proportion z-test between hash-split variants — the
    * experimentation primitive (q_agg_ttest covers means, mannwhitney
    * ranks; this is the proportions member). Variant = md5 nibble of
    * user_id (q_split_hash's stable assignment: a property of the USER,
    * not the ingest order — the only assignment that survives re-runs
    * and late data); conversion = ≥1 purchase event. Counts are exact
    * integers; rates, lift and the pooled z are one shared IEEE tree
    * over exact operands, emitted unrounded (bit-identical across
    * engines — no cross-row float sum anywhere).
    *
    * Scale shape: one user-keyed conditional agg (map-side combined)
    * reduces the corpus to a (user, variant, converted) frame, then ONE
    * global conditional-count agg yields the 1-row closed form. */
  def abTest(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d)
      .select(col("user_id"), col("event_type"))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("conv"))
      .select(
        when(substring(md5(col("user_id").cast("string").cast("binary")),
          1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
          .otherwise("B").as("variant"),
        col("conv"))
    val g = users.groupBy().agg(
      count_if(col("variant") === "A").as("n_a"),
      count_if(col("variant") === "A" && col("conv") === 1).as("conv_a"),
      count_if(col("variant") === "B").as("n_b"),
      count_if(col("variant") === "B" && col("conv") === 1).as("conv_b"))
    // ANSI mode throws on /0 even inside an untaken `when` branch
    // (subexpression elimination hoists the division), so every
    // denominator is branchlessly floored to 1 when its guard would
    // fire — value-identical to the oracle's CASE tree whenever data
    // exists (the guard only triggers on an empty corpus, where every
    // numerator is 0 and the result is the oracle's ELSE 0.0).
    def safeDen(c: org.apache.spark.sql.Column) =
      when(c > 0, c.cast("double")).otherwise(lit(1.0))
    val pa = col("conv_a").cast("double") / safeDen(col("n_a"))
    val pb = col("conv_b").cast("double") / safeDen(col("n_b"))
    val pool = (col("conv_a") + col("conv_b")).cast("double") /
      safeDen(col("n_a") + col("n_b"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / safeDen(col("n_a")) +
        lit(1.0) / safeDen(col("n_b"))))
    val z = when(se > 0, (pa - pb) / safeDen(se)).otherwise(lit(0.0))
    g.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        pa.as("rate_a"), pb.as("rate_b"),
        (pa - pb).as("lift"), z.as("z"))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  /** Revenue-concentration (Pareto/Lorenz) audit: customers ranked by
    * exact order-revenue descending into 10 ntile bands, per-band and
    * cumulative revenue share — the "top 10% of customers = what % of
    * revenue" curve behind account prioritization, and the join-skew
    * site map (q_agg_gini emits the scalar; this emits the CURVE).
    *
    * Scale shape: one customer-keyed agg (exact BIGINT cents, so band
    * totals are order-independent integers), deciles via the two-phase
    * distributed global rank ([[RankOps]] — the per-customer frame
    * grows with the corpus, so it is never single-partition-sorted; the
    * integer bucket arithmetic reproduces the oracle's `ntile(10)` over
    * the (revenue DESC, custkey) total order exactly), and everything
    * after runs on the 10-row band frame. */
  def revenueConcentration(s: SparkSession, d: String): DataFrame = {
    val rev = orders(s, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("rev"))
    val band = RankOps.withGlobalRank(rev, "__rk", "__n",
        col("rev").desc, col("o_custkey"))
      .select(col("rev"),
        RankOps.ntileFromRank(col("__rk"), col("__n"), 10).as("decile"))
    val wc = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy()
    band.groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("rev").as("band_cents"))
      .select(col("decile").cast("long").as("decile"),
        col("n_customers"), col("band_cents"),
        round(col("band_cents").cast("double") /
          sum("band_cents").over(wt).cast("double"), 6).as("share"),
        round(sum("band_cents").over(wc).cast("double") /
          sum("band_cents").over(wt).cast("double"), 6).as("cum_share"))
      .orderBy("decile")
  }

  /** Herfindahl–Hirschman market-concentration index per nation over
    * supplier lineitem revenue — the antitrust/marketplace-health
    * scalar (HHI = Σ shareᵢ²·10000, with the regulatory bands:
    * < 1500 competitive, 1500–2500 moderate, > 2500 concentrated).
    * q_revenue_concentration draws the CURVE, q_agg_gini measures
    * inequality; this is the concentration scalar regulators quote.
    *
    * Scale shape: one fact-table keyed agg (exact BIGINT cents) to the
    * suppliers frame, then an UNHINTED equi-join to the supplier dim —
    * the dim scales with the corpus (the round-10 `weak` class), so AQE
    * decides broadcast-vs-shuffle from its measured size — and nation
    * totals by one window over that already-reduced frame; the fact
    * table is touched exactly once. Shares are exact-operand divisions;
    * HHI is rounded 4
    * (cross-row share² sum) and the verdict bands read the ROUNDED
    * value, so both engines band identically. */
  def aggHhi(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy("l_suppkey").agg(sum("cents").as("sc"))
    val bySupp = rev.join(
      supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey")),
      Seq("l_suppkey"))
    val wNat = Window.partitionBy("s_nationkey")
    val shares = bySupp.select(col("s_nationkey"),
      (col("sc").cast("double") /
        sum("sc").over(wNat).cast("double")).as("share"))
    shares.groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n_suppliers"),
        round(sum(col("share") * col("share")) * 10000, 4).as("hhi"),
        round(max("share"), 6).as("top_share"))
      .withColumn("verdict",
        when(col("hhi") > 2500, "concentrated")
          .when(col("hhi") > 1500, "moderate")
          .otherwise("competitive"))
      .orderBy("s_nationkey")
  }

  /** One-way ANOVA F-test of quantity across return flags — the k-group
    * generalization of `q_agg_ttest` (t compares TWO means; F asks "do
    * ANY of the k groups differ?", the gate before pairwise tests are
    * licensed).
    *
    * Determinism: quantities are whole numbers, so per-flag (n, Σx, Σx²)
    * are exact BIGINTs from ONE map-side-combined conditional agg; the
    * between/within sums of squares derive from A = Σ s1ᵍ²/nᵍ — each
    * term an exact-operand division, summed over the ≤3-row flag frame
    * (ulp-level order drift vs the 4dp rounding). F is a closed-form
    * IEEE tree on those operands; SSB/SSW are rounded BEFORE the verdict
    * and the F guard reads the ROUNDED ssw, so banding and null-ness are
    * engine-identical. Degenerate shapes (k<2, n≤k, ssw≤0 — including
    * the empty corpus) fold to a 'degenerate' verdict, never a throw.
    *
    * Scale: one fact-table scan, algebraic agg (map-side combine), then
    * everything runs on a ≤3-row frame. s1t² fits a BIGINT through
    * ~1.8e9 total quantity units; beyond that the decimal(38,0) recipe
    * of `q_agg_linreg` is the drop-in swap. */
  def aggAnova(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity").cast("long")
    val g = lineitem(s, d).groupBy("l_returnflag").agg(
      count(lit(1)).as("n"), sum(q).as("s1"), sum(q * q).as("s2"))
    val t = g.agg(
      count(lit(1)).as("k"), sum("n").as("n"),
      sum("s1").as("s1t"), sum("s2").as("s2t"),
      sum((col("s1") * col("s1")).cast("double")
        / col("n").cast("double")).as("a"))
    val f = t.select(col("k"), col("n"),
      round(col("a") - (col("s1t") * col("s1t")).cast("double")
        / col("n").cast("double"), 4).as("ssb"),
      round(col("s2t").cast("double") - col("a"), 4).as("ssw"))
    val fStat = round((col("ssb") / (col("k") - 1).cast("double"))
      / (col("ssw") / (col("n") - col("k")).cast("double")), 4)
    f.select(
      col("k").as("k_groups"), col("n").as("n_rows"),
      col("ssb"), col("ssw"),
      when(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0, fStat)
        .as("f_stat"),
      when(col("k") < 2 || col("n") <= col("k") || col("ssw") <= 0,
        "degenerate")
        .when(fStat > 3.0, "significant")
        .otherwise("not_significant").as("verdict"))
  }

  /** Kendall τ-b rank correlation between supplier revenue and supplier
    * quantity per region — the pair-concordance member of the
    * correlation family (`q_agg_corr_pairs` = linear, `q_agg_spearman` =
    * rank-linear; τ counts order agreement directly — the most robust of
    * the three, standard for small-n agreement studies).
    *
    * Scale: the fact table reduces to ONE exact-BIGINT row per supplier
    * (the only corpus-scale shuffle); the supplier→region dim attach is
    * an UNHINTED equi-join (the supplier dim scales with the corpus —
    * only the 25-row nation leg keeps its broadcast hint; AQE
    * size-measures the rest); the τ pair self-join then runs
    * REGION-LOCAL on that reduced frame — pairs are bounded by
    * per-region supplier count², never corpus². Concordant / discordant
    * / tie counts are exact integers; τ-b is one closed-form sqrt/divide
    * on exact operands, rounded 6; all-tied regions (denominator 0)
    * yield NULL via the same CASE on both engines. */
  def aggKendall(s: SparkSession, d: String): DataFrame = {
    val supp = lineitem(s, d)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("c"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("l_suppkey").agg(sum("c").as("sc"), sum("q").as("sq"))
    val dim = supplier(s, d)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      .join(broadcast(nation(s, d)
        .select(col("n_nationkey").as("s_nationkey"), col("n_regionkey"))),
        Seq("s_nationkey"))
      .select(col("l_suppkey"), col("n_regionkey"))
    val sn = supp.join(dim, Seq("l_suppkey"))
    val a = sn.select(col("n_regionkey"), col("l_suppkey").as("ka"),
      col("sc").as("sca"), col("sq").as("sqa"))
    val b = sn.select(col("n_regionkey"), col("l_suppkey").as("kb"),
      col("sc").as("scb"), col("sq").as("sqb"))
    val pairs = a.join(b, Seq("n_regionkey")).where(col("ka") < col("kb"))
      .select(col("n_regionkey"),
        (signum(col("sca") - col("scb"))
          * signum(col("sqa") - col("sqb"))).as("prod"),
        when(col("sca") === col("scb"), 1L).otherwise(0L).as("tx"),
        when(col("sqa") === col("sqb"), 1L).otherwise(0L).as("ty"))
    pairs.groupBy("n_regionkey").agg(
        count(lit(1)).as("n0"),
        count(when(col("prod") > 0, 1)).as("nc"),
        count(when(col("prod") < 0, 1)).as("nd"),
        sum("tx").as("ntx"), sum("ty").as("nty"))
      .select(col("n_regionkey"), col("n0").as("n_pairs"),
        col("nc"), col("nd"),
        when(col("n0") > col("ntx") && col("n0") > col("nty"),
          round((col("nc") - col("nd")).cast("double")
            / sqrt((col("n0") - col("ntx")).cast("double")
              * (col("n0") - col("nty")).cast("double")), 6))
          .as("tau_b"))
      .orderBy("n_regionkey")
  }

  /** Theil's uncertainty coefficient U(segment∣nation) — the DIRECTED
    * association number: `q_agg_cramer_v` is symmetric; U answers "how
    * much does knowing the nation REDUCE uncertainty about the
    * segment?" on [0,1] with an information-theoretic meaning V lacks —
    * the feature-selection screen for categorical predictors.
    *
    * Determinism: `q_agg_entropy`'s exact-count decomposition — H(X) =
    * ln N − Σ nₓ·ln nₓ / N and N·H(X∣Y) = Σ n_y·ln n_y − Σ n_xy·ln n_xy,
    * so every ln input is an EXACT integer count (no intermediate p
    * divisions); U is one closed-form divide rounded 6 (the ln
    * ulp-drift barrier). Scale: the corpus collapses to the
    * (nation × segment) contingency frame in ONE map-side-combined agg;
    * marginals and the three Σ n·ln n sums all run on that ≤125-row
    * frame. The empty corpus yields zero rows (n > 0 filter), matching
    * the twin's WHERE. */
  def aggTheilU(s: SparkSession, d: String): DataFrame = {
    val cells = customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("n"))
    val nlogn = (c: org.apache.spark.sql.Column) =>
      c.cast("double") * log(c.cast("double"))
    val mx = cells.groupBy("c_mktsegment").agg(sum("n").as("nseg"))
      .agg(sum(nlogn(col("nseg"))).as("sx"))
    val my = cells.groupBy("c_nationkey").agg(sum("n").as("nnat"))
      .agg(sum(nlogn(col("nnat"))).as("sy"))
    val tot = cells.agg(sum("n").as("n"), sum(nlogn(col("n"))).as("sxy"))
    val h = tot.crossJoin(mx).crossJoin(my).where(col("n") > 0)
      .select(col("n"),
        (log(col("n").cast("double"))
          - col("sx") / col("n").cast("double")).as("hx"),
        ((col("sy") - col("sxy")) / col("n").cast("double")).as("hxy"))
    h.select(col("n").as("n_customers"), round(col("hx"), 6).as("h_x"),
      round(col("hxy"), 6).as("h_x_given_y"),
      when(col("hx") > 0,
        round((col("hx") - col("hxy")) / col("hx"), 6)).as("theil_u"))
  }

  /** Delta-method inference for a RATIO metric (revenue per order,
    * customer-clustered) across an md5-hash A/B split — the
    * experimentation-platform staple `q_ab_test` cannot cover: a ratio
    * of sums is NOT a mean of independent rows (orders cluster within
    * customers, so naive per-order variance is anticonservative — the
    * classic A/B false-positive factory); the delta method computes
    * SE(X̄/Ȳ) from per-CUSTOMER moments, Var ≈ (Sxx − 2R·Sxy +
    * R²·Syy)/((n−1)·n·ȳ²), which is the standard cure.
    *
    * Exactness: per-customer (x = whole-dollar revenue, y = order
    * count) rolls up map-side; each arm's n/Σx/Σy/Σx²/Σy²/Σxy are
    * exact BIGINT from ONE conditional-aggregation pass (dollar scale
    * keeps Σx² < 2⁶³ at the fixture's order-of-magnitude — the
    * `q_agg_effectsize` bound); ratios, SEs, and the z statistic are
    * one shared IEEE tree over those integers. Degenerate arms (no
    * orders / zero variance) declare NULL via exact integer guards. */
  def aggRatioDelta(s: SparkSession, d: String): DataFrame = {
    val perCust = orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice"), 0).cast("long")).as("x"),
        count(lit(1)).as("y"))
      .select(
        when(substring(md5(col("o_custkey").cast("string")
          .cast("binary")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
          .otherwise("B").as("variant"),
        col("x"), col("y"))
    def arm(v: String, c: String) = Seq(
      count(when(col("variant") === v, lit(1))).as(s"n_$c"),
      coalesce(sum(when(col("variant") === v, col("x"))), lit(0L))
        .as(s"sx_$c"),
      coalesce(sum(when(col("variant") === v, col("y"))), lit(0L))
        .as(s"sy_$c"),
      coalesce(sum(when(col("variant") === v, col("x") * col("x"))),
        lit(0L)).as(s"sxx_$c"),
      coalesce(sum(when(col("variant") === v, col("y") * col("y"))),
        lit(0L)).as(s"syy_$c"),
      coalesce(sum(when(col("variant") === v, col("x") * col("y"))),
        lit(0L)).as(s"sxy_$c"))
    val cols = arm("A", "a") ++ arm("B", "b")
    val m = perCust.agg(cols.head, cols.tail: _*)
    // ANSI hoists divisions out of untaken `when` branches (the
    // q_ab_test finding), so every denominator is branchlessly floored
    // when its guard would fire — value-identical whenever the guard
    // passes, and the guarded output is NULL otherwise.
    def safeDen(c: org.apache.spark.sql.Column) =
      when(c > 0, c).otherwise(lit(1.0))
    def ratio(c: String) = col(s"sx_$c").cast("double") /
      safeDen(col(s"sy_$c").cast("double"))
    def se2(c: String) = {
      val n = when(col(s"n_$c") > 1, col(s"n_$c").cast("double"))
        .otherwise(lit(2.0))
      val r = ratio(c)
      val cxx = col(s"sxx_$c").cast("double") -
        col(s"sx_$c").cast("double") * col(s"sx_$c").cast("double") / n
      val cyy = col(s"syy_$c").cast("double") -
        col(s"sy_$c").cast("double") * col(s"sy_$c").cast("double") / n
      val cxy = col(s"sxy_$c").cast("double") -
        col(s"sx_$c").cast("double") * col(s"sy_$c").cast("double") / n
      val ybar = col(s"sy_$c").cast("double") / n
      (cxx - lit(2.0) * r * cxy + r * r * cyy) /
        ((n - lit(1.0)) * n * safeDen(ybar * ybar))
    }
    val ok = (c: String) => col(s"n_$c") > 1 && col(s"sy_$c") > 0
    val okBoth = ok("a") && ok("b")
    m.select(
      col("n_a"), col("n_b"), col("sy_a").as("orders_a"),
      col("sy_b").as("orders_b"),
      when(ok("a"), round(ratio("a"), 4)).as("ratio_a"),
      when(ok("b"), round(ratio("b"), 4)).as("ratio_b"),
      when(ok("a"), round(sqrt(se2("a")), 6)).as("se_a"),
      when(ok("b"), round(sqrt(se2("b")), 6)).as("se_b"),
      when(okBoth, round(ratio("a") - ratio("b"), 4)).as("diff"),
      when(okBoth && se2("a") + se2("b") > 0,
        round((ratio("a") - ratio("b"))
          / safeDen(sqrt(se2("a") + se2("b"))), 4)).as("z"))
  }

  /** Standardized effect size (Cohen's d + Hedges' g) of order priority
    * on order value: `q_agg_ttest` answers IS the urgent/non-urgent
    * difference real (significance — which any difference passes at
    * enough n); the effect size answers DOES IT MATTER (how many pooled
    * standard deviations apart — the number meta-analyses and
    * experiment dashboards actually compare across studies), with
    * Hedges' small-sample bias correction g = d·(1 − 3/(4N − 9)).
    *
    * Exactness: both groups' count/sum/sum-of-squares are exact BIGINT
    * whole DOLLARS (the rounding-scale choice and its overflow argument
    * are the inline comment below — cents would overflow the squared
    * sum) from ONE conditional-aggregation scan (no join, no second
    * pass); the pooled sd and both effect sizes are one shared IEEE
    * tree over those integers (`sqrt` is correctly rounded on every
    * engine), emitted rounded 6. Degenerate pooled variance (exact
    * wide-integer compare) declares NULL. */
  def aggEffectSize(s: SparkSession, d: String): DataFrame = {
    val urgent = col("o_orderpriority") === "1-URGENT"
    // Whole DOLLARS, not cents: d and g are scale-invariant, and the
    // dollar-scale sum of squares stays < 2^63 up to ~3.7e7 rows of
    // 5e5-dollar orders (cents overflow at ~1e5 rows — measured).
    val dollars = round(col("o_totalprice"), 0).cast("long")
    val m = orders(s, d).select(urgent.as("u"), dollars.as("c"))
      .agg(
        count(when(col("u"), lit(1))).as("n1"),
        coalesce(sum(when(col("u"), col("c"))), lit(0L)).as("s1"),
        coalesce(sum(when(col("u"), col("c") * col("c"))), lit(0L))
          .as("q1"),
        count(when(!col("u"), lit(1))).as("n2"),
        coalesce(sum(when(!col("u"), col("c"))), lit(0L)).as("s2"),
        coalesce(sum(when(!col("u"), col("c") * col("c"))), lit(0L))
          .as("q2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val m1 = col("s1").cast("double") / n1
    val m2 = col("s2").cast("double") / n2
    val ss1 = col("q1").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n1
    val ss2 = col("q2").cast("double") -
      col("s2").cast("double") * col("s2").cast("double") / n2
    val sp = sqrt((ss1 + ss2) / (n1 + n2 - lit(2.0)))
    val dEff = (m1 - m2) / sp
    val g = dEff * (lit(1.0) - lit(3.0) /
      (lit(4.0) * (n1 + n2) - lit(9.0)))
    // n·q > s² on at least one group ⟺ pooled variance > 0; the exact
    // compare keeps the degenerate case out of the divide. The products
    // do not fit a BIGINT (≈1e20 at 1.5e5 orders of 5e5 dollars), so
    // they run as DECIMAL(38,0) — HUGEINT in the twin.
    val wide = (c: String) => col(c).cast("decimal(38,0)")
    val varPos = (wide("n1") * wide("q1") > wide("s1") * wide("s1")) ||
      (wide("n2") * wide("q2") > wide("s2") * wide("s2"))
    m.select(col("n1"), col("n2"),
      // Empty groups (an empty corpus) leave the means undefined —
      // declared NULL; the guards keep the divides unreachable under
      // ANSI.
      when(col("n1") > 0, round(m1, 4)).as("mean_urgent"),
      when(col("n2") > 0, round(m2, 4)).as("mean_other"),
      when(varPos, round(sp, 4)).as("pooled_sd"),
      when(varPos, round(dEff, 6)).as("cohens_d"),
      when(varPos, round(g, 6)).as("hedges_g"))
  }

  /** Kaplan-Meier survival over customer purchase lifetimes — the
    * censoring-aware churn curve (time-to-churn where "churn" = no order
    * in the final 60-day observation window; customers still active at
    * corpus end are CENSORED at their observed span, which a naive
    * "mean lifetime" silently miscounts — the whole reason KM exists).
    * Per event time: the at-risk set, events, censored count, and the
    * product-limit estimate Ŝ(t) = Π (1 − d_i/n_i).
    *
    * Determinism: risk sets and event counts are exact integers under
    * the duration total order; each hazard term ln((n−d)/n) is quantized
    * to 1e-6-nat BIGINT units BEFORE the running sum (the
    * `q_select_dsir` discipline — the cumulative log-survival is an
    * exact integer, order-independent), `exp` applied once per row to
    * the identical double, both emits rounded 6. A total-death time
    * (d = n_risk, ln 0) is handled as declared output: surv = 0,
    * log_surv NULL, for that row and every later one.
    *
    * Scale: the fact collapses to per-customer spans in one keyed agg
    * (map-side combined); the corpus-max day is a 1-row broadcast
    * cross; everything after runs on the bounded duration frame
    * (≤ day-span rows), where the unpartitioned windows are free. */
  def survivalKm(s: SparkSession, d: String): DataFrame = {
    val day = expr("unix_micros(o_orderdate) div 86400000000")
    val pc = orders(s, d).groupBy("o_custkey")
      .agg(min(day).as("f"), max(day).as("l"))
    val md = pc.agg(max("l").as("maxd"))
    val obs = pc.crossJoin(broadcast(md))
      .select(
        when(col("l") < col("maxd") - 60, col("l") - col("f"))
          .otherwise(col("maxd") - col("f")).as("dur"),
        when(col("l") < col("maxd") - 60, 1L).otherwise(0L).as("evt"))
    val byDur = obs.groupBy("dur")
      .agg(sum("evt").as("d"), count(lit(1)).as("nt"))
    val w = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val risk = byDur.select(col("dur"), col("d"), col("nt"),
      (sum("nt").over(wAll) - sum("nt").over(w) + col("nt"))
        .as("n_risk"))
    val terms = risk
      .withColumn("units", when(col("d") < col("n_risk"),
        round(lit(1000000.0)
          * log((col("n_risk") - col("d")).cast("double")
            / col("n_risk").cast("double")), 0).cast("long")))
      .withColumn("dead",
        when(col("d") === col("n_risk"), 1).otherwise(0))
    terms
      .withColumn("cum_units", sum("units").over(w))
      .withColumn("all_dead", max("dead").over(w))
      .filter(col("d") > 0)
      .select(col("dur").as("dur_days"), col("n_risk"),
        col("d").as("d_events"), (col("nt") - col("d")).as("n_censored"),
        when(col("all_dead") === 0,
          round(col("cum_units").cast("double") / 1000000.0, 6))
          .as("log_surv"),
        when(col("all_dead") === 0,
          round(exp(col("cum_units").cast("double") / 1000000.0), 6))
          .otherwise(0.0).as("surv"))
      .orderBy("dur_days")
  }

  /** Class-balanced downsampling to the minority class (expected-count):
    * per label, keep-rate = min-class-count / class-count, a row kept
    * when its stable md5 uniform falls under the rate — the imbalance
    * fix applied before contrastive/classifier training when the
    * majority class would drown the loss. `q_sample_stratified` applies
    * DECLARED per-stratum rates; here the rates are DERIVED from the
    * observed class histogram (the usual production case), and per-label
    * realized counts sit next to the planned rate for the audit.
    *
    * Expected-count, not exact-count, BY DESIGN: exact-k per class
    * needs a per-class rank — a mega-group at corpus scale — while the
    * binomial spread is √n-negligible at any real class size (the
    * q_sample_replicate unbiasedness argument). Determinism: the rate
    * is an exact-integer rational (the same double both engines), the
    * draw the exact (h+0.5)/2³² uniform, the audit counts exact
    * conditional sums. Scale: one keyed class-count agg, a 1-row min
    * broadcast cross (PlanGuard allowlist), the ≤#labels plan joins
    * back AQE-sized, and the thinning is scan-stage. */
  def sampleBalanced(s: SparkSession, d: String): DataFrame = {
    val cls = embeddings(s, d).groupBy("label")
      .agg(count(lit(1)).as("n_class"))
    val mn = cls.agg(min("n_class").as("n_min"))
    val plan = cls.crossJoin(broadcast(mn))
    val u = (conv(substring(
        md5(col("vec_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("long").cast("double") + lit(0.5)) /
      lit(4294967296.0)
    val rate = col("n_min").cast("double") / col("n_class").cast("double")
    embeddings(s, d).join(plan, Seq("label"))
      .select(col("label"), col("n_class"), col("n_min"),
        when(u < rate, 1L).otherwise(0L).as("keep"))
      .groupBy("label", "n_class", "n_min")
      .agg(sum("keep").as("n_kept"))
      .select(col("label"), col("n_class"),
        round(col("n_min").cast("double")
          / col("n_class").cast("double"), 6).as("keep_rate"),
        col("n_kept"),
        round(col("n_kept").cast("double")
          / col("n_class").cast("double"), 6).as("realized_rate"))
      .orderBy("label")
  }
}
