package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Time-series analytics over the event stream (SURVEY §2.5 extension):
  * the monitoring-side queries a pipeline runs OVER its own traffic —
  * here, volume-anomaly detection on the resampled hourly series.
  *
  * Extension surface: the reference (a 113-line Kafka echo,
  * /root/reference/main.py) consumes an event stream but computes
  * nothing over it; these rows are the BASELINE.json north-star
  * "analytics engine" mandate applied to the stream's time axis.
  *
  * Cross-engine float discipline: every statistic is derived from EXACT
  * integer sums (counts, sums of squares of counts — all BIGINT), and
  * the double-precision arithmetic on top is written as the SAME
  * expression tree in the Spark code and the DuckDB oracle. IEEE-754
  * binary64 `+ - * / sqrt` are correctly rounded, so identical inputs
  * through an identical tree give bit-identical results on both engines
  * — rounding to 4dp at the end is then decoration, not a tolerance.
  * (Using `stddev_samp` directly would instead compare two different
  * accumulation orders of doubles — the class of divergence this repo's
  * oracles avoid by construction.)
  */
object TimeSeriesQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ts_anomaly"  -> tsAnomaly _,
    "q_ts_acf"      -> tsAcf _,
    "q_ts_ewma"     -> tsEwma _,
    "q_ts_holt"     -> tsHolt _,
    "q_ts_seasonal" -> tsSeasonal _,
    "q_ts_interp"   -> tsInterp _,
    "q_ts_tukey"    -> tsTukey _,
    "q_ts_cusum"    -> tsCusum _,
    "q_ts_mannkendall" -> tsMannKendall _,
    "q_ts_backtest" -> tsBacktest _,
    "q_ts_xcorr"    -> tsXcorr _,
    "q_ts_drawdown" -> tsDrawdown _,
    "q_ts_var"      -> tsVar _,
    "q_ts_changepoint" -> tsChangepoint _,
    "q_ts_theilsen" -> tsTheilSen _,
    "q_ts_holtwinters" -> tsHoltWinters _,
    "q_ts_stl" -> tsStl _
  )

  val oracle: Map[String, String] = Map(
    // Same exact-integer moments, same double expression tree: see
    // [[tsAnomaly]]. sum(BIGINT) is HUGEINT in DuckDB — cast back.
    "q_ts_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, hour_us, n,
        |    CAST(count(*) OVER w AS BIGINT) AS c,
        |    CAST(sum(n) OVER w AS BIGINT) AS s1,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS s2
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type))
        |SELECT event_type, hour_us, n,
        |  round(CAST(c * n - s1 AS DOUBLE)
        |    / (CAST(c AS DOUBLE)
        |       * sqrt(CAST(c * s2 - s1 * s1 AS DOUBLE)
        |              / CAST(c * (c - 1) AS DOUBLE))), 4) AS z_score,
        |  abs(round(CAST(c * n - s1 AS DOUBLE)
        |    / (CAST(c AS DOUBLE)
        |       * sqrt(CAST(c * s2 - s1 * s1 AS DOUBLE)
        |              / CAST(c * (c - 1) AS DOUBLE))), 4)) >= 3.0
        |    AS is_anomaly
        |FROM stats WHERE c > 1
        |ORDER BY event_type, hour_us""".stripMargin,
    // The q_ts_cusum recursive-fold pattern: same dense grid, state =
    // (ew, se, sn) advanced index-by-index — the IDENTICAL
    // left-to-right float chain as Spark's struct fold, so the MAEs
    // agree to the last bit before their round(4).
    "q_ts_backtest" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |ser AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS c,
        |    array_agg(n ORDER BY hour_us) AS xs
        |  FROM dense GROUP BY event_type
        |  HAVING count(*) >= 2),
        |rec AS (
        |  SELECT event_type, c, xs, CAST(1 AS BIGINT) AS i,
        |    CAST(xs[1] AS DOUBLE) AS ew,
        |    CAST(0 AS DOUBLE) AS se, CAST(0 AS DOUBLE) AS sn
        |  FROM ser
        |  UNION ALL
        |  SELECT event_type, c, xs, i + 1,
        |    0.2 * CAST(xs[i + 1] AS DOUBLE) + 0.8 * ew,
        |    se + abs(CAST(xs[i + 1] AS DOUBLE) - ew),
        |    sn + abs(CAST(xs[i + 1] AS DOUBLE) - CAST(xs[i] AS DOUBLE))
        |  FROM rec WHERE i < c)
        |SELECT event_type, c AS n_hours,
        |  round(se / CAST(c - 1 AS DOUBLE), 4) AS mae_ewma,
        |  round(sn / CAST(c - 1 AS DOUBLE), 4) AS mae_naive,
        |  CASE WHEN round(sn / CAST(c - 1 AS DOUBLE), 4) > 0
        |       THEN round(se / sn, 4) END AS mase
        |FROM rec WHERE i = c ORDER BY event_type""".stripMargin,
    // Same dense grid; span²-bounded pair join on the RESAMPLED frame;
    // S and the tie term exact BIGINTs; z's ÷/sqrt tree on exact
    // operands — bit-identical, verdict thresholds the shared double.
    "q_ts_mannkendall" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |s AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.n > a.n THEN 1
        |                  WHEN b.n < a.n THEN -1 ELSE 0 END)
        |      AS BIGINT) AS s_stat
        |  FROM dense a JOIN dense b
        |    ON a.event_type = b.event_type AND a.hour_us < b.hour_us
        |  GROUP BY a.event_type),
        |tie AS (
        |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n_hours,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
        |        FROM dense GROUP BY event_type, n)
        |  GROUP BY event_type),
        |f AS (
        |  SELECT s.event_type, tie.n_hours, s.s_stat,
        |    CAST(tie.n_hours * (tie.n_hours - 1)
        |        * (2 * tie.n_hours + 5) - tie.tie_term AS DOUBLE) / 18.0
        |      AS var_s
        |  FROM s JOIN tie ON s.event_type = tie.event_type),
        |zz AS (
        |  SELECT event_type, n_hours, s_stat, var_s,
        |    CASE WHEN s_stat > 0
        |           THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |         WHEN s_stat < 0
        |           THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |         ELSE 0.0 END AS z
        |  FROM f)
        |SELECT event_type, n_hours, s_stat, var_s, z,
        |  CASE WHEN z > 1.96 THEN 'increasing'
        |       WHEN z < -1.96 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM zz ORDER BY event_type""".stripMargin,
    // Exact-integer ACF (see [[tsAcf]]): d_t = c·x_t − S₁ is BIGINT, the
    // centered products sum exactly (HUGEINT here, DECIMAL(38,0) there),
    // and the single final division is IEEE-identical on both engines.
    "q_ts_acf" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |cs AS (
        |  SELECT event_type, hour_us, n,
        |    CAST(count(*) OVER w AS BIGINT) AS c,
        |    CAST(sum(n) OVER w AS BIGINT) AS s1
        |  FROM dense WINDOW w AS (PARTITION BY event_type)),
        |dd AS (
        |  SELECT event_type, c * n - s1 AS d,
        |    lead(c * n - s1, 1) OVER lw AS d1,
        |    lead(c * n - s1, 24) OVER lw AS d24
        |  FROM cs
        |  WINDOW lw AS (PARTITION BY event_type ORDER BY hour_us))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  round(CAST(sum(d * d1) AS DOUBLE)
        |    / CAST(sum(d * d) AS DOUBLE), 6) AS acf_1,
        |  round(CAST(sum(d * d24) AS DOUBLE)
        |    / CAST(sum(d * d) AS DOUBLE), 6) AS acf_24
        |FROM dd GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same sequential fold as the Spark `aggregate` HOF: list_reduce is
    // left-to-right with the first element as the seed, so both engines
    // run the identical IEEE chain (see [[tsEwma]]).
    "q_ts_ewma" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |ser AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    array_agg(CAST(n AS DOUBLE) ORDER BY hour_us) AS xs
        |  FROM dense GROUP BY event_type)
        |SELECT event_type, n_hours,
        |  round(list_reduce(xs, (acc, x) -> 0.2 * x + 0.8 * acc), 6)
        |    AS ewma_last
        |FROM ser ORDER BY event_type""".stripMargin,
    // Same coupled (level, trend) fold as the Spark struct-accumulator
    // `aggregate` (see [[tsHolt]]); list_reduce cannot carry a pair, so
    // the DuckDB twin folds through a recursive CTE — same seeds, same
    // left-to-right order, the identical IEEE tree per step.
    "q_ts_holt" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |ser AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    array_agg(CAST(n AS DOUBLE) ORDER BY hour_us) AS xs
        |  FROM dense GROUP BY event_type),
        |rec AS (
        |  SELECT event_type, n_hours, xs, CAST(2 AS BIGINT) AS i,
        |    xs[1] AS l, xs[2] - xs[1] AS tr
        |  FROM ser WHERE n_hours >= 2
        |  UNION ALL
        |  SELECT event_type, n_hours, xs, i + 1,
        |    0.2 * xs[i + 1] + 0.8 * (l + tr),
        |    0.1 * ((0.2 * xs[i + 1] + 0.8 * (l + tr)) - l) + 0.9 * tr
        |  FROM rec WHERE i < n_hours)
        |SELECT event_type, n_hours, round(l, 6) AS level_last,
        |  round(tr, 6) AS trend_last, round(l + tr, 6) AS forecast_1
        |FROM rec WHERE i = n_hours ORDER BY event_type""".stripMargin,

    // Same TZ-free integer (dow, hour) derivation — epoch-day + 4 mod 7
    // (1970-01-01 was a Thursday), hour from the intraday µs remainder —
    // and the same exact-BIGINT-moment z tree as q_ts_anomaly's.
    "q_ts_seasonal" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT event_type, dow, hour, n,
        |    CAST(count(*) OVER w AS BIGINT) AS c,
        |    CAST(sum(n) OVER w AS BIGINT) AS s1,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS s2
        |  FROM cells
        |  WINDOW w AS (PARTITION BY event_type))
        |SELECT event_type, dow, hour, n,
        |  round(CAST(n AS DOUBLE) / CAST(s1 AS DOUBLE), 6) AS share,
        |  round(CAST(c * n - s1 AS DOUBLE)
        |    / (CAST(c AS DOUBLE)
        |       * sqrt(CAST(c * s2 - s1 * s1 AS DOUBLE)
        |              / CAST(c * (c - 1) AS DOUBLE))), 4) AS z_score
        |FROM stats WHERE c > 1 AND c * s2 > s1 * s1
        |ORDER BY event_type, dow, hour""".stripMargin,

    // Same hourly cents series, same IGNORE NULLS bracketing windows,
    // same exact-integer interpolation and HALF_UP integer rounding
    // (`//` truncates like Spark's `div`). The grid spans
    // min..max OBSERVED hour per type, so h0/h1 are observed and every
    // gap is interior — hp/hn are never NULL.
    "q_ts_interp" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type,
        |    unnest(range(min(hour_us), max(hour_us) + 1, 3600000000))
        |      AS hour_us
        |  FROM hourly GROUP BY event_type),
        |joined AS (
        |  SELECT g.event_type, g.hour_us, h.cents
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |brk AS (
        |  SELECT event_type, hour_us, cents,
        |    last_value(cents IGNORE NULLS) OVER wp AS cp,
        |    last_value(CASE WHEN cents IS NOT NULL THEN hour_us END
        |      IGNORE NULLS) OVER wp AS hp,
        |    first_value(cents IGNORE NULLS) OVER wn AS cn,
        |    first_value(CASE WHEN cents IS NOT NULL THEN hour_us END
        |      IGNORE NULLS) OVER wn AS hn
        |  FROM joined
        |  WINDOW
        |    wp AS (PARTITION BY event_type ORDER BY hour_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY event_type ORDER BY hour_us
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |gap AS (
        |  SELECT event_type, hour_us, cents, cp, cn, hp,
        |    CASE WHEN hn = hp THEN 1 ELSE (hn - hp) // 3600000000 END AS dh
        |  FROM brk),
        |frac AS (
        |  SELECT event_type, hour_us, cents,
        |    cp * dh + (cn - cp) * ((hour_us - hp) // 3600000000) AS num,
        |    100 * dh AS den
        |  FROM gap)
        |SELECT event_type, hour_us, cents IS NOT NULL AS is_observed,
        |  CAST(CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END
        |      * ((20000 * abs(num) + den) // (2 * den)) AS DECIMAL(18,0))
        |    * 0.0001 AS DOUBLE) AS value_interp
        |FROM frac ORDER BY event_type, hour_us""".stripMargin,

    // Same densified grid, same 25-row trailing frame, same dyadic
    // quartiles (quarter-fraction positions over integer counts) and
    // Tukey fences — every comparison exact.
    "q_ts_tukey" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type,
        |    unnest(range(min(hour_us), max(hour_us) + 1, 3600000000))
        |      AS hour_us
        |  FROM hourly GROUP BY event_type),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |fences AS (
        |  SELECT event_type, hour_us, n,
        |    quantile_cont(n, 0.25) OVER w AS q1,
        |    quantile_cont(n, 0.75) OVER w AS q3
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
        |    ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
        |SELECT event_type, hour_us, n, q1, q3,
        |  n < q1 - 1.5 * (q3 - q1) OR n > q3 + 1.5 * (q3 - q1)
        |    AS is_outlier
        |FROM fences ORDER BY event_type, hour_us""".stripMargin,

    // Same densified series, same exact-BIGINT moments, the same
    // standardized one-sided recurrences driven through a recursive CTE
    // (the q_ts_holt fold-twin technique); z keeps the (c·x − s1)
    // integer numerator exact before its one cast.
    "q_ts_cusum" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |ser AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(n) AS BIGINT) AS s1,
        |    CAST(sum(n * n) AS BIGINT) AS s2,
        |    array_agg(n ORDER BY hour_us) AS xs
        |  FROM dense GROUP BY event_type),
        |sd AS (
        |  SELECT event_type, c, s1, xs,
        |    sqrt(CAST(c * s2 - s1 * s1 AS DOUBLE)
        |      / CAST(c * (c - 1) AS DOUBLE)) AS sd
        |  FROM ser WHERE c > 1 AND c * s2 > s1 * s1),
        |rec AS (
        |  -- CAST the seeds: a bare 0.0 is DECIMAL in DuckDB and would
        |  -- pin the recursive columns to DECIMAL(2,1), quantizing every
        |  -- step to one decimal.
        |  SELECT event_type, c, s1, sd, xs, CAST(0 AS BIGINT) AS i,
        |    CAST(0 AS DOUBLE) AS sp, CAST(0 AS DOUBLE) AS sn,
        |    CAST(0 AS DOUBLE) AS mp, CAST(0 AS DOUBLE) AS mn
        |  FROM sd
        |  UNION ALL
        |  SELECT event_type, c, s1, sd, xs, i + 1,
        |    greatest(0.0, sp + CAST(c * xs[i + 1] - s1 AS DOUBLE)
        |      / (CAST(c AS DOUBLE) * sd) - 0.5),
        |    greatest(0.0, sn - CAST(c * xs[i + 1] - s1 AS DOUBLE)
        |      / (CAST(c AS DOUBLE) * sd) - 0.5),
        |    greatest(mp, greatest(0.0,
        |      sp + CAST(c * xs[i + 1] - s1 AS DOUBLE)
        |        / (CAST(c AS DOUBLE) * sd) - 0.5)),
        |    greatest(mn, greatest(0.0,
        |      sn - CAST(c * xs[i + 1] - s1 AS DOUBLE)
        |        / (CAST(c AS DOUBLE) * sd) - 0.5))
        |  FROM rec WHERE i < c)
        |SELECT event_type, c AS n_hours,
        |  round(mp, 6) AS max_cusum_up,
        |  round(mn, 6) AS max_cusum_down,
        |  round(mp, 6) >= 5 AS drift_up,
        |  round(mn, 6) >= 5 AS drift_down
        |FROM rec WHERE i = c ORDER BY event_type""".stripMargin,
    // Exact BIGINT moments per lag (counts bound every product well in
    // range); r's double tree runs on the same exact operands in both
    // engines, rounded 6; the zero-variance CASE mirrors the Spark
    // `when` exactly.
    "q_ts_xcorr" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |b AS (SELECT min(hour_us) AS h0, max(hour_us) AS h1 FROM hourly),
        |grid AS (
        |  SELECT unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.hour_us,
        |    coalesce(ca.n, 0) AS a, coalesce(cb.n, 0) AS b
        |  FROM grid g
        |  LEFT JOIN (SELECT hour_us, n FROM hourly
        |             WHERE event_type = 'click') ca USING (hour_us)
        |  LEFT JOIN (SELECT hour_us, n FROM hourly
        |             WHERE event_type = 'purchase') cb USING (hour_us)),
        |pairs AS (
        |  SELECT l.lag, d.a, d2.b
        |  FROM (SELECT unnest(range(-3, 4)) AS lag) l, dense d, dense d2
        |  WHERE d2.hour_us = d.hour_us + l.lag * 3600000000),
        |m AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |    CAST(sum(a * b) AS BIGINT) AS sab,
        |    CAST(sum(a * a) AS BIGINT) AS saa,
        |    CAST(sum(b * b) AS BIGINT) AS sbb
        |  FROM pairs GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_hours,
        |  CASE WHEN n_hours * saa - sa * sa > 0
        |        AND n_hours * sbb - sb * sb > 0
        |    THEN round((n_hours * sab - sa * sb)::DOUBLE
        |      / (sqrt((n_hours * saa - sa * sa)::DOUBLE)
        |       * sqrt((n_hours * sbb - sb * sb)::DOUBLE)), 6)
        |  END AS r
        |FROM m ORDER BY lag""".stripMargin,
    // Daily totals exact BIGINT cents; running peak is an integer window
    // max; each drawdown is one exact-operand division rounded 6 BEFORE
    // the running max-dd window reads it — so the running max compares
    // already-rounded identical doubles on both engines.
    "q_ts_drawdown" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |peaks AS (
        |  SELECT day, rev_cents,
        |    CAST(max(rev_cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS peak_cents
        |  FROM daily),
        |dd AS (
        |  SELECT day, rev_cents, peak_cents,
        |    round((peak_cents - rev_cents)::DOUBLE
        |      / peak_cents::DOUBLE, 6) AS drawdown
        |  FROM peaks)
        |SELECT day, rev_cents, peak_cents, drawdown,
        |  max(drawdown) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS max_drawdown
        |FROM dd ORDER BY day""".stripMargin,
    // The tail threshold is percentile_disc — an actual exact-cent data
    // value, so tail membership (delta <= threshold) is an integer
    // compare on both engines; only the interpolated headline and the
    // tail mean are doubles, both rounded 4.
    "q_ts_var" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |delta AS (
        |  SELECT day, rev - lag(rev) OVER (ORDER BY day) AS d
        |  FROM daily),
        |dd AS (SELECT day, CAST(d AS BIGINT) AS d FROM delta
        |       WHERE d IS NOT NULL),
        |q AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(min(d) AS BIGINT) AS worst_delta,
        |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY d)
        |      AS BIGINT) AS var95_cents,
        |    round(percentile_cont(0.05) WITHIN GROUP (ORDER BY d), 4)
        |      AS var95_interp
        |  FROM dd)
        |SELECT q.n_days, q.worst_delta, q.var95_cents, q.var95_interp,
        |  round(CAST((SELECT sum(d) FROM dd WHERE d <= q.var95_cents)
        |      AS DOUBLE)
        |    / CAST((SELECT count(*) FROM dd WHERE d <= q.var95_cents)
        |      AS DOUBLE), 4) AS cvar_cents
        |FROM q""".stripMargin,
    // Exact BIGINT prefix sums under the day order; J one shared IEEE
    // tree over exact operands; min-struct argmax with nj first,
    // earliest-day tiebreak — engine-identical decision.
    "q_ts_changepoint" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT day,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS n1,
        |    CAST(sum(rev_cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s1,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(rev_cents) OVER () AS BIGINT) AS s
        |  FROM daily),
        |j AS (
        |  SELECT day, n1, s1, n - n1 AS n2, s - s1 AS s2,
        |    -(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |        / CAST(n1 AS DOUBLE)
        |      + CAST(s - s1 AS DOUBLE) * CAST(s - s1 AS DOUBLE)
        |        / CAST(n - n1 AS DOUBLE)) AS nj
        |  FROM c WHERE n1 < n),
        |best AS (
        |  SELECT min(struct_pack(nj := nj, day := day, n1 := n1,
        |    s1 := s1, n2 := n2, s2 := s2)) AS b FROM j)
        |SELECT (b).day AS cp_day, (b).n1 AS n_left, (b).n2 AS n_right,
        |  round(CAST((b).s1 AS DOUBLE) / CAST((b).n1 AS DOUBLE)
        |    / 100.0, 4) AS mean_left,
        |  round(CAST((b).s2 AS DOUBLE) / CAST((b).n2 AS DOUBLE)
        |    / 100.0, 4) AS mean_right,
        |  round((CAST((b).s2 AS DOUBLE) / CAST((b).n2 AS DOUBLE)
        |    - CAST((b).s1 AS DOUBLE) / CAST((b).n1 AS DOUBLE))
        |    / 100.0, 4) AS shift
        |FROM best""".stripMargin,
    // Trend an exact rational (25-hour integer sum / 25); detrended
    // values quantized to 1e-4 units before ANY aggregation; eta^2 from
    // pure-BIGINT moments with per-cell within terms rounded to integer
    // unit^2 before the cross-cell sum.
    "q_ts_stl" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |ma AS (
        |  SELECT event_type, hour_us, n,
        |    CAST(count(*) OVER w AS BIGINT) AS wcnt,
        |    CAST(sum(n) OVER w AS BIGINT) AS wsum
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
        |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |det AS (
        |  SELECT event_type,
        |    (hour_us % 86400000000) // 3600000000 AS hod,
        |    CAST(round(10000.0 * (CAST(n AS DOUBLE)
        |      - CAST(wsum AS DOUBLE) / 25.0), 0) AS BIGINT) AS du
        |  FROM ma WHERE wcnt = 25),
        |cells AS (
        |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_obs,
        |    CAST(sum(du) AS BIGINT) AS su,
        |    CAST(sum(du * du) AS BIGINT) AS sq
        |  FROM det GROUP BY 1, 2),
        |t AS (
        |  SELECT *,
        |    CAST(sum(n_obs) OVER wt AS BIGINT) AS c,
        |    CAST(sum(su) OVER wt AS BIGINT) AS s1,
        |    CAST(sum(sq) OVER wt AS BIGINT) AS s2,
        |    CAST(sum(CAST(round(CAST(sq AS DOUBLE)
        |      - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)
        |        / CAST(n_obs AS DOUBLE), 0) AS BIGINT)) OVER wt
        |      AS BIGINT) AS sswu
        |  FROM cells
        |  WINDOW wt AS (PARTITION BY event_type))
        |SELECT event_type, hod, n_obs,
        |  round(CAST(su AS DOUBLE)
        |    / (CAST(n_obs AS DOUBLE) * 10000.0), 4) AS seasonal,
        |  CASE WHEN c * s2 > s1 * s1 THEN
        |    round(1.0 - CAST(sswu AS DOUBLE)
        |      / (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        * CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE)), 4)
        |    END AS seasonal_strength
        |FROM t ORDER BY event_type, hod""".stripMargin,
    // The q_ts_holt recursion with a 24-slot seasonal LIST carried
    // through the recursive CTE; per-step expression tree identical to
    // the Spark fold; init means are sums of integer-valued doubles
    // (exact in any order, licensing list_sum vs the sequential fold).
    "q_ts_holtwinters" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, 3600000000)) AS hour_us
        |  FROM b),
        |dense AS (
        |  SELECT g.event_type, g.hour_us, coalesce(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour_us = h.hour_us),
        |ser AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    array_agg(CAST(n AS DOUBLE) ORDER BY hour_us) AS xs
        |  FROM dense GROUP BY event_type),
        |init AS (
        |  SELECT event_type, n_hours, xs,
        |    list_sum(xs[1:24]) / 24.0 AS l0,
        |    (list_sum(xs[25:48]) / 24.0 - list_sum(xs[1:24]) / 24.0)
        |      / 24.0 AS tr0,
        |    list_transform(xs[1:24],
        |      x -> x - list_sum(xs[1:24]) / 24.0) AS s0
        |  FROM ser WHERE n_hours >= 48),
        |rec AS (
        |  SELECT event_type, n_hours, xs, CAST(24 AS BIGINT) AS i,
        |    l0 AS l, tr0 AS tr, s0 AS s
        |  FROM init
        |  UNION ALL
        |  SELECT event_type, n_hours, xs, i + 1,
        |    0.2 * (xs[i + 1] - s[(i % 24) + 1]) + 0.8 * (l + tr),
        |    0.1 * ((0.2 * (xs[i + 1] - s[(i % 24) + 1])
        |      + 0.8 * (l + tr)) - l) + 0.9 * tr,
        |    list_concat(list_concat(
        |      s[1:((i % 24) + 1) - 1],
        |      [0.3 * (xs[i + 1] - (0.2 * (xs[i + 1] - s[(i % 24) + 1])
        |        + 0.8 * (l + tr))) + 0.7 * s[(i % 24) + 1]]),
        |      s[((i % 24) + 1) + 1:])
        |  FROM rec WHERE i < n_hours)
        |SELECT event_type, n_hours,
        |  round(l, 6) AS level_last,
        |  round(tr, 6) AS trend_last,
        |  round(l + tr + s[(n_hours % 24) + 1], 6) AS forecast_1,
        |  round(list_aggregate(s, 'max') - list_aggregate(s, 'min'), 6)
        |    AS season_amp
        |FROM rec WHERE i = n_hours ORDER BY event_type""".stripMargin,
    // Every pairwise slope is one exact-operand IEEE division, so the
    // slope multiset is engine-identical and percentile_disc picks the
    // same actual element; the intercept reuses that exact median.
    "q_ts_theilsen" ->
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT CAST(b.rev_cents - a.rev_cents AS DOUBLE)
        |    / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON b.day > a.day),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY slope) AS med
        |  FROM p),
        |i AS (
        |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY
        |      CAST(d.rev_cents AS DOUBLE) - s.med * CAST(d.day AS DOUBLE))
        |    AS icept
        |  FROM daily d, s)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
        |  s.n_pairs,
        |  round(s.med, 6) AS slope_cents_per_day,
        |  round(i.icept, 2) AS intercept_cents,
        |  CASE WHEN s.med > 0 THEN 'up' WHEN s.med < 0 THEN 'down'
        |       ELSE 'flat' END AS direction
        |FROM s, i""".stripMargin
  )

  /** Hourly volume-anomaly scan per event type: resample the stream to
    * hourly counts, z-score each hour against its type's own
    * distribution, flag |z| ≥ 3 — the standard volume-monitoring pass
    * over pipeline traffic (traffic drops, ingest storms, bot bursts).
    *
    * Scale shape (100 TB): the corpus is touched exactly once, by the
    * map-side-combined hourly count agg; everything after runs on the
    * RESAMPLED series (types × hours — thousands of rows per year at any
    * corpus size), where the per-type moment window is trivially small.
    * The window's `partitionBy(event_type)` exchange therefore moves the
    * aggregate, never the events. z is derived from exact BIGINT moments
    * (see object doc); c > 1 guards the degenerate single-hour series. */
  def tsAnomaly(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events(s, d)
      .groupBy(col("event_type"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(hourUs))).as("hour_us"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
    val stats = hourly
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
    val z = round(
      (col("c") * col("n") - col("s1")).cast("double")
        / (col("c").cast("double")
          * sqrt((col("c") * col("s2") - col("s1") * col("s1"))
              .cast("double")
            / (col("c") * (col("c") - 1)).cast("double"))), 4)
    stats.filter(col("c") > 1)
      .select(col("event_type"), col("hour_us"), col("n"),
        z.as("z_score"), (abs(z) >= 3.0).as("is_anomaly"))
      .orderBy("event_type", "hour_us")
  }

  /** Seasonality probe: sample autocorrelation of the hourly count
    * series per event type at lag 1 (persistence) and lag 24 (daily
    * cycle) — the standard first look before any forecasting or
    * periodic-capacity decision.
    *
    * The series is DENSIFIED first (per-type hourly grid, absent hours
    * = 0 events — the correct reading of a count series, and what makes
    * a positional `lead` equal a time-shift). ACF is computed without
    * ever forming the non-integer mean: with d_t = c·x_t − S₁ (exact
    * BIGINT), r_l = Σ d_t·d_{t+l} / Σ d_t² — the c² factors cancel, the
    * product sums stay exact integers (summed as DECIMAL(38,0); at
    * extreme per-hour volumes the BIGINT per-row product is the first
    * thing to widen), and the one double division at the end is
    * IEEE-identical on both engines.
    *
    * Scale shape: the corpus is touched once by the hourly count agg;
    * the grid explode, lag window, and ACF agg all run on the resampled
    * series (types × hours), partitioned by event_type — per-type state
    * is bounded by the time span, never the event volume. */
  /** Densified per-type hourly count series (absent hours = 0 events) —
    * the resampled input shared by [[tsAcf]] and [[tsEwma]]. Grid spans
    * each type's own min..max hour, so the explode is bounded by the
    * time span, never the event volume.
    *
    * The hourly aggregate feeds two consumers (the per-type bounds and
    * the zero-fill join), whose plans differ by a join-key null filter —
    * enough to defeat ReuseExchange, which would otherwise scan the
    * corpus twice. The aggregate is types × hours (tiny at any corpus
    * size), so it is MATERIALIZED once (`localCheckpoint`, the
    * GraphQueries pattern) and both consumers read the cached blocks:
    * exactly one corpus scan per query run (PlanShapeSpec pins the final
    * plan parquet-scan-free). */
  private def denseHourly(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events(s, d)
      .groupBy(col("event_type"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(hourUs))).as("hour_us"))
      .agg(count(lit(1)).as("n"))
      .transform(Materialize("denseHourly.hourly"))
    val grid = hourly.groupBy("event_type")
      .agg(min("hour_us").as("h0"), max("hour_us").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), lit(hourUs)))
          .as("hour_us"))
    grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  def tsAcf(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val dense = denseHourly(s, d)
    val w = Window.partitionBy("event_type")
    val lw = Window.partitionBy("event_type").orderBy("hour_us")
    val cs = dense
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
    val dCol = col("c") * col("n") - col("s1")
    val dd = cs.select(col("event_type"), dCol.as("d"),
      lead(dCol, 1).over(lw).as("d1"),
      lead(dCol, 24).over(lw).as("d24"))
    dd.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum((col("d") * col("d1")).cast(dec)).as("num1"),
        sum((col("d") * col("d24")).cast(dec)).as("num24"),
        sum((col("d") * col("d")).cast(dec)).as("den"))
      .select(col("event_type"), col("n_hours"),
        round(col("num1").cast("double") / col("den").cast("double"), 6)
          .as("acf_1"),
        round(col("num24").cast("double") / col("den").cast("double"), 6)
          .as("acf_24"))
      .orderBy("event_type")
  }

  /** Exponentially-weighted moving average (α = 0.2) of each type's
    * hourly count series — the standard smoothed-level estimate behind
    * alert baselines and short-horizon forecasts; reported as the
    * series-end smoothed value.
    *
    * EWMA is inherently sequential (y_t = α·x_t + (1−α)·y_{t−1}), which
    * is exactly why it is computed by a sequential FOLD over the
    * collected per-type series (`aggregate` HOF ↔ DuckDB `list_reduce`,
    * both left-to-right with y₁ = x₁) rather than tortured into window
    * functions: the fold's evaluation order is defined, so both engines
    * run the identical IEEE chain and the match is exact. The fold runs
    * over the RESAMPLED series (one array per type, bounded by the time
    * span) — collecting raw events into arrays would be the unbounded
    * anti-pattern; collecting hours is O(span). Order inside
    * `collect_list` is made deterministic by sorting (hour, n) structs,
    * not by assuming shuffle order. */
  def tsEwma(s: SparkSession, d: String): DataFrame = {
    val arr = denseHourly(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sort_array(collect_list(
          struct(col("hour_us").as("h"), col("n").as("v")))).as("hv"))
    val xs = transform(col("hv"), e => e.getField("v").cast("double"))
    arr.select(col("event_type"), col("n_hours"),
        round(aggregate(
          slice(xs, lit(2), size(xs) - 1),
          element_at(xs, 1),
          (acc, x) => lit(0.2) * x + lit(0.8) * acc), 6).as("ewma_last"))
      .orderBy("event_type")
  }

  /** Holt double-exponential smoothing (α = 0.2, β = 0.1) of each
    * type's hourly count series: level AND trend state, plus the
    * one-step forecast (level + trend) — what capacity alerting needs
    * when traffic is drifting, which [[tsEwma]]'s flat level cannot
    * represent (EWMA lags a trending series by (1−α)/α steps forever).
    *
    * The coupled recurrence
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * is a sequential fold carrying a PAIR — here a struct accumulator
    * through the `aggregate` HOF, seeded l = x₁, b = x₂ − x₁, folding
    * x₃…x_n (x₂'s information enters through the trend seed). The
    * DuckDB twin runs the identical seeds/tree through a recursive CTE
    * (list_reduce cannot carry a pair): defined evaluation order on
    * both engines ⇒ identical IEEE chain ⇒ exact 6dp match. Series
    * with a single hour have no trend seed and are declared out
    * (n_hours ≥ 2).
    *
    * Scale shape: identical to [[tsEwma]] — one corpus scan into the
    * hourly agg; the fold runs over per-type arrays bounded by the time
    * span, never by event volume. */
  def tsHolt(s: SparkSession, d: String): DataFrame = {
    val arr = denseHourly(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sort_array(collect_list(
          struct(col("hour_us").as("h"), col("n").as("v")))).as("hv"))
      .filter(col("n_hours") >= 2)
    val xs = transform(col("hv"), e => e.getField("v").cast("double"))
    val init = struct(
      element_at(xs, 1).as("l"),
      (element_at(xs, 2) - element_at(xs, 1)).as("tr"))
    val fold = aggregate(
      slice(xs, lit(3), greatest(size(xs) - 2, lit(0))),
      init,
      (acc, x) => {
        val l = acc.getField("l"); val tr = acc.getField("tr")
        val lNew = lit(0.2) * x + lit(0.8) * (l + tr)
        struct(lNew.as("l"),
          (lit(0.1) * (lNew - l) + lit(0.9) * tr).as("tr"))
      })
    arr.select(col("event_type"), col("n_hours"), fold.as("st"))
      .select(col("event_type"), col("n_hours"),
        round(col("st.l"), 6).as("level_last"),
        round(col("st.tr"), 6).as("trend_last"),
        round(col("st.l") + col("st.tr"), 6).as("forecast_1"))
      .orderBy("event_type")
  }

  /** Seasonal traffic profile: per event type, the (day-of-week ×
    * hour-of-day) count grid with each cell's share of the type's
    * volume and its z-score against the type's own cell distribution —
    * the "when does this source actually ship data" calendar heatmap,
    * and the deseasonalization table a threshold-based alert would
    * divide by before applying `q_ts_anomaly`'s logic.
    *
    * (dow, hour) are derived with TZ-free integer arithmetic on the
    * epoch — day + 4 mod 7 (1970-01-01 was a Thursday), hour from the
    * intraday µs remainder — so no calendar/timezone library is in the
    * comparison loop. The z tree is `q_ts_anomaly`'s exact-BIGINT-moment
    * expression verbatim. Corpus touched once by the map-side-combined
    * cell count agg; the windows run on the ≤ types × 168 cell frame. */
  def tsSeasonal(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        expr("(unix_micros(ts) % 86400000000) div 3600000000").as("hour"))
      .groupBy("event_type", "dow", "hour")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
    val stats = cells
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
    // c·s2 > s1² ⟺ sd > 0: guards the z divide identically to the DuckDB
    // twin (Spark NaN vs DuckDB NULL on a zero sd would diverge).
    stats.filter(col("c") > 1 &&
        col("c") * col("s2") > col("s1") * col("s1"))
      .select(col("event_type"), col("dow"), col("hour"), col("n"),
        round(col("n").cast("double") / col("s1").cast("double"), 6)
          .as("share"),
        round(
          (col("c") * col("n") - col("s1")).cast("double")
            / (col("c").cast("double")
              * sqrt((col("c") * col("s2") - col("s1") * col("s1"))
                  .cast("double")
                / (col("c") * (col("c") - 1)).cast("double"))), 4)
          .as("z_score"))
      .orderBy("event_type", "dow", "hour")
  }

  /** Resample-and-interpolate: the hourly per-type VALUE series with
    * interior gaps linearly interpolated — the missing-data repair step
    * before any equal-spacing method (`q_ts_acf`/`q_ts_ewma`/`q_ts_holt`
    * read count series, where absent = 0; a value series has genuinely
    * MISSING hours, and zero would be a lie).
    *
    * The series is exact BIGINT cents per observed hour; bracketing
    * neighbors come from IGNORE NULLS running windows (last preceding /
    * first following observed point), and the interpolation is exact
    * integer arithmetic (cents, whole hours) rounded HALF_UP to 4 places
    * by integer division — for an observed row hp = hn = h and the
    * formula collapses to its own value, so one formula serves both. A
    * double `round(x, 4)` would not do: Spark and DuckDB break a .xxxx5
    * tie of the same double differently. The grid spans
    * min..max observed hour per type, so every gap is interior and the
    * brackets never miss. Scale: corpus touched once by the hourly agg;
    * grid/windows run on the resampled frame (types × span hours). */
  def tsInterp(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events(s, d)
      .groupBy(col("event_type"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(hourUs))).as("hour_us"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .transform(Materialize("tsInterp.hourly"))
    val grid = hourly.groupBy("event_type")
      .agg(min("hour_us").as("h0"), max("hour_us").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), lit(hourUs)))
          .as("hour_us"))
    val joined = grid.join(hourly, Seq("event_type", "hour_us"), "left")
    val wp = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsHour = when(col("cents").isNotNull, col("hour_us"))
    val brk = joined
      .withColumn("cp", last(col("cents"), ignoreNulls = true).over(wp))
      .withColumn("hp", last(obsHour, ignoreNulls = true).over(wp))
      .withColumn("cn", first(col("cents"), ignoreNulls = true).over(wn))
      .withColumn("hn", first(obsHour, ignoreNulls = true).over(wn))
    // value_interp = num / den in exact integers: hours since hp over
    // the gap's hours dh (1 for an observed row, where hp = hn = h), so
    // num = cp·dh + (cn − cp)·(h − hp) and den = 100·dh. One sign-aware
    // integer division rounds it HALF_UP to 4 places and one exact
    // decimal → double cast emits it, so no engine rounds a double and a
    // .xxxx5 tie cannot split Spark from the twin.
    import RankOps.idiv
    val dh = when(col("hn") === col("hp"), lit(1L))
      .otherwise(idiv(col("hn") - col("hp"), lit(hourUs)))
    val num = col("cp") * dh +
      (col("cn") - col("cp")) * idiv(col("hour_us") - col("hp"), lit(hourUs))
    val den = lit(100L) * dh
    val q4 = idiv(lit(20000L) * abs(num) + den, lit(2L) * den)
    brk.select(col("event_type"), col("hour_us"),
        col("cents").isNotNull.as("is_observed"),
        (when(num < 0, -q4).otherwise(q4).cast("decimal(18,0)")
          * lit(BigDecimal("0.0001"))).cast("double").as("value_interp"))
      .orderBy("event_type", "hour_us")
  }

  /** CUSUM drift detection (standardized one-sided cumulative sums,
    * k = 0.5, h = 5 — the textbook tabular CUSUM): flags a SUSTAINED
    * mean shift in a type's hourly volume that per-point detectors
    * miss — `q_ts_anomaly` needs one loud hour, `q_ts_tukey` a local
    * excursion; a 1σ drift spread over a day trips neither but
    * accumulates here.
    *
    * The recurrence s⁺_t = max(0, s⁺_{t-1} + z_t − k) is inherently
    * sequential, so it folds over the collected per-type series
    * (`q_ts_ewma`'s justification: the fold's evaluation order is
    * DEFINED, both engines run the identical IEEE chain — the DuckDB
    * twin drives the same arithmetic through a recursive CTE). z keeps
    * the (c·x − s1) integer numerator exact before its one cast; the
    * collected array is the RESAMPLED series, bounded by the time span,
    * never event volume. */
  def tsCusum(s: SparkSession, d: String): DataFrame = {
    val arr = denseHourly(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("c"), sum("n").as("s1"),
        sum(col("n") * col("n")).as("s2"),
        sort_array(collect_list(
          struct(col("hour_us").as("h"), col("n").as("v")))).as("hv"))
      // c·s2 > s1² ⟺ sd > 0 (exact BIGINT compare, no float): a constant
      // series has sd = 0, where Spark's x/0.0 = NaN (sorts greatest, so
      // drift flags flip true) but DuckDB folds the NULL division to a
      // 0-statistic — the twins would diverge. CUSUM over a constant
      // series is meaningless anyway; both engines drop it identically.
      .filter(col("c") > 1 &&
        col("c") * col("s2") > col("s1") * col("s1"))
      .withColumn("sd",
        sqrt((col("c") * col("s2") - col("s1") * col("s1")).cast("double")
          / (col("c") * (col("c") - 1)).cast("double")))
    def z(x: org.apache.spark.sql.Column) =
      (col("c") * x - col("s1")).cast("double") /
        (col("c").cast("double") * col("sd"))
    val init = struct(lit(0.0).as("sp"), lit(0.0).as("sn"),
      lit(0.0).as("mp"), lit(0.0).as("mn"))
    val fold = aggregate(
      transform(col("hv"), e => e.getField("v")),
      init,
      (acc, x) => {
        val spN = greatest(lit(0.0),
          acc.getField("sp") + z(x) - lit(0.5))
        val snN = greatest(lit(0.0),
          acc.getField("sn") - z(x) - lit(0.5))
        struct(spN.as("sp"), snN.as("sn"),
          greatest(acc.getField("mp"), spN).as("mp"),
          greatest(acc.getField("mn"), snN).as("mn"))
      })
    arr.select(col("event_type"), col("c").as("n_hours"),
        fold.as("st"))
      .select(col("event_type"), col("n_hours"),
        round(col("st.mp"), 6).as("max_cusum_up"),
        round(col("st.mn"), 6).as("max_cusum_down"),
        (round(col("st.mp"), 6) >= 5).as("drift_up"),
        (round(col("st.mn"), 6) >= 5).as("drift_down"))
      .orderBy("event_type")
  }

  /** Rolling Tukey-fence outlier detection: each hour judged against the
    * quartiles of its own trailing 25-hour window — the boxplot rule
    * (outside [q1 − 1.5·IQR, q3 + 1.5·IQR]) made LOCAL, which is what a
    * drifting traffic baseline needs (`q_ts_anomaly`'s global z-score
    * flags every hour of a new higher regime; a rolling fence adapts).
    * Tukey (not a rolling MAD) because the fences are SINGLE-LEVEL
    * window aggregates — a rolling MAD needs the median of deviations
    * from the frame's own median, which windows cannot nest.
    *
    * Exactness: quartiles of ≤25 integers interpolate on quarter
    * fractions — dyadic rationals (the q_agg_mad trick), and 1.5·IQR
    * keeps them dyadic, so the fence comparisons are engine-exact with
    * no rounding anywhere. Corpus touched once by the hourly agg; the
    * rolling windows run on the densified resampled grid. */
  def tsTukey(s: SparkSession, d: String): DataFrame = {
    val dense = denseHourly(s, d)
    val w = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(-24, Window.currentRow)
    val iqr = col("q3") - col("q1")
    dense
      .withColumn("q1", percentile(col("n"), lit(0.25)).over(w))
      .withColumn("q3", percentile(col("n"), lit(0.75)).over(w))
      .select(col("event_type"), col("hour_us"), col("n"),
        col("q1"), col("q3"),
        (col("n") < col("q1") - lit(1.5) * iqr ||
          col("n") > col("q3") + lit(1.5) * iqr).as("is_outlier"))
      .orderBy("event_type", "hour_us")
  }

  /** Rolling-origin forecast backtest of the EWMA forecaster: for every
    * hour t ≥ 2 the forecast for x_t is EWMA(x₁..x_{t−1}), scored as
    * MAE and as MASE against the naive lag-1 baseline — the "is the
    * smoother actually predictive?" measurement ([[tsEwma]] fits a
    * level; this scores its out-of-sample skill, the difference between
    * a dashboard and a model).
    *
    * Both error sums come from ONE defined-order struct fold per type,
    * O(span): the state (ew, prev, se, sn) is seeded (x₁, x₁, 0, 0) and
    * each step x₂…x_n scores the forecast before updating it — se +=
    * |x − ew|, sn += |x − prev|, then ew ← 0.2·x + 0.8·ew — which is
    * exactly the DuckDB twin's recursive-CTE row (ew, se, sn), so both
    * engines run the identical IEEE chain. The per-type state is the
    * O(span) resampled series, never raw events. (A prefix-array EWMA
    * read through `element_at` inside a per-hour error lambda costs
    * O(span³): lambdas run interpreted with no subexpression
    * elimination, so the O(span²) `array_append` fold re-runs for every
    * hour.) MAEs and MASE are rounded 4. Series under 2 hours are
    * declared out (no error term exists); a constant series has MASE
    * NULL (naive MAE 0 — the same rounded-guard CASE in both
    * engines). */
  def tsBacktest(s: SparkSession, d: String): DataFrame = {
    val arr = denseHourly(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sort_array(collect_list(
          struct(col("hour_us").as("h"), col("n").as("v")))).as("hv"))
      .filter(col("n_hours") >= 2)
    val xs = transform(col("hv"), e => e.getField("v").cast("double"))
    val x1 = element_at(xs, 1)
    val fold = aggregate(
      slice(xs, lit(2), size(xs) - 1),
      struct(x1.as("ew"), x1.as("prev"), lit(0.0).as("se"),
        lit(0.0).as("sn")),
      (acc, x) => {
        val ew = acc.getField("ew")
        struct((lit(0.2) * x + lit(0.8) * ew).as("ew"), x.as("prev"),
          (acc.getField("se") + abs(x - ew)).as("se"),
          (acc.getField("sn") + abs(x - acc.getField("prev"))).as("sn"))
      })
    val cnt = (col("n_hours") - 1).cast("double")
    val maeN = round(col("st.sn") / cnt, 4)
    arr.select(col("event_type"), col("n_hours"), fold.as("st"))
      .select(col("event_type"), col("n_hours"),
        round(col("st.se") / cnt, 4).as("mae_ewma"), maeN.as("mae_naive"),
        when(maeN > 0, round(col("st.se") / col("st.sn"), 4)).as("mase"))
      .orderBy("event_type")
  }

  /** Mann–Kendall trend test per type's hourly series: S = Σ sign(xⱼ −
    * xᵢ) over ordered pairs, tie-corrected variance, z, and a monotone-
    * trend verdict — the nonparametric "is this metric drifting?"
    * answer ([[tsCusum]] needs a known σ baseline; MK is distribution-
    * free, the standard for environmental/ops monitoring series).
    *
    * Scale shape: the pair self-join runs on the RESAMPLED dense grid —
    * span² pairs per type, bounded by the time window, NEVER corpus²
    * (the corpus is touched once by the hourly agg inside
    * [[denseHourly]]). S and the tie term Σ t(t−1)(2t+5) are exact
    * BIGINTs (span-bounded — no decimal needed), and z's closed form
    * uses only ÷ and sqrt on exact operands — bit-identical, so the
    * trend verdict thresholds a shared double. */
  def tsMannKendall(s: SparkSession, d: String): DataFrame = {
    val g = denseHourly(s, d).transform(Materialize("tsMannKendall.grid"))
    val pairs = g.as("a").join(g.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.hour_us") < col("b.hour_us"))
      .select(col("a.event_type").as("event_type"),
        when(col("b.n") > col("a.n"), 1L)
          .when(col("b.n") < col("a.n"), -1L)
          .otherwise(0L).as("sgn"))
    val sAgg = pairs.groupBy("event_type").agg(sum("sgn").as("s_stat"))
    val ties = g.groupBy("event_type", "n").agg(count(lit(1)).as("t"))
      .groupBy("event_type").agg(
        sum("t").as("n_hours"),
        sum(col("t") * (col("t") - lit(1L))
          * (lit(2L) * col("t") + lit(5L))).as("tie_term"))
    val nh = col("n_hours")
    val varS = (nh * (nh - lit(1L)) * (lit(2L) * nh + lit(5L))
      - col("tie_term")).cast("double") / lit(18.0)
    val z = when(col("s_stat") > 0,
        (col("s_stat") - lit(1L)).cast("double") / sqrt(varS))
      .when(col("s_stat") < 0,
        (col("s_stat") + lit(1L)).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    sAgg.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_hours"), col("s_stat"),
        varS.as("var_s"), z.as("z"),
        when(z > 1.96, "increasing")
          .when(z < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
      .orderBy("event_type")
  }

  /** Cross-correlation between the click and purchase hourly series at
    * lags −3…+3 — the lead–lag discovery op: q_ts_acf asks "does this
    * series predict itself?", this asks "does stream A lead stream B,
    * and by how much?" (the causality-screening step before any funnel
    * attribution is trusted; the argmax lag is the candidate
    * click-to-purchase latency at hour grain).
    *
    * Scale shape: ONE corpus agg reduces events to the hourly frame;
    * both series 0-fill on a SHARED dense grid, each lag pairs rows by
    * an equi-join on the shifted integer hour key (hash join on a
    * computed key, never a range scan), and the exact-moment reduction
    * runs on the bounded (grid × 7) frame. Counts bound every BIGINT
    * product well inside range; r's double tree runs on exact-integer
    * operands, rounded 6, with the zero-variance guard mirrored
    * CASE-for-CASE in the twin. */
  def tsXcorr(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(hourUs))).as("hour_us"))
      .agg(count(lit(1)).as("n"))
      .transform(Materialize("tsXcorr.hourly"))
    val grid = hourly.groupBy()
      .agg(min("hour_us").as("h0"), max("hour_us").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"), lit(hourUs)))
        .as("hour_us"))
    val dense = grid
      .join(hourly.filter(col("event_type") === "click")
        .select(col("hour_us"), col("n").as("na")), Seq("hour_us"), "left")
      .join(hourly.filter(col("event_type") === "purchase")
        .select(col("hour_us"), col("n").as("nb")), Seq("hour_us"), "left")
      .select(col("hour_us"), coalesce(col("na"), lit(0L)).as("a"),
        coalesce(col("nb"), lit(0L)).as("b"))
      .transform(Materialize("tsXcorr.dense"))
    val pairs = dense
      .select(col("hour_us"), col("a"),
        explode(sequence(lit(-3), lit(3))).as("lag"))
      .select(col("lag").cast("long").as("lag"), col("a"),
        (col("hour_us") + col("lag") * hourUs).as("bh"))
      .join(dense.select(col("hour_us").as("bh"), col("b")), Seq("bh"))
    val m = pairs.groupBy("lag")
      .agg(count(lit(1)).as("n_hours"),
        sum("a").as("sa"), sum("b").as("sb"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
    val vara = m("n_hours") * col("saa") - col("sa") * col("sa")
    val varb = m("n_hours") * col("sbb") - col("sb") * col("sb")
    val num = (m("n_hours") * col("sab") - col("sa") * col("sb"))
      .cast("double")
    m.select(col("lag"), col("n_hours"),
        when(vara > 0 && varb > 0,
          round(num / (sqrt(vara.cast("double")) *
            sqrt(varb.cast("double"))), 6)).as("r"))
      .orderBy("lag")
  }

  /** Peak-to-trough drawdown audit of the daily revenue series — the
    * risk/health number every revenue (or throughput) dashboard quotes:
    * worst decline from any prior all-time high. `q_ts_cusum` finds
    * sustained MEAN shifts; this quantifies worst-case PEAK loss.
    *
    * Determinism: daily totals are exact BIGINT cents from ONE
    * fact-table keyed agg; the running peak is an integer window max
    * under the defined (day) total order; each drawdown is one
    * exact-operand division rounded 6 BEFORE the running max-dd window
    * reads it, so that max compares already-identical doubles on both
    * engines. Scale: everything after the keyed agg runs on the
    * bounded day-span frame (a window over ≤ span rows — the single
    *-partition sort is on KB of data, never the fact table). */
  def tsDrawdown(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .select(expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev_cents"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = daily.select(col("day"), col("rev_cents"),
      max("rev_cents").over(cum).as("peak_cents"))
    val dd = peaks.withColumn("drawdown",
      round((col("peak_cents") - col("rev_cents")).cast("double")
        / col("peak_cents").cast("double"), 6))
    dd.withColumn("max_drawdown", max("drawdown").over(cum))
      .orderBy("day")
  }

  /** Value-at-Risk / CVaR of daily revenue CHANGES at 95% —
    * [[tsDrawdown]] measures realized worst-case decline; VaR asks the
    * forward question "how bad is the worst 5% of days?" and CVaR "how
    * bad are they ON AVERAGE?" — the coherent tail-risk pair every
    * capacity/revenue planner quotes.
    *
    * Determinism: deltas are exact BIGINT cents under the day total
    * order; the tail THRESHOLD is `percentile_disc` — an ACTUAL data
    * value, no float interpolation — so tail membership is an
    * exact-integer compare on both engines; the interpolated
    * `percentile_cont` headline and the tail mean are the only doubles,
    * both rounded 4 (the `q_sql_percentile` precedent). Scale: one
    * fact-table keyed agg; everything after runs on the bounded
    * day-span frame. */
  def tsVar(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .select(expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev"))
    val dd = daily
      .select(col("day"),
        (col("rev") - lag("rev", 1).over(Window.orderBy("day"))).as("d"))
      .filter(col("d").isNotNull)
      .transform(Materialize("tsVar.deltas"))
    val q = dd.agg(
      count(lit(1)).as("n_days"),
      min("d").as("worst_delta"),
      expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY d)")
        .cast("long").as("var95_cents"),
      round(expr("percentile_cont(0.05) WITHIN GROUP (ORDER BY d)"), 4)
        .as("var95_interp"))
    val tail = dd.crossJoin(broadcast(q.select("var95_cents")))
      .filter(col("d") <= col("var95_cents"))
      .agg(sum("d").as("ts"), count(lit(1)).as("tn"))
    q.crossJoin(broadcast(tail))
      .select(col("n_days"), col("worst_delta"), col("var95_cents"),
        col("var95_interp"),
        round(col("ts").cast("double") / col("tn").cast("double"), 4)
          .as("cvar_cents"))
  }

  /** Single change-point detection on the daily revenue series: the
    * split that maximizes the between-segment sum of squares — the
    * binary-segmentation primitive (CUSUM's offline sibling: `q_ts_cusum`
    * asks "is the mean drifting NOW" online; this asks "WHERE did the
    * mean shift" in retrospect, the first split of a full binary
    * segmentation).
    *
    * Determinism: prefix sums are exact BIGINT cents under the day total
    * order; the objective J(i) = s1²/n1 + s2²/n2 (maximizing J minimizes
    * within-segment SSE — the quadratic terms cancel) is ONE shared IEEE
    * tree over exact integer operands on both engines, so the raw-double
    * argmax cannot diverge (the `q_select_kcenter` precedent); ties
    * break to the earliest day via min-struct. Scale: one fact keyed
    * agg collapses the corpus to the day frame; the unpartitioned
    * prefix window runs on that bounded frame (the `q_ts_drawdown`
    * shape), and the argmax is a map-side-combinable 1-row min-struct
    * agg, never a global sort. */
  def tsChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .select(expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev_cents"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val c = daily.select(col("day"),
      row_number().over(Window.orderBy("day")).cast("long").as("n1"),
      sum("rev_cents").over(wCum).as("s1"),
      count(lit(1)).over(wAll).as("n"),
      sum("rev_cents").over(wAll).as("s"))
    val j = c.filter(col("n1") < col("n"))
      .select(col("day"), col("n1"), col("s1"),
        (col("n") - col("n1")).as("n2"), (col("s") - col("s1")).as("s2"))
      .withColumn("nj",
        -(col("s1").cast("double") * col("s1").cast("double")
            / col("n1").cast("double")
          + col("s2").cast("double") * col("s2").cast("double")
            / col("n2").cast("double")))
    j.agg(min(struct(col("nj"), col("day"), col("n1"), col("s1"),
        col("n2"), col("s2"))).as("b"))
      .select(col("b.day").as("cp_day"),
        col("b.n1").as("n_left"), col("b.n2").as("n_right"),
        round(col("b.s1").cast("double") / col("b.n1").cast("double")
          / 100.0, 4).as("mean_left"),
        round(col("b.s2").cast("double") / col("b.n2").cast("double")
          / 100.0, 4).as("mean_right"),
        round((col("b.s2").cast("double") / col("b.n2").cast("double")
          - col("b.s1").cast("double") / col("b.n1").cast("double"))
          / 100.0, 4).as("shift"))
  }

  /** Holt-Winters additive triple exponential smoothing on the dense
    * hourly series (period m = 24, the hour-of-day cycle): `q_ts_holt`
    * tracks level + trend and goes blind the moment traffic has a daily
    * rhythm — every forecast lags the cycle; Holt-Winters carries a
    * 24-slot seasonal state vector updated one slot per step
    * (α = 0.2, β = 0.1, γ = 0.3), the standard operational
    * traffic-forecast baseline.
    *
    * Determinism: the fold is the `q_ts_holt` defined-order `aggregate`
    * HOF, here with a struct(level, trend, season[24], i) accumulator
    * and per-step array-slot surgery; the DuckDB twin replays the
    * identical recursion carrying the LIST through a recursive CTE —
    * same expression tree per step, so thousands of chained IEEE ops
    * stay bit-identical (the q_ts_holt precedent, plus a vector state).
    * The season/trend INIT means are sums of INTEGER-valued doubles
    * (exact regardless of summation order — what licenses `list_sum`
    * against the sequential fold). Types need ≥ 48 hours (two full
    * seasons) or are dropped by declared contract.
    *
    * Scale: the corpus collapses to per-type dense hourly arrays in one
    * keyed agg; the fold is per-type scan-stage expression work —
    * embarrassingly parallel across types, no shuffle after the agg. */
  def tsHoltWinters(s: SparkSession, d: String): DataFrame = {
    val arr = denseHourly(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sort_array(collect_list(
          struct(col("hour_us").as("h"), col("n").as("v")))).as("hv"))
      .filter(col("n_hours") >= 48)
    // xs and the season-1 mean are columns of their own, each referenced
    // more than once (so CollapseProject keeps them apart): the s0 lambda
    // reads the mean per slot instead of re-running its fold and the xs
    // transform under it 24 times.
    def mean24(from: Int) = aggregate(slice(col("xs"), lit(from), lit(24)),
      lit(0.0), (a, x) => a + x) / lit(24.0)
    val seeded = arr
      .select(col("event_type"), col("n_hours"),
        transform(col("hv"), e => e.getField("v").cast("double")).as("xs"))
      .select(col("event_type"), col("n_hours"), col("xs"),
        mean24(1).as("l0"), mean24(25).as("m2"))
    val xs = col("xs"); val l0 = col("l0")
    val tr0 = (col("m2") - l0) / lit(24.0)
    val s0 = transform(slice(xs, lit(1), lit(24)), x => x - l0)
    val init = struct(lit(24L).as("i"), l0.as("l"), tr0.as("tr"),
      s0.as("s"))
    val fold = aggregate(
      slice(xs, lit(25), greatest(size(xs) - 24, lit(0))),
      init,
      (acc, x) => {
        val i = acc.getField("i")
        val idx = ((i % 24) + 1).cast("int")
        val sv = acc.getField("s")
        val sIdx = element_at(sv, idx)
        val l = acc.getField("l"); val tr = acc.getField("tr")
        val lNew = lit(0.2) * (x - sIdx) + lit(0.8) * (l + tr)
        val trNew = lit(0.1) * (lNew - l) + lit(0.9) * tr
        val sNew = lit(0.3) * (x - lNew) + lit(0.7) * sIdx
        struct((i + 1).as("i"), lNew.as("l"), trNew.as("tr"),
          concat(slice(sv, lit(1), idx - 1), array(sNew),
            slice(sv, idx + 1, lit(24) - idx)).as("s"))
      })
    seeded.select(col("event_type"), col("n_hours"), fold.as("st"))
      .select(col("event_type"), col("n_hours"),
        round(col("st.l"), 6).as("level_last"),
        round(col("st.tr"), 6).as("trend_last"),
        round(col("st.l") + col("st.tr")
          + element_at(col("st.s"),
            ((col("n_hours") % 24) + 1).cast("int")), 6)
          .as("forecast_1"),
        round(array_max(col("st.s")) - array_min(col("st.s")), 6)
          .as("season_amp"))
      .orderBy("event_type")
  }

  /** STL-style additive decomposition of the dense hourly series into
    * trend / hour-of-day seasonal / residual — the EXPLAIN view of the
    * family (`q_ts_holtwinters` forecasts with seasonal state; this
    * DECOMPOSES the history so an analyst can see how much of the
    * variance is rhythm vs drift vs noise): trend = the centered
    * 25-hour moving average (full windows only — the boundary rows are
    * dropped by declared contract, the classical MA-decomposition
    * convention), seasonal = the per-(type, hour-of-day) mean of the
    * detrended series, and `seasonal_strength` = η² of the hour-of-day
    * factor (1 − SSW/SST over the detrended values — exactly the
    * "strength of seasonality" statistic of the STL literature).
    *
    * Determinism: the trend is an exact rational (25-hour integer sum /
    * 25); the detrended value is ONE shared tree, quantized to 1e-4
    * units as an exact BIGINT before ANY aggregation (the
    * `q_select_dsir` discipline) — seasonal means are exact-integer
    * rationals and η² comes from pure-BIGINT within/total moments (unit
    * scale chosen so squared sums stay < 2⁶³). Scale: one keyed count
    * agg, one keyed 25-row window, one (type × 24)-cell agg — the
    * corpus is touched once. */
  def tsStl(s: SparkSession, d: String): DataFrame = {
    val w25 = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(-12, 12)
    val det = denseHourly(s, d)
      .withColumn("wcnt", count(lit(1)).over(w25))
      .withColumn("wsum", sum("n").over(w25))
      .filter(col("wcnt") === 25)
      .withColumn("trend", col("wsum").cast("double") / lit(25.0))
      .withColumn("du",
        round(lit(10000.0) * (col("n").cast("double") - col("trend")), 0)
          .cast("long"))
      .withColumn("hod",
        expr("(hour_us % 86400000000) div 3600000000"))
    val cells = det.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_obs"), sum("du").as("su"),
        sum(col("du") * col("du")).as("sq"))
    val wT = Window.partitionBy("event_type")
    cells
      .withColumn("c", sum("n_obs").over(wT))
      .withColumn("s1", sum("su").over(wT))
      .withColumn("s2", sum("sq").over(wT))
      // SSW = Σ_cells (sq − su²/n_obs); SST = s2 − s1²/c; η² = 1 − SSW/SST.
      // Per-cell within terms round to integer unit² BEFORE the
      // cross-cell sum (order-independence; the ≤0.5/cell rounding is
      // invisible next to unit²-scale sums).
      .withColumn("ssw", sum(
        round(col("sq").cast("double")
          - col("su").cast("double") * col("su").cast("double")
            / col("n_obs").cast("double"), 0).cast("long")).over(wT)
        .cast("double"))
      .select(col("event_type"), col("hod"), col("n_obs"),
        round(col("su").cast("double")
          / (col("n_obs").cast("double") * lit(10000.0)), 4)
          .as("seasonal"),
        // c·s2 > s1² ⟺ SST > 0 (exact BIGINT compare): a constant
        // detrended series has no variance to explain — strength NULL
        // by declared contract, and the divide stays unreachable.
        when(col("c") * col("s2") > col("s1") * col("s1"),
          round(lit(1.0) - col("ssw")
            / (col("s2").cast("double")
              - col("s1").cast("double") * col("s1").cast("double")
                / col("c").cast("double")), 4)).as("seasonal_strength"))
      .orderBy("event_type", "hod")
  }

  /** Theil–Sen robust trend estimator on the daily revenue series: the
    * median of all pairwise slopes, plus the median-residual intercept —
    * `q_ts_mannkendall` answers IS there a monotone trend (a rank test);
    * this answers HOW STEEP it is, with the estimator's 29% breakdown
    * point (a season of corrupted days cannot drag the slope the way it
    * drags least-squares — the robust companion to `q_agg_linreg`).
    *
    * Determinism: every pairwise slope is ONE exact-operand IEEE
    * division (BIGINT cent deltas over BIGINT day deltas), so the slope
    * multiset is engine-identical and `percentile_disc(0.5)` — an
    * ACTUAL slope value, no interpolation — picks the same element;
    * residuals reuse that exact median in the same tree, so the
    * intercept pick is identical too. Scale: the fact collapses to the
    * day frame FIRST (one keyed agg), and the O(n²) pair scan is over
    * DAYS, not rows — ~3.2 M pairs for a decade of days, constant in
    * corpus size; the non-equi day self-join is a deliberate bounded
    * BNLJ on the PlanGuard allowlist, the checkpointed day frame its
    * only input. */
  def tsTheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .select(expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev_cents"))
      .transform(Materialize("tsTheilSen.daily"))
    val a = daily.select(col("day").as("d1"), col("rev_cents").as("y1"))
    val b = daily.select(col("day").as("d2"), col("rev_cents").as("y2"))
    val slopes = a.join(b, col("d2") > col("d1"))
      .select(((col("y2") - col("y1")).cast("double")
        / (col("d2") - col("d1")).cast("double")).as("slope"))
    val med = slopes.agg(count(lit(1)).as("n_pairs"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
        .as("med"))
    val icept = daily.crossJoin(broadcast(med.select("med")))
      .select((col("rev_cents").cast("double")
        - col("med") * col("day").cast("double")).as("resid"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY resid)")
        .as("icept"))
    daily.agg(count(lit(1)).as("n_days"))
      .crossJoin(broadcast(med)).crossJoin(broadcast(icept))
      .select(col("n_days"), col("n_pairs"),
        round(col("med"), 6).as("slope_cents_per_day"),
        round(col("icept"), 2).as("intercept_cents"),
        when(col("med") > 0, "up").when(col("med") < 0, "down")
          .otherwise("flat").as("direction"))
  }
}
