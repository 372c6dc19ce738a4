package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Feature-engineering / model-evaluation / private-release surface
  * (SURVEY §2.8): the tabular-ML prep steps between a curated corpus and
  * a training run — categorical encoding, probability-calibration audit,
  * curriculum sequencing, and differentially-private publication.
  *
  * Extension surface — the reference computes nothing (SURVEY §0.1);
  * these rows are the BASELINE.json training-data-pipeline mandate.
  *
  * Cross-engine float discipline (the repo invariant): every statistic
  * derives from EXACT integer sums (cents, basis points, counts); the
  * double arithmetic on top is the SAME expression tree in the Spark
  * code and the DuckDB twin, rounded once at the end. The calibration
  * scorer deliberately uses the libm-free rational squash
  * p = (x/(1+|x|)+1)/2 — correctly-rounded IEEE ops only, so even the
  * BINNING is bit-identical across engines (an `exp`-based sigmoid
  * could flip a boundary row between bins). The one libm use (`ln` in
  * the Laplace inverse CDF) is absorbed by the 4dp rounding barrier,
  * the `q_dq_drift_psi` precedent.
  */
object FeatureQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_feature_target_encode" -> featureTargetEncode _,
    "q_feature_onehot"        -> featureOnehot _,
    "q_eval_calibration"      -> evalCalibration _,
    "q_curriculum_order"      -> curriculumOrder _,
    "q_dp_laplace"            -> dpLaplace _,
    "q_feature_woe"           -> featureWoe _,
    "q_eval_brier"            -> evalBrier _,
    "q_eval_pass_at_k"        -> evalPassAtK _,
    "q_eval_fleiss"           -> evalFleiss _,
    "q_dp_topk"               -> dpTopk _,
    "q_eval_bradley_terry"    -> evalBradleyTerry _
  )

  /** Exact falling factorial (x)ₖ = x·(x−1)·…·(x−k+1) as a BIGINT
    * product — the pass@k combinatorics kernel (C(n−c,k)/C(n,k) is a
    * ratio of two of these; the binomials themselves would overflow
    * while the k-term ratio never needs them). Caller bounds x so the
    * product fits a long; under ANSI overflow fails loud, never
    * corrupts. */
  private def ff(x: org.apache.spark.sql.Column, k: Int) =
    (1 until k).foldLeft(x)((acc, i) => acc * (x - lit(i)))

  /** The same k factors as DuckDB SQL text. */
  private def ffSql(x: String, k: Int): String =
    (0 until k).map(i => if (i == 0) s"($x)" else s"($x - $i)")
      .mkString(" * ")

  /** One unrolled Bradley–Terry MM round for the oracle: per-pair
    * denominator terms quantized to 1e-9 units before the per-brand
    * sum, raw strengths quantized to su units, normalized 9dp — the
    * exact tree the Spark round computes. */
  private def btRoundSql(r: Int): String =
    s"""dn$r AS (
       |  SELECT g.i AS brand,
       |    CAST(sum(CAST(round(CAST(g.g AS DOUBLE)
       |      / (si.s + sj.s) * 1.0e9, 0) AS BIGINT)) AS BIGINT)
       |      AS den_units
       |  FROM games g
       |  JOIN s${r - 1} si ON si.brand = g.i
       |  JOIN s${r - 1} sj ON sj.brand = g.j
       |  GROUP BY 1),
       |sr$r AS (
       |  SELECT w.brand,
       |    CAST(round((CAST(w.wins AS DOUBLE) * 1.0e9
       |      / CAST(dn.den_units AS DOUBLE)) * 1.0e9, 0) AS BIGINT)
       |      AS su
       |  FROM w JOIN dn$r dn ON dn.brand = w.brand),
       |s$r AS (
       |  SELECT brand, round(CAST(su AS DOUBLE)
       |    / CAST(sum(su) OVER () AS DOUBLE), 9) AS s
       |  FROM sr$r)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Cell sums exact BIGINT cents; the global prior is one scalar agg;
    // encode = (sum + m·prior)/(n + m) as one exact-rational tree.
    "q_feature_target_encode" ->
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT))
        |      AS BIGINT) AS sum_cents
        |  FROM customer GROUP BY 1, 2),
        |g AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS gn,
        |    CAST(sum(sum_cents) AS BIGINT) AS gsum
        |  FROM cells)
        |SELECT c_nationkey, c_mktsegment, n,
        |  round(CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE), 4)
        |    AS mean_cents,
        |  round((CAST(sum_cents AS DOUBLE)
        |      + 10.0 * (CAST(gsum AS DOUBLE) / CAST(gn AS DOUBLE)))
        |    / CAST(n + 10 AS DOUBLE), 4) AS enc_cents
        |FROM cells, g
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // Indicators are scan-stage CASEs over the DECLARED vocabulary;
    // the frequency encode is an exact rational over the ≤5-row
    // segment-count frame, rounded 6.
    "q_feature_onehot" ->
      """WITH freq AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(count(*)) OVER () AS BIGINT) AS tot
        |  FROM customer GROUP BY 1)
        |SELECT c.c_custkey,
        |  CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
        |    AS is_automobile,
        |  CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
        |    AS is_building,
        |  CASE WHEN c.c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END
        |    AS is_furniture,
        |  CASE WHEN c.c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END
        |    AS is_household,
        |  CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END
        |    AS is_machinery,
        |  CASE WHEN c.c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING',
        |    'FURNITURE', 'HOUSEHOLD', 'MACHINERY') THEN 1 ELSE 0 END
        |    AS is_other,
        |  round(CAST(f.n AS DOUBLE) / CAST(f.tot AS DOUBLE), 6)
        |    AS seg_freq
        |FROM customer c JOIN freq f ON f.c_mktsegment = c.c_mktsegment
        |ORDER BY c.c_custkey""".stripMargin,
    // The libm-free squash makes p bit-identical, so bin membership and
    // the basis-point floor are EXACT on both engines; per-bin sums are
    // integers and every emitted rate is an exact-rational round 6.
    "q_eval_calibration" ->
      """WITH scored AS (
        |  SELECT (CAST(embedding[1] AS DOUBLE)
        |      / (1.0 + abs(CAST(embedding[1] AS DOUBLE))) + 1.0) / 2.0
        |      AS p,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |binned AS (
        |  SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
        |    CAST(floor(p * 10000) AS BIGINT) AS p_bp, y
        |  FROM scored),
        |b AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(sum(p_bp) AS BIGINT) AS sum_bp
        |  FROM binned GROUP BY bin)
        |SELECT bin, n, n_pos,
        |  round(CAST(sum_bp AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 6)
        |    AS mean_pred,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
        |  round(abs(CAST(sum_bp AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
        |    - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap
        |FROM b ORDER BY bin""".stripMargin,
    // Same stage thresholds; the shuffle key is the 52-bit md5 prefix
    // (what the Spark side feeds graft_topk_by as a double, doc_id
    // tiebreak) — the (stage, prefix, doc_id) order is total.
    "q_curriculum_order" ->
      """WITH staged AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN n_chars < 150 THEN 1
        |         WHEN n_chars < 300 THEN 2 ELSE 3 END AS stage,
        |    CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 13))
        |      AS BIGINT) AS h
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, n_chars, stage,
        |    CAST(row_number() OVER (PARTITION BY stage
        |      ORDER BY h, doc_id) AS BIGINT) AS rk
        |  FROM staged),
        |offs AS (
        |  SELECT stage, CAST(sum(count(*)) OVER (ORDER BY stage
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT) AS off
        |  FROM ranked GROUP BY stage)
        |SELECT ranked.rk + coalesce(offs.off, 0) AS pos,
        |  ranked.doc_id, ranked.stage, ranked.n_chars
        |FROM ranked JOIN offs ON offs.stage = ranked.stage
        |WHERE ranked.rk + coalesce(offs.off, 0) <= 100
        |ORDER BY pos""".stripMargin,
    // md5-uniform → Laplace inverse CDF; the one ln is inside the 4dp
    // rounding barrier; the u=1/2 singularity folds to zero noise via
    // the same CASE on both engines.
    "q_dp_laplace" ->
      """WITH cnt AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1),
        |u AS (
        |  SELECT c_nationkey, n,
        |    CAST(CAST(('0x' || substr(md5(c_nationkey::VARCHAR), 1, 8))
        |      AS BIGINT) AS DOUBLE) / 4294967296.0 - 0.5 AS v
        |  FROM cnt)
        |SELECT c_nationkey, n,
        |  round(CASE WHEN v = 0.0 THEN 0.0
        |    ELSE -sign(v) * ln(1.0 - 2.0 * abs(v)) END, 4) AS noise,
        |  round(CAST(n AS DOUBLE) + (CASE WHEN v = 0.0 THEN 0.0
        |    ELSE -sign(v) * ln(1.0 - 2.0 * abs(v)) END), 4) AS released
        |FROM u ORDER BY c_nationkey""".stripMargin,
    // Counts exact; WOE one shared ln tree over exact operands; IV terms
    // quantized to 1e-6 units before the cross-segment window total.
    "q_feature_woe" ->
      """WITH urgent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |lab AS (
        |  SELECT c.c_mktsegment AS segment,
        |    CASE WHEN u.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS yy
        |  FROM customer c LEFT JOIN urgent u ON u.o_custkey = c.c_custkey),
        |seg AS (
        |  SELECT segment, CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(yy) AS BIGINT) AS pos
        |  FROM lab GROUP BY 1),
        |t AS (
        |  SELECT segment, n_cust, pos, n_cust - pos AS neg,
        |    CAST(sum(pos) OVER () AS BIGINT) AS tp,
        |    CAST(sum(n_cust - pos) OVER () AS BIGINT) AS tn
        |  FROM seg),
        |sc AS (
        |  SELECT segment, n_cust, pos, neg,
        |    CASE WHEN tp > 0 AND tn > 0 THEN
        |      ln(((CAST(pos AS DOUBLE) + 0.5) / CAST(tp AS DOUBLE))
        |        / ((CAST(neg AS DOUBLE) + 0.5) / CAST(tn AS DOUBLE)))
        |    END AS woe_raw,
        |    CASE WHEN tp > 0 AND tn > 0 THEN
        |      CAST(pos AS DOUBLE) / CAST(tp AS DOUBLE)
        |        - CAST(neg AS DOUBLE) / CAST(tn AS DOUBLE)
        |    END AS dshare
        |  FROM t)
        |SELECT segment, n_cust, pos, neg,
        |  round(woe_raw, 6) AS woe,
        |  round(dshare * woe_raw, 6) AS iv_term,
        |  round(CAST(sum(CAST(round(1000000.0 * dshare * woe_raw, 0)
        |      AS BIGINT)) OVER () AS BIGINT) / 1000000.0, 6) AS iv_total
        |FROM sc ORDER BY segment""".stripMargin,
    // Per-row basis-point integers make the Brier numerator a pure
    // BIGINT sum; reliability/resolution numerators are exact per-bin
    // integers quantized to 1e-6 units before the 10-bin total.
    "q_eval_brier" ->
      """WITH scored AS (
        |  SELECT (CAST(embedding[1] AS DOUBLE)
        |      / (1.0 + abs(CAST(embedding[1] AS DOUBLE))) + 1.0) / 2.0
        |      AS p,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |r AS (
        |  SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
        |    CAST(floor(p * 10000) AS BIGINT) AS p_bp,
        |    CAST(y AS BIGINT) AS y
        |  FROM scored),
        |bins AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(sum(p_bp) AS BIGINT) AS sum_bp,
        |    CAST(sum((p_bp - y * 10000) * (p_bp - y * 10000)) AS BIGINT)
        |      AS sq
        |  FROM r GROUP BY 1),
        |g AS (
        |  SELECT bin, n, pos, sum_bp, sq,
        |    CAST(sum(n) OVER () AS BIGINT) AS nn,
        |    CAST(sum(pos) OVER () AS BIGINT) AS tpos,
        |    CAST(sum(sq) OVER () AS BIGINT) AS tsq
        |  FROM bins),
        |u AS (
        |  SELECT *,
        |    CAST(round(CAST(sum_bp - pos * 10000 AS DOUBLE)
        |      * CAST(sum_bp - pos * 10000 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * 100.0), 0) AS BIGINT) AS rel_units,
        |    CAST(round(CAST(pos * nn - tpos * n AS DOUBLE)
        |      * CAST(pos * nn - tpos * n AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
        |        * CAST(nn AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |      AS res_units
        |  FROM g),
        |one AS (
        |  SELECT nn, tpos, tsq,
        |    CAST(sum(rel_units) AS BIGINT) AS relu,
        |    CAST(sum(res_units) AS BIGINT) AS resu
        |  FROM u GROUP BY 1, 2, 3)
        |SELECT nn AS n, tpos AS n_pos,
        |  round(CAST(tsq AS DOUBLE) / (CAST(nn AS DOUBLE) * 1.0e8), 6)
        |    AS brier,
        |  round(CAST(tpos AS DOUBLE) * CAST(nn - tpos AS DOUBLE)
        |    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
        |    AS uncertainty,
        |  round(CAST(relu AS DOUBLE) / (1000000.0 * CAST(nn AS DOUBLE)),
        |    6) AS reliability,
        |  round(CAST(resu AS DOUBLE) / (1000000.0 * CAST(nn AS DOUBLE)),
        |    6) AS resolution,
        |  round(CAST(tpos AS DOUBLE) * CAST(nn - tpos AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
        |    - CAST(resu AS DOUBLE) / (1000000.0 * CAST(nn AS DOUBLE))
        |    + CAST(relu AS DOUBLE) / (1000000.0 * CAST(nn AS DOUBLE)),
        |    6) AS brier_decomp,
        |  round(CAST(tsq AS DOUBLE) / (CAST(nn AS DOUBLE) * 1.0e8)
        |    - (CAST(tpos AS DOUBLE) * CAST(nn - tpos AS DOUBLE)
        |        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
        |      - CAST(resu AS DOUBLE) / (1000000.0 * CAST(nn AS DOUBLE))
        |      + CAST(relu AS DOUBLE) / (1000000.0 * CAST(nn AS DOUBLE))),
        |    6) AS decomp_gap
        |FROM one""".stripMargin,
    // Falling-factorial ratio over exact BIGINTs (both engines divide
    // the same two integers once); per-k eligibility via the same CASE;
    // per-problem values quantized to 1e-6 units before the nation mean.
    "q_eval_pass_at_k" ->
      s"""WITH pc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |k AS (
        |  SELECT c_nationkey,
        |    CASE WHEN n - c < 1 THEN 1.0
        |      ELSE 1.0 - CAST(n - c AS DOUBLE) / CAST(n AS DOUBLE)
        |    END AS p1,
        |    CASE WHEN n < 5 OR n > 80 THEN NULL
        |      WHEN n - c < 5 THEN 1.0
        |      ELSE 1.0 - CAST(${ffSql("n - c", 5)} AS DOUBLE)
        |        / CAST(${ffSql("n", 5)} AS DOUBLE)
        |    END AS p5,
        |    CASE WHEN n < 10 OR n > 80 THEN NULL
        |      WHEN n - c < 10 THEN 1.0
        |      ELSE 1.0 - CAST(${ffSql("n - c", 10)} AS DOUBLE)
        |        / CAST(${ffSql("n", 10)} AS DOUBLE)
        |    END AS p10
        |  FROM pc JOIN customer ON c_custkey = o_custkey),
        |u AS (
        |  SELECT c_nationkey,
        |    CAST(round(p1 * 1000000, 0) AS BIGINT) AS u1,
        |    CAST(round(p5 * 1000000, 0) AS BIGINT) AS u5,
        |    CAST(round(p10 * 1000000, 0) AS BIGINT) AS u10
        |  FROM k)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_problems,
        |  CAST(count(u5) AS BIGINT) AS elig_5,
        |  CAST(count(u10) AS BIGINT) AS elig_10,
        |  round(CAST(sum(u1) AS DOUBLE)
        |    / (CAST(count(u1) AS DOUBLE) * 1000000.0), 6) AS mean_pass1,
        |  round(CAST(sum(u5) AS DOUBLE)
        |    / (CAST(count(u5) AS DOUBLE) * 1000000.0), 6) AS mean_pass5,
        |  round(CAST(sum(u10) AS DOUBLE)
        |    / (CAST(count(u10) AS DOUBLE) * 1000000.0), 6) AS mean_pass10
        |FROM u GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    // P_i an exact integer rational quantized to 1e-9 units per item;
    // category masses ride DECLARED-domain conditional sums in the
    // same per-item agg (A/N/R + a correctness 'other' bucket — no
    // per-item window, no second corpus pass); p_j² quantized to 1e-12
    // units per bucket; kappa one shared double tree.
    "q_eval_fleiss" ->
      """WITH cell AS (
        |  SELECT l_orderkey, l_returnflag,
        |    CAST(count(*) AS BIGINT) AS nij
        |  FROM lineitem GROUP BY 1, 2),
        |item AS (
        |  SELECT l_orderkey,
        |    CAST(sum(nij) AS BIGINT) AS ni,
        |    CAST(sum(nij * (nij - 1)) AS BIGINT) AS agree,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN nij ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN l_returnflag = 'N' THEN nij ELSE 0 END)
        |      AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN nij ELSE 0 END)
        |      AS BIGINT) AS nc
        |  FROM cell GROUP BY 1),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(ni) AS BIGINT) AS n_ratings,
        |    CAST(sum(CAST(round(CAST(agree AS DOUBLE) * 1.0e9
        |      / (CAST(ni AS DOUBLE) * CAST(ni - 1 AS DOUBLE)), 0)
        |      AS BIGINT)) AS BIGINT) AS p_units,
        |    CAST(sum(na) AS BIGINT) AS ta,
        |    CAST(sum(nb) AS BIGINT) AS tb,
        |    CAST(sum(nc) AS BIGINT) AS tc,
        |    CAST(sum(ni - na - nb - nc) AS BIGINT) AS td
        |  FROM item WHERE ni >= 2),
        |pe AS (
        |  SELECT *,
        |    CAST(round((CAST(ta AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * (CAST(ta AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * 1.0e12, 0) AS BIGINT)
        |    + CAST(round((CAST(tb AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * (CAST(tb AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * 1.0e12, 0) AS BIGINT)
        |    + CAST(round((CAST(tc AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * (CAST(tc AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * 1.0e12, 0) AS BIGINT)
        |    + CAST(round((CAST(td AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * (CAST(td AS DOUBLE) / CAST(n_ratings AS DOUBLE))
        |      * 1.0e12, 0) AS BIGINT) AS pe_units
        |  FROM agg)
        |SELECT n_items, n_ratings,
        |  round(CAST(p_units AS DOUBLE)
        |    / (CAST(n_items AS DOUBLE) * 1.0e9), 6) AS p_bar,
        |  round(CAST(pe_units AS DOUBLE) / 1.0e12, 6) AS p_e,
        |  round(CASE WHEN pe_units = 1000000000000 THEN NULL
        |    ELSE (CAST(p_units AS DOUBLE)
        |        / (CAST(n_items AS DOUBLE) * 1.0e9)
        |      - CAST(pe_units AS DOUBLE) / 1.0e12)
        |      / (1.0 - CAST(pe_units AS DOUBLE) / 1.0e12) END, 6)
        |    AS kappa
        |FROM pe""".stripMargin,
    // Same md5-uniform as q_sample_weighted; the nested ln pair sits
    // inside the 4dp rounding barrier; selection on the ROUNDED noisy
    // score with brand tiebreak — both engines release the same set.
    "q_dp_topk" ->
      """WITH cnt AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY 1),
        |sc AS (
        |  SELECT p_brand, n,
        |    -ln(round(-ln((('0x' || substr(md5(p_brand), 1, 8))::BIGINT
        |        + 0.5) / 4294967296.0) * 1.0e12, 0) / 1.0e12) AS g
        |  FROM cnt),
        |r AS (
        |  SELECT p_brand, n, round(g, 4) AS noise,
        |    round(CAST(n AS DOUBLE) + g, 4) AS noisy,
        |    CAST(row_number() OVER (
        |      ORDER BY round(CAST(n AS DOUBLE) + g, 4) DESC, p_brand)
        |      AS BIGINT) AS rank
        |  FROM sc)
        |SELECT rank, p_brand, n, noise, noisy
        |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin,
    // Exact-integer (cents DESC, brand ASC) winner rule; the corpus
    // collapses once into the (winner, loser) matrix; five unrolled MM
    // rounds replay the Spark iteration term-for-term (per-pair
    // denominator terms and strengths quantized identically).
    "q_eval_bradley_terry" -> (
      s"""WITH li AS (
        |  SELECT l.l_orderkey AS ok, l.l_linenumber AS ln,
        |    p.p_brand AS brand,
        |    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |pr AS (
        |  SELECT
        |    CASE WHEN a.cents > b.cents
        |        OR (a.cents = b.cents AND a.brand < b.brand)
        |      THEN a.brand ELSE b.brand END AS wi,
        |    CASE WHEN a.cents > b.cents
        |        OR (a.cents = b.cents AND a.brand < b.brand)
        |      THEN b.brand ELSE a.brand END AS lj
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.ln < b.ln
        |  WHERE a.brand <> b.brand),
        |nij AS (
        |  SELECT wi, lj, CAST(count(*) AS BIGINT) AS n
        |  FROM pr GROUP BY 1, 2),
        |games AS (
        |  SELECT i, j, CAST(sum(n) AS BIGINT) AS g FROM (
        |    SELECT wi AS i, lj AS j, n FROM nij
        |    UNION ALL SELECT lj AS i, wi AS j, n FROM nij)
        |  GROUP BY 1, 2),
        |br AS (SELECT DISTINCT i AS brand FROM games),
        |w AS (
        |  SELECT br.brand, CAST(coalesce(sum(nij.n), 0) AS BIGINT)
        |    AS wins
        |  FROM br LEFT JOIN nij ON nij.wi = br.brand GROUP BY 1),
        |s0 AS (SELECT brand, CAST(1.0 AS DOUBLE) AS s FROM br),
        |${btRoundSql(1)},
        |${btRoundSql(2)},
        |${btRoundSql(3)},
        |${btRoundSql(4)},
        |${btRoundSql(5)},
        |gt AS (
        |  SELECT i AS brand, CAST(sum(g) AS BIGINT) AS games
        |  FROM games GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY s5.s DESC, w.brand)
        |    AS BIGINT) AS rank,
        |  w.brand, w.wins, gt.games, round(s5.s, 6) AS strength
        |FROM w
        |JOIN gt ON gt.brand = w.brand
        |JOIN s5 ON s5.brand = w.brand
        |ORDER BY rank""".stripMargin)
  )

  /** Smoothed target (mean) encoding of the (nation × segment)
    * categorical cross against account balance — the
    * high-cardinality-categorical workhorse of tabular-ML prep: one-hot
    * explodes at 10⁵ categories, target encoding compresses each to one
    * informative number, and the additive-smoothing prior
    * (n·x̄ + m·global)/(n+m) with m=10 stops small cells from
    * memorizing noise.
    *
    * Scale: ONE keyed agg reduces the table to the cell frame (bounded
    * by the category domain); the global prior is a 1-row scalar agg
    * broadcast to it (PlanGuard-allowlisted cross). Cell sums are exact
    * BIGINT cents, the encode one exact-operand rational tree rounded
    * 4 — identical on both engines. */
  def featureTargetEncode(s: SparkSession, d: String): DataFrame = {
    val cells = customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val g = cells.agg(sum("n").as("gn"), sum("sum_cents").as("gsum"))
    cells.crossJoin(broadcast(g))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        round(col("sum_cents").cast("double") / col("n").cast("double"), 4)
          .as("mean_cents"),
        round((col("sum_cents").cast("double")
            + lit(10.0) * (col("gsum").cast("double")
              / col("gn").cast("double")))
          / (col("n") + 10).cast("double"), 4).as("enc_cents"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Fixed-vocabulary one-hot encoding of the market segment, plus an
    * exact-rational global frequency encode — the feature-matrix emit
    * step after `q_feature_target_encode`'s compression chooses which
    * categoricals stay wide. The vocabulary is DECLARED (the five known
    * segments): an unseen value fails loudly into `is_other` instead of
    * silently widening the schema.
    *
    * Scale: every indicator is a scan-stage CASE (codegen'd, zero
    * shuffle); the frequency join is a ≤5-row broadcast. */
  def featureOnehot(s: SparkSession, d: String): DataFrame = {
    val vocab =
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val freq = customer(s, d).groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(Window.partitionBy()))
    val ind = vocab.map { v =>
      when(col("c_mktsegment") === v, 1).otherwise(0)
        .as(s"is_${v.toLowerCase}")
    } :+ when(!col("c_mktsegment").isin(vocab: _*), 1).otherwise(0)
      .as("is_other")
    customer(s, d)
      .join(broadcast(freq), Seq("c_mktsegment"))
      .select(col("c_custkey") +: ind :+
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("seg_freq"): _*)
      .orderBy("c_custkey")
  }

  /** Calibration / reliability audit of a probability scorer (10-bin
    * ECE decomposition): per predicted-probability bin, the event rate
    * vs the mean prediction — the "is 0.8 actually 80%?" audit that
    * closes the eval family (`q_eval_confusion` = classification,
    * `q_eval_auc` = ranking separation, `q_eval_ndcg` = retrieval,
    * THIS = probability truthfulness).
    *
    * Determinism: the scorer is the libm-free rational squash
    * p = (x/(1+|x|)+1)/2 over embedding dim 1 — correctly-rounded IEEE
    * ops only, so p, the bin index, AND the basis-point floor are
    * bit-identical across engines (an exp-sigmoid could flip a
    * boundary row). Per-bin sums are exact integers; every emitted
    * rate is an exact-rational round 6. Scale: ONE map-side-combined
    * agg collapses the corpus to the 10-bin frame. */
  /** Weight-of-evidence / information-value audit of a categorical
    * feature against a binary outcome — the credit-scoring-born feature
    * screen (IV ranks candidate features by separation power BEFORE any
    * model is fit; WOE is also the monotone encoding logistic models
    * consume): per market segment, the evidence ln of the smoothed
    * positive/negative share ratio, its IV contribution, and the total
    * IV.
    *
    * Outcome = "customer placed ≥1 URGENT-priority order" (a semi-join
    * shape: the label table is the distinct urgent customer set, joined
    * left so orderless customers count as negatives). Counts are exact
    * integers; WOE = ln(((pos+0.5)/POS)/((neg+0.5)/NEG)) — the +0.5
    * Laplace half-count keeps empty CELLS finite, and a single-CLASS
    * corpus (POS=0 or NEG=0, where no evidence ratio exists) is declared
    * NULL by the same CASE guard in both engines — is ONE shared tree
    * over exact operands; IV terms are quantized to 1e-6 units before
    * the cross-segment total (the `q_select_dsir` discipline), so
    * `iv_total` is order-independent. Scale: corpus collapses in one
    * keyed agg; the class totals come from a window over the ≤5-row
    * segment frame, never a corpus-side cross. */
  def featureWoe(s: SparkSession, d: String): DataFrame = {
    val urgent = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val lab = customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("segment"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("yy"))
    val seg = lab.groupBy("segment")
      .agg(count(lit(1)).as("n_cust"), sum("yy").as("pos"))
      .withColumn("neg", col("n_cust") - col("pos"))
    val wAll = Window.partitionBy()
    val t = seg
      .withColumn("tp", sum("pos").over(wAll))
      .withColumn("tn", sum("neg").over(wAll))
    // A single-class corpus (no positives anywhere, or no negatives) has
    // no defined WOE: tp=0 would make dshare 0/0=NaN and woe ln(Inf),
    // and the two engines disagree downstream (Spark's NaN→BIGINT cast
    // yields 0, DuckDB's errors). Declare the degenerate case NULL on
    // BOTH sides (the q_agg_effectsize empty-group discipline) and floor
    // the denominators branchlessly so the divide is unreachable.
    val ok = col("tp") > 0 && col("tn") > 0
    def safeDen(c: org.apache.spark.sql.Column) =
      when(c > 0, c.cast("double")).otherwise(lit(1.0))
    val woe = when(ok, log(((col("pos").cast("double") + lit(0.5))
        / safeDen(col("tp")))
      / ((col("neg").cast("double") + lit(0.5))
        / safeDen(col("tn")))))
    val dshare = when(ok,
      col("pos").cast("double") / safeDen(col("tp")) -
        col("neg").cast("double") / safeDen(col("tn")))
    t.withColumn("woe_raw", woe).withColumn("dshare", dshare)
      .withColumn("iv_units",
        round(lit(1000000.0) * col("dshare") * col("woe_raw"), 0)
          .cast("long"))
      .select(col("segment"), col("n_cust"), col("pos"), col("neg"),
        round(col("woe_raw"), 6).as("woe"),
        round(col("dshare") * col("woe_raw"), 6).as("iv_term"),
        round(sum("iv_units").over(wAll).cast("double") / 1000000.0, 6)
          .as("iv_total"))
      .orderBy("segment")
  }

  /** Brier-score Murphy decomposition of the probability scorer
    * `q_eval_calibration` bins (reliability − resolution + uncertainty):
    * calibration's per-bin table says WHERE the scorer lies; this single
    * summary row says HOW MUCH of the total squared-error loss is
    * miscalibration (reliability — fixable by recalibration) vs missing
    * discrimination (resolution — not fixable without a better model)
    * vs irreducible outcome variance (uncertainty).
    *
    * Exactness: the libm-free rational squash makes p_bp an EXACT
    * basis-point integer per row, so the raw Brier numerator
    * Σ(p_bp − y·10⁴)² is a pure-BIGINT map-side-combinable sum;
    * reliability/resolution numerators are exact per-bin integers
    * ((sum_bp − pos·10⁴)², (pos·N − POS·n)²) quantized to 1e-6 units
    * before the 10-bin total — every emitted double is an exact
    * rational or a deterministic quantized sum, no float accumulation
    * anywhere. `decomp_gap` reports the within-bin variance residual
    * (the binned decomposition identity is exact only when predictions
    * are constant within bins — the gap IS the binning coarseness
    * audit). */
  def evalBrier(s: SparkSession, d: String): DataFrame = {
    val x = element_at(col("embedding"), 1).cast("double")
    val p = (x / (lit(1.0) + abs(x)) + lit(1.0)) / lit(2.0)
    val rows = embeddings(s, d)
      .select(least(floor(p * 10), lit(9.0)).cast("long").as("bin"),
        floor(p * 10000).cast("long").as("p_bp"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("y"))
    val bins = rows.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"),
        sum("p_bp").as("sum_bp"),
        sum((col("p_bp") - col("y") * 10000L)
          * (col("p_bp") - col("y") * 10000L)).as("sq"))
    val wAll = Window.partitionBy()
    val g = bins
      .withColumn("nn", sum("n").over(wAll))
      .withColumn("tpos", sum("pos").over(wAll))
      .withColumn("tsq", sum("sq").over(wAll))
      .withColumn("rel_units",
        round((col("sum_bp") - col("pos") * 10000L).cast("double")
          * (col("sum_bp") - col("pos") * 10000L).cast("double")
          / (col("n").cast("double") * lit(100.0)), 0).cast("long"))
      .withColumn("res_units",
        round((col("pos") * col("nn") - col("tpos") * col("n"))
            .cast("double")
          * (col("pos") * col("nn") - col("tpos") * col("n"))
            .cast("double")
          / (col("n").cast("double") * col("nn").cast("double")
            * col("nn").cast("double")) * lit(1000000.0), 0)
          .cast("long"))
    val one = g.groupBy("nn", "tpos", "tsq")
      .agg(sum("rel_units").as("relu"), sum("res_units").as("resu"))
    val brier = col("tsq").cast("double") /
      (col("nn").cast("double") * lit(1.0e8))
    val unc = col("tpos").cast("double") *
      (col("nn") - col("tpos")).cast("double") /
      (col("nn").cast("double") * col("nn").cast("double"))
    val rel = col("relu").cast("double") /
      (lit(1000000.0) * col("nn").cast("double"))
    val res = col("resu").cast("double") /
      (lit(1000000.0) * col("nn").cast("double"))
    one.select(col("nn").as("n"), col("tpos").as("n_pos"),
      round(brier, 6).as("brier"),
      round(unc, 6).as("uncertainty"),
      round(rel, 6).as("reliability"),
      round(res, 6).as("resolution"),
      round(unc - res + rel, 6).as("brier_decomp"),
      round(brier - (unc - res + rel), 6).as("decomp_gap"))
  }

  def evalCalibration(s: SparkSession, d: String): DataFrame = {
    val x = element_at(col("embedding"), 1).cast("double")
    val p = (x / (lit(1.0) + abs(x)) + lit(1.0)) / lit(2.0)
    val b = embeddings(s, d)
      .select(least(floor(p * 10), lit(9.0)).cast("long").as("bin"),
        floor(p * 10000).cast("long").as("p_bp"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum("p_bp").as("sum_bp"))
    val meanPred = col("sum_bp").cast("double") /
      (col("n").cast("double") * lit(10000.0))
    val rate = col("n_pos").cast("double") / col("n").cast("double")
    b.select(col("bin"), col("n"), col("n_pos"),
        round(meanPred, 6).as("mean_pred"),
        round(rate, 6).as("rate"),
        round(abs(meanPred - rate), 6).as("gap"))
      .orderBy("bin")
  }

  /** Deterministic curriculum scheduler: documents staged easy→hard by
    * declared length thresholds, hash-shuffled WITHIN each stage by md5
    * (the `q_domain_cap` unbiased stable shuffle — kills crawl-order
    * correlation inside a stage), global training position = stage
    * offset + within-stage rank, audited to the first 100 positions.
    * The consumption-ORDER twin of `q_interleave_mix` (languages
    * round-robin there; difficulty stages sequenced here).
    *
    * Scale (r11, the q_domain_cap swap): the audit keeps pos ≤ 100 and
    * pos = rk + off with off ≥ 0, so only STAGE-LOCAL ranks ≤ 100 can
    * surface — the rank is a per-stage top-100, computed by the native
    * bounded-heap `graft_topk_by` aggregate over the 52-bit md5 prefix
    * (the oracle ranks by the same prefix, doc_id tiebreak — engine-
    * identical at any scale). A stage holding the whole corpus costs
    * one 100-slot heap, never a stage-partition window sort. The
    * offsets that globalize the ranks come from the TOTAL stage counts,
    * computed as a second aggregate EXPRESSION in the same grouped pass
    * as the heap (one corpus scan; the 3-row result is checkpointed so
    * its two consumers don't re-run the pass); n_chars rides a join of
    * the ≤ 300-row kept set back onto the corpus scan (AQE broadcasts
    * the kept side from measured size). */
  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val pfx = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long")
    val staged = documents(s, d).select(
      col("doc_id"), col("n_chars"),
      when(col("n_chars") < 150, 1)
        .when(col("n_chars") < 300, 2).otherwise(3).as("stage"),
      pfx.as("pfx"))
    // Heap AND total census in ONE grouped pass (ObjectHashAggregate
    // mixes the typed-imperative heap with declarative count — the
    // former separate count agg re-scanned the corpus; round-11
    // review). The census is its own aggregate EXPRESSION, never the
    // heap output: the heap keeps 100, the offsets need all.
    val perStage = staged.groupBy("stage")
      .agg(call_function("graft_topk_by",
          -col("pfx").cast("double"), col("doc_id"), lit(100)).as("top"),
        count(lit(1)).as("cnt"))
      .transform(Materialize("curriculumOrder.perStage"))
    val kept = perStage
      .select(col("stage"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("stage"), col("t.id").as("doc_id"),
        (col("p") + 1).cast("long").as("rk"))
    val offs = perStage.select(col("stage"), col("cnt"))
      .withColumn("off",
        coalesce(sum("cnt").over(Window.orderBy("stage")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stage"), col("off"))
    kept.join(broadcast(offs), Seq("stage"))
      .join(staged.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select((col("rk") + col("off")).as("pos"), col("doc_id"),
        col("stage"), col("n_chars"))
      .filter(col("pos") <= 100)
      .orderBy("pos")
  }

  /** Differentially-private release of per-nation customer counts
    * (ε=1 Laplace mechanism) WITHOUT an RNG: the uniform draw is the
    * md5 of the nation key — identical hex on every engine, cluster
    * layout, and retry (`q_agg_bootstrap_ci`'s reproducibility argument
    * applied to DP; seeded RNG state is partition-order-dependent) —
    * inverse-CDF'd to Laplace noise and added to the EXACT count. True
    * counts stay alongside for the audit; a production release would
    * drop them. The publication step after the `q_dq_kanon` /
    * `q_dq_ldiversity` / `q_dq_tcloseness` triple audits.
    *
    * Determinism: the one `ln` sits inside the 4dp rounding barrier
    * (the `q_dq_drift_psi` precedent); the u=½ singularity (sign(0)·∞ =
    * NaN) folds to zero noise via the same CASE on both engines.
    * Scale: one keyed count agg; the noise is a scan-stage expression
    * over the 25-row frame. */
  def dpLaplace(s: SparkSession, d: String): DataFrame = {
    val cnt = customer(s, d).groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"))
    val v = conv(substring(
        md5(col("c_nationkey").cast("string").cast("binary")), 1, 8),
        16, 10).cast("long").cast("double") / lit(4294967296.0) - lit(0.5)
    val noise = when(v === 0.0, 0.0)
      .otherwise(-signum(v) * log(lit(1.0) - lit(2.0) * abs(v)))
    cnt.select(col("c_nationkey"), col("n"),
        round(noise, 4).as("noise"),
        round(col("n").cast("double") + noise, 4).as("released"))
      .orderBy("c_nationkey")
  }

  /** pass@k evaluation of sampled generations — the code-eval estimator
    * (HumanEval-style): per problem with n samples and c successes, the
    * UNBIASED pass@k = 1 − C(n−c,k)/C(n,k) at k ∈ {1,5,10},
    * macro-averaged per nation. The naive 1−(1−c/n)ᵏ is biased (it
    * samples WITH replacement); the falling-factorial ratio is the
    * exact without-replacement probability that a random k-subset
    * contains ≥1 success. Problems = customers, samples = their orders,
    * success = order status 'F' — stand-in data, the estimator is the
    * operator.
    *
    * Exactness: TPC-H order fan-out per customer is BOUNDED by
    * construction (≤ ~41 at every scale factor), so (n)₁₀ ≤ 41¹⁰ ≈
    * 1.3e16 fits a long exactly — both engines divide the same two
    * exact integers ONCE. The bound is now ENFORCED, not just prose:
    * n > 80 (where (n)₁₀ approaches BIGINT overflow) → NULL on the
    * k ≥ 5 paths in both engines. Per-k eligibility is declared honestly:
    * n < k → the estimator is undefined → NULL, excluded from the mean
    * (count(uₖ) is the eligible denominator); n−c < k → every k-subset
    * hits a success → exactly 1. Per-problem values are quantized to
    * 1e-6 BIGINT units before the nation mean (the dsir
    * order-independence discipline). Scale: one map-side-combined
    * per-customer agg over orders, a customer-grain equi-join for the
    * nation (unhinted — AQE broadcasts at small SF, shuffle-joins at
    * corpus scale), then a ≤25-row rollup. */
  def evalPassAtK(s: SparkSession, d: String): DataFrame = {
    val pc = orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c"))
    def passK(k: Int) = {
      val base = when(col("n") - col("c") < k, lit(1.0))
        .otherwise(lit(1.0) - ff(col("n") - col("c"), k).cast("double")
          / ff(col("n"), k).cast("double"))
      if (k == 1) base
      // n > 80 → NULL enforces the no-overflow bound IN CODE (round-12
      // advice): (n)₁₀ overflows BIGINT near n ≈ 85, and the "TPC-H
      // fan-out ≤ ~41" argument was empirical prose. TPC-H never
      // produces such a customer, so the cut changes no fixture row;
      // on data that does, the estimator reads "ineligible" instead of
      // failing in the ANSI overflow path.
      else when(col("n") < k || col("n") > 80, lit(null).cast("double"))
        .otherwise(base)
    }
    def units(k: Int) = round(passK(k) * 1000000, 0).cast("long")
    pc.join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), units(1).as("u1"), units(5).as("u5"),
        units(10).as("u10"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_problems"),
        count(col("u5")).as("elig_5"), count(col("u10")).as("elig_10"),
        round(sum("u1").cast("double")
          / (count(col("u1")).cast("double") * lit(1000000.0)), 6)
          .as("mean_pass1"),
        round(sum("u5").cast("double")
          / (count(col("u5")).cast("double") * lit(1000000.0)), 6)
          .as("mean_pass5"),
        round(sum("u10").cast("double")
          / (count(col("u10")).cast("double") * lit(1000000.0)), 6)
          .as("mean_pass10"))
      .orderBy("c_nationkey")
  }

  /** Fleiss' kappa multi-rater agreement, generalized to variable
    * raters-per-item: items = orders, raters = their lineitems,
    * category = return flag (A/N/R) — "do independent annotators agree
    * beyond chance?", the acceptance gate on any labeling/rubric
    * pipeline before its labels train or filter anything
    * (`q_eval_kappa` is the 2-rater special case; this is the n-rater
    * panel form). Per-item agreement P_i = Σⱼ n_ij(n_ij−1)/(n_i(n_i−1))
    * over items with n_i ≥ 2; chance P_e = Σⱼ p_j²; kappa =
    * (P̄−P_e)/(1−P_e), NULL when P_e = 1 (a single-category corpus has
    * no chance-corrected scale — the q_feature_woe degenerate-case
    * discipline).
    *
    * Determinism: P_i is an exact integer rational quantized to 1e-9
    * BIGINT units per item BEFORE the cross-item mean; each bucket's
    * p_j² is quantized to 1e-12 units and the buckets combine in ONE
    * fixed-order expression (never a data-ordered sum); kappa is one
    * shared double tree over the exact unit sums. Scale: the corpus
    * collapses in one map-side-combined (order, flag) count agg, and
    * the per-item rollup is a SECOND keyed agg whose declared-domain
    * conditional sums carry the category masses — zero windows, zero
    * joins, one row out. */
  def evalFleiss(s: SparkSession, d: String): DataFrame = {
    val cell = lineitem(s, d)
      .groupBy(col("l_orderkey"), col("l_returnflag"))
      .agg(count(lit(1)).as("nij"))
    // Per-item rollup carries the category masses as DECLARED-domain
    // conditional sums (A/N/R + an 'other' remainder computed as
    // ni−na−nb−nc, so a rogue flag is still COUNTED as its own mass,
    // never silently dropped) — no per-item window, no second pass;
    // the round-12 rewrite of the original PARTITION BY l_orderkey
    // window, whose cost was the total sort over corpus-many ≤3-row
    // partitions, not any partition's size.
    val item = cell.groupBy("l_orderkey")
      .agg(sum("nij").as("ni"),
        sum(col("nij") * (col("nij") - 1L)).as("agree"),
        sum(when(col("l_returnflag") === "A", col("nij")).otherwise(0L))
          .as("na"),
        sum(when(col("l_returnflag") === "N", col("nij")).otherwise(0L))
          .as("nb"),
        sum(when(col("l_returnflag") === "R", col("nij")).otherwise(0L))
          .as("nc"))
      .filter(col("ni") >= 2L)
    val pUnits = round(col("agree").cast("double") * lit(1.0e9)
      / (col("ni").cast("double") * (col("ni") - 1L).cast("double")), 0)
      .cast("long")
    val agg = item.agg(count(lit(1)).as("n_items"),
      sum("ni").as("n_ratings"), sum(pUnits).as("p_units"),
      sum("na").as("ta"), sum("nb").as("tb"), sum("nc").as("tc"),
      sum(col("ni") - col("na") - col("nb") - col("nc")).as("td"))
    def peTerm(c: String) = round(
      (col(c).cast("double") / col("n_ratings").cast("double"))
        * (col(c).cast("double") / col("n_ratings").cast("double"))
        * lit(1.0e12), 0).cast("long")
    val pe = agg.withColumn("pe_units",
      peTerm("ta") + peTerm("tb") + peTerm("tc") + peTerm("td"))
    val pBar = col("p_units").cast("double") /
      (col("n_items").cast("double") * lit(1.0e9))
    val pE = col("pe_units").cast("double") / lit(1.0e12)
    pe.select(col("n_items"), col("n_ratings"),
      round(pBar, 6).as("p_bar"), round(pE, 6).as("p_e"),
      round(when(col("pe_units") === 1000000000000L,
          lit(null).cast("double"))
        .otherwise((pBar - pE) / (lit(1.0) - pE)), 6).as("kappa"))
  }

  /** Differentially-private top-5 brand release via report-noisy-max —
    * the exponential mechanism through the Gumbel trick (adding
    * Gumbel(Δ/ε) noise to each score and taking the arg-top-k IS the
    * k-fold exponential mechanism): per-brand part counts plus
    * g = −ln(−ln(u)), u the stable md5 draw ((h+0.5)/2³², the
    * `q_sample_weighted` exact uniform — RNG-free, the `q_dp_laplace`
    * reproducibility argument). Completes the privacy family: the dq_*
    * triple audits, `q_dp_laplace` releases counts, THIS releases a
    * RANKING (the "most common X" publication a raw top-k would leak
    * through).
    *
    * Determinism: u is never 0 or 1 (power-of-two divisor), so the
    * nested ln pair is finite; it sits inside the 4dp rounding barrier
    * (the q_dp_laplace ulp rule), and SELECTION orders by the ROUNDED
    * noisy score with brand tiebreak — both engines release the
    * identical set in the identical order. Scale: one map-side-combined
    * keyed count agg; noise is a scan-stage expression and the rank
    * window sits on the 25-brand frame (catalog-bounded at any scale
    * factor). */
  def dpTopk(s: SparkSession, d: String): DataFrame = {
    val cnt = part(s, d).groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
    val h = conv(substring(md5(col("p_brand").cast("binary")), 1, 8),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    // The inner −ln(u) is quantized to 1e-12 units BEFORE the outer ln
    // (round-12 advice): chaining two libm calls stretches the single-
    // libm-inside-a-rounding-barrier discipline — a 1-ulp cross-engine
    // difference in the inner ln would feed the outer ln and could flip
    // the 4dp rounding (and hence the released set) at boundary values.
    // u is never 0 or 1 (power-of-two divisor), so −ln(u) ≥ ~1.2e-10 and
    // the quantized value stays strictly positive — the outer ln is
    // always finite. Same per-term pattern as q_mix_dro /
    // q_eval_cluster_purity.
    val innerQ = round(-log(u) * lit(1.0e12), 0) / lit(1.0e12)
    val g = -log(innerQ)
    cnt.select(col("p_brand"), col("n"), round(g, 4).as("noise"),
        round(col("n").cast("double") + g, 4).as("noisy"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("noisy").desc, col("p_brand")))
        .cast("long"))
      .filter(col("rank") <= 5L)
      .select(col("rank"), col("p_brand"), col("n"), col("noise"),
        col("noisy"))
      .orderBy("rank")
  }

  /** Bradley–Terry strength fit from pairwise preferences (5 unrolled
    * MM rounds, Hunter 2004: sᵢ ← wᵢ / Σⱼ gᵢⱼ/(sᵢ+sⱼ), normalized per
    * round) — THE preference-data operator of an RLHF pipeline
    * (pairwise comparisons → latent strengths → ranking; also the
    * A/B-at-scale estimator). Comparisons here: within each order,
    * every lineitem pair with distinct brands AND distinct
    * linenumbers, winner by the exact integer (cents DESC, brand ASC)
    * rule — stand-in preferences, the fit is the operator. The
    * synthetic fixture repeats linenumbers within an order (1684
    * equal-ln pairs at sf0.001); such "simultaneous" rows have no
    * order for the ln_a < ln_b dedup to key on, so the DECLARED rule
    * excludes them — both engines drop the identical set.
    *
    * Scale: the pair self-join is keyed on the order (groups ≤ 7
    * lineitems by TPC-H construction → ≤ C(7,2) pairs per order — a
    * bounded keyed equi-join, never corpus²); the corpus collapses
    * ONCE into the ≤ |brands|²-row (winner, loser) count matrix, and
    * the five MM rounds run as an [[IterOps]] DRIVER FOLD over that
    * collected matrix (round 13 — the bounded-frame iteration
    * primitive): the distributed round loop paid tiny-frame join +
    * localCheckpoint job overhead ×5 (~3 s of pure scheduling at any
    * SF; it made this the suite's most expensive query at ~3.9 s).
    * The collect is catalog-bounded (≤ |brands|·(|brands|−1) rows —
    * 600 at TPC-H's 25 brands — enforced by collectBounded at 10 000),
    * the same driver-hop class as the RankOps census. Determinism:
    * wins/games exact integers; per-pair denominator terms quantized
    * to 1e-9 units (sparkRound — Catalyst Round semantics) BEFORE the
    * per-brand LONG sum (order-independent), raw strengths quantized
    * to su units, s re-quantized 9dp per round — the fold transcribes
    * the distributed expression tree in evaluation order, so the
    * unrolled-CTE twin still replays the iteration exactly, and
    * PropertySpec pins fold ≡ [[evalBradleyTerryDistributed]]. */
  def evalBradleyTerry(s: SparkSession, d: String): DataFrame = {
    import IterOps.{sparkRound, roundUnits}
    val rows = IterOps.collectBounded(btPairCounts(s, d), 10000,
      "q_eval_bradley_terry (winner, loser) count matrix " +
        "(bound: |brand catalog|² = 625 at every TPC-H SF)")
    val nij: Map[(String, String), Long] =
      rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // games: symmetrized pair totals — exact long sums.
    val g = scala.collection.mutable.HashMap[(String, String), Long]()
      .withDefaultValue(0L)
    nij.foreach { case ((i, j), n) => g((i, j)) += n; g((j, i)) += n }
    val brands = g.keysIterator.map(_._1).toSeq.distinct.sorted
    val wins: Map[String, Long] = brands.map { b =>
      b -> nij.iterator.collect { case ((`b`, _), n) => n }.sum
    }.toMap
    var sMap: Map[String, Double] = brands.map(_ -> 1.0).toMap
    for (_ <- 1 to 5) {
      // den_units(i) = Σⱼ round(g/(sᵢ+sⱼ)·1e9) — longs, exact sum.
      val den: Map[String, Long] = brands.map { i =>
        i -> g.iterator.collect { case ((`i`, j), gij) =>
          roundUnits(gij.toDouble / (sMap(i) + sMap(j)) * 1.0e9)
        }.sum
      }.toMap
      val su: Map[String, Long] = brands.map { i =>
        i -> roundUnits((wins(i).toDouble * 1.0e9 / den(i).toDouble)
          * 1.0e9)
      }.toMap
      val sumSu = su.valuesIterator.sum
      sMap = brands.map(i =>
        i -> sparkRound(su(i).toDouble / sumSu.toDouble, 9)).toMap
    }
    val gt: Map[String, Long] = brands.map { b =>
      b -> g.iterator.collect { case ((`b`, _), n) => n }.sum
    }.toMap
    // row_number over (s DESC, brand ASC) — brands are ASCII, so Scala
    // string order matches Spark's binary UTF8 order.
    val ranked = brands
      .sortBy(b => (sMap(b), b))(Ordering.Tuple2(
        Ordering[Double].reverse, Ordering[String]))
      .zipWithIndex
      .map { case (b, idx) =>
        Row((idx + 1).toLong, b, wins(b), gt(b), sparkRound(sMap(b), 6))
      }
    IterOps.localRelation(s, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("brand",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("wins",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("games",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("strength",
        org.apache.spark.sql.types.DoubleType, nullable = false))), ranked)
      // Twin declares ORDER BY rank; pin it (≤25-row frame, no-op cost).
      .orderBy("rank")
  }

  /** The ONE corpus stage of Bradley–Terry: lineitem⋈part brand/price
    * frame → per-order pair self-join → (winner, loser) count matrix
    * (≤ |brands|² rows). Shared by the driver fold and the distributed
    * reference form. */
  private def btPairCounts(s: SparkSession, d: String): DataFrame = {
    // RECORDED NEGATIVE (round 15, kept on record like q_eval_bleu's
    // r14 checkpoint negative): rewriting the ok self-join as
    // within-order collect_list + pair explode HALVES the measured
    // shuffle (23.35 MiB read / 11.78 write → 10.95/10.95 — the
    // self-join writes once but AQE's reused exchange is READ twice)
    // yet is consistently SLOWER at sf0.1 in full-bench conditions:
    // 1.49 → 1.96 s with nested transform(...) HOFs interpreted
    // per-element, still ~1.7-1.96 s after moving the emission into
    // codegen Generates (posexplode + explode(slice)) — the
    // ObjectHashAggregate list buffers plus the ms-array duplication
    // across the first Generate cost more CPU than the 23 MiB of
    // page-cached shuffle + 32-partition sorts they avoid. At 100 TB
    // the trade inverts (shuffle reads cross a real wire), and the
    // collect_list form is the basket_pairs-class bounded-buffer
    // shape to reach for then. One testdata subtlety for that future
    // rewrite: (l_orderkey, l_linenumber) is NOT unique here (60 000
    // rows / 45 832 distinct at sf0.01), so the declared ln_a < ln_b
    // predicate genuinely EXCLUDES equal-ln pairs — an index-pair
    // emission must filter ln_a =!= ln_b or the count matrix (and the
    // oracle hash) changes; the winner rule is role-symmetric, so
    // role order is free.
    val li = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("p_brand").as("brand"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
    val a = li.select(col("ok"), col("ln").as("ln_a"),
      col("brand").as("brand_a"), col("cents").as("cents_a"))
    val b = li.select(col("ok"), col("ln").as("ln_b"),
      col("brand").as("brand_b"), col("cents").as("cents_b"))
    val aWins = col("cents_a") > col("cents_b") ||
      (col("cents_a") === col("cents_b") &&
        col("brand_a") < col("brand_b"))
    a.join(b, Seq("ok"))
      .filter(col("ln_a") < col("ln_b") &&
        col("brand_a") =!= col("brand_b"))
      .select(when(aWins, col("brand_a")).otherwise(col("brand_b"))
          .as("wi"),
        when(aWins, col("brand_b")).otherwise(col("brand_a")).as("lj"))
      .groupBy("wi", "lj").agg(count(lit(1)).as("n"))
  }

  /** The pre-round-13 DISTRIBUTED MM loop, kept as the reference form
    * the PropertySpec fold-equivalence law replays against
    * [[evalBradleyTerry]]'s driver fold (same hashes by construction —
    * the fold transcribes this expression tree). Not registered: its
    * five rounds of tiny-frame join + localCheckpoint jobs are the
    * ~3 s fixed overhead the fold removes. */
  private[graft] def evalBradleyTerryDistributed(
      s: SparkSession, d: String): DataFrame = {
    val nij = btPairCounts(s, d)
      .transform(Materialize("evalBradleyTerryDistributed.pairCounts"))
    val games = nij.select(col("wi").as("i"), col("lj").as("j"), col("n"))
      .union(nij.select(col("lj").as("i"), col("wi").as("j"), col("n")))
      .groupBy("i", "j").agg(sum("n").as("g"))
      .transform(Materialize("evalBradleyTerryDistributed.games"))
    val brands = games.select(col("i").as("brand")).distinct()
    val w0 = brands
      .join(nij.groupBy(col("wi").as("brand")).agg(sum("n").as("ww")),
        Seq("brand"), "left")
      .select(col("brand"), coalesce(col("ww"), lit(0L)).as("wins"))
      .transform(Materialize("evalBradleyTerryDistributed.wins"))
    val wAll = Window.partitionBy()
    var sF = w0.select(col("brand"), lit(1.0).as("s"))
    for (_ <- 1 to 5) {
      val den = games
        .join(sF.select(col("brand").as("i"), col("s").as("si")),
          Seq("i"))
        .join(sF.select(col("brand").as("j"), col("s").as("sj")),
          Seq("j"))
        .select(col("i").as("brand"),
          round(col("g").cast("double") / (col("si") + col("sj"))
            * lit(1.0e9), 0).cast("long").as("du"))
        .groupBy("brand").agg(sum("du").as("den_units"))
      sF = w0.join(den, Seq("brand"))
        .select(col("brand"),
          round((col("wins").cast("double") * lit(1.0e9)
            / col("den_units").cast("double")) * lit(1.0e9), 0)
            .cast("long").as("su"))
        .withColumn("s", round(col("su").cast("double")
          / sum("su").over(wAll).cast("double"), 9))
        .select(col("brand"), col("s"))
        .transform(Materialize("evalBradleyTerryDistributed.strengths"))
    }
    val gt = games.groupBy(col("i").as("brand")).agg(sum("g").as("games"))
    w0.join(gt, Seq("brand")).join(sF, Seq("brand"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("s").desc, col("brand"))).cast("long"))
      .select(col("rank"), col("brand"), col("wins"), col("games"),
        round(col("s"), 6).as("strength"))
      .orderBy("rank")
  }
}
